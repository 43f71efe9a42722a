"""epoch_cdc: envelope JSONL epochs applied as one LWW merge each, with a
read probe after every commit.

Each epoch is ``EPOCH_RECORDS`` envelope records (``CDC_ENVELOPE``), per
block of 10: 6 creates, 3 updates and 1 delete, keys Zipf(1.1) over twice
the key range of the seeded table, so about half the hot keys exist.
An epoch is read with ``spark.read.schema(CDC_ENVELOPE).json``, passed
through ``decode_cdc`` and applied with ``apply_cdc_batch``: the
``foreachBatch`` body of ``apply_cdc_stream``. After each commit the
fixed read probe runs through ``ParquetWarehouse.read``. The first
``WARMUP_EPOCHS`` epochs warm the JIT; epochs are then timed until
``--seconds`` have passed. Inputs are generated between timed sections.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

import numpy as np

from conduit_connector_s3_iceberg_spark.functions.codec import CDC_ENVELOPE
from conduit_connector_s3_iceberg_spark.streaming import cdc
from conduit_connector_s3_iceberg_spark.writer import ParquetWarehouse

from . import table as tb
from .spans import dur_ms, p50, trace_summary

TABLE = "orders"
SEEDED_ROWS = 200_000
EPOCH_RECORDS = 10_000
KEY_RANGE = 2 * SEEDED_ROWS
MIX = {"create": 6, "update": 3, "delete": 1}
WARMUP_EPOCHS = 4  # counters and disk growth cover these epochs
PROBE_KEYS = 8


class Epochs:
    """The seeded epoch stream, written as one JSONL file per epoch."""

    def __init__(self, seed: int, out_dir: str):
        self.rng = np.random.default_rng([seed, 23])
        self.zipf = tb.ZipfKeys(KEY_RANGE, self.rng)
        self.ops = tb.op_stream(MIX, self.rng)
        self.out_dir = out_dir
        self.made = 0
        os.makedirs(out_dir, exist_ok=True)

    def next(self) -> tuple[str, list[tuple[str, int, dict]]]:
        keys = self.zipf.sample(EPOCH_RECORDS)
        rows = tb.new_rows(keys, self.rng)
        changes, lines = [], []
        for i, row in enumerate(rows):
            op, k = next(self.ops), row["id"]
            changes.append((op, k, row))
            lines.append(json.dumps({
                "position": f"e{self.made}-{i:06d}",
                "operation": op,
                "key": None if op == "create" else json.dumps({tb.KEY: k}),
                "after": None if op == "delete" else json.dumps(row),
            }))
        path = os.path.join(self.out_dir, f"epoch-{self.made:04d}.jsonl")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        self.made += 1
        return path, changes


def _patch(tracer) -> None:
    """Spans around the entry points this workload drives."""
    tracer.wrap(cdc, "decode_cdc", "cdc.decode_cdc")
    tracer.wrap(cdc, "collapse_lww", "cdc.collapse_lww")
    tracer.wrap(cdc, "apply_cdc_batch", "cdc.apply_cdc_batch", count_jobs=True)
    tracer.wrap(cdc, "conform_payload", "codec.conform_payload")
    tracer.wrap(cdc, "key_struct", "codec.key_struct")
    for method in ("overwrite_with", "read", "schema"):
        tracer.wrap(ParquetWarehouse, method, f"warehouse.{method}",
                    count_jobs=method == "overwrite_with")


def _span(run, name: str, req=None, count_jobs: bool = False):
    if run.tracer is None:
        return contextlib.nullcontext()
    return run.tracer.span(name, req, count_jobs)


def _apply(run, wh, path: str, schema, req: str) -> None:
    """The ``foreachBatch`` body of ``apply_cdc_stream`` on one epoch."""
    with _span(run, "epoch.apply", req, count_jobs=True):
        with _span(run, "cdc.envelope_read", count_jobs=True):
            batch = run.spark.read.schema(CDC_ENVELOPE).json(path)
            empty = batch.isEmpty()
        if not empty:
            cdc.apply_cdc_batch(wh, TABLE, cdc.decode_cdc(batch, schema, [tb.KEY]), [tb.KEY])


def _layers(tracer, timed: list[str], counted: list[dict], t0_ns: int, stats: dict) -> dict:
    def per_epoch(*names):
        total = dict.fromkeys(timed, 0.0)
        for name in names:
            for s in tracer.named(name):
                if s[4] in total:
                    total[s[4]] += dur_ms(s)
        return total

    front = per_epoch("cdc.envelope_read", "cdc.decode_cdc", "cdc.collapse_lww")
    collapse = per_epoch("cdc.collapse_lww")
    merge = per_epoch("cdc.apply_cdc_batch")
    applies = {s[4]: s for s in tracer.named("epoch.apply")}
    records = sum(c["records"] for c in counted)
    return {
        "cdc.decode_collapse_ms_p50": p50(front.values()),
        "cdc.merge_write_ms_p50": p50(merge[e] - collapse[e] for e in timed),
        "cdc.collapse_ratio": sum(c["keys"] for c in counted) / records,
        "cdc.spark_jobs_per_epoch": sum(applies[c["req"]][5] for c in counted) / len(counted),
        "warehouse.commits": stats["commits"],
        "warehouse.files_linked_per_commit": stats["linked"] / max(stats["commits"], 1),
        "warehouse.rows_written_per_change": stats["rows"] / records,
        "warehouse.bytes_written_per_change_byte":
            stats["bytes"] / sum(c["bytes"] for c in counted),
        "warehouse.data_files_end": stats["data_files_end"],
        "warehouse.read_ms_p50": p50(dur_ms(s) for s in tracer.named("warehouse.read", t0_ns)),
    }


def run(run) -> dict:
    spark, seed = run.spark, run.seed
    wh = ParquetWarehouse(spark, os.path.join(run.rundir, "wh"))
    wh.create_table(TABLE, tb.schema())
    wh.append(TABLE, tb.seed_frame(spark, SEEDED_ROWS, seed))
    table_dir = os.path.join(wh.root, TABLE)
    log0 = len(tb.read_log(table_dir))
    schema = wh.schema(TABLE)
    run.log("table seeded")
    model = tb.LwwModel(SEEDED_ROWS, seed)
    epochs = Epochs(seed, os.path.join(run.rundir, "epochs"))
    probe_rng = np.random.default_rng([seed, 29])
    zipf = tb.ZipfKeys(KEY_RANGE, probe_rng)
    if run.tracer is not None:
        _patch(run.tracer)

    problems: list[str] = []
    counted: list[dict] = []
    commit_s: list[float] = []
    read_s: list[float] = []
    timed: list[str] = []
    attempted = 0
    t0 = None
    while t0 is None or time.perf_counter() - t0 < run.seconds:
        path, changes = epochs.next()
        req = f"e{epochs.made - 1}"
        t1 = time.perf_counter()
        _apply(run, wh, path, schema, req)
        t2 = time.perf_counter()
        run.log(f"{req} committed in {t2 - t1:.2f}s")
        for op, k, row in changes:
            if op == "delete":
                model.delete(k)
            else:
                model.upsert(row)
        seconds, bad = tb.read_probe(wh, TABLE, zipf.sample(PROBE_KEYS), model)
        problems += bad
        attempted += len(changes)
        if t0 is not None:
            timed.append(req)
            commit_s.append(t2 - t1)
            read_s += seconds
        else:
            counted.append({
                "req": req, "records": len(changes), "bytes": os.path.getsize(path),
                "keys": len({k for _, k, _ in changes}),
                "log": len(tb.read_log(table_dir)),
            })
            if len(counted) == WARMUP_EPOCHS:
                t0 = time.perf_counter()
    t_end = time.perf_counter()
    run.log("timed epochs done")

    stats = tb.version_stats(table_dir, tb.read_log(table_dir), log0, counted[-1]["log"])
    want, got = model.digest(), tb.spark_digest(wh.read(TABLE))
    if got != want:
        problems.append(f"final snapshot digest {got} != model {want}")
    e2e = {
        "setup_s": t0 - run.t_start,
        "records_per_s": EPOCH_RECORDS * len(commit_s) / sum(commit_s),
        "latency_p50_ms": p50(commit_s) * 1e3,
        "read_p50_ms": p50(read_s) * 1e3,
        "disk_kb_per_change": stats["grown"] / 1e3 / sum(c["records"] for c in counted),
    }
    layers = {"session.build_s": run.session_s}
    if run.tracer is not None:
        layers.update(_layers(run.tracer, timed, counted, int(t0 * 1e9), stats))
        layers.update(trace_summary(run.tracer, e2e, int(t0 * 1e9), int(t_end * 1e9)))
    return {
        "e2e": e2e, "layers": layers, "problems": problems,
        "attempted": attempted, "failed": 0,
    }
