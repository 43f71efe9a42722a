"""wire_cdc: OpenCDC records over one NDJSON connection to an in-process
``PluginServer``, applied record by record by ``CdcWriter``.

Closed loop from one client thread with at most ``WINDOW`` unacked
records in flight, as a Conduit host pipelines ahead of acks. Records are
canonical proto-JSON, key and payload each ``rawData`` or
``structuredData`` by a coin flip. Mix per block of 20: 12 creates on
fresh keys, 5 updates and 3 deletes on Zipf(1.1) keys of the 100k seeded
rows, redrawn until live (a source only updates or deletes rows that
exist). The first ``WARMUP_ACKS`` acks warm the JIT; the next
``--seconds`` of sends are timed and then drained. The final snapshot
must equal the pure-Python LWW model of every acked record.
"""

from __future__ import annotations

import base64
import json
import os
import socket
import time

import numpy as np

from conduit_connector_s3_iceberg_spark import writer as writer_mod
from conduit_connector_s3_iceberg_spark.plugin import DestinationService, PluginServer
from conduit_connector_s3_iceberg_spark.plugin import server as server_mod
from conduit_connector_s3_iceberg_spark.plugin.protojson import record_to_proto_json
from conduit_connector_s3_iceberg_spark.records import Operation, Record
from conduit_connector_s3_iceberg_spark.writer import CdcWriter, ParquetWarehouse

from . import table as tb
from .spans import dur_ms, p50, trace_summary

TABLE = "orders"
SEEDED_ROWS = 100_000
WINDOW = 4
WARMUP_ACKS = 12
COUNTED = 20  # counters and disk growth cover records 0..COUNTED-1
MIX = {"create": 12, "update": 5, "delete": 3}
PROBE_RUNS = 3  # the first warms the probe's query paths and is not timed
PROBE_KEYS = 8
CONFIG = {
    "catalog.name": "bench",
    "catalog.catalog-impl": "org.apache.iceberg.rest.RESTCatalog",
    "namespace": "conduit",
    "table.name": TABLE,
    "s3.access-key-id": "bench",
    "s3.secret-access-key": "bench",
    "s3.region": "us-east-1",
}


class Records:
    """The seeded record stream: each wire frame with what the model needs."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 11])
        self.zipf = tb.ZipfKeys(SEEDED_ROWS, self.rng)
        self.ops = tb.op_stream(MIX, self.rng)
        self.sent = 0
        self.fresh = SEEDED_ROWS
        self.deleted: set[int] = set()  # by the records generated so far

    def _data(self, obj: dict):
        return json.dumps(obj).encode() if self.rng.random() < 0.5 else dict(obj)

    def next(self):
        op = next(self.ops)
        if op == "create":
            k, self.fresh = self.fresh, self.fresh + 1
        else:
            # a source only updates or deletes rows that exist
            k = int(self.zipf.sample(1)[0])
            while k in self.deleted:
                k = int(self.zipf.sample(1)[0])
            if op == "delete":
                self.deleted.add(k)
        row = None if op == "delete" else tb.new_rows([k], self.rng)[0]
        pos = f"w-{self.sent:07d}"
        self.sent += 1
        rec = Record(
            position=pos.encode(),
            operation=Operation(op),
            key=self._data({tb.KEY: k}),
            payload_after=None if row is None else self._data(row),
        )
        frame = (json.dumps({"record": record_to_proto_json(rec)}) + "\n").encode()
        return pos, k, row, frame


def _call(sock, rfile, frame: dict) -> dict:
    sock.sendall((json.dumps(frame) + "\n").encode())
    reply = json.loads(rfile.readline())
    if "error" in reply:
        raise RuntimeError(f"{frame.get('rpc')} failed: {reply['error']}")
    return reply


def _drive(sock, rfile, records: Records, seconds: float, model: tb.LwwModel,
           log_len) -> dict:
    """The closed loop. Timing starts at the ``WARMUP_ACKS``-th ack; sends
    in the next ``seconds`` are the latency samples; then the window
    drains. The server applies records in order, so between the start and
    the last ack it is never idle: acks / elapsed is its service rate.
    ``log_len()`` is read at the ``COUNTED``-th ack: the commit of the
    next record is at least one Spark job away."""
    pending: dict[str, tuple] = {}
    latency_s: dict[str, float] = {}
    frame_bytes: dict[str, int] = {}
    t0 = stop_at = t_last = log_counted = None
    acked = after_t0 = failed = 0
    closed = False
    while True:
        while len(pending) < WINDOW and not closed and (
            stop_at is None or records.sent < COUNTED or time.perf_counter() < stop_at
        ):
            pos, k, row, frame = records.next()
            if records.sent <= COUNTED:
                frame_bytes[pos] = len(frame)
            pending[pos] = (time.perf_counter(), t0 is not None, k, row)
            sock.sendall(frame)
        if not pending:
            break
        line = rfile.readline()
        t_ack = time.perf_counter()
        if not line:
            raise ConnectionError("plugin server closed the connection")
        msg = json.loads(line)
        if "error" in msg:
            # records apply in order, so the oldest unacked one failed; the
            # stream is closed now and every later frame is refused
            pending.pop(next(iter(pending)))
            failed += 1
            closed = True
            continue
        pos = base64.b64decode(msg["response"]["ackPosition"]).decode()
        t_send, timed, k, row = pending.pop(pos)
        if row is None:
            model.delete(k)
        else:
            model.upsert(row)
        acked += 1
        if t0 is not None:
            after_t0 += 1
            t_last = t_ack
        if timed:
            latency_s[pos] = t_ack - t_send
        if acked == COUNTED:
            log_counted = log_len()
        if acked == WARMUP_ACKS:
            t0, stop_at = t_ack, t_ack + seconds
    if t0 is None or t_last is None or not latency_s or log_counted is None:
        raise RuntimeError(f"run too short: {acked} acks, {failed} failed")
    return {
        "t0": t0, "t_last": t_last, "latency_s": latency_s, "failed": failed,
        "records_per_s": after_t0 / (t_last - t0),
        "log_counted": log_counted, "frame_bytes": frame_bytes,
    }


def _patch(tracer) -> None:
    """Spans around the entry points this workload drives."""
    tracer.wrap(server_mod, "record_from_wire", "plugin.record_from_wire",
                req_of=lambda msg: base64.b64decode(msg["position"]).decode())
    tracer.wrap(writer_mod, "key_to_map", "records.key_to_map")
    tracer.wrap(writer_mod, "normalize_payload_json", "records.normalize_payload_json")
    tracer.wrap(CdcWriter, "write", "writer.write",
                req_of=lambda self, record: record.position.decode(), count_jobs=True)
    for op in ("insert", "update", "delete"):
        tracer.wrap(CdcWriter, op, f"writer.{op}", count_jobs=True)
    for method in ("append", "overwrite_with", "overwrite_where_not", "read"):
        tracer.wrap(ParquetWarehouse, method, f"warehouse.{method}",
                    count_jobs=method != "read")


def _layers(tracer, loop: dict, stats: dict) -> dict:
    t0_ns = int(loop["t0"] * 1e9)
    timed = loop["latency_s"]
    writes = {s[4]: s for s in tracer.named("writer.write")}
    per_req: dict[str, float] = {}
    for s in tracer.named("records.key_to_map") + tracer.named("records.normalize_payload_json"):
        per_req[s[4]] = per_req.get(s[4], 0.0) + dur_ms(s)
    counted = [f"w-{i:07d}" for i in range(COUNTED)]
    commits = max(stats["commits"], 1)
    out = {
        "plugin.decode_us_p50": p50(
            dur_ms(s) * 1e3 for s in tracer.named("plugin.record_from_wire") if s[4] in timed),
        "plugin.queue_wait_ms_p50": p50(
            timed[r] * 1e3 - dur_ms(writes[r]) for r in timed),
        "records.normalize_us_p50": p50(per_req[r] * 1e3 for r in timed if r in per_req),
        "writer.spark_jobs_per_record": sum(writes[r][5] for r in counted) / COUNTED,
        "warehouse.commits": stats["commits"],
        "warehouse.files_linked_per_commit": stats["linked"] / commits,
        "warehouse.rows_written_per_change": stats["rows"] / COUNTED,
        "warehouse.bytes_written_per_change_byte":
            stats["bytes"] / sum(loop["frame_bytes"].values()),
        "warehouse.data_files_end": stats["data_files_end"],
        "warehouse.read_ms_p50": p50(dur_ms(s) for s in tracer.named("warehouse.read", t0_ns)),
    }
    for op in ("insert", "update", "delete"):
        out[f"writer.{op}_ms_p50"] = p50(
            dur_ms(s) for s in tracer.named(f"writer.{op}") if s[4] in timed)
    return out


def run(run) -> dict:
    spark, seed = run.spark, run.seed
    wh = ParquetWarehouse(spark, os.path.join(run.rundir, "wh"))
    wh.create_table(TABLE, tb.schema())
    wh.append(TABLE, tb.seed_frame(spark, SEEDED_ROWS, seed))
    table_dir = os.path.join(wh.root, TABLE)
    log0 = len(tb.read_log(table_dir))
    run.log("table seeded")
    model = tb.LwwModel(SEEDED_ROWS, seed)
    records = Records(seed)
    if run.tracer is not None:
        _patch(run.tracer)

    service = DestinationService(
        session_factory=lambda cfg: spark,
        writer_factory=lambda s, cfg: CdcWriter(wh, cfg.table_name),
        stop_spark_on_teardown=False,
    )
    server = PluginServer(port=0, destination=service)
    server.start()
    try:
        with socket.create_connection(("localhost", server.port), timeout=120) as sock:
            rfile = sock.makefile("rb")
            _call(sock, rfile, {"rpc": "configure", "config": CONFIG})
            _call(sock, rfile, {"rpc": "start"})
            _call(sock, rfile, {"rpc": "run"})
            loop = _drive(sock, rfile, records, run.seconds, model,
                          lambda: len(tb.read_log(table_dir)))
            run.log(f"drained: timed from {loop['t0'] - run.t_start:.2f}s")
            if not loop["failed"]:  # a failed record already closed the stream
                # the server sends no reply to the half-close frame
                sock.sendall(b'{"end": true}\n')
            _call(sock, rfile, {"rpc": "stop"})
            _call(sock, rfile, {"rpc": "teardown"})
    finally:
        server.stop(grace_seconds=30)

    problems = []
    probe_keys = records.zipf.sample(PROBE_KEYS)
    read_s = []
    for i in range(PROBE_RUNS):
        seconds, bad = tb.read_probe(wh, TABLE, probe_keys, model)
        if i:
            read_s += seconds
        problems += bad
    run.log("probed")
    stats = tb.version_stats(table_dir, tb.read_log(table_dir), log0, loop["log_counted"])
    want, got = model.digest(), tb.spark_digest(wh.read(TABLE))
    if got != want:
        problems.append(f"final snapshot digest {got} != model {want}")
    e2e = {
        "setup_s": loop["t0"] - run.t_start,
        "records_per_s": loop["records_per_s"],
        "latency_p50_ms": p50(loop["latency_s"].values()) * 1e3,
        "read_p50_ms": p50(read_s) * 1e3,
        "disk_kb_per_change": stats["grown"] / 1e3 / COUNTED,
    }
    layers = {"session.build_s": run.session_s}
    if run.tracer is not None:
        layers.update(_layers(run.tracer, loop, stats))
        layers.update(trace_summary(
            run.tracer, e2e, int(loop["t0"] * 1e9), int(loop["t_last"] * 1e9)))
    return {
        "e2e": e2e, "layers": layers, "problems": problems,
        "attempted": records.sent, "failed": loop["failed"],
    }
