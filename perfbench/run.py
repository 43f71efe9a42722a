"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload wire_cdc --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run pins its environment (cores,
Spark scratch dirs, a fresh warehouse under ``.perfbench/``), builds the
session, runs the workload, checks its outputs against a pure-Python
model and prints, as the last stdout line, ``{"correct", "attempted",
"failed", "metrics"}``: every end-to-end metric of ``BENCHMARK.json``
with ``--trace 0``, every per-layer metric with ``--trace 1``. The exit
code is non-zero when an output check fails. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("wire_cdc", "epoch_cdc")


@dataclass
class Run:
    """What a workload gets: the session and the run's settings."""

    spark: object
    seed: int
    seconds: float
    trace: bool
    tracer: object  # spans.Tracer when tracing, else None
    rundir: str
    session_s: float
    t_start: float = T_START

    @staticmethod
    def log(msg: str) -> None:
        log(msg)


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since process start."""
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def pin_env(rundir: str) -> None:
    """Everything the session reads from the environment, set before the
    JVM starts: one Spark core per usable CPU (the session's fallback is
    ``local[32]``), scratch and temp dirs inside the run dir, a bounded
    JVM heap, and the checkout on the Python workers' path."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(rundir, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(rundir, "local"),
        "SPARK_DRIVER_MEMORY": "4g",
        "TMPDIR": os.path.join(rundir, "tmp"),
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
    })


def build(rundir: str):
    from conduit_connector_s3_iceberg_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(rundir, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(rundir, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and wait for the JVM the session started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def result_metrics(spec: dict, trace: bool, e2e: dict, layers: dict) -> dict:
    """Every metric of the requested kind, with its unit. A layer the
    workload leaves idle reports 0; a missing end-to-end metric is a bug."""
    kind = "per_layer" if trace else "end_to_end"
    values = layers if trace else e2e
    known = {m["name"] for m in spec[kind]}
    unknown = sorted(set(values) - known)
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {unknown}")
    out = {}
    for m in spec[kind]:
        if m["name"] not in values and not trace:
            raise KeyError(f"workload did not measure {m['name']}")
        out[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "conduit_connector_s3_iceberg_spark")):
        print(f"error: no program source next to {spec_path}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)

    rundir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    pin_env(rundir)
    from perfbench import epoch_cdc, spans, wire_cdc

    spark = None
    try:
        t = time.perf_counter()
        spark = build(rundir)
        session_s = time.perf_counter() - t
        log(f"session built in {session_s:.2f}s")
        run = Run(
            spark=spark, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace),
            tracer=spans.Tracer(spans.JobCounter(spark)) if args.trace else None,
            rundir=rundir, session_s=session_s,
        )
        workload = {"wire_cdc": wire_cdc, "epoch_cdc": epoch_cdc}[args.workload]
        out = workload.run(run)
        log("workload done")
        if run.tracer is not None:
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            run.tracer.dump(
                os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
            )
        metrics = result_metrics(spec, run.trace, out["e2e"], out["layers"])
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(rundir, ignore_errors=True)
        log("stopped")
    for problem in out["problems"]:
        print(f"check failed: {problem}", file=sys.stderr)
    correct = not out["problems"] and out["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
