"""In-memory spans around the program's public entry points.

The traced run patches the entry points from the benchmark's side (no
program file changes): each call records a span with its name, start,
end, parent span, request id and, for calls that run Spark work, the
number of Spark jobs it submitted. Spans stay in memory and are written
out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import threading
import time


class JobCounter:
    """Spark jobs submitted so far: the DAG scheduler's next job id."""

    def __init__(self, spark):
        self._scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    def __call__(self) -> int:
        return int(self._scheduler.nextJobId())


class Tracer:
    def __init__(self, jobs: JobCounter):
        self.jobs = jobs
        # [name, start_ns, end_ns, parent, req, jobs]
        self.spans: list[list] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, req=None, count_jobs: bool = False):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if req is None and parent is not None:
            req = self.spans[parent][4]
        rec = [name, 0, 0, parent, req, None]
        with self._lock:
            self.spans.append(rec)
            stack.append(len(self.spans) - 1)
        j0 = self.jobs() if count_jobs else 0
        rec[1] = time.perf_counter_ns()
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter_ns()
            if count_jobs:
                rec[5] = self.jobs() - j0
            stack.pop()

    def wrap(self, owner, attr: str, name: str, req_of=None,
             count_jobs: bool = False) -> None:
        """Replace ``owner.attr`` with a traced twin; ``req_of`` derives the
        request id from the call's arguments."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            req = req_of(*args, **kwargs) if req_of else None
            with tracer.span(name, req, count_jobs):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # -- reduction ----------------------------------------------------------
    def named(self, name: str, since_ns: int = 0) -> list[list]:
        return [s for s in self.spans if s[0] == name and s[1] >= since_ns]

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus child spans."""
        child = [0] * len(self.spans)
        for s in self.spans:
            if s[3] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s[0]] = out.get(s[0], 0.0) + (s[2] - s[1] - child[i]) / 1e6
        return out

    def calibrate_ns(self) -> tuple[float, float]:
        """Cost of one span without and with Spark job counting."""
        probe = Tracer(self.jobs)
        costs = []
        for count_jobs, n in ((False, 2000), (True, 50)):
            t = time.perf_counter_ns()
            for _ in range(n):
                with probe.span("calibrate", count_jobs=count_jobs):
                    pass
            costs.append((time.perf_counter_ns() - t) / n)
        return costs[0], costs[1]

    def overhead_pct(self, since_ns: int, until_ns: int) -> float:
        """Estimated share of ``[since, until]`` spent recording spans."""
        plain, counted = self.calibrate_ns()
        inside = [s for s in self.spans if since_ns <= s[1] <= until_ns]
        cost = sum(counted if s[5] is not None else plain for s in inside)
        return 100.0 * cost / max(until_ns - since_ns, 1)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s[0], "start_ns": s[1], "end_ns": s[2],
                    "parent": s[3], "req": s[4], "jobs": s[5],
                }) + "\n")
            fh.write(json.dumps({"self_ms": self.self_ms()}) + "\n")


def dur_ms(span: list) -> float:
    return (span[2] - span[1]) / 1e6


def trace_summary(tracer: Tracer, e2e: dict, since_ns: int, until_ns: int) -> dict:
    """The traced run's own timed end-to-end numbers, to compare with the
    untraced run's, and the estimated recording share of the timed window."""
    out = {f"traced.{k}": e2e[k] for k in ("records_per_s", "latency_p50_ms", "read_p50_ms")}
    out["trace.overhead_pct"] = tracer.overhead_pct(since_ns, until_ns)
    return out


def p50(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
