"""The traced benchmark wraps the program's functions by name.

``perfbench/run.py --trace 1`` has each workload's ``_patch`` replace module
and class attributes with traced twins. This test runs both ``_patch``
functions against a tracer that only looks each name up, so renaming a
wrapped function fails here instead of in a traced benchmark run. No Spark
session is started.
"""

from __future__ import annotations

import pytest

from perfbench import epoch_cdc, wire_cdc


class _LookupTracer:
    """Stands in for ``perfbench.spans.Tracer``: ``wrap`` resolves the name
    and records it, and patches nothing."""

    def __init__(self):
        self.names = []

    def wrap(self, owner, attr, name, req_of=None, count_jobs=False):
        assert callable(getattr(owner, attr)), f"{owner!r}.{attr} is not callable"
        self.names.append(name)


@pytest.mark.parametrize("workload", [wire_cdc, epoch_cdc], ids=["wire_cdc", "epoch_cdc"])
def test_traced_names_resolve(workload):
    tracer = _LookupTracer()
    workload._patch(tracer)
    assert tracer.names
