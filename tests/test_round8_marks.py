"""Round-8: ParquetWarehouse commit marks — exactly-once multi-table
epoch application.

The r7 ADVICE theme: epoch maintainers write several tables, each commit
is individually atomic, but a crash BETWEEN the commits used to partially
apply the epoch (re-append on replay → duplicates, or skip → loss).
The fix records an idempotence mark in the SAME atomic os.replace as the
version pointer, so 'this epoch's write landed on this table' is one fact
with the data — a replay then skips exactly the tables that committed.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from conduit_connector_s3_iceberg_spark.writer import ParquetWarehouse


def _wh(spark, tmp_path):
    return ParquetWarehouse(spark, str(tmp_path / "warehouse"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v string")


def test_append_mark_is_idempotent(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    df = _df(spark, [(1, "a"), (2, "b")])
    wh.create_table("t", df.schema)
    wh.append("t", df, mark="e0")
    wh.append("t", df, mark="e0")  # replay — must be a no-op
    assert wh.read("t").count() == 2
    assert wh.mark_applied("t", "e0")
    wh.append("t", df, mark="e1")  # next epoch applies normally
    assert wh.read("t").count() == 4
    assert wh.mark_applied("t", "e0") and wh.mark_applied("t", "e1")


def test_overwrite_mark_is_idempotent(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    df1 = _df(spark, [(1, "a")])
    df2 = _df(spark, [(2, "b")])
    wh.create_table("t", df1.schema)
    wh.overwrite_with("t", df1, mark="e0")
    wh.overwrite_with("t", df2, mark="e0")  # replay with drifted bytes
    assert [tuple(r) for r in wh.read("t").collect()] == [(1, "a")]


def test_marks_survive_unrelated_commits_and_trim(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    df = _df(spark, [(1, "a")])
    wh.create_table("t", df.schema)
    wh.append("t", df, mark="e0")
    wh.append("t", df)  # unmarked commit must not clear marks
    assert wh.mark_applied("t", "e0")
    # the window keeps the most recent MAX_COMMIT_MARKS marks
    for i in range(1, ParquetWarehouse.MAX_COMMIT_MARKS + 2):
        wh.overwrite_with("t", df, mark=f"e{i}")
    assert not wh.mark_applied("t", "e0"), "oldest mark should be trimmed"
    assert wh.mark_applied("t", f"e{ParquetWarehouse.MAX_COMMIT_MARKS + 1}")


def test_legacy_plain_current_marker_still_reads(spark, tmp_path):
    """Pre-marks tables carry a bare version name in CURRENT; reads,
    appends, and marks must all keep working on them."""
    wh = _wh(spark, tmp_path)
    df = _df(spark, [(1, "a")])
    wh.create_table("t", df.schema)
    wh.append("t", df)
    # rewrite CURRENT to the legacy plain format
    cur = wh._current_state("t")
    marker = os.path.join(wh._dir("t"), "CURRENT")
    with open(marker, "w") as fh:
        fh.write(cur["version"])
    assert wh.read("t").count() == 1
    assert not wh.mark_applied("t", "e0")
    wh.append("t", df, mark="e0")
    assert wh.read("t").count() == 2
    assert wh.mark_applied("t", "e0")
    assert json.loads(open(marker).read())["marks"]["e0"]


def test_mid_epoch_crash_replays_exactly_once_per_table(spark, tmp_path):
    """The dedup-admission shape: epoch writes out_table then fp_table.
    Simulate a crash after the out commit but before the fp commit, then
    replay the WHOLE epoch — the out table must hold ONE copy of the
    admitted rows and the fp index must complete."""
    from conduit_connector_s3_iceberg_spark.streaming.dedup_stream import (
        apply_dedup_epoch,
    )

    wh = _wh(spark, tmp_path)
    batch = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma delta")],
        "doc_id bigint, text string",
    )
    # crashed first attempt: only the out-table append committed.
    # Reproduce its exact write (same mark) by running the real epoch,
    # then surgically rolling back the fp table and the watermark —
    # leaving precisely the 'crash between the commits' on-disk state.
    apply_dedup_epoch(wh, "fps", "kept", batch, 0)
    kept_once = sorted(tuple(r) for r in wh.read("kept").collect())
    assert len(kept_once) == 2  # keep-first admitted docs 1 and 3
    import shutil

    shutil.rmtree(os.path.join(wh.root, "fps"))
    shutil.rmtree(os.path.join(wh.root, "fps__applied_epoch"))

    # replay epoch 0: out append must mark-skip, fp index must apply
    apply_dedup_epoch(wh, "fps", "kept", batch, 0)
    assert sorted(tuple(r) for r in wh.read("kept").collect()) == kept_once
    assert wh.read("fps").count() == 2

    # clean full replay (epoch guard) is still a no-op
    apply_dedup_epoch(wh, "fps", "kept", batch, 0)
    assert sorted(tuple(r) for r in wh.read("kept").collect()) == kept_once


def test_summary_delta_mark_prevents_double_merge(spark, tmp_path):
    from conduit_connector_s3_iceberg_spark.streaming.ivm import (
        apply_summary_delta,
    )

    wh = _wh(spark, tmp_path)
    delta = spark.createDataFrame(
        [(1, "s1", 10)], "sign int, source string, n_tokens bigint"
    ).select(F.col("sign").alias("__sign"), "source", "n_tokens")
    apply_summary_delta(wh, "sum_t", delta, ["source"], ["n_tokens"], mark="e0")
    apply_summary_delta(wh, "sum_t", delta, ["source"], ["n_tokens"], mark="e0")
    row = wh.read("sum_t").collect()[0]
    assert row["n_rows"] == 1 and row["sum_n_tokens"] == 10
    apply_summary_delta(wh, "sum_t", delta, ["source"], ["n_tokens"], mark="e1")
    row = wh.read("sum_t").collect()[0]
    assert row["n_rows"] == 2 and row["sum_n_tokens"] == 20


def test_rollback_restores_marks_as_of_target_snapshot(spark, tmp_path):
    """Replay-after-rollback recovery (r8+r9 ADVICE): rollback() discards
    the data of epochs committed AFTER the target snapshot, so their marks
    must not survive — otherwise mark_applied() silently skips re-applying
    them and the writes are lost. But epochs committed AT-OR-BEFORE the
    target still have their writes in the data, so their marks MUST survive
    — otherwise a checkpoint rewound past the target double-applies them.
    rollback() therefore restores the marks exactly as of the target
    snapshot (persisted per-version in _MARKS.json)."""
    wh = _wh(spark, tmp_path)
    df = _df(spark, [(1, "a"), (2, "b")])
    wh.create_table("t", df.schema)
    wh.append("t", df, mark="e0")          # 2 rows
    wh.append("t", df, mark="e1")          # 4 rows
    pre_e1 = wh.history("t")[-2]           # snapshot after e0, before e1
    wh.rollback("t", pre_e1)               # e1's data is gone...
    assert wh.read("t").count() == 2
    assert not wh.mark_applied("t", "e1")  # ...and so is its mark
    assert wh.mark_applied("t", "e0")      # e0's data remains — mark kept
    wh.append("t", df, mark="e0")          # rewound-checkpoint replay of e0
    assert wh.read("t").count() == 2, "e0 must NOT double-apply"
    wh.append("t", df, mark="e1")          # replaying e1 must apply
    assert wh.read("t").count() == 4


def test_rollback_to_pre_marks_snapshot_clears_all_marks(spark, tmp_path):
    """Snapshots written before marks persistence carry no _MARKS.json;
    rolling back to one conservatively clears all marks (the old
    clear-wholesale behavior) so every epoch re-applies."""
    wh = _wh(spark, tmp_path)
    df = _df(spark, [(1, "a")])
    wh.create_table("t", df.schema)
    wh.append("t", df, mark="e0")
    target = wh.history("t")[-1]
    os.remove(os.path.join(wh._dir("t"), target, "_MARKS.json"))
    wh.append("t", df, mark="e1")
    wh.rollback("t", target)
    assert not wh.mark_applied("t", "e0")
    assert not wh.mark_applied("t", "e1")


def test_cms_epoch_replay_after_crash_before_watermark(spark, tmp_path):
    """A crash after the CMS register commit and before the watermark
    commit: the replayed epoch finds the watermark one epoch behind, and
    the register write skips on its epoch mark instead of adding the epoch
    twice. Covers both register writes (the first epoch's append and a
    later epoch's overwrite)."""
    from conduit_connector_s3_iceberg_spark.operators.sketches import apply_cms_epoch

    wh = _wh(spark, tmp_path)
    batch = spark.createDataFrame([(u,) for u in (1, 2, 2, 3)], "user_id bigint")

    def total():
        return sum(r["cnt"] for r in wh.read("cms").collect())

    for epoch in (0, 1):
        apply_cms_epoch(wh, "cms", "user_id", batch, epoch)
        applied = total()
        # the epoch's watermark commit never landed
        wh.rollback("cms__applied_epoch", wh.history("cms__applied_epoch")[-2])
        apply_cms_epoch(wh, "cms", "user_id", batch, epoch)
        assert total() == applied
    assert wh.read("cms__applied_epoch").collect()[0]["epoch_id"] == 1
