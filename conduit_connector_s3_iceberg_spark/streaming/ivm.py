"""Incremental view maintenance (IVM): keep a groupBy summary table exact
under a CDC change feed without ever recomputing the base table.

The classic delta-frame construction: every change becomes signed rows
(+1 for an arriving after-image, −1 for a departing before-image), the
batch's deltas pre-aggregate to one row per touched group, and the summary
updates additively. Cost per epoch is O(batch) + a merge into a table whose
size is the number of *groups* — at 100 TB base-table scale the summary is
metadata-sized, so maintenance cost is independent of base size. This is
the capability the reference's CDC destination implies but never builds:
the table *and* its rollups stay fresh from the same feed.

Completeness condition (standard IVM requirement, documented not assumed):
``update``/``delete`` records must carry a before-image
(``opencdc.proto:51-74`` has the ``before`` slot for exactly this); an
update without one cannot retract its old contribution and raises at the
batch boundary rather than silently drifting.

SUM/COUNT are self-maintainable under insert+delete; MIN/MAX are not
(retracting the current extremum needs a rescan) — this module deliberately
exposes only the self-maintainable aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.codec import conform_payload, refuse
from .cdc import UPSERT_OPS, record_error

SIGN_COL = "__sign"


def cdc_delta_frame(envelope: DataFrame, table_schema: T.StructType) -> DataFrame:
    """CDC envelope batch → signed delta rows ``(__sign, <table columns>)``.

    create/snapshot contribute ``+1 after``; update contributes ``+1 after``
    AND ``−1 before``; delete contributes ``−1 before``. A record the
    shared checks refuse (:func:`.cdc.record_error`: an unknown operation,
    an upsert with no after-image) fails the job with that reason, as on
    the FAILFAST apply path. All column expressions (codegen) — no Python
    in the path.
    """
    op = F.col("operation")
    # the refusal rides on the operation the arrivals filter reads, so it
    # sees every record
    checked = envelope.withColumn("operation", refuse(op, record_error(op, F.col("after"))))
    arrivals = checked.filter(F.col("operation").isin(*UPSERT_OPS)).select(
        F.lit(1).alias(SIGN_COL), F.col("after").alias("__row")
    )
    departures = envelope.filter(
        F.col("operation").isin("update", "delete")
    ).select(F.lit(-1).alias(SIGN_COL), F.col("before").alias("__row"))
    arrivals = conform_payload(arrivals, "__row", table_schema)
    departures = conform_payload(departures, "__row", table_schema)
    return arrivals.unionByName(departures).select(SIGN_COL, "__row.*")


def summary_delta(
    delta: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """Pre-aggregate a signed delta frame to one row per touched group:
    ``d_rows`` (net row count) and ``d_sum_<c>`` per measure."""
    aggs = [F.sum(SIGN_COL).alias("d_rows")] + [
        F.sum(F.col(SIGN_COL) * F.col(c)).alias(f"d_sum_{c}") for c in sum_cols
    ]
    return delta.groupBy(*group_cols).agg(*aggs)


def apply_summary_delta(
    wh,
    summary_table: str,
    delta: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    mark: str | None = None,
) -> None:
    """Merge one batch's pre-aggregated deltas into the summary table.

    Summary schema: ``group_cols…, n_rows, sum_<c>…``. Groups whose count
    reaches zero leave the table (exactly the batch-recompute semantics of
    an inner groupBy). On a warehouse with row-level MERGE this is one
    ``MERGE INTO``; the ParquetWarehouse analogue joins + rewrites the
    (group-sized, metadata-scale) summary copy-on-write.
    """
    d = summary_delta(delta, group_cols, sum_cols).withColumnRenamed(
        "d_rows", "__d_rows"
    )
    if not wh.table_exists(summary_table):
        fresh = d.select(
            *group_cols,
            F.col("__d_rows").alias("n_rows"),
            *[F.col(f"d_sum_{c}").alias(f"sum_{c}") for c in sum_cols],
        ).filter(F.col("n_rows") > 0)
        wh.create_table(summary_table, fresh.schema)
        wh.append(summary_table, fresh, mark=mark)
        return
    current = wh.read(summary_table)
    merged = (
        current.join(d, group_cols, "full_outer")
        .select(
            *group_cols,
            (
                F.coalesce(F.col("n_rows"), F.lit(0))
                + F.coalesce(F.col("__d_rows"), F.lit(0))
            ).alias("n_rows"),
            *[
                (
                    F.coalesce(F.col(f"sum_{c}"), F.lit(0))
                    + F.coalesce(F.col(f"d_sum_{c}"), F.lit(0))
                ).alias(f"sum_{c}")
                for c in sum_cols
            ],
        )
        .filter(F.col("n_rows") > 0)
    )
    wh.overwrite_with(summary_table, merged, mark=mark)


def maintain_summary_stream(
    stream: DataFrame,
    wh,
    summary_table: str,
    table_schema: T.StructType,
    group_cols: list[str],
    sum_cols: list[str],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Wire a CDC envelope stream into a continuously-maintained summary:
    one epoch = one delta merge = one commit. The base table need not even
    exist — the summary maintains itself from the feed alone.

    Guards the IVM completeness condition: an update/delete whose
    before-image is absent fails the epoch loudly (a silent skip would
    drift the summary away from the base forever).

    Replay safety: the additive merge is guarded by a persisted epoch
    watermark (``<summary_table>__applied_epoch``) so foreachBatch's
    at-least-once re-delivery of the last epoch cannot double-apply its
    deltas — same pattern as ``operators.sketches.apply_cms_epoch``.
    """
    from ..writer import epoch_already_applied, mark_epoch_applied

    epoch_table = f"{summary_table}__applied_epoch"

    def _epoch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        if epoch_already_applied(wh, epoch_table, epoch_id):
            return  # replayed epoch — deltas already merged
        n_incomplete = batch.filter(
            F.col("operation").isin("update", "delete")
            & F.col("before").isNull()
        ).count()
        if n_incomplete:
            raise ValueError(
                f"IVM requires before-images: {n_incomplete} update/delete "
                "record(s) without one in this batch"
            )
        apply_summary_delta(
            wh, summary_table, cdc_delta_frame(batch, table_schema),
            group_cols, sum_cols, mark=f"e{epoch_id}",
        )
        mark_epoch_applied(wh, epoch_table, batch.sparkSession, epoch_id)

    writer = (
        stream.writeStream.foreachBatch(_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ------------------------------------------------ shared admission probes --
#
# The first-seen/probe/append idiom used by every standing-index
# maintainer (dedup admission, mixture-shift keepers, family-savings
# keepers — r6 advice: one home for the join discipline, not four
# copies). The discipline: the STANDING index is big and is never
# shuffled or broadcast — the batch's key set broadcasts INTO an inner
# probe join, and the matched set (smaller still) broadcasts BACK into an
# anti filter. Cost per epoch is O(batch), not O(index).


def keep_first(rows: DataFrame, key) -> DataFrame:
    """In-batch keep-first: one row per ``key``, deterministic keeper =
    lowest doc_id (matching the batch queries' keep=min rule)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy("doc_id")
    return (
        rows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def probe_novel(wh, index_table: str, rows: DataFrame, key) -> DataFrame:
    """Rows whose ``key`` is NOT already in the standing ``index_table``
    (all rows when the table does not exist yet)."""
    if not wh.table_exists(index_table):
        return rows
    keys = rows.select(key).distinct()
    matched = (
        wh.read(index_table)
        .join(F.broadcast(keys), key)
        .select(key)
        .distinct()
    )
    return rows.join(F.broadcast(matched), key, "left_anti")


def append_index(
    wh, index_table: str, rows: DataFrame, mark: str | None = None
) -> None:
    """Create-if-absent + append: register the admitted rows in the
    standing index. ``mark`` makes a replayed epoch's append a no-op
    (ParquetWarehouse commit marks)."""
    if not wh.table_exists(index_table):
        wh.create_table(index_table, rows.schema)
    wh.append(index_table, rows, mark=mark)


def admit_novel(
    wh,
    index_table: str,
    rows: DataFrame,
    key,
    out_table: str | None = None,
    index_cols: list | None = None,
    mark: str | None = None,
) -> DataFrame:
    """The streaming first-seen admission idiom, in ONE place (used by
    the dedup stream, the corpus mixture maintainer, and the retention
    cohort maintainer): dedupe the batch on ``key`` (keep-first by lowest
    doc_id when the rows carry payload, plain distinct when the rows ARE
    the key), anti-probe the standing ``index_table``, then append the
    admitted rows to ``out_table`` (when given) and their ``index_cols``
    (default: the key) to the index. Returns the admitted rows,
    localCheckpoint'd — every caller consumes them at least twice.

    ``mark`` (pass ``f"e{epoch_id}"``) rides the ParquetWarehouse commit
    marks, so a crash BETWEEN the two appends replays exactly-once per
    table; the caller still owns the cross-epoch replay guard
    (:func:`~..writer.epoch_already_applied`).

    ORDERING RULE: the index append must be the epoch's LAST data write —
    once it commits, a replay's probe sees the admitted keys and
    recomputes ``novel`` as empty, which is only correct if every other
    write of the epoch already committed (and therefore mark-skips). A
    caller that needs ``novel`` for further writes (e.g. a summary delta)
    must apply them BEFORE calling the index append — use the unbundled
    ``probe_novel``/``append_index`` pieces with the same mark instead of
    this composite."""
    keys = [key] if isinstance(key, str) else list(key)
    firsts = (
        rows.distinct()
        if set(rows.columns) == set(keys)
        else keep_first(rows, key)
    )
    novel = probe_novel(wh, index_table, firsts, key).localCheckpoint()
    if out_table is not None:
        append_index(wh, out_table, novel, mark=mark)
    append_index(wh, index_table, novel.select(*(index_cols or keys)), mark=mark)
    return novel


# ------------------------------------- decayed-popularity maintenance ------
#
# Streaming twin of ``operators.timeseries.events_decayed_popularity``.
# The key design fact: exponential decay re-ages EVERY day bucket whenever
# "now" advances, so decayed scores are not additively maintainable — but
# the UNDECAYED day-grain count table is (it's a plain COUNT grouped by
# (event_type, day), self-maintainable under appends). So the maintained
# state is that table — O(types x days), metadata-sized regardless of
# corpus size — and the decay arithmetic reruns at serve time over the day
# grid via the shared static integer weight table. One epoch = one
# pre-aggregated additive merge; replay-guarded like every maintainer here.


def maintain_decayed_popularity_stream(
    stream: DataFrame,
    wh,
    summary_table: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Maintain the day-grain event-count table from an append-only event
    stream (rows with ``ts``, ``event_type``). Serve scores with
    ``decayed_popularity_from_summary``."""
    from ..writer import epoch_already_applied, mark_epoch_applied

    epoch_table = f"{summary_table}__applied_epoch"

    def _epoch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        if epoch_already_applied(wh, epoch_table, epoch_id):
            return  # replayed epoch — deltas already merged
        delta = batch.select(
            F.lit(1).alias(SIGN_COL),
            F.to_date("ts").alias("d"),
            "event_type",
        )
        apply_summary_delta(
            wh, summary_table, delta, ["event_type", "d"], [],
            mark=f"e{epoch_id}",
        )
        mark_epoch_applied(wh, epoch_table, batch.sparkSession, epoch_id)

    writer = (
        stream.writeStream.foreachBatch(_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def decayed_popularity_from_summary(wh, summary_table: str) -> DataFrame:
    """Recompute decayed-popularity scores from the maintained day-grain
    table — identical output to the batch query over the same fed rows;
    cost is the day grid, never the corpus."""
    from ..operators.timeseries import decayed_scores_from_daily

    daily = wh.read(summary_table).select(
        "event_type", "d", F.col("n_rows").alias("n")
    )
    return decayed_scores_from_daily(daily)


# --------------------------------------- cohort-retention maintenance ------
#
# Streaming twin of ``plans.events.events_retention_cohorts``. The cohort
# grid itself is NOT additively maintainable: a late-arriving earlier
# event moves a user's first week and re-labels every one of their offset
# cells. The minimal exact state is the distinct (user_id, week) activity
# set — one row per user-week, far below the raw log, and the smallest
# sufficient statistic under out-of-order arrival (first-seen week must be
# an exact min). Each epoch admits only NOVEL user-weeks against the
# standing table (the dedup_stream first-seen discipline: batch keys
# broadcast into the probe, matched set broadcasts back — O(batch), the
# standing table is never shuffled); the serve path recomputes the
# metadata-sized grid from the state via the SAME ``cohort_grid`` code the
# batch query runs, so streaming == batch is equality by construction.


def maintain_retention_stream(
    stream: DataFrame,
    wh,
    state_table: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Maintain the distinct (user_id, w) activity table from an
    append-only event stream (rows with ``ts``, ``user_id``). Serve the
    cohort grid with ``retention_from_state``."""
    from ..plans.events import week_index
    from ..writer import epoch_already_applied, mark_epoch_applied

    epoch_table = f"{state_table}__applied_epoch"

    def _epoch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        if epoch_already_applied(wh, epoch_table, epoch_id):
            return  # replayed epoch — user-weeks already admitted
        uw = batch.select("user_id", week_index("ts")).distinct()
        admit_novel(
            wh, state_table, uw, ["user_id", "w"], mark=f"e{epoch_id}"
        )
        mark_epoch_applied(wh, epoch_table, batch.sparkSession, epoch_id)

    writer = (
        stream.writeStream.foreachBatch(_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def retention_from_state(wh, state_table: str) -> DataFrame:
    """Cohort retention grid from the maintained user-week state —
    identical output to the batch query over the same fed rows (shared
    ``cohort_grid`` plan); cost is one user-grain aggregation over the
    state, never the raw log."""
    from ..plans.events import cohort_grid

    return cohort_grid(wh.read(state_table).select("user_id", "w"))


# ------------------------------------------- ANN-index maintenance ---------
#
# Streaming twin of ``operators.similarity.ensure_ann_index``: cell
# assignment is a deterministic pure map over the incoming vector, so a
# stream of new embeddings maintains the SAME persisted cell-partitioned
# layout the batch builder writes — each epoch assigns its batch
# (O(batch), no state read at all: unlike dedup admission there is no
# membership question, every arriving vector belongs in exactly one cell)
# and writes it into a deterministic per-epoch generation directory.
# Replay-guarded INCLUDING mid-epoch failure (r7 ADVICE fix): the epoch
# write is ``mode("overwrite")`` of ``gen_e{epoch}/cell=…``, so a crash
# between the parquet write and the epoch mark makes the retry replace
# the partial directory instead of double-appending its rows; serving
# (partition-pruned probe — the cell= dirs sit one level down, partition
# inference stops at the non-kv gen segment) is unchanged.


def read_ann_index_dir(spark, index_dir: str) -> DataFrame:
    """Read a streamed ANN index: union of the per-epoch generation dirs
    (each its own cell-partitioned table — the multi-root shape Spark
    requires; a cell filter pushes through the Union into every child
    scan's PartitionFilters, so probing stays partition-pruned)."""
    import os
    from functools import reduce

    gens = sorted(
        os.path.join(index_dir, d)
        for d in os.listdir(index_dir)
        if d.startswith("gen_e")
    )
    if not gens:
        raise ValueError(f"no epoch generations under {index_dir}")
    return reduce(DataFrame.unionByName, (spark.read.parquet(g) for g in gens))


def maintain_ann_index_stream(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    epoch_state_dir: str | None = None,
    available_now: bool = True,
):
    """Maintain a cell-partitioned ANN index directory from an append-only
    embedding stream (rows with ``vec_id``, ``embedding``); read it back
    with :func:`read_ann_index_dir`."""
    import json
    import os

    from ..operators.similarity import _assign_cells

    state = epoch_state_dir or (index_dir + "__epochs")
    os.makedirs(state, exist_ok=True)

    def _applied(epoch_id: int) -> bool:
        return os.path.exists(os.path.join(state, f"e{epoch_id}.json"))

    def _mark(epoch_id: int, n: int) -> None:
        p = os.path.join(state, f"e{epoch_id}.json.tmp")
        with open(p, "w") as fh:
            json.dump({"rows": n}, fh)
        os.replace(p, os.path.join(state, f"e{epoch_id}.json"))

    def _epoch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        if _applied(epoch_id):
            return  # replayed epoch — rows already in the cell partitions
        assigned = _assign_cells(batch.select("vec_id", "embedding"))
        # deterministic per-epoch dir + overwrite = idempotent retry: a
        # crash after this write but before _mark re-runs the epoch and
        # REPLACES the directory — never a duplicate append
        assigned.write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(index_dir, f"gen_e{epoch_id}")
        )
        _mark(epoch_id, batch.count())

    writer = (
        stream.writeStream.foreachBatch(_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
