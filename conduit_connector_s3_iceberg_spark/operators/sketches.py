"""Sketch aggregations: re-aggregable approximate distinct counts (Apache
DataSketches HLL, built into Spark 3.5+) and count-min frequency sketches.

The 100-TB motivation: exact per-group distinct counts don't roll up — you
cannot sum them across groups or days. HLL sketches DO (union is lossless
for the sketch), so the scale pattern is: aggregate once into per-group
sketch bytes, persist them, and answer any coarser rollup later by
``hll_union_agg`` over the stored sketches — no rescan of the fact data.
Estimates are deterministic for a given input set (the sketch is a pure
function of the hashed values), but engine-specific — so these register as
rows-only checks, with accuracy and re-aggregability asserted in unit
tests (tests/test_operators.py) instead of the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.tables import load_table

HLL_LGK = 14  # log2 of sketch buckets: ~0.8% relative error, 32 KB max


def distinct_sketches(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Per-group HLL sketch + estimate for ``value_col``. The ``sketch``
    bytes column is the persistable artifact; keep it to make every future
    coarser rollup a sketch-union instead of a fact rescan."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(HLL_LGK)).alias("sketch")
    ).select(
        *group_cols,
        "sketch",
        F.hll_sketch_estimate("sketch").alias("approx_distinct"),
    )


def union_rollup(sketches: DataFrame, group_cols: list[str]) -> DataFrame:
    """Roll stored sketches up to a coarser grouping (possibly empty =
    global) by sketch union — the operation exact distinct counts cannot
    do. Input is ``distinct_sketches`` output (or a table of it)."""
    grouped = (
        sketches.groupBy(*group_cols) if group_cols else sketches.groupBy()
    )
    return grouped.agg(F.hll_union_agg("sketch").alias("sketch")).select(
        *group_cols,
        "sketch",
        F.hll_sketch_estimate("sketch").alias("approx_distinct"),
    )


def freq_sketch(
    df: DataFrame,
    value_col: str,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> bytes:
    """Count-min sketch of a column as portable bytes (additive merges are
    order-independent → deterministic for fixed seed). The streaming-side
    heavy-hitter complement to the exact ``text_heavy_hitters`` rollup."""
    row = df.agg(
        F.count_min_sketch(
            value_col, F.lit(eps), F.lit(confidence), F.lit(seed)
        ).alias("cms")
    ).collect()[0]
    return bytes(row["cms"])


def events_hll_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type approximate distinct users via DataSketches HLL
    (~0.8% error at lgK=14, 32 KB per group). The sketch column is the
    point: persisted sketches answer ANY coarser rollup (daily → monthly →
    global) by union, without rescanning the fact table — the only
    distinct-count strategy that survives 100 TB cubes.

    Library function, NOT a registered query: the DataSketches binary is
    engine-internal so no DuckDB oracle exists (it sat as a permanent
    ``no_oracle`` driver row in r01/r02). Accuracy + re-aggregability are
    unit-tested in tests/test_operators.py; the bit-exact cross-checked
    twin is the ``events_hll_registers``/``events_hll_estimate`` pair
    below."""
    ev = load_table(spark, sf_dir, "events")
    return distinct_sketches(ev, ["event_type"], "user_id").drop("sketch")


# ------------------------------------------- oracle-checkable HLL variant --
#
# The Spark-native HLL above (`hll_sketch_agg`) is rows-only checkable: its
# binary sketch is engine-internal. This variant rebuilds HyperLogLog from
# first principles with md5-derived registers, so DuckDB can recompute the
# EXACT same registers and estimate — converting the sketch family from
# "trust the engine" to bit-exact cross-checked. Same plan shape as any
# production HLL: one narrow map per row, one max-aggregation over
# HLL_M register keys (map-side combined), constant-size output.
#
# Register math (identical text in both engines): bucket = first 2 md5 hex
# chars mod HLL_M; v = next 15 hex chars (60 bits); rho = 61 - bitlength(v)
# (v = 0 -> 61). Estimate = alpha * m^2 / sum(2^-reg), registers folded in
# bucket order — a fixed IEEE op sequence over powers of two.

HLL_M = 64          # registers (b = 6 bits)
HLL_ALPHA = 0.709   # standard alpha for m = 64


@query(
    "events_hll_registers",
    oracle=f"""
    WITH h AS (
      SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM events
    ),
    r AS (
      SELECT CAST(CAST(('0x' || substr(hx, 1, 2)) AS BIGINT) % {HLL_M} AS INTEGER)
               AS bucket,
             CAST(('0x' || substr(hx, 3, 15)) AS BIGINT) AS v
      FROM h
    ),
    regs AS (
      SELECT bucket,
             MAX(CASE WHEN v = 0 THEN 61
                      ELSE 61 - length(bin(v)) END) AS register
      FROM r GROUP BY bucket
    )
    SELECT s.bucket, CAST(COALESCE(regs.register, 0) AS INTEGER) AS register
    FROM (SELECT unnest(generate_series(0, {HLL_M - 1})) AS bucket) s
    LEFT JOIN regs ON regs.bucket = s.bucket
    """,
    doc=f"HyperLogLog registers, oracle-checkable: md5-derived bucket "
        f"(mod {HLL_M}) and leading-zero rank per row, max per register — "
        "bit-identical in both engines, unlike the engine-internal "
        "hll_sketch_agg binary. One narrow map + one tiny max-agg; "
        "registers merge by max, so shards re-aggregate exactly like any "
        "production HLL.",
)
def events_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hx = F.md5(F.col("user_id").cast("string"))
    bucket = (F.conv(F.substring(hx, 1, 2), 16, 10).cast("long") % HLL_M).cast("int")
    v = F.conv(F.substring(hx, 3, 15), 16, 10).cast("long")
    rho = F.when(v == 0, F.lit(61)).otherwise(
        F.lit(61) - F.length(F.bin(v))
    )
    regs = (
        ev.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("register"))
    )
    spine = spark.range(0, HLL_M).select(F.col("id").cast("int").alias("bucket"))
    return spine.join(regs, "bucket", "left").select(
        "bucket", F.coalesce("register", F.lit(0)).cast("int").alias("register")
    )


@query(
    "events_hll_estimate",
    oracle=f"""
    WITH h AS (
      SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM events
    ),
    r AS (
      SELECT CAST(CAST(('0x' || substr(hx, 1, 2)) AS BIGINT) % {HLL_M} AS INTEGER)
               AS bucket,
             CAST(('0x' || substr(hx, 3, 15)) AS BIGINT) AS v
      FROM h
    ),
    regs AS (
      SELECT bucket,
             MAX(CASE WHEN v = 0 THEN 61
                      ELSE 61 - length(bin(v)) END) AS register
      FROM r GROUP BY bucket
    ),
    full_regs AS (
      SELECT s.bucket, COALESCE(regs.register, 0) AS register
      FROM (SELECT unnest(generate_series(0, {HLL_M - 1})) AS bucket) s
      LEFT JOIN regs ON regs.bucket = s.bucket
    ),
    folded AS (
      SELECT list_reduce(
               list_transform(array_agg(register ORDER BY bucket),
                              x -> pow(2.0, -x)),
               (a, b) -> a + b) AS inv_sum,
             COUNT(*) FILTER (WHERE register = 0) AS n_zero
      FROM full_regs
    ),
    est AS (
      SELECT {HLL_ALPHA} * {HLL_M} * {HLL_M} / inv_sum AS raw_e, n_zero
      FROM folded
    ),
    corrected AS (
      SELECT CASE WHEN raw_e <= 2.5 * {HLL_M} AND n_zero > 0
                  THEN {HLL_M} * ln({HLL_M}.0 / n_zero)
                  ELSE raw_e END AS hll_estimate
      FROM est
    )
    SELECT corrected.hll_estimate,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS true_distinct,
           corrected.hll_estimate
             / (SELECT COUNT(DISTINCT user_id) FROM events) - 1.0 AS rel_error
    FROM corrected
    """,
    doc="HLL cardinality estimate from the oracle-checkable registers: "
        "alpha * m^2 / sum(2^-register) folded in bucket order (powers of "
        "two — every intermediate is IEEE-exact), with the standard "
        "small-range linear-counting branch (E <= 2.5m and empty registers "
        "present -> m*ln(m/V), Flajolet et al. 2007) applied identically "
        "in both engines, alongside the true distinct count and relative "
        "error. Proves the whole sketch path (hash -> registers -> "
        "estimate) end-to-end against an independent engine, not just row "
        "counts.",
)
def events_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    regs = events_hll_registers(spark, sf_dir)
    folded = regs.agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(bucket, register))),"
            " s -> pow(2.0D, -s.register)), 0.0D, (a, b) -> a + b)"
        ).alias("inv_sum"),
        F.count(F.when(F.col("register") == 0, 1)).alias("n_zero"),
    )
    ev = load_table(spark, sf_dir, "events")
    true_d = ev.agg(F.countDistinct("user_id").alias("true_distinct"))
    raw_e = F.lit(HLL_ALPHA) * F.lit(HLL_M) * F.lit(HLL_M) / F.col("inv_sum")
    est = F.when(
        (raw_e <= F.lit(2.5 * HLL_M)) & (F.col("n_zero") > 0),
        F.lit(HLL_M) * F.log(F.lit(float(HLL_M)) / F.col("n_zero")),
    ).otherwise(raw_e)
    return (
        folded.crossJoin(F.broadcast(true_d))
        .select(
            est.alias("hll_estimate"),
            "true_distinct",
            (est / F.col("true_distinct") - F.lit(1.0)).alias("rel_error"),
        )
    )


# --------------------------------------- oracle-checkable count-min sketch --
#
# The frequency-sketch twin of the HLL register pair above: count-min with
# md5-derived row hashes, rebuilt identically in DuckDB so registers AND
# point estimates are bit-exact cross-engine (the engine-native
# `count_min_sketch` bytes, like the DataSketches HLL binary, are not).
# Counts are integers throughout — no IEEE concerns at all.
#
# Plan shape (the production CMS shape): one narrow map exploding each row
# into CMS_D (row, bucket) keys, one partial+final hash agg over the
# CMS_D × CMS_W key space (constant, uniform — md5 rows spread evenly), and
# a constant-size spine join for empty buckets. Registers merge by +, so
# shards/days re-aggregate exactly like any production CMS.

CMS_D = 4    # hash rows
CMS_W = 64   # buckets per row

_CMS_PROBE = 8  # probe keys for the estimate query: user_id < 8


def _cms_bucket_sql(row: str, key: str) -> str:
    return (
        f"CAST(CAST(('0x' || substr(md5(CAST({row} AS VARCHAR) || ':' || "
        f"CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % {CMS_W} AS INTEGER)"
    )


def _cms_bucket_spark(row, key) -> F.Column:
    hx = F.md5(F.concat(row.cast("string"), F.lit(":"), key.cast("string")))
    return (F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % CMS_W).cast(
        "int"
    )


@query(
    "events_cms_registers",
    oracle=f"""
    WITH rows_ AS (
      SELECT unnest(generate_series(0, {CMS_D - 1})) AS hrow
    ),
    hits AS (
      SELECT r.hrow, {_cms_bucket_sql('r.hrow', 'e.user_id')} AS bucket,
             COUNT(*) AS cnt
      FROM events e CROSS JOIN rows_ r
      GROUP BY r.hrow, bucket
    ),
    spine AS (
      SELECT r.hrow, b.bucket
      FROM rows_ r CROSS JOIN
           (SELECT unnest(generate_series(0, {CMS_W - 1})) AS bucket) b
    )
    SELECT CAST(s.hrow AS INTEGER) AS hrow, CAST(s.bucket AS INTEGER) AS bucket,
           CAST(COALESCE(h.cnt, 0) AS BIGINT) AS cnt
    FROM spine s LEFT JOIN hits h ON h.hrow = s.hrow AND h.bucket = s.bucket
    """,
    doc=f"Count-min sketch registers, oracle-checkable: {CMS_D} md5 hash "
        f"rows × {CMS_W} buckets of exact occurrence counts over "
        "events.user_id — rebuilt bit-identically in DuckDB, unlike the "
        "engine-native count_min_sketch binary (`freq_sketch` above keeps "
        "that fast path). One explode-by-D narrow map + one hash agg over "
        "a constant D×W key space; registers merge additively, so shards "
        "re-aggregate exactly like any production CMS.",
)
def events_cms_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("hrow"),
                        _cms_bucket_spark(F.lit(r), F.col("user_id")).alias(
                            "bucket"
                        ),
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("p")
    ).select("p.hrow", "p.bucket")
    hits = pairs.groupBy("hrow", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    spine = (
        spark.range(CMS_D)
        .select(F.col("id").cast("int").alias("hrow"))
        .crossJoin(
            spark.range(CMS_W).select(F.col("id").cast("int").alias("bucket"))
        )
    )
    return spine.join(hits, ["hrow", "bucket"], "left").select(
        "hrow", "bucket", F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt")
    )


@query(
    "events_cms_estimate",
    oracle=f"""
    WITH rows_ AS (
      SELECT unnest(generate_series(0, {CMS_D - 1})) AS hrow
    ),
    hits AS (
      SELECT r.hrow, {_cms_bucket_sql('r.hrow', 'e.user_id')} AS bucket,
             COUNT(*) AS cnt
      FROM events e CROSS JOIN rows_ r
      GROUP BY r.hrow, bucket
    ),
    probes AS (
      SELECT DISTINCT user_id FROM events WHERE user_id < {_CMS_PROBE}
    ),
    lookups AS (
      SELECT p.user_id, r.hrow,
             {_cms_bucket_sql('r.hrow', 'p.user_id')} AS bucket
      FROM probes p CROSS JOIN rows_ r
    ),
    est AS (
      SELECT l.user_id, MIN(COALESCE(h.cnt, 0)) AS cms_estimate
      FROM lookups l
      LEFT JOIN hits h ON h.hrow = l.hrow AND h.bucket = l.bucket
      GROUP BY l.user_id
    ),
    truth AS (
      SELECT user_id, COUNT(*) AS true_count FROM events
      WHERE user_id < {_CMS_PROBE} GROUP BY user_id
    )
    SELECT t.user_id, CAST(t.true_count AS BIGINT) AS true_count,
           CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
           CAST(e.cms_estimate - t.true_count AS BIGINT) AS overcount
    FROM truth t JOIN est e ON e.user_id = t.user_id
    """,
    doc=f"Count-min point estimates for {_CMS_PROBE} probe keys: "
        f"min over the {CMS_D} rows of the register at the key's bucket, "
        "alongside the exact count and the (always >= 0) overcount — the "
        "one-sided error guarantee, proven end-to-end against an "
        "independent engine. The register build is the same plan as "
        "events_cms_registers; the probe lookup is a constant-size "
        "broadcast join against the D×W register table.",
)
def events_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("hrow"),
                        _cms_bucket_spark(F.lit(r), F.col("user_id")).alias(
                            "bucket"
                        ),
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("p")
    ).select("p.hrow", "p.bucket")
    hits = pairs.groupBy("hrow", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    probes = ev.filter(F.col("user_id") < _CMS_PROBE).select("user_id").distinct()
    lookups = probes.crossJoin(
        spark.range(CMS_D).select(F.col("id").cast("int").alias("hrow"))
    ).select(
        "user_id",
        "hrow",
        _cms_bucket_spark(F.col("hrow"), F.col("user_id")).alias("bucket"),
    )
    est = (
        lookups.join(hits, ["hrow", "bucket"], "left")
        .groupBy("user_id")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_estimate"))
    )
    truth = (
        ev.filter(F.col("user_id") < _CMS_PROBE)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    return truth.join(est, "user_id").select(
        "user_id",
        F.col("true_count").cast("long").alias("true_count"),
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        (F.col("cms_estimate") - F.col("true_count"))
        .cast("long")
        .alias("overcount"),
    )


def cms_batch_hits(df: DataFrame, key_col: str) -> DataFrame:
    """Sparse CMS registers for one frame: (hrow, bucket, cnt) for touched
    buckets only. Additive by construction — union + re-sum of any shard
    split equals the whole — which is what makes the streaming maintenance
    below a plain merge."""
    return (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).cast("int").alias("hrow"),
                            _cms_bucket_spark(
                                F.lit(r), F.col(key_col)
                            ).alias("bucket"),
                        )
                        for r in range(CMS_D)
                    ]
                )
            ).alias("p")
        )
        .select("p.hrow", "p.bucket")
        .groupBy("hrow", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def apply_cms_epoch(
    wh, register_table: str, key_col: str, batch: DataFrame, epoch_id: int
) -> None:
    """One idempotent epoch of streaming CMS maintenance (the foreachBatch
    body of :func:`maintain_cms_stream`, module-level so replay semantics
    are unit-testable). Re-applying an already-applied ``epoch_id`` is a
    no-op — see the replay-safety note on :func:`maintain_cms_stream`."""
    from ..writer import epoch_already_applied, mark_epoch_applied

    epoch_table = f"{register_table}__applied_epoch"
    if batch.isEmpty():
        return
    if epoch_already_applied(wh, epoch_table, epoch_id):
        return  # replayed epoch — already folded in
    d = cms_batch_hits(batch, key_col).withColumnRenamed("cnt", "d_cnt")
    if not wh.table_exists(register_table):
        fresh = d.select("hrow", "bucket", F.col("d_cnt").alias("cnt"))
        wh.create_table(register_table, fresh.schema)
        wh.append(register_table, fresh, mark=f"e{epoch_id}")
        mark_epoch_applied(wh, epoch_table, batch.sparkSession, epoch_id)
        return
    current = wh.read(register_table)
    merged = current.join(d, ["hrow", "bucket"], "full_outer").select(
        "hrow",
        "bucket",
        (
            F.coalesce(F.col("cnt"), F.lit(0))
            + F.coalesce(F.col("d_cnt"), F.lit(0))
        ).alias("cnt"),
    )
    wh.overwrite_with(register_table, merged, mark=f"e{epoch_id}")
    mark_epoch_applied(wh, epoch_table, batch.sparkSession, epoch_id)


def maintain_cms_stream(
    stream: DataFrame,
    wh,
    register_table: str,
    key_col: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuously-maintained count-min registers over a stream: each
    epoch folds the batch's sparse registers into the persisted D×W-bounded
    register table by addition (CMS merges are additive, so epoch order
    and batch boundaries cannot change the result — same exactness
    argument as the IVM summary merge in ``streaming/ivm.py``, minus the
    before-image requirement because counts only grow). The register table
    stays constant-size regardless of stream volume: the 100-TB-friendly
    way to keep live frequency estimates without any fact-table rescan.

    Replay safety: foreachBatch is at-least-once — after a crash the last
    epoch is re-delivered, and a blind read-add-overwrite would double-count
    it. The last applied ``epoch_id`` is persisted in a one-row sidecar
    table and epochs ``<=`` it are skipped, making the merge idempotent
    (epoch ids are monotonically increasing per checkpoint, so the single
    watermark row suffices). In the Parquet analogue the register write and
    the watermark are two commits; the register write carries the epoch's
    commit mark (``e<epoch_id>``), so a replay after a crash between them
    skips the register and only advances the watermark.
    """
    writer = (
        stream.writeStream.foreachBatch(
            lambda batch, epoch_id: apply_cms_epoch(
                wh, register_table, key_col, batch, epoch_id
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ------------------------------------------- mergeable histogram quantiles --
# Fixed-width histogram sketch over document length, per language. The
# registers are (lang, bin) -> count: they merge by + across shards exactly
# like any production histogram/KLL-style sketch's leaf level, so the state
# is re-aggregable and constant-size per group (HIST_BINS rows). Quantile
# estimates read the cumulative counts and report the upper edge of the
# first bin whose running total reaches ceil(p * n) — deterministic integer
# math, no interpolation ambiguity across engines. At 100 TB the corpus
# pays one narrow map (bin assignment) + one map-side-combined count; the
# quantile extraction runs on the (langs x bins)-sized register frame.

HIST_BIN_W = 32    # chars per bin
HIST_BINS = 64     # clamp: values >= HIST_BIN_W * HIST_BINS land in the top bin


def _hist_quantile_sql(p: int) -> str:
    """Upper bin edge of the first bin whose cumulative count reaches
    ceil(p% * n), as oracle SQL over the cumulated register CTE."""
    return f"""
           CAST(MIN(CASE WHEN cum * 100 >= {p} * n
                         THEN (bin + 1) * {HIST_BIN_W} END) AS BIGINT)
             AS p{p}_est"""


@query(
    "sketch_hist_quantiles",
    oracle=f"""
    WITH regs AS (
      SELECT lang,
             CAST(least(n_chars // {HIST_BIN_W}, {HIST_BINS - 1}) AS BIGINT)
               AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1, 2
    ), cumed AS (
      SELECT lang, bin, cnt,
             CAST(SUM(cnt) OVER (
               PARTITION BY lang ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
      FROM regs
    )
    SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_bins_used,
           {_hist_quantile_sql(50)},
           {_hist_quantile_sql(90)},
           {_hist_quantile_sql(99)}
    FROM cumed GROUP BY lang
    """,
    doc=f"Mergeable histogram quantile sketch: fixed-width {HIST_BIN_W}-char "
        f"bins (clamped to {HIST_BINS}) over n_chars per language; "
        "registers merge by + across shards (re-aggregable state, like the "
        "HLL/CMS registers above); p50/p90/p99 read the cumulative counts "
        "with pure integer threshold math (cum*100 >= p*n) so both engines "
        "pick the identical bin edge. Corpus cost: one narrow map + one "
        "combined count; extraction is register-frame-sized.",
)
def sketch_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    bin_col = F.least(
        (F.col("n_chars") / HIST_BIN_W).cast("long"), F.lit(HIST_BINS - 1)
    ).cast("long")
    regs = docs.groupBy(
        "lang", bin_col.alias("bin")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("lang")
    cumed = regs.select(
        "lang",
        "bin",
        "cnt",
        F.sum("cnt").over(w_cum).cast("long").alias("cum"),
        F.sum("cnt").over(w_all).cast("long").alias("n"),
    )

    def est(p: int) -> F.Column:
        return (
            F.min(
                F.when(
                    F.col("cum") * 100 >= F.lit(p) * F.col("n"),
                    (F.col("bin") + 1) * HIST_BIN_W,
                )
            )
            .cast("long")
            .alias(f"p{p}_est")
        )

    return cumed.groupBy("lang").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
        est(50),
        est(90),
        est(99),
    )


# ----------------------------------------------------- KMV (k-minimum values)
#
# HLL answers "how many distinct" but cannot answer "how much do two sets
# OVERLAP" — sketch intersection is the capability that needs K-minimum-
# values (Bar-Yossef et al., RANDOM'02; the Theta-sketch family in Apache
# DataSketches). A KMV sketch is simply the k smallest hashes of a set's
# members; it supports:
#   * distinct estimate:  D ≈ (k-1) / u_k   (u_k = k-th smallest, in [0,1))
#   * lossless union:     K(A ∪ B) = k-min of (K(A) ∪ K(B))
#   * Jaccard:            J ≈ |K(A∪B) ∩ K(A) ∩ K(B)| / k
# so per-group sketches persisted once answer any later cross-group overlap
# question from metadata-sized state — the 100-TB pattern.
#
# Cross-engine exactness: the hash is md5 over the stringified key; lowercase
# fixed-width hex compares lexicographically exactly like the 128-bit value,
# so "k smallest hashes" is a plain string rank in both engines, and the
# estimate is the same fixed IEEE op sequence ((k-1)/ (v/2^60)) — bit-equal.
#
# Scale shape (Spark side): NOT one rank window per group (a group's whole
# distinct set would funnel through one reducer). K-min is mergeable, so
# phase 1 ranks within (group, hash-derived sub-bucket) — KMV_P independent
# partitions per group — and phase 2 ranks the ≤ KMV_P·k survivors. The
# oracle states the identical result as one global rank, affordable at
# oracle scale.

KMV_K = 64   # sketch size: ~12.5% relative standard error on distincts
KMV_P = 16   # phase-1 sub-buckets per group

_TWO60 = float(1 << 60)  # power of two — exact as a double literal


def _kmv_v(hx: F.Column) -> F.Column:
    """First 60 bits of the md5 hex as a BIGINT (same math as the HLL
    registers above)."""
    return F.conv(F.substring(hx, 1, 15), 16, 10).cast("long")


def kmv_hashes(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """The deduped ``(group, hx)`` hash frame both the sketch and any exact
    count derive from — materialized ONCE (localCheckpoint) because every
    downstream consumer (k-min ranks, exact counts) would otherwise re-run
    the corpus scan + distinct shuffle per consumer."""
    return (
        df.select(
            F.col(group_col), F.md5(F.col(value_col).cast("string")).alias("hx")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )


def kmv_sketches(
    df: DataFrame, group_col: str, value_col: str, h: DataFrame | None = None
) -> DataFrame:
    """Per-group KMV sketch rows ``(group, hx, rk)`` with rk <= KMV_K.
    Two-phase k-min: sub-bucket rank then merge rank, so no group's full
    distinct set ever sorts on a single reducer. Pass a precomputed
    :func:`kmv_hashes` frame to share the distinct shuffle with other
    consumers."""
    if h is None:
        h = kmv_hashes(df, group_col, value_col)
    b = h.withColumn("b", _kmv_v(F.col("hx")) % KMV_P)
    w1 = Window.partitionBy(group_col, "b").orderBy("hx")
    survivors = (
        b.withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= KMV_K)
        .drop("rk1", "b")
    )
    w2 = Window.partitionBy(group_col).orderBy("hx")
    return survivors.withColumn("rk", F.row_number().over(w2)).filter(
        F.col("rk") <= KMV_K
    )


@query(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
      FROM events
    ),
    r AS (
      SELECT event_type, hx,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hx) AS rk
      FROM h
    ),
    k AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS kmv_size,
             MAX(CASE WHEN rk = {KMV_K} THEN hx END) AS kth
      FROM r WHERE rk <= {KMV_K}
      GROUP BY event_type
    ),
    n AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM h GROUP BY event_type
    )
    SELECT n.event_type,
           n.n_exact,
           k.kmv_size,
           CASE WHEN k.kmv_size < {KMV_K} THEN CAST(k.kmv_size AS DOUBLE)
                ELSE ({KMV_K} - 1.0)
                     / (CAST(('0x' || substr(k.kth, 1, 15)) AS BIGINT)
                        / {_TWO60!r})
           END AS kmv_est
    FROM n JOIN k USING (event_type)
    ORDER BY event_type
    """,
    doc="Per-event-type KMV distinct-user sketch vs exact count, bit-exact "
    "cross-checked: both engines take the k smallest md5 hashes of the "
    "distinct user set (hex order = numeric order) and apply the same "
    "(k-1)/u_k IEEE expression. Spark computes the k-min in two phases "
    "(sub-bucket rank, then merge rank over <= P*k survivors) so no "
    "group funnels its whole distinct set through one reducer; the "
    "exact count column rides the same distinct shuffle.",
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = kmv_hashes(ev, "event_type", "user_id")
    sk = kmv_sketches(ev, "event_type", "user_id", h=h)
    k = sk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("kmv_size"),
        F.max(F.when(F.col("rk") == KMV_K, F.col("hx"))).alias("kth"),
    )
    n = h.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    est = F.when(
        F.col("kmv_size") < KMV_K, F.col("kmv_size").cast("double")
    ).otherwise(
        F.lit(float(KMV_K - 1))
        / (_kmv_v(F.col("kth")).cast("double") / F.lit(_TWO60))
    )
    return (
        n.join(k, "event_type")
        .select("event_type", "n_exact", "kmv_size", est.alias("kmv_est"))
        .orderBy("event_type")
    )


@query(
    "sketch_kmv_jaccard",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
      FROM events
    ),
    r AS (
      SELECT event_type, hx,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hx) AS rk
      FROM h
    ),
    sk AS (SELECT event_type, hx FROM r WHERE rk <= {KMV_K}),
    ty AS (SELECT DISTINCT event_type FROM events),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM ty a JOIN ty b ON a.event_type < b.event_type
    ),
    m AS (
      SELECT p.type_a, p.type_b, s.hx
      FROM pairs p JOIN sk s ON s.event_type = p.type_a
      UNION
      SELECT p.type_a, p.type_b, s.hx
      FROM pairs p JOIN sk s ON s.event_type = p.type_b
    ),
    u AS (
      SELECT type_a, type_b, hx,
             ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY hx) AS rk
      FROM m
    ),
    uk AS (SELECT type_a, type_b, hx FROM u WHERE rk <= {KMV_K}),
    agg AS (
      SELECT uk.type_a, uk.type_b,
             CAST(COUNT(*) AS BIGINT) AS k_union,
             CAST(SUM(CASE WHEN sa.hx IS NOT NULL AND sb.hx IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_common
      FROM uk
      LEFT JOIN sk sa ON sa.event_type = uk.type_a AND sa.hx = uk.hx
      LEFT JOIN sk sb ON sb.event_type = uk.type_b AND sb.hx = uk.hx
      GROUP BY uk.type_a, uk.type_b
    ),
    ut AS (SELECT DISTINCT event_type, user_id FROM events),
    n AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM ut GROUP BY event_type
    ),
    ix AS (
      SELECT x.event_type AS type_a, y.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS inter_exact
      FROM ut x
      JOIN ut y ON x.user_id = y.user_id AND x.event_type < y.event_type
      GROUP BY 1, 2
    )
    SELECT agg.type_a, agg.type_b, agg.k_union, agg.n_common,
           agg.n_common / CAST(agg.k_union AS DOUBLE) AS kmv_jaccard,
           COALESCE(ix.inter_exact, 0) AS inter_exact,
           COALESCE(ix.inter_exact, 0)
             / CAST(na.n + nb.n - COALESCE(ix.inter_exact, 0) AS DOUBLE)
             AS jaccard_exact
    FROM agg
    JOIN n na ON na.event_type = agg.type_a
    JOIN n nb ON nb.event_type = agg.type_b
    LEFT JOIN ix ON ix.type_a = agg.type_a AND ix.type_b = agg.type_b
    ORDER BY agg.type_a, agg.type_b
    """,
    doc="Pairwise distinct-user overlap between event types, estimated "
    "ENTIRELY from the per-type KMV sketches (union = k-min of merged "
    "sketch rows; J ~= |K(AuB) n K(A) n K(B)| / k) and cross-checked "
    "against the exact Jaccard computed from the fact table. The sketch "
    "side is the 100-TB path: after the one distinct-shuffle that builds "
    "the sketches, every pairwise estimate runs on T*k rows of metadata "
    "-- adding a group or asking a new pair never rescans the corpus. "
    "Bit-exact in both engines because k-min over lowercase fixed-width "
    "hex is a deterministic string rank.",
)
def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # the sketch is T*k rows of metadata and the deduped (type, user) frame
    # feeds three consumers (exact sizes + both exact-intersection legs) —
    # materialize each once instead of re-deriving from the corpus per use
    sk = (
        kmv_sketches(ev, "event_type", "user_id")
        .select("event_type", "hx")
        .localCheckpoint(eager=False)
    )
    types = sk.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .crossJoin(types.select(F.col("event_type").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    side_a = sk.select(F.col("event_type").alias("type_a"), "hx")
    side_b = sk.select(F.col("event_type").alias("type_b"), "hx")
    merged = (
        pairs.join(side_a, "type_a")
        .select("type_a", "type_b", "hx")
        .unionByName(pairs.join(side_b, "type_b").select("type_a", "type_b", "hx"))
        .distinct()
    )
    wu = Window.partitionBy("type_a", "type_b").orderBy("hx")
    uk = (
        merged.withColumn("rk", F.row_number().over(wu))
        .filter(F.col("rk") <= KMV_K)
        .drop("rk")
    )
    # membership flags via left joins on (type, hx); sketch rows are unique
    # per (type, hx) so multiplicity is 1
    in_a = side_a.withColumn("in_a", F.lit(1))
    in_b = side_b.withColumn("in_b", F.lit(1))
    agg = (
        uk.join(in_a, ["type_a", "hx"], "left")
        .join(in_b, ["type_b", "hx"], "left")
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_union"),
            F.sum(
                F.when(
                    F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_common"),
        )
    )
    ut = ev.select("event_type", "user_id").distinct().localCheckpoint(
        eager=False
    )
    n = ut.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    x, y = ut.alias("x"), ut.alias("y")
    ix = (
        x.join(
            y,
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("inter_exact"))
    )
    na = n.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    nb = n.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        agg.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .join(F.broadcast(ix), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "k_union",
            "n_common",
            (F.col("n_common") / F.col("k_union").cast("double")).alias(
                "kmv_jaccard"
            ),
            F.coalesce("inter_exact", F.lit(0)).cast("long").alias("inter_exact"),
            (
                F.coalesce("inter_exact", F.lit(0))
                / (
                    F.col("n_a") + F.col("n_b") - F.coalesce("inter_exact", F.lit(0))
                ).cast("double")
            ).alias("jaccard_exact"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "sketch_hist_quantiles_merged",
    oracle=f"""
    WITH shard_regs AS (
      SELECT lang,
             CAST(least(n_chars // {HIST_BIN_W}, {HIST_BINS - 1}) AS BIGINT)
               AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1, 2
    ), merged AS (
      SELECT bin, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM shard_regs GROUP BY bin
    ), cumed AS (
      SELECT bin, cnt,
             CAST(SUM(cnt) OVER (
               ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER () AS BIGINT) AS n
      FROM merged
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_bins_used,
           {_hist_quantile_sql(50)},
           {_hist_quantile_sql(90)},
           {_hist_quantile_sql(99)}
    FROM cumed
    """,
    doc="The merge half of the histogram sketch's contract, in the checked "
    "surface: per-language register frames (stand-ins for per-shard "
    "sketches persisted by independent jobs) are merged by a plain "
    "bin-wise SUM and the global p50/p90/p99 read from the merged "
    "registers — no rescan of the documents beyond the original "
    "register build. The property that lets a 100-TB corpus maintain "
    "quantiles incrementally: shards sketch locally, rollups only ever "
    "touch register frames.",
)
def sketch_hist_quantiles_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    bin_col = F.least(
        (F.col("n_chars") / HIST_BIN_W).cast("long"), F.lit(HIST_BINS - 1)
    ).cast("long")
    shard_regs = docs.groupBy("lang", bin_col.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    merged = shard_regs.groupBy("bin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cumed = merged.select(
        "bin",
        "cnt",
        F.sum("cnt").over(w_cum).cast("long").alias("cum"),
        F.sum("cnt").over(w_all).cast("long").alias("n"),
    )

    def est(p: int) -> F.Column:
        return (
            F.min(
                F.when(
                    F.col("cum") * 100 >= F.lit(p) * F.col("n"),
                    (F.col("bin") + 1) * HIST_BIN_W,
                )
            )
            .cast("long")
            .alias(f"p{p}_est")
        )

    return cumed.agg(
        F.max("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
        est(50),
        est(90),
        est(99),
    )


# ------------------------------------------------ HLL set algebra ----------
#
# The reason production pipelines store REGISTERS, not numbers: two
# sketches union by element-wise max (exact — the union's registers ARE
# the max-merge, no approximation stacking), and intersections fall out
# by inclusion-exclusion over estimates. Audience overlap between event
# types ("how many users both click and view") at 100 TB from two
# 64-register sketches — the fact table is scanned once per sketch,
# never joined against itself. Register math identical to
# events_hll_registers; estimate folds are powers of two in bucket
# order (IEEE-exact); the small-range branch matches events_hll_estimate.

_HLL_SET_A = "click"
_HLL_SET_B = "view"


def _hll_regs_sql(pred: str) -> str:
    """Register CTE body for a filtered user set (DuckDB)."""
    return f"""
      SELECT s.bucket, COALESCE(mx.register, 0) AS register
      FROM (SELECT unnest(generate_series(0, {HLL_M - 1})) AS bucket) s
      LEFT JOIN (
        SELECT CAST(CAST(('0x' || substr(hx, 1, 2)) AS BIGINT) % {HLL_M}
                    AS INTEGER) AS bucket,
               MAX(CASE WHEN CAST(('0x' || substr(hx, 3, 15)) AS BIGINT) = 0
                        THEN 61
                        ELSE 61 - length(bin(CAST(('0x' || substr(hx, 3, 15))
                                                  AS BIGINT))) END) AS register
        FROM (SELECT md5(CAST(user_id AS VARCHAR)) AS hx
              FROM events WHERE {pred})
        GROUP BY 1
      ) mx ON mx.bucket = s.bucket
    """


_HLL_EST_SQL = """
      SELECT CASE WHEN raw_e <= 2.5 * {m} AND n_zero > 0
                  THEN {m} * ln({m}.0 / n_zero) ELSE raw_e END AS e
      FROM (
        SELECT {alpha} * {m} * {m} / list_reduce(
                 list_transform(array_agg(register ORDER BY bucket),
                                x -> pow(2.0, -x)), (a, b) -> a + b) AS raw_e,
               COUNT(*) FILTER (WHERE register = 0) AS n_zero
        FROM {src}
      )
"""


@query(
    "sketch_hll_set_algebra",
    oracle=f"""
    WITH ra AS ({_hll_regs_sql(f"event_type = '{_HLL_SET_A}'")}),
    rb AS ({_hll_regs_sql(f"event_type = '{_HLL_SET_B}'")}),
    ru AS (
      SELECT ra.bucket, greatest(ra.register, rb.register) AS register
      FROM ra JOIN rb ON ra.bucket = rb.bucket
    ),
    ea AS ({_HLL_EST_SQL.format(m=HLL_M, alpha=HLL_ALPHA, src="ra")}),
    eb AS ({_HLL_EST_SQL.format(m=HLL_M, alpha=HLL_ALPHA, src="rb")}),
    eu AS ({_HLL_EST_SQL.format(m=HLL_M, alpha=HLL_ALPHA, src="ru")}),
    truth AS (
      SELECT
        (SELECT COUNT(DISTINCT user_id) FROM events
         WHERE event_type = '{_HLL_SET_A}') AS true_a,
        (SELECT COUNT(DISTINCT user_id) FROM events
         WHERE event_type = '{_HLL_SET_B}') AS true_b,
        (SELECT COUNT(DISTINCT user_id) FROM events
         WHERE event_type IN ('{_HLL_SET_A}', '{_HLL_SET_B}')) AS true_union
    )
    SELECT ea.e AS est_a, eb.e AS est_b, eu.e AS est_union,
           ea.e + eb.e - eu.e AS est_intersection,
           CAST(true_a AS BIGINT) AS true_a,
           CAST(true_b AS BIGINT) AS true_b,
           CAST(true_union AS BIGINT) AS true_union,
           CAST(true_a + true_b - true_union AS BIGINT) AS true_intersection,
           eu.e / true_union - 1.0 AS union_rel_error
    FROM ea CROSS JOIN eb CROSS JOIN eu CROSS JOIN truth
    """,
    doc=f"HLL set algebra over per-event-type user sketches "
        f"('{_HLL_SET_A}' vs '{_HLL_SET_B}'): union = element-wise "
        "register max (EXACT sketch composition — why registers, not "
        "numbers, get stored), intersection = inclusion-exclusion over "
        "the three estimates, audited against true distinct counts. Two "
        "filtered register builds + 64-row merges; the fact table never "
        "self-joins. Estimate folds are bucket-ordered powers of two; "
        "the small-range branch matches events_hll_estimate.",
)
def sketch_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def regs_for(pred):
        sub = ev.filter(pred)
        hx = F.md5(F.col("user_id").cast("string"))
        bucket = (
            F.conv(F.substring(hx, 1, 2), 16, 10).cast("long") % HLL_M
        ).cast("int")
        v = F.conv(F.substring(hx, 3, 15), 16, 10).cast("long")
        rho = F.when(v == 0, F.lit(61)).otherwise(
            F.lit(61) - F.length(F.bin(v))
        )
        mx = (
            sub.select(bucket.alias("bucket"), rho.alias("rho"))
            .groupBy("bucket")
            .agg(F.max("rho").alias("register"))
        )
        spine = spark.range(0, HLL_M).select(
            F.col("id").cast("int").alias("bucket")
        )
        return spine.join(mx, "bucket", "left").select(
            "bucket",
            F.coalesce("register", F.lit(0)).cast("int").alias("register"),
        )

    def estimate(regs, alias):
        folded = regs.agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list("
                "struct(bucket, register))), s -> pow(2.0D, -s.register)),"
                " 0.0D, (a, b) -> a + b)"
            ).alias("inv_sum"),
            F.count(F.when(F.col("register") == 0, 1)).alias("n_zero"),
        )
        raw_e = (
            F.lit(HLL_ALPHA) * F.lit(HLL_M) * F.lit(HLL_M) / F.col("inv_sum")
        )
        e = F.when(
            (raw_e <= F.lit(2.5 * HLL_M)) & (F.col("n_zero") > 0),
            F.lit(HLL_M) * F.log(F.lit(float(HLL_M)) / F.col("n_zero")),
        ).otherwise(raw_e)
        return folded.select(e.alias(alias))

    ra = regs_for(F.col("event_type") == _HLL_SET_A).localCheckpoint(
        eager=False
    )
    rb = regs_for(F.col("event_type") == _HLL_SET_B).localCheckpoint(
        eager=False
    )
    ru = (
        ra.alias("a")
        .join(rb.alias("b"), F.col("a.bucket") == F.col("b.bucket"))
        .select(
            F.col("a.bucket").alias("bucket"),
            F.greatest(F.col("a.register"), F.col("b.register")).alias(
                "register"
            ),
        )
    )
    truth = ev.agg(
        F.countDistinct(
            F.when(F.col("event_type") == _HLL_SET_A, F.col("user_id"))
        )
        .cast("bigint")
        .alias("true_a"),
        F.countDistinct(
            F.when(F.col("event_type") == _HLL_SET_B, F.col("user_id"))
        )
        .cast("bigint")
        .alias("true_b"),
        F.countDistinct(
            F.when(
                F.col("event_type").isin(_HLL_SET_A, _HLL_SET_B),
                F.col("user_id"),
            )
        )
        .cast("bigint")
        .alias("true_union"),
    )
    return (
        estimate(ra, "est_a")
        .crossJoin(F.broadcast(estimate(rb, "est_b")))
        .crossJoin(F.broadcast(estimate(ru, "est_union")))
        .crossJoin(F.broadcast(truth))
        .select(
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_intersection"
            ),
            "true_a",
            "true_b",
            "true_union",
            (F.col("true_a") + F.col("true_b") - F.col("true_union"))
            .cast("bigint")
            .alias("true_intersection"),
            (F.col("est_union") / F.col("true_union") - F.lit(1.0)).alias(
                "union_rel_error"
            ),
        )
    )


# ------------------------------------------------ CMS join-size estimate ---
#
# The planner application of count-min sketches (Cormode & Muthukrishnan
# 2005, §4.2): the inner product of two CMS register rows upper-bounds
# the true inner product of the underlying frequency vectors, and the
# MIN over the D rows is the join-size estimate — |A join B on key| for
# multiset semantics — from two constant-size sketches, without touching
# either table again. Here: how many (click-event, view-event) pairs
# share a user — the equi-join size a planner wants before choosing a
# strategy. Everything is integer register arithmetic; the estimate is
# exact-integer, the audit adds one IEEE ratio.


def _cms_rows_sql(pred: str) -> str:
    return f"""
      SELECT r.hrow, b.bucket, CAST(COALESCE(h.cnt, 0) AS BIGINT) AS cnt
      FROM (SELECT unnest(generate_series(0, {CMS_D - 1})) AS hrow) r
      CROSS JOIN (SELECT unnest(generate_series(0, {CMS_W - 1})) AS bucket) b
      LEFT JOIN (
        SELECT rr.hrow,
               {_cms_bucket_sql('rr.hrow', 'e.user_id')} AS bucket,
               COUNT(*) AS cnt
        FROM (SELECT user_id FROM events WHERE {pred}) e
        CROSS JOIN (SELECT unnest(generate_series(0, {CMS_D - 1})) AS hrow) rr
        GROUP BY rr.hrow, 2
      ) h ON h.hrow = r.hrow AND h.bucket = b.bucket
    """


@query(
    "sketch_cms_join_size",
    oracle=f"""
    WITH ca AS ({_cms_rows_sql("event_type = 'click'")}),
    cb AS ({_cms_rows_sql("event_type = 'view'")}),
    dots AS (
      SELECT ca.hrow, CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS dot
      FROM ca JOIN cb ON ca.hrow = cb.hrow AND ca.bucket = cb.bucket
      GROUP BY ca.hrow
    ), est AS (
      SELECT CAST(MIN(dot) AS BIGINT) AS est_join_size FROM dots
    ), truth AS (
      SELECT CAST(SUM(a.n * b.n) AS BIGINT) AS true_join_size
      FROM (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events
            WHERE event_type = 'click' GROUP BY user_id) a
      JOIN (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events
            WHERE event_type = 'view' GROUP BY user_id) b
        ON a.user_id = b.user_id
    )
    SELECT est.est_join_size, truth.true_join_size,
           CAST(est.est_join_size AS DOUBLE) / truth.true_join_size - 1.0
             AS rel_overestimate
    FROM est CROSS JOIN truth
    """,
    doc="CMS join-size estimation (Cormode & Muthukrishnan §4.2): the "
        "min-over-rows inner product of two count-min sketches "
        "upper-bounds the multiset equi-join size — the planner's "
        "cardinality estimate from two constant-size register tables, "
        "no table rescan. Audited against the true click x view per-user "
        "pair count; estimate >= truth ALWAYS (one-sided error, pinned "
        "in tests). Pure integer register arithmetic; one IEEE audit "
        "ratio.",
)
def sketch_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def regs(pred):
        sub = ev.filter(pred)
        pairs = sub.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).cast("int").alias("hrow"),
                            _cms_bucket_spark(
                                F.lit(r), F.col("user_id")
                            ).alias("bucket"),
                        )
                        for r in range(CMS_D)
                    ]
                )
            ).alias("p")
        ).select("p.hrow", "p.bucket")
        hits = pairs.groupBy("hrow", "bucket").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        spine = (
            spark.range(CMS_D)
            .select(F.col("id").cast("int").alias("hrow"))
            .crossJoin(
                spark.range(CMS_W).select(
                    F.col("id").cast("int").alias("bucket")
                )
            )
        )
        return spine.join(hits, ["hrow", "bucket"], "left").select(
            "hrow",
            "bucket",
            F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt"),
        )

    ca = regs(F.col("event_type") == "click").localCheckpoint(eager=False)
    cb = regs(F.col("event_type") == "view").localCheckpoint(eager=False)
    dots = (
        ca.alias("a")
        .join(
            cb.alias("b"),
            (F.col("a.hrow") == F.col("b.hrow"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .groupBy(F.col("a.hrow"))
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).cast("bigint").alias("dot"))
    )
    est = dots.agg(F.min("dot").cast("bigint").alias("est_join_size"))
    a = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("na"))
    )
    b = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
    )
    truth = (
        a.join(b, "user_id")
        .agg(
            F.sum(F.col("na") * F.col("nb"))
            .cast("bigint")
            .alias("true_join_size")
        )
    )
    return (
        est.crossJoin(F.broadcast(truth))
        .select(
            "est_join_size",
            "true_join_size",
            (
                F.col("est_join_size").cast("double")
                / F.col("true_join_size")
                - F.lit(1.0)
            ).alias("rel_overestimate"),
        )
    )


# --------------------------------------------------------- AMS F2 sketch ---
#
# Alon–Matias–Szegedy second frequency moment: F2 = Σ_v c_v² (the
# self-join size of a key column — the planner statistic behind skew
# detection and join-size estimation) estimated by K independent
# sign-hash counters Z_k = Σ_v c_v·s_k(v), s_k(v) ∈ {±1}, with
# E[Z_k²] = F2. Each counter is ONE integer accumulated in a single
# pass — constant memory regardless of key cardinality, mergeable
# across partitions/epochs by plain addition (the property that makes
# it a sketch). Signs come from md5 bits (engine-identical, unlike the
# engines' native hash functions), estimators are averaged in exact
# integer arithmetic, and the audit compares against the exact F2 from
# a full hash agg. Complements sketch_cms_join_size (CM upper bound)
# with the classic unbiased estimator.

AMS_K = 16  # independent sign-hash estimators


def _ams_sign_sql(k: int, col: str) -> str:
    """±1 sign from one md5 hex nibble — identical text in both engines
    (DuckDB substr/md5 match Spark's for ASCII inputs)."""
    return (
        f"CASE WHEN substr(md5('ams{k}:' || CAST({col} AS VARCHAR)), 1, 1)"
        " < '8' THEN 1 ELSE -1 END"
    )


def _ams_sign_spark(k: int, col: str) -> str:
    return (
        f"CASE WHEN substr(md5(concat('ams{k}:', CAST({col} AS STRING))),"
        " 1, 1) < '8' THEN 1L ELSE -1L END"
    )


@query(
    "sketch_ams_f2",
    oracle=f"""
    WITH z AS (
      SELECT {", ".join(
        f"CAST(SUM({_ams_sign_sql(k, 'user_id')}) AS BIGINT) AS z{k}"
        for k in range(AMS_K)
      )}
      FROM events
    ), est AS (
      SELECT {" + ".join(
        f"CAST(z{k} AS HUGEINT) * z{k}" for k in range(AMS_K)
      )} AS ssum
      FROM z
    ), ex AS (
      SELECT CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS f2
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY user_id)
    )
    SELECT CAST({AMS_K} AS BIGINT) AS k_estimators,
           CAST(ssum // {AMS_K} AS DOUBLE) AS f2_estimate,
           CAST((SELECT f2 FROM ex) AS DOUBLE) AS f2_exact,
           CAST(ssum // {AMS_K} AS DOUBLE)
             / CAST((SELECT f2 FROM ex) AS DOUBLE) AS ratio
    FROM est
    """,
    doc="AMS second-frequency-moment sketch over the events key column: "
        f"{AMS_K} independent ±1 sign-hash counters (md5 bits — engine-"
        "identical), each ONE integer per pass, mergeable by addition; "
        "the averaged Z² estimates the self-join size F2 and the audit "
        "pins it against the exact hash-agg Σc². Constant sketch memory "
        "at any key cardinality — the skew/join-size statistic a planner "
        "keeps per column at 100 TB.",
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    z = ev.agg(
        *[
            F.sum(F.expr(_ams_sign_spark(k, "user_id")))
            .cast("bigint")
            .alias(f"z{k}")
            for k in range(AMS_K)
        ]
    )
    est = z.select(
        F.expr(
            " + ".join(
                f"CAST(z{k} AS DECIMAL(38,0)) * z{k}" for k in range(AMS_K)
            )
        ).alias("ssum")
    )
    ex = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .agg(
            F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c"))
            .cast("decimal(38,0)")
            .alias("f2")
        )
    )
    # 1-row × 1-row: both sides bounded by construction
    return est.crossJoin(F.broadcast(ex)).select(
        F.lit(AMS_K).cast("bigint").alias("k_estimators"),
        F.expr(f"CAST(ssum div {AMS_K} AS DOUBLE)").alias("f2_estimate"),
        F.col("f2").cast("double").alias("f2_exact"),
        (
            F.expr(f"CAST(ssum div {AMS_K} AS DOUBLE)")
            / F.col("f2").cast("double")
        ).alias("ratio"),
    )
