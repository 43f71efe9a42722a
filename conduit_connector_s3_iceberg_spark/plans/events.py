"""Event-stream analytics over the ``events`` table (batch-checkable forms).

These are the batch equivalents of the engine's Structured Streaming surface
(:mod:`..streaming`): tumbling-window rollups, sessionization (gap-based
session windows — the batch twin of ``F.session_window``), dedup, and JSON
payload extraction. Expressing them over the static ``events`` table makes
them oracle-checkable; the streaming module reuses the same column logic.

Scale notes: sessionization shuffles once on ``user_id`` and computes two
window passes over the same partitioning (Catalyst reuses the sort);
rollups are plain partial+final hash aggs on (hour, type) — low cardinality,
no skew. At 100 TB the user_id partitioning is the natural key; skewed
power-users are handled by AQE skew-join/salting at the join layer, and the
streaming path bounds state with watermarks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .helpers import davg, dec, sql_davg
from .registry import query


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return load_table(spark, sf_dir, "events")


def _us(col) -> F.Column:
    """Epoch-microseconds of a timestamp column of either flavor.

    The driver's parquet stores ``ts`` as ``timestamp[us]`` without UTC
    adjustment, which Spark 4 reads as TIMESTAMP_NTZ; ``unix_micros`` only
    accepts TIMESTAMP. Casting first is a no-op for TIMESTAMP and a
    session-tz (UTC, pinned in ``_ev``) interpretation for NTZ — matching
    DuckDB's ``epoch_us`` on the same values either way.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


@query(
    "q21_hourly_event_rollup",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           {sql_davg('value', 'avg_value')},
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY hour, event_type
    """,
    doc="Tumbling 1-hour rollup per event type (batch twin of a streaming "
        "windowed aggregation; hour-aligned windows == date_trunc).",
)
def q21_hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        davg("value", "avg_value"),
        F.sum(dec("value")).cast("decimal(38,2)").cast("double").alias("sum_value"),
    )


@query(
    "q22_sessionization",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - epoch_us(
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  ) > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, event_id, value,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM ordered
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="Gap-based sessionization (30-min inactivity): lag → new-session "
        "flag → running-sum session ids → per-session aggregates. Batch twin "
        "of F.session_window / applyInPandasWithState.",
)
def q22_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = 30 * 60 * 1_000_000
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((_us("ts") - _us(prev_ts)) > gap_us),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(wrun).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (_us(F.max("ts")) - _us(F.min("ts")))
            .cast("long")
            .alias("duration_us"),
            F.sum(dec("value")).cast("decimal(38,2)").cast("double").alias("sum_value"),
        )
    )


@query(
    "q23_event_type_share",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS share
    FROM events
    GROUP BY event_type
    """,
    doc="Event-type distribution: aggregate + global window total → ratio "
        "(single IEEE division, deterministic).",
)
def q23_event_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    total = Window.partitionBy()
    return counts.select(
        "event_type",
        "n_events",
        (F.col("n_events").cast("double") / F.sum("n_events").over(total)).alias(
            "share"
        ),
    )


@query(
    "q24_user_activity",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
           COUNT(DISTINCT event_type) AS n_types,
           MIN(ts) AS first_seen,
           MAX(ts) AS last_seen
    FROM events
    GROUP BY user_id
    """,
    doc="Per-user activity profile: multi-distinct aggregation with date "
        "truncation.",
)
def q24_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.col("ts").cast("date")).alias("active_days"),
        F.countDistinct("event_type").alias("n_types"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )


@query(
    "q25_json_payload_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
             AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER)
             AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER)
             AS max_k,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
    doc="Semi-structured JSON payload extraction (the reference's core codec "
        "surface, SparkDestinationStream.java:221-227) + integer aggregation.",
)
def q25_json_payload_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q41_conversion_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase,
           CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
             / (SELECT COUNT(*) FROM v) AS click_rate,
           CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
             / (SELECT COUNT(*) FROM c) AS purchase_rate
    """,
    doc="Ordered conversion funnel view -> click -> purchase: each stage is "
        "the users whose first qualifying event strictly follows their "
        "previous stage's timestamp. Every stage is a groupBy on user_id — "
        "the SAME shuffle key three times, so the exchanges line up "
        "(co-partitioned joins, AQE merges them); output is one row of "
        "stage counts + conversion rates regardless of input size. The "
        "streaming twin is a sessionized pattern match with watermarked "
        "state.",
)
def q41_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_view_click"))))
        .crossJoin(
            F.broadcast(p.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
        )
    )
    return counts.select(
        "n_view",
        "n_view_click",
        "n_view_click_purchase",
        (F.col("n_view_click").cast("double") / F.col("n_view")).alias("click_rate"),
        (
            F.col("n_view_click_purchase").cast("double") / F.col("n_view_click")
        ).alias("purchase_rate"),
    )


TRAILING_WINDOW_S = 30 * 86_400  # 30-day trailing revenue frame


@query(
    "q44_trailing_window_revenue",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
             RANGE BETWEEN {TRAILING_WINDOW_S} PRECEDING AND CURRENT ROW
           ) AS DECIMAL(38,2)) AS DOUBLE) AS trailing_30d_revenue
    FROM orders
    """,
    doc="RANGE-frame window: per customer, the trailing-30-day revenue at "
        "each order (frame = value range over epoch seconds, NOT row "
        "count — same-day orders are frame peers in both engines). "
        "Partitioned by customer so every window sort is bounded; the "
        "decimal in-frame sum is exact, so results are reproducible at any "
        "parallelism.",
)
def q44_trailing_window_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-TRAILING_WINDOW_S, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.sum(dec("o_totalprice"))
        .over(w)
        .cast("decimal(38,2)")
        .cast("double")
        .alias("trailing_30d_revenue"),
    )


@query(
    "q45_variant_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
           CAST(json_extract_string(props, '$.missing') AS INTEGER) AS k_missing
    FROM events
    """,
    doc="Semi-structured access through Spark 4's VariantType: parse_json "
        "once per row into the binary variant encoding, then typed path "
        "extraction (try_variant_get; absent paths -> NULL, matching the "
        "oracle's json_extract). Variant decodes lazily per path — at "
        "100 TB this is the schema-on-read column for payloads too "
        "heterogeneous for a struct, while staying fully codegen "
        "(no Python).",
)
def q45_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "int").alias("k_int"),
        F.try_variant_get(v, "$.missing", "int").alias("k_missing"),
    )


@query(
    "q50_cohort_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day,
                          CAST(date_trunc('day', e.ts) AS DATE)) AS INTEGER)
             AS day_offset,
           COUNT(DISTINCT e.user_id) AS active_users
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY f.cohort_day, day_offset
    """,
    doc="Cohort retention: users grouped by first-seen day, activity "
        "counted per day offset — the standard product-analytics retention "
        "triangle. The first-seen table is one aggregation on user_id; the "
        "activity join reuses the same key (co-partitioned); output is "
        "#days² cells max. DuckDB date_diff == Spark datediff on "
        "day-truncated dates.",
)
def q50_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    day = F.date_trunc("day", "ts").cast("date")
    first_seen = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    return (
        ev.join(first_seen, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(day, F.col("cohort_day")).cast("int").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@query(
    "q52_windowed_distinct_users",
    oracle="""
    SELECT event_id, user_id,
           date_trunc('hour', ts) AS hour,
           COUNT(DISTINCT user_id) OVER (
             PARTITION BY date_trunc('hour', ts)
           ) AS distinct_users_in_hour
    FROM events
    """,
    doc="Windowed distinct count: every event annotated with its hour's "
        "distinct-user count WITHOUT collapsing the rows (the enrichment "
        "form a feature pipeline needs — a groupBy would lose the events). "
        "Spark has no COUNT(DISTINCT) window function, so the engine form "
        "is size(collect_set() OVER w): exact, and bounded because the "
        "partition key (hour) bounds the set. For unbounded keys the "
        "HLL-sketch join (events_hll_user_counts) is the scale path.",
)
def q52_windowed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy(F.date_trunc("hour", "ts"))
    return ev.select(
        "event_id",
        "user_id",
        F.date_trunc("hour", "ts").alias("hour"),
        F.size(F.collect_set("user_id").over(w)).cast("bigint").alias(
            "distinct_users_in_hour"
        ),
    )


# --------------------------------------------------------------------------
# events_streak_islands — gaps-and-islands consecutive-day streaks
# --------------------------------------------------------------------------
@query(
    "events_streak_islands",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), r AS (
      SELECT user_id, day,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY day
             ) AS INTEGER) AS rn
      FROM d
    ), g AS (
      SELECT user_id, day, day - rn AS grp FROM r
    ), s AS (
      SELECT user_id, grp, COUNT(*) AS streak_len FROM g
      GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(SUM(streak_len) AS BIGINT) AS active_days,
           COUNT(*) AS n_streaks,
           CAST(MAX(streak_len) AS BIGINT) AS max_streak
    FROM s GROUP BY user_id
    """,
    doc="Gaps-and-islands: per-user longest consecutive-day activity "
        "streak. The classic rewrite — distinct active days, row_number "
        "per user, day minus rank collapses each run of consecutive days "
        "to a constant group key, then two cheap aggregations. One shuffle "
        "on user_id serves the distinct, the window, and both aggs "
        "(Catalyst reuses the partitioning); no self-join, no explode — "
        "the only formulation that survives a 100-TB event log.",
)
def events_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    d = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    g = d.select("user_id", "day", F.date_sub("day", rn).alias("grp"))
    s = g.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("streak_len"))
    return s.groupBy("user_id").agg(
        F.sum("streak_len").alias("active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("streak_len").alias("max_streak"),
    )


# --------------------------------------------------------------------------
# events_cooccurrence — event-type co-occurrence / affinity matrix
# --------------------------------------------------------------------------
@query(
    "events_cooccurrence",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), tot AS (
      SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type
    ), pair AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY type_a, type_b
    )
    SELECT type_a, type_b,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(ta.n AS BIGINT) AS n_a,
           CAST(tb.n AS BIGINT) AS n_b,
           CAST(n_both AS DOUBLE) / (ta.n + tb.n - n_both) AS jaccard
    FROM pair
    JOIN tot ta ON ta.event_type = type_a
    JOIN tot tb ON tb.event_type = type_b
    """,
    doc="Event-type co-occurrence matrix with Jaccard affinity: distinct "
        "(user, type) pairs self-joined on user_id (type_a < type_b kills "
        "mirror/self pairs), rolled up to type-pair user counts, then "
        "enriched with per-type totals via two broadcast joins (the "
        "type dimension is tiny). The self-join input is the DEDUPED "
        "user x type map — bounded by users x |types|, not raw events — "
        "and output cardinality is |types| choose 2. Jaccard is one "
        "exact-integer division at emission.",
)
def events_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    ut = ev.select("user_id", "event_type").distinct()
    tot = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ut.alias("a")
    b = ut.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ta = F.broadcast(tot.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a")))
    tb = F.broadcast(tot.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b")))
    return (
        pair.join(ta, "type_a")
        .join(tb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# events_anomaly_zscore — integer-exact per-user daily-volume anomalies
# --------------------------------------------------------------------------
@query(
    "events_anomaly_zscore",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS day_count
      FROM events GROUP BY user_id, day
    ), stats AS (
      SELECT user_id, day, day_count,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_days,
             CAST(SUM(day_count) OVER (PARTITION BY user_id) AS BIGINT) AS s1,
             CAST(SUM(day_count * day_count) OVER (PARTITION BY user_id)
                  AS BIGINT) AS s2
      FROM daily
    )
    SELECT user_id, day, day_count,
           CAST(s1 AS DOUBLE) / n_days AS user_mean
    FROM stats
    WHERE day_count * n_days - s1 > 0
      AND (day_count * n_days - s1) * (day_count * n_days - s1)
          > 4 * (n_days * s2 - s1 * s1)
    """,
    doc="Per-user daily-volume anomaly detection (z > 2) in EXACT integer "
        "arithmetic: the test x > mean + 2*sigma is algebraically cleared "
        "of divisions to (x*n - s1)^2 > 4*(n*s2 - s1^2) over BIGINT "
        "count/sum/sum-of-squares — no float accumulation anywhere, so "
        "the flag set is bit-stable under any partitioning (at PB scale "
        "the sums widen to DECIMAL(38,0) the same way the revenue suite "
        "does). One groupBy to daily counts, one window over user_id; the "
        "streaming twin (streaming/stateful.py) keeps (n, s1, s2) as "
        "running state per user.",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    daily = (
        ev.select("user_id", F.col("ts").cast("date").alias("day"))
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("day_count"))
    )
    w = Window.partitionBy("user_id")
    stats = daily.select(
        "user_id",
        "day",
        "day_count",
        F.count(F.lit(1)).over(w).alias("n_days"),
        F.sum("day_count").over(w).alias("s1"),
        F.sum(F.col("day_count") * F.col("day_count")).over(w).alias("s2"),
    )
    dev = F.col("day_count") * F.col("n_days") - F.col("s1")
    return stats.filter(
        (dev > 0)
        & (dev * dev > 4 * (F.col("n_days") * F.col("s2") - F.col("s1") * F.col("s1")))
    ).select(
        "user_id",
        "day",
        "day_count",
        (F.col("s1").cast("double") / F.col("n_days")).alias("user_mean"),
    )


@query(
    "events_anomaly_mad",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS day_count
      FROM events GROUP BY user_id, day
    ), med AS (
      SELECT user_id,
             array_agg(day_count ORDER BY day_count) AS arr,
             COUNT(*) AS n
      FROM daily GROUP BY user_id
    ), m2t AS (
      SELECT user_id,
             arr[CAST((n + 1) // 2 AS INTEGER)]
               + arr[CAST(n // 2 + 1 AS INTEGER)] AS m2
      FROM med
    ), dev AS (
      SELECT d.user_id, d.day, d.day_count, m.m2,
             abs(2 * d.day_count - m.m2) AS dd
      FROM daily d JOIN m2t m ON m.user_id = d.user_id
    ), madt AS (
      SELECT user_id,
             array_agg(dd ORDER BY dd) AS darr,
             COUNT(*) AS n
      FROM dev GROUP BY user_id
    ), mad4t AS (
      SELECT user_id,
             darr[CAST((n + 1) // 2 AS INTEGER)]
               + darr[CAST(n // 2 + 1 AS INTEGER)] AS mad4
      FROM madt
    )
    SELECT v.user_id, v.day, v.day_count,
           CAST(v.m2 AS DOUBLE) / 2 AS user_median,
           CAST(t.mad4 AS DOUBLE) / 4 AS user_mad
    FROM dev v JOIN mad4t t ON t.user_id = v.user_id
    WHERE 2 * v.dd > 3 * t.mad4
    """,
    doc="Per-user daily-volume anomaly via MEDIAN/MAD — the robust twin of "
        "events_anomaly_zscore (one fat day cannot drag its own threshold "
        "up the way it inflates mean+sigma). EXACT integer arithmetic "
        "throughout: 2*median of integers is an integer (sum of the two "
        "middle order statistics), deviations double to |2x - m2|, and "
        "the flag |x - med| > 3*MAD clears to 2*|2x-m2| > 3*mad4 over "
        "BIGINTs — no float comparison anywhere, bit-stable under any "
        "partitioning. Per-user day arrays are bounded (days per user, "
        "not events), so the collect_list groups are dimension-sized; "
        "two user-keyed aggregations + two joins sharing the user_id "
        "shuffle.",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    daily = (
        ev.select("user_id", F.col("ts").cast("date").alias("day"))
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("day_count"))
    )
    med = daily.groupBy("user_id").agg(
        F.array_sort(F.collect_list("day_count")).alias("arr"),
        F.count(F.lit(1)).alias("n"),
    )
    m2t = med.select(
        "user_id",
        (
            F.expr("element_at(arr, cast((n + 1) div 2 as int))")
            + F.expr("element_at(arr, cast(n div 2 + 1 as int))")
        ).alias("m2"),
    )
    dev = daily.join(m2t, "user_id").select(
        "user_id",
        "day",
        "day_count",
        "m2",
        F.abs(2 * F.col("day_count") - F.col("m2")).alias("dd"),
    )
    madt = dev.groupBy("user_id").agg(
        F.array_sort(F.collect_list("dd")).alias("darr"),
        F.count(F.lit(1)).alias("n"),
    )
    mad4t = madt.select(
        "user_id",
        (
            F.expr("element_at(darr, cast((n + 1) div 2 as int))")
            + F.expr("element_at(darr, cast(n div 2 + 1 as int))")
        ).alias("mad4"),
    )
    return (
        dev.join(mad4t, "user_id")
        .filter(2 * F.col("dd") > 3 * F.col("mad4"))
        .select(
            "user_id",
            "day",
            "day_count",
            (F.col("m2").cast("double") / 2).alias("user_median"),
            (F.col("mad4").cast("double") / 4).alias("user_mad"),
        )
    )


@query(
    "events_user_features",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS prev_t
      FROM events
    ),
    gaps AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             CAST(MAX(t) - MIN(t) AS BIGINT) AS span_us,
             CAST(SUM(t - prev_t) AS BIGINT) AS total_gap_us,
             CAST(MAX(t - prev_t) AS BIGINT) AS max_gap_us
      FROM ordered GROUP BY user_id
    ),
    kinds AS (
      SELECT user_id,
             COUNT(DISTINCT event_type) AS n_event_types,
             COUNT(DISTINCT CAST(ts AS DATE)) AS n_active_days
      FROM events GROUP BY user_id
    )
    SELECT g.user_id, g.n_events, k.n_event_types, k.n_active_days,
           g.span_us, g.max_gap_us,
           CAST(g.total_gap_us AS DOUBLE) / (g.n_events - 1) AS avg_gap_us
    FROM gaps g JOIN kinds k ON k.user_id = g.user_id
    WHERE g.n_events > 1
    """,
    doc="Per-user behavioral feature table — the feature-engineering "
        "rollup a training pipeline joins onto labels: event count, "
        "distinct types, active days, activity span, and max/mean "
        "inter-event gap from a lag window (ties broken by event_id so "
        "both engines difference identical neighbors). All accumulations "
        "are BIGINT microseconds; the one double is a final division. "
        "One user-partitioned window + two user-keyed aggregations that "
        "reuse the same hash partitioning — the corpus shuffles once.",
)
def events_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(_us("ts"), F.col("event_id"))
    ordered = ev.select(
        "user_id",
        "event_id",
        _us("ts").alias("t"),
        F.lag(_us("ts")).over(w).alias("prev_t"),
    )
    gaps = ordered.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("t") - F.min("t")).cast("long").alias("span_us"),
        F.sum(F.col("t") - F.col("prev_t")).cast("long").alias("total_gap_us"),
        F.max(F.col("t") - F.col("prev_t")).cast("long").alias("max_gap_us"),
    )
    kinds = ev.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("n_event_types"),
        F.countDistinct(F.col("ts").cast("date")).alias("n_active_days"),
    )
    return (
        gaps.join(kinds, "user_id")
        .filter(F.col("n_events") > 1)
        .select(
            "user_id",
            "n_events",
            "n_event_types",
            "n_active_days",
            "span_us",
            "max_gap_us",
            (
                F.col("total_gap_us").cast("double") / (F.col("n_events") - 1)
            ).alias("avg_gap_us"),
        )
    )


# ------------------------------------------------ CUSUM change-point scan ---
#
# Drift detection the MAD/z-score operators above can't do: a small
# persistent shift in a daily rate (quiet data poisoning, a partner feed
# going stale) never trips a per-point outlier test. CUSUM (Page 1954)
# accumulates deviations from the reference mean and flags when the
# cumulative drift exceeds a multiple of that mean. The recursion
# S_d = max(0, S_{d-1} + y_d) is not directly window-expressible, but the
# classic identity S_d = P_d - min(0, min_{j<=d} P_j) (P = prefix sum of
# deviations) turns it into two stacked per-series windows — exact, and
# embarrassingly parallel across series. All arithmetic is scaled BIGINT
# (one rounded IEEE division makes the reference mean; everything after is
# integer), so both engines agree bit-for-bit.

CUSUM_SCALE = 1_000_000
CUSUM_H = 4  # flag when cumulative drift exceeds H reference-days


@query(
    "events_cusum_changepoints",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), ref AS (
      SELECT event_type,
             CAST(round({CUSUM_SCALE} * SUM(x) / COUNT(*)) AS BIGINT)
               AS ref_scaled
      FROM daily GROUP BY event_type
    ), dev AS (
      SELECT d.event_type, d.day, d.x,
             d.x * {CUSUM_SCALE} - r.ref_scaled AS y,
             r.ref_scaled
      FROM daily d JOIN ref r USING (event_type)
    ), psum AS (
      SELECT event_type, day, x, ref_scaled,
             CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS p
      FROM dev
    ), pre AS (
      SELECT event_type, day, x, ref_scaled, p,
             CAST(MIN(p) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS m
      FROM psum
    )
    SELECT event_type, day, x,
           p - LEAST(CAST(0 AS BIGINT), m) AS cusum_scaled,
           (p - LEAST(CAST(0 AS BIGINT), m)) / {CUSUM_SCALE}.0 AS cusum_days,
           p - LEAST(CAST(0 AS BIGINT), m) > {CUSUM_H} * ref_scaled
             AS drifted
    FROM pre
    ORDER BY event_type, day
    """,
    doc="CUSUM change-point scan (Page 1954) over per-type daily event "
    "counts: cumulative positive drift vs the series' own mean via the "
    "prefix-sum-minus-running-min identity — two stacked per-series "
    "windows, exact scaled-BIGINT arithmetic, flag when accumulated "
    "drift exceeds "
    f"{CUSUM_H} reference-days. Catches persistent small shifts that "
    "per-point z-score/MAD outlier tests structurally miss. Series are "
    "independent window partitions: at 100 TB the day-grain series "
    "frame is metadata-sized (series x days), built by one "
    "map-side-combined count.",
)
def events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # daily is series x days rows (metadata-sized) but feeds both the
    # reference mean and the deviation frame: materialize it once so the
    # events scan + count shuffle run once, not per consumer
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint(eager=False)
    )
    ref = daily.groupBy("event_type").agg(
        F.round(F.lit(CUSUM_SCALE) * F.sum("x") / F.count(F.lit(1)))
        .cast("long")
        .alias("ref_scaled")
    )
    dev = daily.join(F.broadcast(ref), "event_type").select(
        "event_type",
        "day",
        "x",
        "ref_scaled",
        (F.col("x") * CUSUM_SCALE - F.col("ref_scaled")).alias("y"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = dev.withColumn("p", F.sum("y").over(w).cast("long")).withColumn(
        "m", F.min("p").over(w).cast("long")
    )
    s = F.col("p") - F.least(F.lit(0).cast("long"), F.col("m"))
    return pre.select(
        "event_type",
        "day",
        "x",
        s.alias("cusum_scaled"),
        (s / F.lit(float(CUSUM_SCALE))).alias("cusum_days"),
        (s > CUSUM_H * F.col("ref_scaled")).alias("drifted"),
    ).orderBy("event_type", "day")


# --------------------------------------------- time-weighted aggregation ----
#
# Plain AVG(value) answers "average per EVENT"; operations questions are
# usually "average per unit TIME" — a gauge sampled irregularly (queue
# depth, price, sensor) must weight each reading by how long it was the
# current one. TWA = sum(v_i * dt_i) / sum(dt_i) with dt_i the hold time
# until the user's next reading. The hold interval comes from one lead()
# per (event_type, user) partition — fine-grained keys, embarrassingly
# parallel, never a per-type global sort — and the per-type rollup then
# folds users' exact integer sums. value is quantized to scaled BIGINT
# once (one rounded IEEE multiply); microsecond deltas are already BIGINT,
# so the weighted sums accumulate exactly (max |v|*1e6 ~ 1e10 times dt_us
# ~ 2.6e12 exceeds BIGINT -- so dt is folded in SECONDS, max product
# ~2.6e16, safely exact).

TWA_VSCALE = 1_000_000


@query(
    "events_time_weighted_value",
    oracle=f"""
    WITH seq AS (
      SELECT event_type, user_id,
             CAST(epoch_us(ts) AS BIGINT) AS t_us,
             CAST(round({TWA_VSCALE} * value) AS BIGINT) AS vs,
             LEAD(CAST(epoch_us(ts) AS BIGINT)) OVER (
               PARTITION BY event_type, user_id
               ORDER BY epoch_us(ts), event_id
             ) AS nxt_us
      FROM events
    ), held AS (
      SELECT event_type, vs,
             (nxt_us - t_us) // 1000000 AS dt_s
      FROM seq WHERE nxt_us IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dt_s) AS BIGINT) AS held_seconds,
           CAST(SUM(vs * dt_s) AS BIGINT) AS vw_scaled,
           (CAST(SUM(vs * dt_s) AS BIGINT) / CAST(SUM(dt_s) AS BIGINT))
             / {TWA_VSCALE}.0 AS time_weighted_avg
    FROM held
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Time-weighted average of a sampled gauge: each reading weighted "
    "by its hold time until the user's next reading (lead over "
    "(event_type, user) partitions — fine-grained, parallel), folded "
    "per type as exact scaled-BIGINT sums; zero-length holds drop out "
    "arithmetically. The per-unit-TIME answer that per-event AVG gets "
    "wrong whenever sampling is irregular.",
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "t_us", "event_id"
    )
    seq = ev.select(
        "event_type",
        "user_id",
        "event_id",
        _us("ts").alias("t_us"),
        F.round(F.lit(TWA_VSCALE) * F.col("value")).cast("long").alias("vs"),
    ).withColumn("nxt_us", F.lead("t_us").over(w))
    held = seq.filter(F.col("nxt_us").isNotNull()).select(
        "event_type",
        "vs",
        F.floor((F.col("nxt_us") - F.col("t_us")) / 1_000_000)
        .cast("long")
        .alias("dt_s"),
    )
    return (
        held.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.sum("dt_s").cast("long").alias("held_seconds"),
            F.sum(F.col("vs") * F.col("dt_s")).cast("long").alias("vw_scaled"),
        )
        .select(
            "event_type",
            "n_intervals",
            "held_seconds",
            "vw_scaled",
            (
                (F.col("vw_scaled") / F.col("held_seconds"))
                / F.lit(float(TWA_VSCALE))
            ).alias("time_weighted_avg"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------- sequence mining ----------

TRANS_SCALE = 1_000_000_000


@query(
    "events_transition_matrix",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS nxt
      FROM events
    ), pairs AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ), rowtot AS (
      SELECT cur, CAST(SUM(n) AS BIGINT) AS row_n FROM pairs GROUP BY cur
    )
    SELECT p.cur, p.nxt, p.n,
           CAST(round({TRANS_SCALE} * p.n / r.row_n) AS BIGINT) AS p_scaled
    FROM pairs p JOIN rowtot r USING (cur)
    ORDER BY p.cur, p.nxt
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: lead() inside (user) partitions pairs each event with "
    "its successor (deterministic event_id tiebreak), one hash-agg "
    "builds the T x T count matrix, and row-normalized probabilities "
    "are quantized once as round(SCALE*n/row_n) — the lm_bigram_score "
    "discipline applied to behavioral sequences. The matrix is "
    "metadata-sized (T^2 rows) however large the event log.",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(_us("ts"), "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    pairs = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rowtot = pairs.groupBy("cur").agg(F.sum("n").cast("long").alias("row_n"))
    return (
        pairs.join(F.broadcast(rowtot), "cur")
        .select(
            "cur",
            "nxt",
            "n",
            F.round(F.lit(TRANS_SCALE) * F.col("n") / F.col("row_n"))
            .cast("long")
            .alias("p_scaled"),
        )
        .orderBy("cur", "nxt")
    )


@query(
    "events_time_to_conversion",
    oracle="""
    WITH signup AS (
      SELECT user_id, MIN(CAST(epoch_us(ts) AS BIGINT)) AS s_us
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), conv AS (
      SELECT e.user_id,
             MIN(CAST(epoch_us(e.ts) AS BIGINT)) AS c_us
      FROM events e JOIN signup s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase'
        AND CAST(epoch_us(e.ts) AS BIGINT) >= s.s_us
      GROUP BY e.user_id
    ), lat AS (
      SELECT s.user_id,
             CASE WHEN c.user_id IS NULL THEN NULL
                  ELSE (c.c_us - s.s_us) // 86400000000 END AS days
      FROM signup s LEFT JOIN conv c ON c.user_id = s.user_id
    )
    SELECT COALESCE(days, -1) AS latency_days,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM lat
    GROUP BY latency_days
    ORDER BY latency_days
    """,
    doc="Conversion-latency histogram: per signup user, whole days from "
    "first signup to first subsequent purchase (never-converted bucket "
    "= -1). Two filtered min-aggregations + one left join on user_id — "
    "the funnel-latency complement to q41's step-conversion funnel; "
    "all integer microsecond arithmetic, no windows over the raw log.",
)
def events_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(_us("ts")).alias("s_us"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(signup, "user_id")
        .filter(_us("ts") >= F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min(_us("ts")).alias("c_us"))
    )
    lat = signup.join(
        conv.withColumnRenamed("user_id", "uid"),
        F.col("user_id") == F.col("uid"),
        "left",
    ).select(
        F.when(
            F.col("uid").isNull(), F.lit(None).cast("long")
        ).otherwise(
            F.floor((F.col("c_us") - F.col("s_us")) / 86_400_000_000).cast("long")
        ).alias("days")
    )
    return (
        lat.groupBy(
            F.coalesce("days", F.lit(-1)).cast("long").alias("latency_days")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("latency_days")
    )


@query(
    "events_dau_wau",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), days AS (
      SELECT DISTINCT day FROM du
    ), dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
    ), wau AS (
      SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
      FROM days d
      JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
      GROUP BY d.day
    )
    SELECT d.day, dau.dau, wau.wau,
           dau.dau / CAST(wau.wau AS DOUBLE) AS stickiness
    FROM days d JOIN dau USING (day) JOIN wau ON wau.day = d.day
    ORDER BY d.day
    """,
    doc="DAU / trailing-7-day WAU / stickiness (DAU÷WAU) per day. The "
    "trailing DISTINCT cannot ride a window frame (distinct-over-range "
    "isn't decomposable), so each deduped (day, user) row is EXPLODED "
    "to the 7 target days it contributes to — fixed fan-out of 7, one "
    "shuffle on the target day, no range join whose comparison cost "
    "would grow with the calendar length. Target days outside the "
    "observed range drop via the semi join against the day spine. The "
    "engagement dashboard triple every product pipeline ships.",
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
        .localCheckpoint(eager=False)  # consumed by spine, dau, and wau legs
    )
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    contrib = du.select(
        F.explode(F.expr("sequence(0, 6)")).alias("off"), "day", "user_id"
    ).select(F.date_add(F.col("day"), F.col("off")).alias("day"), "user_id")
    wau = (
        contrib.join(days, "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )
    return (
        days.join(dau, "day")
        .join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            (F.col("dau") / F.col("wau").cast("double")).alias("stickiness"),
        )
        .orderBy("day")
    )


# --------------------------------------------------- A/B lift analysis ------

AB_SALT = "ab1:"


@query(
    "events_ab_lift",
    oracle=f"""
    WITH assign AS (
      SELECT DISTINCT user_id,
             CAST(('0x' || substr(md5('{AB_SALT}' || user_id::VARCHAR), 1, 15))
                  AS BIGINT) % 2 AS variant
      FROM events
    ), conv AS (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      GROUP BY user_id HAVING COUNT(*) >= 14
    ), cells AS (
      SELECT a.variant,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(c.user_id) AS BIGINT) AS conversions
      FROM assign a LEFT JOIN conv c ON c.user_id = a.user_id
      GROUP BY a.variant
    ), wide AS (
      SELECT
        MAX(CASE WHEN variant = 0 THEN n END) AS n0,
        MAX(CASE WHEN variant = 0 THEN conversions END) AS c0,
        MAX(CASE WHEN variant = 1 THEN n END) AS n1,
        MAX(CASE WHEN variant = 1 THEN conversions END) AS c1
      FROM cells
    )
    SELECT n0, c0, n1, c1,
           c0 / CAST(n0 AS DOUBLE) AS rate_control,
           c1 / CAST(n1 AS DOUBLE) AS rate_treatment,
           (c1 / CAST(n1 AS DOUBLE)) - (c0 / CAST(n0 AS DOUBLE))
             AS absolute_lift,
           ((c1 / CAST(n1 AS DOUBLE)) - (c0 / CAST(n0 AS DOUBLE)))
             / sqrt(((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                    * (1.0 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                    * (1.0 / n0 + 1.0 / n1)) AS z_score
    FROM wide
    """,
    doc="Two-proportion A/B lift with a pooled z-statistic: users "
    "deterministically split by salted-md5 parity (reproducible across "
    "engines and reruns — the experiment-assignment discipline), "
    "conversion = a heavy purchaser (>= 14 purchase events, a mid-rate "
    "outcome so the pooled variance is non-degenerate). All counts exact "
    "integers; the "
    "rate / lift / z expressions are single fixed-order IEEE chains, "
    "identical text in both engines. The analysis every event pipeline "
    "ships next to its funnels.",
)
def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    assign = ev.select(
        "user_id",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(AB_SALT), F.col("user_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("variant"),
    ).distinct()
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("pc"))
        .filter(F.col("pc") >= 14)
        .select("user_id")
        .withColumn("hit", F.lit(1))
    )
    cells = (
        assign.join(conv, "user_id", "left")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("hit").cast("long").alias("conversions"),
        )
    )
    wide = cells.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("conversions"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("conversions"))).alias("c1"),
    )
    r0 = F.col("c0") / F.col("n0").cast("double")
    r1 = F.col("c1") / F.col("n1").cast("double")
    pooled = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1")).cast(
        "double"
    )
    return wide.select(
        "n0",
        "c0",
        "n1",
        "c1",
        r0.alias("rate_control"),
        r1.alias("rate_treatment"),
        (r1 - r0).alias("absolute_lift"),
        (
            (r1 - r0)
            / F.sqrt(
                pooled
                * (F.lit(1.0) - pooled)
                * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
            )
        ).alias("z_score"),
    )


@query(
    "events_seasonal_anomaly",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), dow_ref AS (
      SELECT event_type, dayofweek(day) AS dow,
             CAST(round({CUSUM_SCALE} * SUM(x) / COUNT(*)) AS BIGINT)
               AS dow_mean_scaled
      FROM daily GROUP BY event_type, dayofweek(day)
    )
    SELECT d.event_type, d.day, d.x,
           CAST(r.dow_mean_scaled AS BIGINT) AS dow_mean_scaled,
           d.x * {CUSUM_SCALE} - r.dow_mean_scaled AS resid_scaled,
           abs(d.x * {CUSUM_SCALE} - r.dow_mean_scaled)
             > r.dow_mean_scaled // 2 AS anomalous
    FROM daily d
    JOIN dow_ref r
      ON r.event_type = d.event_type AND r.dow = dayofweek(d.day)
    ORDER BY d.event_type, d.day
    """,
    doc="Weekday-seasonal anomaly adjustment: each day's count compared to "
    "its series' SAME-WEEKDAY mean (exact scaled-integer reference per "
    "(type, dow) cell — 7 registers per series), flagged when the "
    "residual exceeds half the seasonal mean. Removes the weekly cycle "
    "that makes a raw z-score flag every weekend; the reference frame "
    "is series x 7 rows of metadata, built by one map-side-combined "
    "count.",
)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint(eager=False)  # reference build + residual join
    )
    dow_ref = daily.groupBy(
        "event_type", F.dayofweek("day").alias("dow")
    ).agg(
        F.round(F.lit(CUSUM_SCALE) * F.sum("x") / F.count(F.lit(1)))
        .cast("long")
        .alias("dow_mean_scaled")
    )
    resid = F.col("x") * CUSUM_SCALE - F.col("dow_mean_scaled")
    return (
        daily.withColumn("dow", F.dayofweek("day"))
        .join(F.broadcast(dow_ref), ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "x",
            "dow_mean_scaled",
            resid.alias("resid_scaled"),
            (
                F.abs(resid) > F.expr(f"dow_mean_scaled div 2")
            ).alias("anomalous"),
        )
        .orderBy("event_type", "day")
    )


# ------------------------------------------------- bot-regularity signal ----

BOT_CV2_SCALE = 1_000_000
BOT_CV2_MAX = 100_000  # flag cv^2 < 0.1: inter-event gaps too regular


@query(
    "events_bot_regularity",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             CAST(epoch_us(ts) AS BIGINT) AS t_us,
             LEAD(CAST(epoch_us(ts) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS nxt_us
      FROM events
    ), gaps AS (
      SELECT user_id, (nxt_us - t_us) // 1000000 AS g
      FROM seq WHERE nxt_us IS NOT NULL
    ), stats AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(CAST(g AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sg,
             CAST(SUM(CAST(g AS DECIMAL(38,0)) * CAST(g AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS sg2
      FROM gaps GROUP BY user_id
    )
    SELECT user_id, n_gaps,
           CAST(round({BOT_CV2_SCALE}
             * CAST(n_gaps * sg2 - sg * sg AS DOUBLE)
             / CAST(sg * sg AS DOUBLE)) AS BIGINT) AS cv2_scaled,
           CAST(round({BOT_CV2_SCALE}
             * CAST(n_gaps * sg2 - sg * sg AS DOUBLE)
             / CAST(sg * sg AS DOUBLE)) AS BIGINT) < {BOT_CV2_MAX}
             AS too_regular
    FROM stats
    WHERE n_gaps >= 10 AND sg > 0
    ORDER BY user_id
    """,
    doc="Bot/automation regularity signal: squared coefficient of "
    "variation of each user's inter-event gaps — humans are bursty "
    "(cv^2 ~ 1 for Poisson, higher with bursts), schedulers are "
    "metronomic (cv^2 -> 0). Gaps from one lead() per user partition; "
    "moments exact in DECIMAL(38,0) (the q40 discipline); cv^2 = "
    "n*Sg2/Sg^2 - 1 quantized once. Flag = cv^2 < 0.1. The behavioral "
    "cousin of the content-side repetition gates.",
)
def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seq = ev.select(
        "user_id", "event_id", _us("ts").alias("t_us")
    ).withColumn("nxt_us", F.lead("t_us").over(w))
    g = F.floor((F.col("nxt_us") - F.col("t_us")) / 1_000_000).cast(
        "decimal(38,0)"
    )
    gaps = seq.filter(F.col("nxt_us").isNotNull()).select("user_id", g.alias("g"))
    stats = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("g").cast("decimal(38,0)").alias("sg"),
        F.sum(F.col("g") * F.col("g")).cast("decimal(38,0)").alias("sg2"),
    )
    cv2 = F.round(
        F.lit(BOT_CV2_SCALE)
        * (F.col("n_gaps") * F.col("sg2") - F.col("sg") * F.col("sg")).cast(
            "double"
        )
        / (F.col("sg") * F.col("sg")).cast("double")
    ).cast("long")
    return (
        stats.filter((F.col("n_gaps") >= 10) & (F.col("sg") > 0))
        .select(
            "user_id",
            "n_gaps",
            cv2.alias("cv2_scaled"),
            (cv2 < BOT_CV2_MAX).alias("too_regular"),
        )
        .orderBy("user_id")
    )


@query(
    "events_cumulative_reach",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), firsts AS (
      SELECT user_id, MIN(day) AS first_day FROM du GROUP BY user_id
    ), new_per_day AS (
      SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY first_day
    ), dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
    )
    SELECT d.day,
           COALESCE(n.new_users, 0) AS new_users,
           CAST(SUM(COALESCE(n.new_users, 0)) OVER (
             ORDER BY d.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cumulative_reach,
           d.dau
    FROM dau d LEFT JOIN new_per_day n ON n.day = d.day
    ORDER BY d.day
    """,
    doc="Cumulative unique reach per day — the construct engines refuse as "
    "COUNT(DISTINCT) OVER, done the scalable way: each user reduced to "
    "a FIRST-SEEN day (one min-agg), new-user counts per day, running "
    "sum over the day-grain frame (metadata-sized window). Distinct "
    "state never accumulates in the window — the window only ever sees "
    "one row per day.",
)
def events_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
        .localCheckpoint(eager=False)  # firsts + dau legs
    )
    firsts = du.groupBy("user_id").agg(F.min("day").alias("first_day"))
    new_per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    dau = du.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dau.join(new_per_day, "day", "left")
        .select(
            "day",
            F.coalesce("new_users", F.lit(0)).cast("long").alias("new_users"),
            "dau",
        )
        .withColumn(
            "cumulative_reach", F.sum("new_users").over(w).cast("long")
        )
        .select("day", "new_users", "cumulative_reach", "dau")
        .orderBy("day")
    )


@query(
    "events_path_to_purchase",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type, 1) OVER w AS prev1,
             LAG(event_type, 2) OVER w AS prev2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT prev2, prev1, CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM seq
    WHERE event_type = 'purchase' AND prev1 IS NOT NULL
      AND prev2 IS NOT NULL
    GROUP BY prev2, prev1
    ORDER BY prev2, prev1
    """,
    doc="Path-to-purchase mining: the two events immediately preceding "
    "each purchase (lag-2 window per user, deterministic event_id "
    "tiebreak), counted per ordered pattern — the sequence-level "
    "complement of the first-order transition matrix, and the input to "
    "'which funnels actually convert'. Output is T^2 rows of metadata.",
)
def events_path_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(_us("ts"), "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("prev1"),
        F.lag("event_type", 2).over(w).alias("prev2"),
    )
    return (
        seq.filter(
            (F.col("event_type") == "purchase")
            & F.col("prev1").isNotNull()
            & F.col("prev2").isNotNull()
        )
        .groupBy("prev2", "prev1")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
        .orderBy("prev2", "prev1")
    )


# ------------------------------------------------ multi-touch attribution --
#
# Which channel (event type) gets credit for a purchase? The three standard
# models side by side: first-touch (1 credit to the earliest touch in the
# lookback window), last-touch (1 to the latest), linear (1/n to each).
# Linear credit is the float-accumulation trap: summing 1/n per row is
# order-dependent. The suite's quantize-then-sum discipline applies —
# per-touch credit is round(SCALE/n_touches), an exact integer identical
# in both engines, and every accumulation after that is BIGINT.

ATTR_SCALE = 1_000_000_000
ATTR_WINDOW_DAYS = 7


@query(
    "events_attribution",
    oracle=f"""
    WITH purchases AS (
      SELECT event_id AS conv_id, user_id, ts AS conv_ts
      FROM events WHERE event_type = 'purchase'
    ), touches AS (
      SELECT p.conv_id, e.event_type AS channel, e.ts, e.event_id,
             ROW_NUMBER() OVER (PARTITION BY p.conv_id
                                ORDER BY e.ts, e.event_id) AS rn_first,
             ROW_NUMBER() OVER (PARTITION BY p.conv_id
                                ORDER BY e.ts DESC, e.event_id DESC) AS rn_last,
             CAST(COUNT(*) OVER (PARTITION BY p.conv_id) AS BIGINT) AS n_touches
      FROM purchases p
      JOIN events e
        ON e.user_id = p.user_id
       AND e.event_type IN ('view', 'click')
       AND e.ts < p.conv_ts
       AND e.ts >= p.conv_ts - INTERVAL {ATTR_WINDOW_DAYS} DAY
    )
    SELECT channel,
           CAST(SUM(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS first_touch,
           CAST(SUM(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS last_touch,
           CAST(SUM(CAST(round({ATTR_SCALE} / n_touches) AS BIGINT)) AS BIGINT)
             AS linear_scaled,
           CAST(COUNT(*) AS BIGINT) AS n_touchpoints
    FROM touches
    GROUP BY channel
    ORDER BY channel
    """,
    doc="Multi-touch purchase attribution over a 7-day lookback: "
        "first-touch / last-touch / linear credit per channel in one pass. "
        "Touch fan-out is bounded by the lookback window per (user, "
        "purchase); the join is user-equi + time-range (partitioned on "
        "user_id, the natural key). Linear credit quantized per conversion "
        "(round(SCALE/n) — exact integer both engines) then BIGINT-summed: "
        "no float accumulation.",
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("conv_ts"),
    )
    touches = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("ts") < F.col("conv_ts"))
            & (
                F.col("ts")
                >= F.col("conv_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAY")
            ),
        )
        .select(
            "conv_id", F.col("event_type").alias("channel"), "ts", "event_id"
        )
    )
    w_first = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    w_last = Window.partitionBy("conv_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    w_n = Window.partitionBy("conv_id")
    scored = (
        touches.withColumn("rn_first", F.row_number().over(w_first))
        .withColumn("rn_last", F.row_number().over(w_last))
        .withColumn("n_touches", F.count(F.lit(1)).over(w_n).cast("bigint"))
    )
    return (
        scored.groupBy("channel")
        .agg(
            F.sum(F.when(F.col("rn_first") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("first_touch"),
            F.sum(F.when(F.col("rn_last") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("last_touch"),
            F.sum(
                F.round(F.lit(ATTR_SCALE) / F.col("n_touches")).cast("bigint")
            )
            .cast("bigint")
            .alias("linear_scaled"),
            F.count(F.lit(1)).cast("bigint").alias("n_touchpoints"),
        )
        .orderBy("channel")
    )


# ------------------------------------------------ time-windowed funnel -----
#
# q41's funnel orders stages by first-ever timestamps — fine for lifetime
# conversion, wrong for campaign analysis where a click must happen within
# an hour of the view that caused it. This is the bounded-hop variant:
# purchase counts only if the user's LAST click before it is within
# FUNNEL_HOP_S seconds, and that click counts only if the last view
# before IT is within the same hop. One sorted window pass per user
# (running conditional max / last over rows-preceding frames) — no
# self-joins, no per-stage scans; the 1-row summary folds in one agg.

FUNNEL_HOP_S = 3600


@query(
    "events_windowed_funnel",
    oracle=f"""
    WITH p AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ), lc AS (
      SELECT p.user_id, p.ts,
             (SELECT MAX(c.ts) FROM events c
              WHERE c.user_id = p.user_id AND c.event_type = 'click'
                AND c.ts < p.ts) AS click_ts
      FROM p
    ), chain AS (
      SELECT user_id, ts, click_ts,
             click_ts IS NOT NULL
               AND epoch(ts) - epoch(click_ts) <= {FUNNEL_HOP_S} AS click_ok,
             click_ts IS NOT NULL AND EXISTS (
               SELECT 1 FROM events v
               WHERE v.user_id = lc.user_id AND v.event_type = 'view'
                 AND v.ts < lc.click_ts
                 AND epoch(lc.click_ts) - epoch(v.ts) <= {FUNNEL_HOP_S}
             ) AS view_ok
      FROM lc
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN click_ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_click_within_hop,
           CAST(SUM(CASE WHEN click_ok AND view_ok THEN 1 ELSE 0 END)
                AS BIGINT) AS n_full_chain,
           CAST(SUM(CASE WHEN click_ok AND view_ok THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS chain_rate
    FROM chain
    """,
    doc="Time-windowed strict funnel: a purchase converts only through its "
        "LAST preceding click within 1 h, which itself must follow a view "
        "within 1 h — the campaign-attribution variant of q41's lifetime "
        "funnel. Spark side is one sorted window pass per user (running "
        "conditional max for the view→click hop, running last-ignorenulls "
        "struct for the click→purchase hop) — no self-joins; the oracle "
        "states the same chain with correlated subqueries. Counts are "
        "integers; one final IEEE division.",
)
def events_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _ev(spark, sf_dir)
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    )
    # RANGE frame on the microsecond epoch: "preceding" means STRICTLY
    # earlier ts, matching the oracle's strict inequalities — a rows-frame
    # on (ts, event_id) would count a same-timestamp click/view as "before"
    # the purchase and silently diverge from the oracle on tied timestamps.
    # Deterministic under ties: same-ts clicks share the identical range
    # frame, hence identical lv_ts and identical state structs.
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    # per event: last view ts strictly before it (running conditional max)
    with_lv = ev.withColumn(
        "lv_ts",
        F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w_prev),
    )
    # per click: did a view precede it within the hop?
    click_state = F.when(
        F.col("event_type") == "click",
        F.struct(
            F.col("ts").alias("c_ts"),
            (
                F.col("lv_ts").isNotNull()
                & (
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    - F.unix_micros(F.col("lv_ts").cast("timestamp"))
                    <= FUNNEL_HOP_S * 1_000_000
                )
            ).alias("c_view_ok"),
        ),
    )
    with_click = with_lv.withColumn(
        "last_click", F.last(click_state, ignorenulls=True).over(w_prev)
    )
    purchases = with_click.filter(F.col("event_type") == "purchase").select(
        F.col("last_click.c_ts").alias("click_ts"),
        F.col("last_click.c_view_ok").alias("view_ok"),
        "ts",
    )
    click_ok = F.col("click_ts").isNotNull() & (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.col("click_ts").cast("timestamp"))
        <= FUNNEL_HOP_S * 1_000_000
    )
    flagged = purchases.select(
        click_ok.alias("click_ok"),
        (click_ok & F.coalesce(F.col("view_ok"), F.lit(False))).alias("full_ok"),
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum(F.when(F.col("click_ok"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_click_within_hop"),
        F.sum(F.when(F.col("full_ok"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_full_chain"),
        (
            F.sum(F.when(F.col("full_ok"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("chain_rate"),
    )


# ------------------------------------------------ window TVF (batch) -------
#
# The window() table-valued grouping Spark shares between batch and
# Structured Streaming: a SLIDING window (2 h long, 1 h slide) makes each
# event contribute to exactly two windows — semantics the TVF expands
# internally (no manual explode). Running it in batch pins down exactly
# what the streaming rollups in streaming/windows.py compute, and the
# oracle states the expansion explicitly: each event joins to the two
# hour-grid starts that cover it.


@query(
    "q76_window_tvf",
    oracle="""
    SELECT win_start, win_end, event_type, n_events, n_users
    FROM (
      SELECT date_trunc('hour', ts) - INTERVAL (u.g) HOUR AS win_start,
             date_trunc('hour', ts) - INTERVAL (u.g) HOUR
               + INTERVAL 2 HOUR AS win_end,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events, UNNEST(range(0, 2)) AS u(g)
      GROUP BY 1, 2, 3
    )
    """,
    doc="Sliding-window rollup via the window() TVF (2 h length, 1 h "
        "slide): each event lands in exactly two hour-grid windows — the "
        "TVF does the expansion Catalyst-side, one hash agg on (window, "
        "type). The batch twin of the streaming sliding_rollup; the "
        "oracle writes the two-window expansion explicitly.",
)
def q76_window_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy(
            F.window(F.col("ts").cast("timestamp"), "2 hours", "1 hour").alias(
                "w"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n_events",
            "n_users",
        )
    )


# ------------------------------------------------ peak session concurrency -
#
# "How many sessions were active at once, and when?" — the interval sweep
# every capacity planner runs. Sessions are q22's gap-based intervals
# treated as CLOSED [start, end]; the sweep emits +1/-1 endpoint deltas
# and takes the running sum, processing starts before ends at the same
# instant. A naive global ordered cumsum is a single reducer, so the
# Spark side runs the textbook DISTRIBUTED prefix sum: per-hour delta
# totals (bounded frame) -> running hour offsets -> within-hour running
# sums partitioned by hour + offset. The oracle states the same sweep as
# one global window; per-row running values at tied instants permute
# within an equal-delta group, but the global max and its earliest
# timestamp are permutation-invariant, so both engines agree exactly.


@query(
    "events_peak_concurrency",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  ) > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id,
             ts
      FROM ordered
    ), ivals AS (
      SELECT user_id, session_id, MIN(ts) AS s, MAX(ts) AS e
      FROM sess GROUP BY user_id, session_id
    ), endpoints AS (
      SELECT s AS ts, 1 AS delta FROM ivals
      UNION ALL
      SELECT e AS ts, -1 AS delta FROM ivals
    ), swept AS (
      SELECT ts, SUM(delta) OVER (
               ORDER BY ts, delta DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS active
      FROM endpoints
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ivals) AS n_sessions,
           CAST(MAX(active) AS BIGINT) AS max_concurrent,
           MIN(ts) FILTER (WHERE active = (SELECT MAX(active) FROM swept))
             AS at_ts
    FROM swept
    """,
    doc="Peak concurrent sessions (closed-interval sweep over q22's "
        "gap-based sessions; starts before ends at equal instants). Spark "
        "side is the distributed prefix sum: per-hour endpoint-delta "
        "totals, running offsets over the bounded hour frame, within-hour "
        "running sums partitioned by hour — no global single-reducer "
        "cumsum. Max and earliest-max timestamp are invariant to tie "
        "permutations, so the one-window oracle matches exactly.",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = 30 * 60 * 1_000_000
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull() | ((_us("ts") - _us(prev_ts)) > gap_us), 1
    ).otherwise(0)
    ivals = (
        ev.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(wrun).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
        .localCheckpoint(eager=False)  # feeds both endpoint legs + count
    )
    endpoints = ivals.select(F.col("s").alias("ts"), F.lit(1).alias("delta")).unionAll(
        ivals.select(F.col("e").alias("ts"), F.lit(-1).alias("delta"))
    ).withColumn("hour", F.date_trunc("hour", F.col("ts").cast("timestamp")))
    # distributed prefix sum: (1) per-hour totals, (2) running offsets over
    # the bounded hour frame, (3) within-hour running sums + offset
    hour_tot = endpoints.groupBy("hour").agg(F.sum("delta").alias("hd"))
    w_hours = Window.orderBy("hour").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = hour_tot.withColumn(
        "offset", (F.sum("hd").over(w_hours) - F.col("hd")).cast("long")
    ).select("hour", "offset")
    w_in = Window.partitionBy("hour").orderBy(
        F.col("ts"), F.col("delta").desc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    swept = (
        endpoints.join(F.broadcast(offsets), "hour")
        .withColumn(
            "active", (F.sum("delta").over(w_in) + F.col("offset")).cast("long")
        )
    )
    peak = swept.agg(F.max("active").alias("max_concurrent"))
    n_sessions = ivals.agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
    return (
        swept.crossJoin(F.broadcast(peak))
        .filter(F.col("active") == F.col("max_concurrent"))
        .agg(
            F.min("ts").alias("at_ts"),
            F.first("max_concurrent").alias("max_concurrent"),
        )
        .crossJoin(F.broadcast(n_sessions))
        .select("n_sessions", "max_concurrent", "at_ts")
    )


# ------------------------------------------------ banded interval join -----
#
# Interval-overlap joins (find all pairs of overlapping time intervals)
# have no native Spark physical strategy — a naive inequality self-join
# plans as a nested loop over the whole table. The scalable pattern is
# BAND + VERIFY: bucket every interval to the hour-grid cells it spans
# (fan-out = interval duration in bands), equi-join on the band key —
# which Catalyst executes as an ordinary hash shuffle join — then verify
# the exact overlap predicate and dedup pairs that met in several bands.
# This is the same candidate-generation discipline as the LSH dedup
# family, applied to time. Demonstrated here on gap-based sessions:
# which user pairs were concurrently active, and for how long.


@query(
    "q78_interval_overlap_join",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  ) > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id,
             ts
      FROM ordered
    ), sessions AS (
      SELECT user_id, session_id,
             MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM sess GROUP BY user_id, session_id
    ), ovl AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             CAST(epoch_us(least(a.s_end, b.s_end))
                  - epoch_us(greatest(a.s_start, b.s_start)) AS BIGINT)
               AS overlap_us
      FROM sessions a JOIN sessions b
        ON a.user_id < b.user_id
       AND a.s_start <= b.s_end AND b.s_start <= a.s_end
    )
    SELECT user_a, user_b,
           CAST(COUNT(*) AS BIGINT) AS n_overlapping_sessions,
           CAST(SUM(overlap_us) AS BIGINT) AS total_overlap_us
    FROM ovl
    GROUP BY user_a, user_b
    ORDER BY total_overlap_us DESC, n_overlapping_sessions DESC,
             user_a, user_b
    LIMIT 20
    """,
    doc="Banded interval-overlap join: gap-based sessions bucketed to the "
        "hour-grid cells they span, candidate pairs from an EQUI-join on "
        "the band key (an ordinary shuffle join — no nested loop), exact "
        "overlap verified and multi-band duplicates collapsed before the "
        "pair aggregation. The oracle states the naive inequality join "
        "(fine at oracle scale; the banded plan is the 100-TB form). "
        "Closed intervals — touching endpoints count with 0 duration. "
        "Integer microsecond accounting throughout.",
)
def q78_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # running sum MUST tie-break on event_id like the lag() ordering: with
    # tied boundary timestamps, tie order decides which session a row joins,
    # and the cross-engine bit-exact contract needs a total order (ADVICE r5)
    wrun = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gap_us = 30 * 60 * 1_000_000
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull() | ((_us("ts") - _us(prev_ts)) > gap_us), 1
    ).otherwise(0)
    sessions = (
        ev.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(wrun))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    # band fan-out = session duration in hours; the session frame feeds
    # both join sides — materialize once. Spread by band first: AQE
    # coalesces the tiny session aggregate to ~1 partition, which would
    # pin the quadratic per-band self-join below to a single task
    # (measured r13: 1.7 s of a 3.2 s query on one core); the band key is
    # the join key, so the verify join reuses this partitioning. Width =
    # spark.sql.shuffle.partitions (r13 verdict #6): the self-join pays a
    # band exchange of exactly this width anyway, so pre-spreading to the
    # configured value replaces that exchange instead of pinning the frame
    # to the local core count at cluster scale. Some runtimes set the conf
    # to a non-integer (Databricks' "auto"); fall back to the core count.
    try:
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        n_shuffle = spark.sparkContext.defaultParallelism
    banded = sessions.select(
        "user_id",
        "session_id",
        "s_start",
        "s_end",
        F.explode(
            F.expr(
                "sequence(date_trunc('hour', s_start),"
                " date_trunc('hour', s_end), interval 1 hour)"
            )
        ).alias("band"),
    ).repartition(n_shuffle, "band").localCheckpoint(eager=False)
    a = banded.alias("a")
    b = banded.alias("b")
    overlaps = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.user_id") < F.col("b.user_id"))
            & (F.col("a.s_start") <= F.col("b.s_end"))
            & (F.col("b.s_start") <= F.col("a.s_end")),
        )
        # a pair meeting in k shared bands appears k times; collapse to
        # one row per session pair before aggregating
        .groupBy(
            F.col("a.user_id").alias("user_a"),
            F.col("a.session_id").alias("sid_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("b.session_id").alias("sid_b"),
        )
        .agg(
            F.max(
                (
                    _us(F.least(F.col("a.s_end"), F.col("b.s_end")))
                    - _us(F.greatest(F.col("a.s_start"), F.col("b.s_start")))
                ).cast("bigint")
            ).alias("overlap_us")
        )
    )
    return (
        overlaps.groupBy("user_a", "user_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_overlapping_sessions"),
            F.sum("overlap_us").cast("bigint").alias("total_overlap_us"),
        )
        .orderBy(
            F.col("total_overlap_us").desc(),
            F.col("n_overlapping_sessions").desc(),
            "user_a",
            "user_b",
        )
        .limit(20)
    )


# ------------------------------------------------ rank-sum (Mann-Whitney) --
#
# The robust complement to events_ab_lift's difference-in-means: the
# Mann-Whitney U / Wilcoxon rank-sum test on per-event values between
# the two hash-assigned variants — outlier-immune, distribution-free.
# Exactness: mid-ranks are half-integers, so DOUBLED ranks are integers
# (2*avg_rank = 2*min_rank + tie_size - 1) and every accumulation is an
# exact BIGINT fold; U and the normal approximation are one final IEEE
# chain (no tie-variance correction — documented; fine as the monitoring
# screen it is, the exact test belongs offline).


@query(
    "events_ab_ranksum",
    oracle=f"""
    WITH vals AS (
      SELECT CAST(('0x' || substr(md5('{AB_SALT}' || user_id::VARCHAR), 1, 15))
                  AS BIGINT) % 2 AS variant,
             value
      FROM events
    ), vc AS (
      SELECT value,
             CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS ca,
             CAST(COUNT(*) AS BIGINT) AS ties
      FROM vals GROUP BY value
    ), ranked AS (
      SELECT value, ca, ties,
             CAST(1 + COALESCE(SUM(ties) OVER (
               ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS rmin
      FROM vc
    ), sums AS (
      SELECT
        CAST(SUM(ca * (2 * rmin + ties - 1)) AS BIGINT) AS r2_a,
        CAST(SUM(ca) AS BIGINT) AS na,
        CAST(SUM(ties - ca) AS BIGINT) AS nb
      FROM ranked
    )
    SELECT na, nb, r2_a,
           CAST(r2_a AS DOUBLE) / 2 - CAST(na AS DOUBLE) * (na + 1) / 2
             AS u_a,
           (CAST(r2_a AS DOUBLE) / 2 - CAST(na AS DOUBLE) * (na + 1) / 2
            - CAST(na AS DOUBLE) * nb / 2)
           / sqrt(CAST(na AS DOUBLE) * nb * (na + nb + 1) / 12) AS z
    FROM sums
    """,
    doc="Mann-Whitney rank-sum A/B test on event values between the two "
        "hash-assigned variants: mid-ranks kept exact by summing DOUBLED "
        "ranks (2*min_rank + ties - 1, an integer) in BIGINT, U and the "
        "normal-approximation z as one final IEEE chain. The "
        "outlier-immune screen beside events_ab_lift's means; no "
        "tie-variance correction (documented — the exact test is an "
        "offline job). ONE corpus hash agg to the bounded 2dp value "
        "domain; ranks come from running tie-count sums there.",
)
def events_ab_ranksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    variant = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(AB_SALT), F.col("user_id").cast("string"))), 1, 15),
            16,
            10,
        ).cast("long")
        % 2
    )
    vals = ev.select(variant.alias("variant"), "value")
    # at-scale shape: ONE corpus hash agg to the (value, counts) domain —
    # the global rank window then runs over the bounded value domain (2dp
    # content), never over corpus-sized rows
    vc = vals.groupBy("value").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.count(F.lit(1)).cast("bigint").alias("ties"),
    )
    w_run = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vc.select(
        "ca",
        "ties",
        (1 + F.coalesce(F.sum("ties").over(w_run), F.lit(0)))
        .cast("bigint")
        .alias("rmin"),
    )
    sums = ranked.agg(
        F.sum(F.col("ca") * (2 * F.col("rmin") + F.col("ties") - 1))
        .cast("bigint")
        .alias("r2_a"),
        F.sum("ca").cast("bigint").alias("na"),
        F.sum(F.col("ties") - F.col("ca")).cast("bigint").alias("nb"),
    )
    u_a = (
        F.col("r2_a").cast("double") / 2
        - F.col("na").cast("double") * (F.col("na") + 1) / 2
    )
    return sums.select(
        "na",
        "nb",
        "r2_a",
        u_a.alias("u_a"),
        (
            (u_a - F.col("na").cast("double") * F.col("nb") / 2)
            / F.sqrt(
                F.col("na").cast("double")
                * F.col("nb")
                * (F.col("na") + F.col("nb") + 1)
                / 12
            )
        ).alias("z"),
    )


# ------------------------------------------------ A/B sample-size plan -----
#
# Experiment planning from measured baselines: the users-per-arm needed
# to detect a relative conversion lift at alpha = 0.05 (two-sided) and
# 80% power, from the corpus's OWN baseline conversion rate — the table
# a growth team reads before launching the test events_ab_lift will
# later analyze. Standard two-proportion formula
#   n = (z_a * sqrt(2 p(1-p)) + z_b * sqrt(p(1-p) + p'(1-p')))^2 / d^2
# with the z quantiles as fixed literals (no distribution functions at
# runtime); the baseline p is one division of exact integers and each
# row is one scalar IEEE chain, identical in both engines.

_Z_ALPHA = 1.9599639845400545  # Phi^-1(0.975)
_Z_POWER = 0.8416212335729143  # Phi^-1(0.80)
_AB_LIFTS = [0.02, 0.05, 0.10]


@query(
    "events_ab_sample_size",
    oracle=f"""
    WITH base AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                      THEN user_id END) AS BIGINT)
               AS n_converted
      FROM events
    ), p AS (
      SELECT n_users, n_converted,
             CAST(n_converted AS DOUBLE) / n_users AS p0
      FROM base
    ), lifts(rel_lift) AS (VALUES ({"), (".join(str(x) for x in _AB_LIFTS)}))
    SELECT CAST(rel_lift AS DOUBLE) AS rel_lift, n_users, n_converted, p0,
           least(p0 * (1 + rel_lift), 0.9999) AS p1,
           CAST(ceil(
             ((({_Z_ALPHA}) * sqrt(2 * p0 * (1 - p0))
               + ({_Z_POWER}) * sqrt(p0 * (1 - p0)
                 + least(p0 * (1 + rel_lift), 0.9999)
                   * (1 - least(p0 * (1 + rel_lift), 0.9999))))
              * (({_Z_ALPHA}) * sqrt(2 * p0 * (1 - p0))
               + ({_Z_POWER}) * sqrt(p0 * (1 - p0)
                 + least(p0 * (1 + rel_lift), 0.9999)
                   * (1 - least(p0 * (1 + rel_lift), 0.9999)))))
             / ((p0 * rel_lift) * (p0 * rel_lift))) AS BIGINT)
             AS n_per_arm
    FROM p CROSS JOIN lifts
    ORDER BY rel_lift
    """,
    doc="A/B sample-size planner from the measured baseline conversion: "
        "users per arm to detect +2/5/10% relative lift at alpha 0.05, "
        "power 0.80 (two-proportion formula; normal quantiles as fixed "
        "literals — no runtime distribution functions). One distinct-user "
        "aggregation; each plan row is a scalar IEEE chain on the exact "
        "integer baseline. The planning complement to events_ab_lift and "
        "events_ab_ranksum.",
)
def events_ab_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    base = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        )
        .cast("bigint")
        .alias("n_converted"),
    )
    lifts = F.explode(F.array(*[F.lit(x) for x in _AB_LIFTS])).alias(
        "rel_lift"
    )
    p0 = F.col("n_converted").cast("double") / F.col("n_users")
    # clamp: a relative lift from a high baseline must stay a probability
    p1 = F.least(p0 * (1 + F.col("rel_lift")), F.lit(0.9999))
    term = F.lit(_Z_ALPHA) * F.sqrt(2 * p0 * (1 - p0)) + F.lit(
        _Z_POWER
    ) * F.sqrt(p0 * (1 - p0) + p1 * (1 - p1))
    d = p0 * F.col("rel_lift")
    return (
        base.select("n_users", "n_converted", lifts)
        .select(
            "rel_lift",
            "n_users",
            "n_converted",
            p0.alias("p0"),
            p1.alias("p1"),
            F.ceil((term * term) / (d * d)).cast("bigint").alias("n_per_arm"),
        )
        .orderBy("rel_lift")
    )


# --------------------------------------------------- cohort retention -------

# Monday anchor for the engine-identical integer week index: both engines
# compute floor(days-since-1970-01-05 / 7) with positive integer division.
_WEEK_EPOCH = "1970-01-05"


@query(
    "events_retention_cohorts",
    oracle=f"""
    WITH uw AS (
      SELECT DISTINCT user_id,
             datediff('day', DATE '{_WEEK_EPOCH}', CAST(ts AS DATE)) // 7 AS w
      FROM events
    ), w0 AS (
      SELECT user_id, MIN(w) AS w0 FROM uw GROUP BY user_id
    ), cohort AS (
      SELECT w0, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM w0 GROUP BY w0
    ), act AS (
      SELECT w0.w0, uw.w - w0.w0 AS week_offset,
             CAST(COUNT(*) AS BIGINT) AS active_users
      FROM uw JOIN w0 USING (user_id)
      GROUP BY w0.w0, uw.w - w0.w0
    )
    SELECT DATE '{_WEEK_EPOCH}' + CAST(a.w0 * 7 AS INTEGER) AS cohort_start,
           CAST(a.week_offset AS BIGINT) AS week_offset,
           c.cohort_size,
           a.active_users,
           a.active_users / CAST(c.cohort_size AS DOUBLE) AS retention
    FROM act a JOIN cohort c USING (w0)
    ORDER BY cohort_start, week_offset
    """,
    doc="Weekly cohort retention matrix: users bucketed by the Monday week "
    "of their FIRST event; each later (user, week) activity row counts "
    "toward (cohort, week_offset). The canonical growth-analytics grid "
    "(cohort x offset) every product warehouse materializes. Scale: the "
    "raw log reduces to distinct (user, week) rows in one hash shuffle; "
    "first-week min-agg and the activity join are both user_id-keyed (one "
    "co-partitioned shuffle, no skew — users are the fine grain); the "
    "final aggregation lands on the weeks^2-sized cohort grid, metadata "
    "no matter the corpus. Retention is a single bigint/bigint division "
    "per cell — order-independent, engine-identical. Week index is pure "
    "integer arithmetic from a fixed Monday epoch, immune to engine "
    "week-truncation conventions (ISO vs locale).",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uw = (
        ev.select("user_id", week_index("ts"))
        .distinct()
        .localCheckpoint(eager=False)  # consumed by the w0 agg and the join
    )
    return cohort_grid(uw)


def week_index(ts_col) -> F.Column:
    """Engine-identical integer week index of a timestamp column."""
    col = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return (
        F.floor(
            F.datediff(col.cast("date"), F.lit(_WEEK_EPOCH).cast("date")) / 7
        )
        .cast("long")
        .alias("w")
    )


def cohort_grid(uw: DataFrame) -> DataFrame:
    """(cohort × offset) retention grid from a distinct (user_id, w)
    activity frame — shared by the batch query and the streaming
    maintainer's serve path (``streaming.ivm.retention_from_state``)."""
    w0 = uw.groupBy("user_id").agg(F.min("w").alias("w0"))
    cohort = w0.groupBy("w0").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    act = (
        uw.join(w0, "user_id")
        .groupBy(
            F.col("w0"),
            (F.col("w") - F.col("w0")).cast("long").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("active_users"))
    )
    return (
        act.join(F.broadcast(cohort), "w0")
        .select(
            F.date_add(
                F.lit(_WEEK_EPOCH).cast("date"),
                (F.col("w0") * 7).cast("int"),
            ).alias("cohort_start"),
            "week_offset",
            "cohort_size",
            "active_users",
            (
                F.col("active_users") / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
        .orderBy("cohort_start", "week_offset")
    )


# --------------------------------------------------- CUPED adjustment -------


@query(
    "events_ab_cuped",
    oracle=f"""
    WITH bounds AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid_us
      FROM events
    ), per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN epoch_us(ts) < b.mid_us THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN epoch_us(ts) >= b.mid_us
                            AND event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events CROSS JOIN bounds b
      GROUP BY user_id
    ), assigned AS (
      SELECT user_id, x, y,
             CAST(('0x' || substr(md5('{AB_SALT}' || user_id::VARCHAR), 1, 15))
                  AS BIGINT) % 2 AS variant
      FROM per_user
    ), cells AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM assigned GROUP BY variant
    ), wide AS (
      SELECT
        MAX(CASE WHEN variant = 0 THEN n END) AS n0,
        MAX(CASE WHEN variant = 1 THEN n END) AS n1,
        MAX(CASE WHEN variant = 0 THEN sx END) AS sx0,
        MAX(CASE WHEN variant = 1 THEN sx END) AS sx1,
        MAX(CASE WHEN variant = 0 THEN sy END) AS sy0,
        MAX(CASE WHEN variant = 1 THEN sy END) AS sy1,
        CAST(SUM(n) AS BIGINT) AS n,
        CAST(SUM(sx) AS BIGINT) AS sx,
        CAST(SUM(sy) AS BIGINT) AS sy,
        CAST(SUM(sxx) AS BIGINT) AS sxx,
        CAST(SUM(sxy) AS BIGINT) AS sxy,
        CAST(SUM(syy) AS BIGINT) AS syy
      FROM cells
    )
    SELECT n0, n1,
           CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) AS theta,
           CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0 AS lift_raw,
           (CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0)
             - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))
               * (CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0)
             AS lift_cuped,
           CAST(n * sxy - sx * sy AS DOUBLE) * (n * sxy - sx * sy)
             / (n * sxx - sx * sx) / (n * syy - sy * sy) AS var_reduction
    FROM wide
    """,
    doc="CUPED variance reduction (Deng et al. WSDM'13): pre-period event "
    "count as the covariate X, post-period purchase count as the metric "
    "Y, theta = cov(X,Y)/var(X) pooled over both variants (the standard "
    "unbiased-under-randomization choice), adjusted lift = raw lift - "
    "theta * covariate imbalance; var_reduction = rho² is the fraction "
    "of metric variance the adjustment removes. The technique every "
    "experimentation platform runs to cut experiment runtimes ~30-50%. "
    "Period split is the integer midpoint of the event-time range (1-row "
    "broadcast onto the scan); all moment sums are exact BIGINT per "
    "variant cell, so theta/lift/rho² are final one-chain IEEE "
    "expressions over a 2-row frame — order-independent, "
    "engine-identical. Scale: one user-grain shuffle; everything after "
    "is metadata.",
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(_us("ts")).alias("mn"), F.max(_us("ts")).alias("mx")
    ).select(F.expr("(mn + mx) div 2").alias("mid_us"))
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(_us("ts") < F.col("mid_us"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(
                    (_us("ts") >= F.col("mid_us"))
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    assigned = per_user.select(
        "x",
        "y",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit(AB_SALT), F.col("user_id").cast("string"))
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("variant"),
    )
    cells = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    wide = cells.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 0, F.col("sx"))).alias("sx0"),
        F.max(F.when(F.col("variant") == 1, F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("variant") == 0, F.col("sy"))).alias("sy0"),
        F.max(F.when(F.col("variant") == 1, F.col("sy"))).alias("sy1"),
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sx").cast("bigint").alias("sx"),
        F.sum("sy").cast("bigint").alias("sy"),
        F.sum("sxx").cast("bigint").alias("sxx"),
        F.sum("sxy").cast("bigint").alias("sxy"),
        F.sum("syy").cast("bigint").alias("syy"),
    )
    theta = F.expr(
        "cast(n * sxy - sx * sy as double) / (n * sxx - sx * sx)"
    )
    lift_raw = F.expr(
        "cast(sy1 as double) / n1 - cast(sy0 as double) / n0"
    )
    return wide.select(
        "n0",
        "n1",
        theta.alias("theta"),
        lift_raw.alias("lift_raw"),
        (
            lift_raw
            - theta
            * F.expr("cast(sx1 as double) / n1 - cast(sx0 as double) / n0")
        ).alias("lift_cuped"),
        F.expr(
            "cast(n * sxy - sx * sy as double) * (n * sxy - sx * sy)"
            " / (n * sxx - sx * sx) / (n * syy - sy * sy)"
        ).alias("var_reduction"),
    )


# -------------------------------------- difference-in-differences ----------


@query(
    "events_did_lift",
    oracle=f"""
    WITH bounds AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid_us
      FROM events
    ), per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN epoch_us(ts) < b.mid_us
                            AND event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pre,
             CAST(SUM(CASE WHEN epoch_us(ts) >= b.mid_us
                            AND event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS post
      FROM events CROSS JOIN bounds b
      GROUP BY user_id
    ), assigned AS (
      SELECT user_id, pre, post,
             CAST(('0x' || substr(md5('{AB_SALT}' || user_id::VARCHAR), 1, 15))
                  AS BIGINT) % 2 AS variant
      FROM per_user
    ), cells AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pre) AS BIGINT) AS spre,
             CAST(SUM(post) AS BIGINT) AS spost
      FROM assigned GROUP BY variant
    ), wide AS (
      SELECT
        MAX(CASE WHEN variant = 0 THEN n END) AS n0,
        MAX(CASE WHEN variant = 1 THEN n END) AS n1,
        MAX(CASE WHEN variant = 0 THEN spre END) AS pre0,
        MAX(CASE WHEN variant = 1 THEN spre END) AS pre1,
        MAX(CASE WHEN variant = 0 THEN spost END) AS post0,
        MAX(CASE WHEN variant = 1 THEN spost END) AS post1
      FROM cells
    )
    SELECT n0, n1,
           CAST(pre0 AS DOUBLE) / n0 AS pre_mean_c,
           CAST(pre1 AS DOUBLE) / n1 AS pre_mean_t,
           CAST(post0 AS DOUBLE) / n0 AS post_mean_c,
           CAST(post1 AS DOUBLE) / n1 AS post_mean_t,
           CAST(pre1 AS DOUBLE) / n1 - CAST(pre0 AS DOUBLE) / n0
             AS pre_gap,
           CAST(post1 AS DOUBLE) / n1 - CAST(post0 AS DOUBLE) / n0
             AS post_gap,
           (CAST(post1 AS DOUBLE) / n1 - CAST(post0 AS DOUBLE) / n0)
             - (CAST(pre1 AS DOUBLE) / n1 - CAST(pre0 AS DOUBLE) / n0)
             AS did_lift
    FROM wide
    """,
    doc="Difference-in-differences lift (Card & Krueger 1994 shape): "
    "per-user purchase counts in the pre/post halves of the event-time "
    "range, variants by the salted-hash assignment every ab_* query "
    "shares; DiD = (T_post − T_pre) − (C_post − C_pre) in group means. "
    "pre_gap is the built-in placebo check — under randomized assignment "
    "it should sit near zero, and a large value flags a broken "
    "assignment or pre-period contamination before anyone reads the "
    "lift. All sums are exact BIGINT per variant cell; the means and "
    "gaps are final one-chain IEEE expressions over a 2-row frame. "
    "Scale: one user-grain shuffle, everything after is metadata.",
)
def events_did_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(_us("ts")).alias("mn"), F.max(_us("ts")).alias("mx")
    ).select(F.expr("(mn + mx) div 2").alias("mid_us"))
    is_purchase = F.col("event_type") == "purchase"
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when((_us("ts") < F.col("mid_us")) & is_purchase, 1)
                .otherwise(0)
            ).cast("bigint").alias("pre"),
            F.sum(
                F.when((_us("ts") >= F.col("mid_us")) & is_purchase, 1)
                .otherwise(0)
            ).cast("bigint").alias("post"),
        )
    )
    assigned = per_user.select(
        "pre",
        "post",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit(AB_SALT), F.col("user_id").cast("string"))
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("variant"),
    )
    cells = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pre").cast("bigint").alias("spre"),
        F.sum("post").cast("bigint").alias("spost"),
    )
    wide = cells.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 0, F.col("spre"))).alias("pre0"),
        F.max(F.when(F.col("variant") == 1, F.col("spre"))).alias("pre1"),
        F.max(F.when(F.col("variant") == 0, F.col("spost"))).alias("post0"),
        F.max(F.when(F.col("variant") == 1, F.col("spost"))).alias("post1"),
    )
    pre_gap = F.expr("cast(pre1 as double) / n1 - cast(pre0 as double) / n0")
    post_gap = F.expr(
        "cast(post1 as double) / n1 - cast(post0 as double) / n0"
    )
    return wide.select(
        "n0",
        "n1",
        F.expr("cast(pre0 as double) / n0").alias("pre_mean_c"),
        F.expr("cast(pre1 as double) / n1").alias("pre_mean_t"),
        F.expr("cast(post0 as double) / n0").alias("post_mean_c"),
        F.expr("cast(post1 as double) / n1").alias("post_mean_t"),
        pre_gap.alias("pre_gap"),
        post_gap.alias("post_gap"),
        (post_gap - pre_gap).alias("did_lift"),
    )


@query(
    "events_cohort_ltv",
    oracle=f"""
    WITH uw AS (
      SELECT DISTINCT user_id,
             datediff('day', DATE '{_WEEK_EPOCH}', CAST(ts AS DATE)) // 7 AS w
      FROM events
    ), w0 AS (
      SELECT user_id, MIN(w) AS w0 FROM uw GROUP BY user_id
    ), cohort AS (
      SELECT w0, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM w0 GROUP BY w0
    ), rev AS (
      SELECT user_id,
             datediff('day', DATE '{_WEEK_EPOCH}', CAST(ts AS DATE)) // 7 AS w,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS r
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, datediff('day', DATE '{_WEEK_EPOCH}', CAST(ts AS DATE)) // 7
    ), cell AS (
      SELECT w0.w0, r.w - w0.w0 AS week_offset,
             CAST(SUM(r.r) AS DECIMAL(38,2)) AS rev
      FROM rev r JOIN w0 USING (user_id)
      GROUP BY w0.w0, r.w - w0.w0
    ), grid AS (
      SELECT c.w0, o.week_offset,
             CAST(COALESCE(cell.rev, 0) AS DECIMAL(38,2)) AS rev,
             c.cohort_size
      FROM cohort c
      JOIN (SELECT DISTINCT w0, week_offset FROM cell) dom ON dom.w0 = c.w0
      CROSS JOIN LATERAL (
        SELECT UNNEST(range(0, (SELECT MAX(week_offset) + 1 FROM cell
                                WHERE cell.w0 = c.w0))) AS week_offset
      ) o
      LEFT JOIN cell ON cell.w0 = c.w0 AND cell.week_offset = o.week_offset
      GROUP BY ALL
    )
    SELECT DATE '{_WEEK_EPOCH}' + CAST(w0 * 7 AS INTEGER) AS cohort_start,
           CAST(week_offset AS BIGINT) AS week_offset,
           cohort_size,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(CAST(SUM(rev) OVER (
             PARTITION BY w0 ORDER BY week_offset
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DECIMAL(38,2)) AS DOUBLE) / cohort_size AS ltv_per_user
    FROM grid
    ORDER BY cohort_start, week_offset
    """,
    doc="Cohort LTV matrix — the revenue face of events_retention_cohorts: "
    "per (first-event-week cohort, week offset), purchase revenue and "
    "the cumulative lifetime value per cohort member, on a DENSE offset "
    "grid (0..max per cohort) so the running LTV curve has no holes "
    "where a quiet week would otherwise vanish. Revenue accumulates in "
    "DECIMAL(38,2) end-to-end (the plans/helpers.py money discipline) — "
    "the running window folds decimals, not doubles, so the curve is "
    "bit-stable under any shuffle order; the single /cohort_size "
    "division emits the final double. Scale: user-grain shuffles only; "
    "the dense grid and its running window live on the weeks^2 cohort "
    "frame, metadata no matter the corpus.",
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select("user_id", week_index("ts")).distinct()
    w0 = uw.groupBy("user_id").agg(F.min("w").alias("w0"))
    w0 = w0.localCheckpoint(eager=False)  # cohort sizes + revenue join
    cohort = w0.groupBy("w0").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", week_index("ts"), dec("value").alias("v"))
        .groupBy("user_id", "w")
        .agg(F.sum("v").cast("decimal(38,2)").alias("r"))
    )
    cell = (
        rev.join(w0, "user_id")
        .groupBy(
            F.col("w0"),
            (F.col("w") - F.col("w0")).cast("long").alias("week_offset"),
        )
        .agg(F.sum("r").cast("decimal(38,2)").alias("rev"))
        .localCheckpoint(eager=False)  # domain + dense-grid left join
    )
    maxoff = cell.groupBy("w0").agg(
        F.max("week_offset").alias("mx")
    )
    grid = (
        cohort.join(F.broadcast(maxoff), "w0")
        .select(
            "w0",
            "cohort_size",
            F.explode(F.expr("sequence(0L, mx)")).alias("week_offset"),
        )
        .join(cell, ["w0", "week_offset"], "left")
        .select(
            "w0",
            "cohort_size",
            "week_offset",
            F.coalesce(F.col("rev"), F.lit(0).cast("decimal(38,2)")).alias(
                "rev"
            ),
        )
    )
    wrun = (
        Window.partitionBy("w0")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.select(
            F.date_add(
                F.lit(_WEEK_EPOCH).cast("date"), (F.col("w0") * 7).cast("int")
            ).alias("cohort_start"),
            "week_offset",
            "cohort_size",
            F.col("rev").cast("double").alias("revenue"),
            (
                F.sum("rev").over(wrun).cast("decimal(38,2)").cast("double")
                / F.col("cohort_size")
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort_start", "week_offset")
    )
