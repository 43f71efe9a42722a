"""Streaming-layer tests: CDC stream apply end-to-end, watermarked window
rollups vs their batch twins, stream dedup, custom stateful totals.

All use file-based streams + ``trigger(availableNow=True)`` so each test is
a bounded run over deterministic input (the standard local harness for
Structured Streaming; identical code path to a live stream)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conduit_connector_s3_iceberg_spark.streaming import (
    anomaly_flags,
    apply_cdc_stream,
    dedup_stream,
    read_cdc_stream,
    running_user_totals,
    session_rollup,
    tumbling_rollup,
)
from conduit_connector_s3_iceberg_spark.writer import ParquetWarehouse

TABLE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("qty", T.IntegerType(), True),
    ]
)


def env(position, op, key=None, after=None, before=None):
    return {
        "position": position,
        "operation": op,
        "key": json.dumps(key) if key is not None else None,
        "before": json.dumps(before) if before is not None else None,
        "after": json.dumps(after) if after is not None else None,
        "metadata": {},
    }


@pytest.fixture
def events_df(spark):
    rows = [
        # user 1: two events 10 min apart, then one 2h later (2 sessions)
        (1, "2024-01-01 10:00:00", "click", 1.0, 1),
        (1, "2024-01-01 10:10:00", "click", 2.0, 2),
        (1, "2024-01-01 13:00:00", "view", 4.0, 3),
        # user 2: one event + an exact duplicate event_id
        (2, "2024-01-01 10:05:00", "view", 8.0, 4),
        (2, "2024-01-01 10:05:00", "view", 8.0, 4),
    ]
    return spark.createDataFrame(
        rows, "user_id long, ts_s string, event_type string, value double, event_id long"
    ).select(
        "user_id",
        F.to_timestamp("ts_s").alias("ts"),
        "event_type",
        "value",
        "event_id",
    )


def stream_of(spark, tmp_path, df, name):
    """Write df as a parquet dir and open it as a file-source stream with
    the same schema."""
    path = str(tmp_path / name)
    df.write.mode("overwrite").parquet(path)
    return spark.readStream.schema(df.schema).parquet(path)


def run_to_memory(stream_df, tmp_path, name, output_mode="append"):
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


# ---------------------------------------------------------------- CDC apply


def test_cdc_stream_apply_end_to_end(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "warehouse"))
    wh.create_table("items", TABLE_SCHEMA)

    # one file == one deterministic arrival order (single scan partition)
    records = [
        env("p1", "create", after={"id": 1, "name": "a", "qty": 5.0}),  # 5.0→int
        env("p2", "create", after={"id": 2, "name": "b", "qty": 7}),
        env("p3", "update", key={"id": 1}, after={"id": 1, "name": "a2", "qty": 6}),
        env("p4", "delete", key={"id": 2}),
        env("p5", "snapshot", after={"id": 3, "name": "c", "qty": 9}),
        env("p6", "unspecified"),  # silent no-op
    ]
    src = tmp_path / "cdc_in"
    src.mkdir()
    (src / "batch0.json").write_text("\n".join(json.dumps(r) for r in records))

    stream = read_cdc_stream(spark, str(src))
    q = apply_cdc_stream(
        stream, wh, "items", ["id"], checkpoint_dir=str(tmp_path / "ckpt_cdc")
    )
    q.awaitTermination(120)

    got = {r["id"]: (r["name"], r["qty"]) for r in wh.read("items").collect()}
    # id=1 upserted then updated (LWW → update wins); id=2 deleted; id=3 inserted
    assert got == {1: ("a2", 6), 3: ("c", 9)}
    # schema conformance: integral-in-float 5.0 coerced on the way in
    assert dict(wh.read("items").dtypes)["qty"] == "int"


def test_cdc_stream_dead_letter_quarantine(spark, tmp_path):
    # reference error contract (SparkDestinationStream.java:70-92): a bad
    # record fails ALONE; the rest of the batch commits. One malformed
    # payload, one keyless delete and two payloads that do not conform to
    # the table schema quarantine to the DLQ table while the other records
    # apply.
    wh = ParquetWarehouse(spark, str(tmp_path / "warehouse"))
    wh.create_table("items", TABLE_SCHEMA)
    records = [
        env("p1", "create", after={"id": 1, "name": "a", "qty": 5}),
        {  # malformed payload bytes — records.py: "input data is not JSON"
            "position": "p2",
            "operation": "create",
            "key": None,
            "before": None,
            "after": "{not json",
            "metadata": {},
        },
        env("p3", "delete"),  # keyless delete — "key has no fields"
        env("p4", "create", after={"id": 2, "name": "b", "qty": 7}),
        env("p5", "unspecified"),  # still a silent no-op, NOT an error
        env("p6", "create", after={"id": 3, "name": "c", "qty": 12.5}),
        env("p7", "create", after={"id": 4, "name": "d", "qty": "7"}),
    ]
    src = tmp_path / "cdc_in"
    src.mkdir()
    (src / "b0.json").write_text("\n".join(json.dumps(r) for r in records))

    q = apply_cdc_stream(
        read_cdc_stream(spark, str(src)),
        wh,
        "items",
        ["id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        dead_letter_table="items_dlq",
    )
    q.awaitTermination(120)

    got = {r["id"]: (r["name"], r["qty"]) for r in wh.read("items").collect()}
    assert got == {1: ("a", 5), 2: ("b", 7)}  # N-1 committed
    dlq = {r["position"]: r["error"] for r in wh.read("items_dlq").collect()}
    assert dlq == {
        "p2": "input data is not JSON",
        "p3": "key has no fields",
        "p6": "field 'qty' does not conform to int",
        "p7": "payload does not conform to the table schema",
    }


def test_cdc_stream_second_epoch_incremental(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "warehouse"))
    wh.create_table("items", TABLE_SCHEMA)
    src = tmp_path / "cdc_in"
    src.mkdir()
    (src / "b0.json").write_text(
        json.dumps(env("p1", "create", after={"id": 1, "name": "a", "qty": 1}))
    )
    ckpt = str(tmp_path / "ckpt")
    apply_cdc_stream(read_cdc_stream(spark, str(src)), wh, "items", ["id"], ckpt).awaitTermination(120)

    # second epoch: restart from the same checkpoint; only the new file runs
    (src / "b1.json").write_text(
        json.dumps(env("p2", "update", key={"id": 1}, after={"id": 1, "name": "z", "qty": 2}))
    )
    apply_cdc_stream(read_cdc_stream(spark, str(src)), wh, "items", ["id"], ckpt).awaitTermination(120)

    assert [(r["id"], r["name"], r["qty"]) for r in wh.read("items").collect()] == [
        (1, "z", 2)
    ]


# ------------------------------------------------------------- window rollups


def test_tumbling_rollup_matches_batch(spark, tmp_path, events_df):
    stream = stream_of(spark, tmp_path, events_df, "ev_tumble")
    # update mode: emits every touched window each epoch; with one input
    # batch that's exactly the final value per window (append would hold
    # back windows the watermark hasn't closed)
    got = run_to_memory(
        tumbling_rollup(stream), tmp_path, "tumble_out", output_mode="update"
    )
    # batch twin on the same data with the same expressions
    expect = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_rollup(events_df).collect()
    }
    rows = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in got.collect()
    }
    assert rows == expect and len(rows) == 3


def test_session_rollup_matches_batch(spark, tmp_path, events_df):
    # session windows are append-only: a session is emitted when the
    # watermark passes its end. Stage two micro-batches — the real events,
    # then a far-future "flush" event that advances the watermark (computed
    # at batch boundaries) past every real session.
    import glob
    import os
    import shutil

    flush = events_df.limit(1).select(
        F.lit(99).cast("long").alias("user_id"),
        F.to_timestamp(F.lit("2024-01-02 10:00:00")).alias("ts"),
        F.lit("flush").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(999).cast("long").alias("event_id"),
    )
    src = tmp_path / "ev_sess"
    src.mkdir()
    for i, df in enumerate([events_df, flush]):
        stage = str(tmp_path / f"stage_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dest = str(src / f"{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1000 + i, 1000 + i))  # deterministic arrival order

    stream = (
        spark.readStream.schema(events_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got = run_to_memory(
        session_rollup(stream), tmp_path, "sess_out", output_mode="append"
    ).collect()
    sessions = {(r["user_id"], str(r["session_start"])): r["n_events"] for r in got}
    # user 1 splits into 2 sessions (2h gap > 30min); user 2 has 1 session
    assert sessions == {
        (1, "2024-01-01 10:00:00"): 2,
        (1, "2024-01-01 13:00:00"): 1,
        (2, "2024-01-01 10:05:00"): 2,
    }


def test_dedup_stream_drops_duplicates(spark, tmp_path, events_df):
    stream = stream_of(spark, tmp_path, events_df, "ev_dedup")
    got = run_to_memory(
        dedup_stream(stream, ["event_id"]), tmp_path, "dedup_out"
    ).collect()
    assert sorted(r["event_id"] for r in got) == [1, 2, 3, 4]


# ---------------------------------------------------------- stateful operator


def test_running_user_totals(spark, tmp_path, events_df):
    stream = stream_of(spark, tmp_path, events_df, "ev_state")
    # idle_timeout_ms=None: with ProcessingTimeTimeout the availableNow
    # trigger never self-terminates (timeout-check batches keep coming) and
    # this test would eat run_to_memory's full await timeout.
    got = run_to_memory(
        running_user_totals(stream, idle_timeout_ms=None),
        tmp_path, "totals_out", output_mode="update",
    ).collect()
    by_user = {r["user_id"]: r for r in got}
    assert by_user[1]["n_events"] == 3 and by_user[1]["sum_value"] == 7.0
    assert by_user[2]["n_events"] == 2 and by_user[2]["sum_value"] == 16.0
    assert str(by_user[1]["last_ts"]) == "2024-01-01 13:00:00"


def test_anomaly_flags_across_epochs(spark, tmp_path):
    """Stream twin of events_anomaly_zscore: per-user state (n, s1, s2)
    survives query restarts via the checkpoint; a spike epoch is flagged
    against the prior history with the same exact integer test, while a
    steady user never flags."""
    src = tmp_path / "anomaly_in"
    src.mkdir()
    ckpt = tmp_path / "anomaly_ckpt"
    # fork the session: 2 state-store partitions instead of 32 makes the
    # three checkpointed restarts cheap (state itself is layout-agnostic)
    sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", "2")

    def run_epoch(name, counts):
        rows = [(uid,) for uid, c in counts.items() for _ in range(c)]
        sess.createDataFrame(rows, "user_id long").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        stream = sess.readStream.schema("user_id long").parquet(str(src))
        seen = []
        q = (
            anomaly_flags(stream, idle_timeout_ms=None)
            .writeStream.foreachBatch(
                lambda batch, _id: seen.extend(batch.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["user_id"]: r for r in seen}

    # two steady epochs build the minimum history (n >= 2) for both users
    for i in range(2):
        out = run_epoch(f"anomaly_e{i}", {1: 2, 2: 3})
        assert not out[1]["is_anomaly"] and not out[2]["is_anomaly"]
        assert out[1]["n_prior"] == i

    # spike epoch: user 1 jumps to 10 (dev=16, variance 0 -> flagged);
    # user 2 stays at its mean (dev=0 -> never flagged)
    out = run_epoch("anomaly_spike", {1: 10, 2: 3})
    assert out[1]["is_anomaly"] and out[1]["epoch_count"] == 10
    assert out[1]["n_prior"] == 2
    assert not out[2]["is_anomaly"]


# ------------------------------------------------- Iceberg MERGE dispatch


def test_apply_cdc_batch_iceberg_merge_path(spark, tmp_path):
    """A store exposing merge_apply gets ONE table-shaped source with the
    __op marker — the atomic-MERGE path — instead of the CoW rewrite."""
    from conduit_connector_s3_iceberg_spark.streaming.cdc import (
        apply_cdc_batch,
        decode_cdc,
    )

    class FakeIcebergStore:
        def __init__(self):
            self.calls = []

        def schema(self, table):
            return TABLE_SCHEMA

        def merge_apply(self, table, source, key_fields):
            self.calls.append((table, source.collect(), key_fields))

    records = [
        env("p1", "create", after={"id": 1, "name": "a", "qty": 5}),
        env("p2", "update", key={"id": 1}, after={"id": 1, "name": "a2", "qty": 6}),
        env("p3", "delete", key={"id": 2}),
    ]
    envelope = spark.createDataFrame(
        [tuple(r[c] for c in ("position", "operation", "key", "before", "after", "metadata"))
         for r in records],
        "position string, operation string, key string, before string, "
        "after string, metadata map<string,string>",
    )
    store = FakeIcebergStore()
    apply_cdc_batch(store, "items", decode_cdc(envelope, TABLE_SCHEMA, ["id"]), ["id"])

    (table, rows, keys), = store.calls
    assert table == "items" and keys == ["id"]
    by_id = {r["id"]: (r["name"], r["qty"], r["__op"]) for r in rows}
    # LWW collapsed: id=1 final state is the update, as an upsert row;
    # id=2 is a delete row with the key materialized from the envelope key
    assert by_id == {1: ("a2", 6, "upsert"), 2: (None, None, "delete")}


# --------------------------------------------------------- stream-stream join


def test_stream_stream_join_within_horizon(spark, tmp_path):
    from conduit_connector_s3_iceberg_spark.streaming.joins import stream_stream_join

    clicks = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "c1"), (2, "2024-01-01 09:00:00", "c2")],
        "user_id long, cts_s string, click_id string",
    ).select("user_id", F.to_timestamp("cts_s").alias("click_ts"), "click_id")
    convs = spark.createDataFrame(
        [
            (1, "2024-01-01 10:30:00", "v1"),   # within 1h of c1 → joins
            (1, "2024-01-01 12:00:00", "v2"),   # outside horizon → dropped
            (2, "2024-01-01 08:30:00", "v3"),   # before the click → dropped
        ],
        "user_id long, vts_s string, conv_id string",
    ).select("user_id", F.to_timestamp("vts_s").alias("conv_ts"), "conv_id")

    joined = stream_stream_join(
        stream_of(spark, tmp_path, clicks, "ss_clicks"),
        stream_of(spark, tmp_path, convs, "ss_convs"),
        key="user_id",
        left_time="click_ts",
        right_time="conv_ts",
        within="1 hour",
    )
    rows = run_to_memory(joined, tmp_path, "ss_out").collect()
    assert [(r["user_id"], r["click_id"], r["conv_id"]) for r in rows] == [
        (1, "c1", "v1")
    ]


# ------------------------------------------------------ epoch re-delivery


def test_cdc_apply_is_idempotent_on_redelivery(spark, tmp_path):
    """foreachBatch gives at-least-once epoch delivery; the MERGE-shaped
    apply (replace-by-key upserts, key deletes) must be idempotent so
    re-running an epoch cannot corrupt the table (effectively-once)."""
    from conduit_connector_s3_iceberg_spark.streaming.cdc import (
        apply_cdc_batch,
        decode_cdc,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "wh_idem"))
    wh.create_table("items", TABLE_SCHEMA)
    records = [
        env("p1", "create", after={"id": 1, "name": "a", "qty": 5}),
        env("p2", "delete", key={"id": 99}),  # delete of an absent key: no-op
    ]
    envelope = spark.createDataFrame(
        [tuple(r[c] for c in ("position", "operation", "key", "before", "after", "metadata"))
         for r in records],
        "position string, operation string, key string, before string, "
        "after string, metadata map<string,string>",
    )
    for _ in range(2):  # same epoch applied twice
        apply_cdc_batch(
            wh, "items", decode_cdc(envelope, TABLE_SCHEMA, ["id"]), ["id"]
        )
    assert [(r["id"], r["name"], r["qty"]) for r in wh.read("items").collect()] == [
        (1, "a", 5)
    ]


# -------------------------------------------------- streaming corpus clean


def test_clean_doc_stream_matches_batch_pipeline(spark, tmp_path):
    """The streaming cleaning pipeline over real corpus docs: gates must
    admit exactly the batch pipeline's survivors (same expressions), and
    within-watermark dedup must leave one row per fingerprint."""
    from conduit_connector_s3_iceberg_spark.operators.text import (
        pipeline_training_set,
    )
    from conduit_connector_s3_iceberg_spark.sources.tables import load_table
    from conduit_connector_s3_iceberg_spark.streaming import clean_doc_stream

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    # give every doc the same event time: all duplicates are inside the
    # watermark horizon → streaming dedup covers the whole (bounded) input
    with_ts = docs.withColumn("ingest_ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    src = stream_of(spark, tmp_path, with_ts, "docs_src")
    out = run_to_memory(
        clean_doc_stream(src), tmp_path, "cleaned_docs", output_mode="append"
    )
    got = out.collect()

    batch = pipeline_training_set(spark, sf).collect()
    batch_by_fp = {r.content_fp: r for r in batch}

    # one survivor per fingerprint, same fingerprint set as batch
    fps = [r.content_fp for r in got]
    assert len(fps) == len(set(fps))
    assert set(fps) == set(batch_by_fp)
    # and identical signals for each surviving fingerprint
    for r in got:
        b = batch_by_fp[r.content_fp]
        assert r.n_tokens == b.n_tokens
        assert r.quality == b.quality


def test_clean_doc_stream_dedup_horizon(spark, tmp_path):
    """Pins the watermark-horizon dedup semantics: a duplicate inside the
    horizon is dropped (state alive); a duplicate arriving after its
    original's state was evicted is ADMITTED — the bounded-state tradeoff
    (the batch dedup compaction removes such stragglers later). Note the
    guarantee is one-sided: eviction is applied at batch boundaries AFTER
    input processing, so expiry takes effect one batch later — hence the
    intermediate flush batch before the late duplicate."""
    import glob
    import os
    import shutil

    from conduit_connector_s3_iceberg_spark.streaming import clean_doc_stream

    text_a = "the cat and the dog run to the house of the king in a field"
    text_b = "the bird and the fish swim to the lake of the queen in a garden"
    text_f = "the fox and the hare race to the barn of the farmer in a meadow"
    text_g = "the owl and the wolf walk to the cave of the miner in a valley"

    def docs_df(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, ts_s string"
        ).select("doc_id", "text", F.to_timestamp("ts_s").alias("ingest_ts"))

    batches = [
        # originals
        docs_df([(1, text_a, "2024-01-01 10:00:00"),
                 (2, text_b, "2024-01-01 10:00:00")]),
        # in-horizon duplicate of B (state alive -> dropped) + a flush doc
        # whose event time advances the watermark past A/B state expiry
        docs_df([(3, text_b, "2024-01-01 10:05:00"),
                 (4, text_f, "2024-01-01 11:00:00")]),
        # intermediate batch: eviction of A/B state actually runs here
        docs_df([(6, text_g, "2024-01-01 11:30:00")]),
        # duplicate of A arriving AFTER its state was evicted -> admitted
        docs_df([(5, text_a, "2024-01-01 12:00:00")]),
    ]
    src = tmp_path / "doc_stream"
    src.mkdir()
    for i, df in enumerate(batches):
        stage = str(tmp_path / f"doc_stage_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dest = str(src / f"{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1000 + i, 1000 + i))  # deterministic arrival order

    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_to_memory(
        clean_doc_stream(stream, watermark="10 minutes"),
        tmp_path,
        "horizon_out",
        output_mode="append",
    ).collect()
    got_ids = sorted(r.doc_id for r in out)
    # every text must pass the language/quality gates for the scenario to
    # be about dedup (not filtering)
    assert got_ids == [1, 2, 4, 5, 6], got_ids


def test_stream_static_enrichment(spark, tmp_path, events_df):
    """Stream-static join: every streamed event is enriched from a batch
    dimension (broadcast, stateless — no watermark or state store)."""
    from conduit_connector_s3_iceberg_spark.streaming import enrich_stream

    dim = spark.createDataFrame(
        [(1, "gold"), (2, "basic")], "user_id long, tier string"
    )
    stream = stream_of(spark, tmp_path, events_df, "ev_enrich")
    out = run_to_memory(
        enrich_stream(stream, dim, "user_id"), tmp_path, "enrich_out"
    ).collect()
    assert len(out) == events_df.count()
    tiers = {r.user_id: r.tier for r in out}
    assert tiers == {1: "gold", 2: "basic"}


# ------------------------------------------------------------------ IVM

def _summary_of(wh, base_table):
    return {
        (r["name"],): (r["n_rows"], r["sum_qty"])
        for r in wh.read(base_table)
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("qty").alias("sum_qty"))
        .collect()
    }


def test_ivm_summary_matches_batch_recompute(spark, tmp_path):
    # the summary maintained incrementally from the CDC feed must equal a
    # full groupBy recompute over the base table maintained from the SAME
    # feed — across multiple epochs, including updates and deletes with
    # before-images (the IVM completeness condition).
    from conduit_connector_s3_iceberg_spark.streaming import (
        maintain_summary_stream,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "warehouse"))
    wh.create_table("items", TABLE_SCHEMA)
    src = tmp_path / "cdc_in"
    src.mkdir()
    (src / "b0.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                env("p1", "create", after={"id": 1, "name": "a", "qty": 5}),
                env("p2", "create", after={"id": 2, "name": "b", "qty": 7}),
                env("p3", "create", after={"id": 3, "name": "a", "qty": 9}),
            ]
        )
    )
    base_ckpt, sum_ckpt = str(tmp_path / "ckpt_base"), str(tmp_path / "ckpt_sum")

    def run_both():
        apply_cdc_stream(
            read_cdc_stream(spark, str(src)), wh, "items", ["id"], base_ckpt
        ).awaitTermination(120)
        maintain_summary_stream(
            read_cdc_stream(spark, str(src)),
            wh,
            "items_by_name",
            TABLE_SCHEMA,
            ["name"],
            ["qty"],
            sum_ckpt,
        ).awaitTermination(120)

    run_both()
    got = {
        (r["name"],): (r["n_rows"], r["sum_qty"])
        for r in wh.read("items_by_name").collect()
    }
    assert got == _summary_of(wh, "items") == {("a",): (2, 14), ("b",): (1, 7)}

    # epoch 2: update moves qty, delete retracts a group member, new insert
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                env(
                    "p4",
                    "update",
                    key={"id": 2},
                    before={"id": 2, "name": "b", "qty": 7},
                    after={"id": 2, "name": "b", "qty": 11},
                ),
                env(
                    "p5",
                    "delete",
                    key={"id": 3},
                    before={"id": 3, "name": "a", "qty": 9},
                ),
                env("p6", "create", after={"id": 4, "name": "c", "qty": 2}),
            ]
        )
    )
    run_both()
    got = {
        (r["name"],): (r["n_rows"], r["sum_qty"])
        for r in wh.read("items_by_name").collect()
    }
    assert (
        got
        == _summary_of(wh, "items")
        == {("a",): (1, 5), ("b",): (1, 11), ("c",): (1, 2)}
    )


def test_ivm_rejects_update_without_before_image(spark, tmp_path):
    # silently skipping an incomplete retraction would drift the summary
    # forever — the epoch must fail loudly instead
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from conduit_connector_s3_iceberg_spark.streaming import (
        maintain_summary_stream,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "warehouse"))
    src = tmp_path / "cdc_in"
    src.mkdir()
    (src / "b0.json").write_text(
        json.dumps(
            env("p1", "update", key={"id": 1}, after={"id": 1, "name": "a", "qty": 2})
        )
    )
    q = maintain_summary_stream(
        read_cdc_stream(spark, str(src)),
        wh,
        "s",
        TABLE_SCHEMA,
        ["name"],
        ["qty"],
        str(tmp_path / "ckpt"),
    )
    with pytest.raises(StreamingQueryException, match="IVM requires before-images"):
        q.awaitTermination(120)


@pytest.mark.parametrize(
    "record, reason",
    [
        (env("p1", "bogus", after={"id": 1, "name": "a", "qty": 2}), "unknown operation: bogus"),
        (env("p1", "create"), "record has no payload"),
    ],
    ids=["unknown_op", "create_without_payload"],
)
def test_ivm_delta_refuses_what_the_apply_refuses(spark, record, reason):
    # the epoch apply's record checks (streaming.cdc.record_error): an
    # unknown operation is not dropped, a payload-less create is not a +1
    # row of NULLs
    from conduit_connector_s3_iceberg_spark.streaming import cdc_delta_frame

    envelope = spark.createDataFrame([record], "position string, operation string, "
                                     "key string, before string, after string, "
                                     "metadata map<string,string>")
    with pytest.raises(Exception, match=reason):
        cdc_delta_frame(envelope, TABLE_SCHEMA).collect()


# ------------------------------------------------- per-source quota (stateful)


def _run_quota(spark, tmp_path, build):
    """Drive a quota stream builder through two availableNow epochs against
    one growing json dir; returns (epoch1 rows, epoch2 rows) keyed by doc."""
    import json as _json

    path = tmp_path / "quota_in"
    path.mkdir()
    mk = lambda i, src: {"source": src, "doc_id": i}  # noqa: E731
    (path / "b0.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [mk(1, "srcA"), mk(2, "srcA"), mk(3, "srcA"), mk(4, "srcB")]
        )
    )
    schema = "source string, doc_id long"

    def epoch(name):
        # foreachBatch sink: the memory sink cannot recover from a
        # checkpoint, and this harness restarts the query for epoch 2
        rows = []

        def sink(batch, _epoch_id):
            rows.extend(batch.collect())

        q = (
            build(spark.readStream.schema(schema).json(str(path)))
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_quota"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["doc_id"]: (r["quota_rank"], r["admitted"]) for r in rows}

    first = epoch("quota_e1")
    (path / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in [mk(5, "srcA"), mk(6, "srcB")])
    )
    second = epoch("quota_e2")
    return first, second


def _assert_quota(first, second):
    assert first == {1: (1, True), 2: (2, True), 3: (3, False), 4: (1, True)}
    # counters persisted across the checkpointed restart: srcA's 4th doc is
    # rank 4 / rejected, srcB's 2nd is rank 2 / admitted
    assert second == {5: (4, False), 6: (2, True)}


def test_source_quota_stream_legacy_twin(spark, tmp_path):
    from conduit_connector_s3_iceberg_spark.streaming.quota import (
        per_source_quota_stream_legacy,
    )

    first, second = _run_quota(
        spark, tmp_path, lambda s: per_source_quota_stream_legacy(s, cap=2)
    )
    _assert_quota(first, second)


@pytest.mark.skipif(
    not __import__(
        "conduit_connector_s3_iceberg_spark.streaming.quota", fromlist=["x"]
    ).tws_runtime_available(),
    reason="transformWithState needs the google.protobuf runtime "
    "(absent in this container; see streaming/quota.py env note)",
)
def test_source_quota_stream_transform_with_state(spark, tmp_path):
    from conduit_connector_s3_iceberg_spark.streaming.quota import (
        ROCKSDB_PROVIDER,
        per_source_quota_stream,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        first, second = _run_quota(
            spark, tmp_path, lambda s: per_source_quota_stream(s, cap=2)
        )
        _assert_quota(first, second)
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_cms_register_stream_matches_batch(spark, tmp_path, events_df):
    """Streaming CMS maintenance: registers folded epoch-by-epoch equal the
    single-pass batch registers exactly (additive merge — epoch boundaries
    cannot change counts)."""
    import glob
    import os
    import shutil

    from conduit_connector_s3_iceberg_spark.operators.sketches import (
        cms_batch_hits,
        maintain_cms_stream,
    )
    from conduit_connector_s3_iceberg_spark.writer import ParquetWarehouse

    # stage the events as two files -> two micro-batches
    src = tmp_path / "cms_src"
    src.mkdir()
    halves = [events_df.filter(F.col("event_id") <= 2),
              events_df.filter(F.col("event_id") > 2)]
    for i, df in enumerate(halves):
        stage = str(tmp_path / f"cms_stage_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dest = str(src / f"{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema(events_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    wh = ParquetWarehouse(spark, str(tmp_path / "cms_wh"))
    q = maintain_cms_stream(
        stream, wh, "cms_regs", "user_id", str(tmp_path / "cms_ckpt")
    )
    q.awaitTermination(120)

    got = {
        (r["hrow"], r["bucket"]): r["cnt"]
        for r in wh.read("cms_regs").collect()
    }
    expect = {
        (r["hrow"], r["bucket"]): r["cnt"]
        for r in cms_batch_hits(events_df, "user_id").collect()
    }
    assert got == expect and len(got) > 0

    # replay safety: foreachBatch is at-least-once — re-delivering an
    # already-applied epoch must NOT double-count (r3 ADVICE). The epoch
    # watermark sidecar makes apply_cms_epoch idempotent per epoch_id.
    from conduit_connector_s3_iceberg_spark.operators.sketches import (
        apply_cms_epoch,
    )

    last_epoch = wh.read("cms_regs__applied_epoch").collect()[0]["epoch_id"]
    apply_cms_epoch(wh, "cms_regs", "user_id", halves[1], last_epoch)
    replayed = {
        (r["hrow"], r["bucket"]): r["cnt"]
        for r in wh.read("cms_regs").collect()
    }
    assert replayed == expect
    # a genuinely NEW epoch still folds in
    apply_cms_epoch(wh, "cms_regs", "user_id", halves[1], last_epoch + 1)
    bumped = {
        (r["hrow"], r["bucket"]): r["cnt"]
        for r in wh.read("cms_regs").collect()
    }
    assert sum(bumped.values()) > sum(expect.values())


def test_trending_topk_stream_matches_batch(spark, tmp_path, events_df):
    """Windowed top-k trending: per closed tumbling window, the streamed
    rank table equals the batch window-count + rank twin."""
    from pyspark.sql import Window as W

    from conduit_connector_s3_iceberg_spark.streaming.windows import (
        trending_topk_stream,
    )
    from conduit_connector_s3_iceberg_spark.writer import ParquetWarehouse

    # far-future flush event advances the watermark past every real window
    flush = events_df.limit(1).select(
        F.lit(99).cast("long").alias("user_id"),
        F.to_timestamp(F.lit("2024-01-03 00:00:00")).alias("ts"),
        F.lit("flush").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(999).cast("long").alias("event_id"),
    )
    import glob
    import os
    import shutil

    src = tmp_path / "trend_src"
    src.mkdir()
    for i, df in enumerate([events_df, flush]):
        stage = str(tmp_path / f"trend_stage_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dest = str(src / f"{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema(events_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    wh = ParquetWarehouse(spark, str(tmp_path / "trend_wh"))
    q = trending_topk_stream(
        stream, wh, "trending", str(tmp_path / "trend_ckpt"), k=2
    )
    q.awaitTermination(120)

    got = {
        (str(r["window_start"]), r["rank"]): (r["event_type"], r["n_events"])
        for r in wh.read("trending").collect()
    }
    batch = (
        events_df.groupBy(
            F.window("ts", "1 hour").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )
    w = W.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    expect = {
        (str(r["window_start"]), r["rank"]): (r["event_type"], r["n_events"])
        for r in batch.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .collect()
    }
    assert got == expect and len(got) > 0


def test_observed_attrition_metrics_match_batch_counts(spark, tmp_path):
    """df.observe + listener: per-epoch gate counters must sum to exactly
    the batch-computed pass counts, with zero extra passes over the data
    (observation rides the epoch's own aggregation)."""
    from conduit_connector_s3_iceberg_spark.operators.text import (
        QUALITY_THRESHOLD,
    )
    from conduit_connector_s3_iceberg_spark.sources.tables import load_table
    from conduit_connector_s3_iceberg_spark.streaming.metrics import (
        AttritionListener,
        gate_flags,
        observe_attrition,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    flags = gate_flags(QUALITY_THRESHOLD)
    expected = docs.select(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f.cast("long")).alias(g) for g, f in flags.items()],
    ).collect()[0]

    listener = AttritionListener()
    spark.streams.addListener(listener)
    try:
        src = stream_of(spark, tmp_path, docs, "obs_src")
        observed = observe_attrition(src, gate_flags(QUALITY_THRESHOLD))
        q = (
            observed.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt_obs"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        totals = listener.wait_for_total("n_rows", expected["n"])
    finally:
        spark.streams.removeListener(listener)

    assert totals["n_rows"] == expected["n"]
    for g in flags:
        assert totals[f"pass_{g}"] == expected[g], g


def test_stream_stream_left_outer_emits_unmatched_at_close(spark, tmp_path):
    """Left-outer stream-stream join: a click with no conversion inside the
    horizon must STILL be emitted (null-extended) once the watermark closes
    its window — the attribution-with-unconverted-rows case the inner join
    silently drops. A late flush batch advances the watermark so the
    unmatched row's state can close within the test."""
    from conduit_connector_s3_iceberg_spark.streaming.joins import (
        stream_stream_join,
    )

    clicks = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", "c1"),   # converts
            (2, "2024-01-01 10:00:00", "c2"),   # never converts
            (9, "2024-01-02 12:00:00", "cw"),   # watermark pusher
        ],
        "user_id long, cts_s string, click_id string",
    ).select("user_id", F.to_timestamp("cts_s").alias("click_ts"), "click_id")
    convs = spark.createDataFrame(
        [
            (1, "2024-01-01 10:30:00", "v1"),
            (9, "2024-01-02 12:00:00", "vw"),   # watermark pusher
        ],
        "user_id long, vts_s string, conv_id string",
    ).select("user_id", F.to_timestamp("vts_s").alias("conv_ts"), "conv_id")

    joined = stream_stream_join(
        stream_of(spark, tmp_path, clicks, "lo_clicks"),
        stream_of(spark, tmp_path, convs, "lo_convs"),
        key="user_id",
        left_time="click_ts",
        right_time="conv_ts",
        within="1 hour",
        watermark="0 seconds",
        how="leftOuter",
    )
    rows = run_to_memory(joined, tmp_path, "lo_out").collect()
    got = {(r["click_id"], r["conv_id"]) for r in rows}
    assert ("c1", "v1") in got
    assert ("c2", None) in got  # unmatched left row, null-extended


def test_cusum_stream_matches_batch_across_epochs(spark, tmp_path):
    """Streaming CUSUM with a frozen batch-trained reference: after
    draining the daily series in TWO epochs (state carried through the
    checkpoint), the emitted per-day rows must equal the batch query's —
    same integer recursion, same alarms."""
    from conduit_connector_s3_iceberg_spark.plans.events import (
        events_cusum_changepoints,
    )
    from conduit_connector_s3_iceberg_spark.sources.tables import load_table
    from conduit_connector_s3_iceberg_spark.streaming.drift import (
        CUSUM_SCALE,
        cusum_drift_stream,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    refs = {
        r["event_type"]: round(
            CUSUM_SCALE * r["s"] / r["d"]
        )
        for r in daily.groupBy("event_type")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("d"))
        .collect()
    }
    # true restart test: epoch 0 runs to completion and the query stops;
    # epoch 1's file arrives; a NEW query on the SAME checkpoint resumes
    # and must continue each series' recursion from checkpointed state.
    # A file sink (unlike memory) supports checkpoint recovery.
    import glob
    import shutil

    def add_epoch_file(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        [part] = glob.glob(str(stage / "part-*.parquet"))
        shutil.move(part, str(src_dir / f"{name}.parquet"))

    cut = sorted({r["day"] for r in daily.select("day").distinct().collect()})[19]
    src_dir = tmp_path / "cusum_src"
    src_dir.mkdir()
    out_dir = str(tmp_path / "cusum_out")
    ckpt = str(tmp_path / "ckpt_cusum")

    def run_epoch():
        q = (
            cusum_drift_stream(
                spark.readStream.schema(daily.schema).parquet(str(src_dir)),
                refs,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    add_epoch_file(daily.filter(F.col("day") <= F.lit(cut)), "e0")
    run_epoch()
    add_epoch_file(daily.filter(F.col("day") > F.lit(cut)), "e1")
    run_epoch()
    got = {
        (r["event_type"], r["day"]): (r["cusum_scaled"], r["drifted"])
        for r in spark.read.schema(
            "event_type string, day date, x long, cusum_scaled long,"
            " drifted boolean"
        ).parquet(out_dir).collect()
    }
    batch = {
        (r["event_type"], r["day"]): (r["cusum_scaled"], r["drifted"])
        for r in events_cusum_changepoints(spark, sf).collect()
    }
    assert got == batch


def test_composition_chisq_matches_batch(spark, tmp_path):
    """The chi-square computed over the IVM-maintained (lang, source)
    summary equals the batch recompute over the base table maintained
    from the SAME CDC feed — across epochs with an update that moves a
    doc between languages and a delete (both with before-images)."""
    from conduit_connector_s3_iceberg_spark.operators.corpus import (
        chisq_from_counts,
    )
    from conduit_connector_s3_iceberg_spark.streaming import (
        maintain_summary_stream,
    )
    from conduit_connector_s3_iceberg_spark.streaming.corpus import (
        composition_chisq_from_summary,
    )

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
        ]
    )
    wh = ParquetWarehouse(spark, str(tmp_path / "warehouse"))
    wh.create_table("docs", doc_schema)
    src = tmp_path / "cdc_in"
    src.mkdir()
    (src / "b0.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                env("p1", "create", after={"doc_id": 1, "lang": "en", "source": "s0"}),
                env("p2", "create", after={"doc_id": 2, "lang": "en", "source": "s1"}),
                env("p3", "create", after={"doc_id": 3, "lang": "de", "source": "s0"}),
                env("p4", "create", after={"doc_id": 4, "lang": "de", "source": "s1"}),
                env("p5", "create", after={"doc_id": 5, "lang": "en", "source": "s0"}),
            ]
        )
    )
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                env(
                    "p6",
                    "update",
                    key={"doc_id": 4},
                    before={"doc_id": 4, "lang": "de", "source": "s1"},
                    after={"doc_id": 4, "lang": "en", "source": "s1"},
                ),
                env(
                    "p7",
                    "delete",
                    key={"doc_id": 5},
                    before={"doc_id": 5, "lang": "en", "source": "s0"},
                ),
                env("p8", "create", after={"doc_id": 6, "lang": "zh", "source": "s1"}),
            ]
        )
    )
    apply_cdc_stream(
        read_cdc_stream(spark, str(src)),
        wh,
        "docs",
        ["doc_id"],
        str(tmp_path / "ckpt_base"),
    ).awaitTermination(120)
    maintain_summary_stream(
        read_cdc_stream(spark, str(src)),
        wh,
        "docs_by_ls",
        doc_schema,
        ["lang", "source"],
        [],
        str(tmp_path / "ckpt_sum"),
    ).awaitTermination(120)

    stream_row = composition_chisq_from_summary(wh.read("docs_by_ls")).collect()
    batch_row = chisq_from_counts(
        wh.read("docs")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ).collect()
    assert [tuple(r) for r in stream_row] == [tuple(r) for r in batch_row]
    [r] = stream_row
    # net corpus: 5 docs (doc 5 deleted, doc 6 added), 3 langs, 2 sources
    assert (r.n_docs, r.n_langs, r.n_sources) == (5, 3, 2)


def test_route_cdc_batch_partitions_epoch_by_collection(spark, tmp_path):
    """Columnar multi-collection routing: one envelope epoch fans out to
    per-collection tables with per-table LWW apply; unstamped records go
    to the default; an unconfigured collection raises."""
    from conduit_connector_s3_iceberg_spark.streaming.cdc import (
        route_cdc_batch,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "warehouse"))
    wh.create_table("items", TABLE_SCHEMA)
    wh.create_table("things", TABLE_SCHEMA)

    def row(pos, op, after=None, key=None, coll=None):
        e = env(pos, op, key=key, after=after)
        if coll is not None:
            e["metadata"] = {"opencdc.collection": coll}
        return e

    batch = [
        row("p1", "create", after={"id": 1, "name": "a", "qty": 5}),
        row("p2", "create", after={"id": 2, "name": "b", "qty": 6}, coll="things"),
        # LWW within the routed slice: the update supersedes the insert
        row(
            "p3",
            "update",
            key={"id": 2},
            after={"id": 2, "name": "b2", "qty": 7},
            coll="things",
        ),
    ]
    envelope = spark.createDataFrame(
        [json.loads(json.dumps(r)) for r in batch],
        "position string, operation string, key string, before string,"
        " after string, metadata map<string,string>",
    )
    applied = route_cdc_batch(
        wh, envelope, {"items": ["id"], "things": ["id"]}, "items"
    )
    assert applied == {"items": 1, "things": 2}
    assert [(r.id, r.name) for r in wh.read("items").collect()] == [(1, "a")]
    assert [(r.id, r.name, r.qty) for r in wh.read("things").collect()] == [
        (2, "b2", 7)
    ]

    bad = spark.createDataFrame(
        [json.loads(json.dumps(row("p9", "create",
                                   after={"id": 9, "name": "x", "qty": 1},
                                   coll="nope")))],
        envelope.schema,
    )
    with pytest.raises(ValueError, match="unknown collection"):
        route_cdc_batch(wh, bad, {"items": ["id"]}, "items")


def test_clean_doc_stream_repetition_gate_matches_batch(spark, tmp_path):
    """With repetition_gate=True the streaming pipeline's admitted set is
    the batch pipeline's survivors INTERSECTED with the batch Gopher
    gate's passers — the stateless per-row gate form composes
    pre-watermark without changing any other gate's verdict."""
    from conduit_connector_s3_iceberg_spark.operators.text import (
        pipeline_training_set,
        text_gopher_rules,
    )
    from conduit_connector_s3_iceberg_spark.sources.tables import load_table
    from conduit_connector_s3_iceberg_spark.streaming import clean_doc_stream

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    with_ts = docs.withColumn(
        "ingest_ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    )
    src = stream_of(spark, tmp_path, with_ts, "docs_src_gopher")
    out = run_to_memory(
        clean_doc_stream(src, repetition_gate=True),
        tmp_path,
        "cleaned_docs_gopher",
        output_mode="append",
    )
    got_fps = {r.content_fp for r in out.collect()}

    passers = {
        r["doc_id"]
        for r in text_gopher_rules(spark, sf).collect()
        if r["passes_gopher"]
    }
    batch = pipeline_training_set(spark, sf).collect()
    # batch survivors whose KEPT doc passes the gate (keep-first: the
    # fingerprint survives iff its keeper doc does — on this fixture all
    # docs share the gate verdict per fingerprint since dupes are copies)
    want = {r.content_fp for r in batch if r.doc_id in passers}
    assert got_fps == want
