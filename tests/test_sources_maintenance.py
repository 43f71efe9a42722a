"""File-source readers (schema-conformed FAILFAST) and warehouse maintenance."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

from conduit_connector_s3_iceberg_spark.sources.files import (
    read_binary,
    read_csv,
    read_json,
    rate_stream,
)
from conduit_connector_s3_iceberg_spark.writer import ParquetWarehouse

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
    ]
)


def test_read_json_schema_conformed(spark, tmp_path):
    p = tmp_path / "in.json"
    p.write_text('{"id": 1, "name": "a"}\n{"id": 2, "name": "b"}')
    rows = read_json(spark, str(p), SCHEMA).orderBy("id").collect()
    assert [(r["id"], r["name"]) for r in rows] == [(1, "a"), (2, "b")]


def test_read_json_failfast_rejects_malformed(spark, tmp_path):
    p = tmp_path / "bad.json"
    p.write_text('{"id": 1, "name": "a"}\nnot-json-at-all')
    with pytest.raises(Exception) as exc:
        read_json(spark, str(p), SCHEMA).collect()
    assert "Malformed" in str(exc.value) or "FAILFAST" in str(exc.value)


def test_read_csv_with_schema(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id,name\n1,a\n2,b\n")
    rows = read_csv(spark, str(p), SCHEMA).orderBy("id").collect()
    assert [(r["id"], r["name"]) for r in rows] == [(1, "a"), (2, "b")]


def test_read_binary_glob_and_size_pruning(spark, tmp_path):
    (tmp_path / "img0.jpg").write_bytes(b"\x00" * 10)
    (tmp_path / "img1.jpg").write_bytes(b"\x01" * 20)
    (tmp_path / "clip.wav").write_bytes(b"\x02" * 30)
    df = read_binary(spark, str(tmp_path), glob="*.jpg")
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"img0.jpg", "img1.jpg"}
    assert rows["img1.jpg"].length == 20
    assert bytes(rows["img0.jpg"].content) == b"\x00" * 10
    # size cap prunes before content is materialized downstream
    assert read_binary(spark, str(tmp_path), max_bytes=15).count() == 1


def test_rate_stream_is_streaming(spark):
    df = rate_stream(spark, rows_per_second=10)
    assert df.isStreaming
    assert set(df.columns) == {"timestamp", "value"}


def test_compact_reduces_file_count(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("t", SCHEMA)
    # simulate the reference's small-file pattern: many tiny appends
    for i in range(5):
        wh.append("t", spark.createDataFrame([(i, f"r{i}")], SCHEMA).repartition(4))
    before = wh.read("t").count()
    stats = wh.compact("t", target_files=2)
    assert stats["files_after"] <= 2 < stats["files_before"]
    assert wh.read("t").count() == before


def test_append_links_old_files_writes_only_delta(spark, tmp_path):
    """Append must be O(new data): previous data files carry over into the
    new version (hardlinks), only the appended rows become new files."""
    import os

    wh = ParquetWarehouse(spark, str(tmp_path / "wh2"))
    wh.create_table("t", SCHEMA)
    wh.append("t", spark.createDataFrame([(1, "a")], SCHEMA).coalesce(1))
    v1 = wh._current_path("t")
    v1_files = {f for f in os.listdir(v1) if f.endswith(".parquet")}

    wh.append("t", spark.createDataFrame([(2, "b")], SCHEMA).coalesce(1))
    v2 = wh._current_path("t")
    v2_files = {f for f in os.listdir(v2) if f.endswith(".parquet")}

    assert v1_files < v2_files  # old files carried over by name + new ones
    assert sorted((r["id"], r["name"]) for r in wh.read("t").collect()) == [
        (1, "a"),
        (2, "b"),
    ]


def _mk_versioned(spark, tmp_path, name="tt"):
    from pyspark.sql import functions as F

    wh = ParquetWarehouse(spark, str(tmp_path / name))
    wh.create_table("t", SCHEMA)
    wh.append("t", spark.createDataFrame([(1, "a")], SCHEMA))
    wh.append("t", spark.createDataFrame([(2, "b")], SCHEMA))
    wh.overwrite_where_not("t", F.col("id") == 1)
    return wh


def test_time_travel_reads_each_snapshot(spark, tmp_path):
    wh = _mk_versioned(spark, tmp_path)
    hist = wh.history("t")
    assert len(hist) == 4  # create, 2 appends, delete
    assert wh.read("t", 0).count() == 0
    assert sorted(r["id"] for r in wh.read("t", 2).collect()) == [1, 2]
    assert [r["id"] for r in wh.read("t").collect()] == [2]
    assert wh.read("t", -1).count() == 1
    # by-name read matches by-index read
    assert wh.read("t", hist[1]).count() == 1


def test_rollback_restores_old_data_and_extends_history(spark, tmp_path):
    wh = _mk_versioned(spark, tmp_path)
    before = len(wh.history("t"))
    wh.rollback("t", 2)
    assert sorted(r["id"] for r in wh.read("t").collect()) == [1, 2]
    assert len(wh.history("t")) == before + 1  # rollback is a forward commit


def test_expire_snapshots_keeps_current_readable(spark, tmp_path):
    wh = _mk_versioned(spark, tmp_path)
    old = wh.history("t")[0]
    stats = wh.expire_snapshots("t", keep_last=2)
    assert stats["expired"] == 2
    assert [r["id"] for r in wh.read("t").collect()] == [2]
    # expired snapshot is gone; survivors (incl. hardlink-shared files) read fine
    with pytest.raises(ValueError):
        wh.read("t", old)
    assert wh.read("t", -2).count() == 2


def test_expire_snapshots_counts_distinct_snapshots_after_rollback(spark, tmp_path):
    """A rollback to the current snapshot adds a second LOG line naming it;
    ``keep_last`` and the counts are in distinct snapshots."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("t", SCHEMA)
    for i in range(3):
        wh.append("t", spark.createDataFrame([(i, "r")], SCHEMA))
    current = wh.history("t")[-1]
    wh.rollback("t", current)
    assert wh.history("t")[-2:] == [current, current]
    assert wh.expire_snapshots("t", keep_last=2) == {"expired": 2, "kept": 2}
    assert len(set(wh.history("t"))) == 2
    assert wh.read("t", wh.history("t")[0]).count() == 2
    assert wh.read("t").count() == 3


PART_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("day", T.StringType()),
        T.StructField("v", T.IntegerType()),
    ]
)


def _mk_partitioned(spark, tmp_path, sort_by=None):
    wh = ParquetWarehouse(spark, str(tmp_path / "pwh"))
    wh.create_table("t", PART_SCHEMA, partition_by=["day"], sort_by=sort_by)
    wh.append(
        "t",
        spark.createDataFrame(
            [(1, "d1", 10), (2, "d1", 20), (3, "d2", 30)], PART_SCHEMA
        ),
    )
    return wh


def test_partitioned_roundtrip_and_empty_read(spark, tmp_path):
    wh = _mk_partitioned(spark, tmp_path)
    assert wh.read("t", 0).count() == 0  # empty partitioned version readable
    rows = wh.read("t").orderBy("id").collect()
    assert [(r["id"], r["day"], r["v"]) for r in rows] == [
        (1, "d1", 10),
        (2, "d1", 20),
        (3, "d2", 30),
    ]
    # hive layout on disk: day=d1 / day=d2 dirs
    import os

    cur = wh._current_path("t")
    assert sorted(d for d in os.listdir(cur) if d.startswith("day=")) == [
        "day=d1",
        "day=d2",
    ]


def test_partition_filter_prunes_directories(spark, tmp_path):
    from pyspark.sql import functions as F

    wh = _mk_partitioned(spark, tmp_path)
    plan = (
        wh.read("t")
        .filter(F.col("day") == "d2")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters")[1][:120]
    assert wh.read("t").filter(F.col("day") == "d2").count() == 1


def test_overwrite_partitions_touches_only_named_partition(spark, tmp_path):
    wh = _mk_partitioned(spark, tmp_path)
    stats = wh.overwrite_partitions(
        "t", spark.createDataFrame([(9, "d1", 99)], PART_SCHEMA)
    )
    assert stats["replaced_partitions"] == ["day=d1"]
    rows = wh.read("t").orderBy("id").collect()
    # d1 fully replaced, d2 untouched (its files were hardlinked, not rewritten)
    assert [(r["id"], r["day"], r["v"]) for r in rows] == [(3, "d2", 30), (9, "d1", 99)]
    # still time-travelable to before the overwrite
    assert wh.read("t", -2).count() == 3


def test_sort_order_yields_disjoint_file_ranges(spark, tmp_path):
    import os
    import random

    import pyarrow.parquet as pq

    wh = ParquetWarehouse(spark, str(tmp_path / "swh"))
    wh.create_table(
        "t",
        T.StructType([T.StructField("id", T.IntegerType())]),
        sort_by=["id"],
    )
    ids = list(range(1000))
    random.Random(7).shuffle(ids)
    wh.append("t", spark.createDataFrame([(i,) for i in ids], "id int").repartition(4))
    cur = wh._current_path("t")
    ranges = []
    for name in sorted(os.listdir(cur)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(cur, name)).metadata
        if md.num_rows == 0:
            continue
        stats = [md.row_group(i).column(0).statistics for i in range(md.num_row_groups)]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    assert len(ranges) >= 2  # range-partitioned into multiple files
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint key ranges → min/max file skipping works
    assert wh.read("t").count() == 1000


def test_add_column_is_metadata_only_and_null_fills(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "ev1"))
    wh.create_table("t", SCHEMA)
    wh.append("t", spark.createDataFrame([(1, "a")], SCHEMA))
    files_before = wh.num_data_files("t")
    wh.add_column("t", "score", "double")
    assert wh.num_data_files("t") == files_before  # no rewrite
    new_schema = wh.schema("t")
    wh.append(
        "t", spark.createDataFrame([(2, "b", 0.5)], new_schema)
    )
    rows = {r["id"]: (r["name"], r["score"]) for r in wh.read("t").collect()}
    assert rows == {1: ("a", None), 2: ("b", 0.5)}
    with pytest.raises(ValueError):
        wh.add_column("t", "name", "string")


def test_drop_column_stops_projection(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "ev2"))
    wh.create_table("t", SCHEMA)
    wh.append("t", spark.createDataFrame([(1, "a")], SCHEMA))
    wh.drop_column("t", "name")
    assert wh.read("t").columns == ["id"]
    assert wh.read("t").collect()[0]["id"] == 1
    with pytest.raises(ValueError):
        wh.drop_column("t", "nope")


def test_rename_column_preserves_data(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "ev3"))
    wh.create_table("t", SCHEMA, sort_by=["name"])
    wh.append("t", spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    wh.rename_column("t", "name", "label")
    assert wh.read("t").columns == ["id", "label"]
    assert sorted((r["id"], r["label"]) for r in wh.read("t").collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    assert wh._spec("t")["sort_by"] == ["label"]  # spec follows the rename
    # appends after the rename still honor the (renamed) sort order
    wh.append("t", spark.createDataFrame([(3, "c")], wh.schema("t")))
    assert wh.read("t").count() == 3


def test_evolution_guards_partition_columns(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "ev4"))
    wh.create_table("t", PART_SCHEMA, partition_by=["day"])
    with pytest.raises(ValueError):
        wh.drop_column("t", "day")
    with pytest.raises(ValueError):
        wh.rename_column("t", "day", "dt")


# ---------------------------------------------------------------- bucketing


def test_bucketed_join_plans_without_exchange(spark, tmp_path):
    from conduit_connector_s3_iceberg_spark.sources.bucketing import (
        colocated_join,
        write_bucketed,
    )

    left = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS b")
    try:
        write_bucketed(left, "bk_left", "k", 4, path=str(tmp_path / "bl"))
        write_bucketed(right, "bk_right", "k", 4, path=str(tmp_path / "br"))
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = colocated_join(spark, "bk_left", "bk_right", "k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            # both scans expose the bucket hash-partitioning: no shuffle at all
            assert "Exchange" not in plan
            assert joined.count() == 1000

            # control: the same join from plain (un-bucketed) frames shuffles
            ctl = left.join(right, "k")
            ctl_plan = ctl._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" in ctl_plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_bucketed_aggregation_reuses_bucket_partitioning(spark, tmp_path):
    from pyspark.sql import functions as F

    from conduit_connector_s3_iceberg_spark.sources.bucketing import write_bucketed

    df = spark.range(0, 1000).selectExpr("id % 50 AS k", "id AS v")
    try:
        write_bucketed(df, "bk_agg", "k", 4, path=str(tmp_path / "ba"))
        agg = spark.table("bk_agg").groupBy("k").agg(F.sum("v").alias("s"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # groupBy key == bucket key: no shuffle
        assert agg.count() == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_agg")


# ------------------------------------------------------------ snapshot diff


def test_snapshot_diff_classifies_changes(spark, tmp_path):
    from pyspark.sql import Row

    from conduit_connector_s3_iceberg_spark.writer import (
        ParquetWarehouse,
        snapshot_diff,
        table_diff,
    )

    from pyspark.sql import types as T

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    schema = "id long, name string, qty int"
    wh.create_table("t", T.StructType.fromDDL(schema))
    wh.append(
        "t",
        spark.createDataFrame([(1, "a", 5), (2, "b", 7), (3, "c", 9)], schema),
    )
    v1 = len(wh.history("t")) - 1
    # next snapshot: 2 updated, 3 deleted, 4 inserted, 1 untouched
    wh.overwrite_with(
        "t",
        spark.createDataFrame([(1, "a", 5), (2, "b", 99), (4, "d", 1)], schema),
    )
    got = {
        r["id"]: r["change"]
        for r in snapshot_diff(wh, "t", v1, None, ["id"]).collect()
    }
    assert got == {2: "update", 3: "delete", 4: "insert"}

    # pure-frame form handles schema evolution: only common columns compared
    old = spark.createDataFrame([Row(id=1, name="a")])
    new = spark.createDataFrame([Row(id=1, name="a", extra=0)])
    assert table_diff(old, new, ["id"]).count() == 0

    # NULL keys match null-safely: an unchanged NULL-key row is NOT
    # misreported as insert+delete, and a changed one is a single 'update'
    nschema = "id long, name string"
    old_n = spark.createDataFrame([(None, "a"), (1, "x")], nschema)
    new_n = spark.createDataFrame([(None, "a"), (1, "y")], nschema)
    assert {
        (r["id"], r["change"])
        for r in table_diff(old_n, new_n, ["id"]).collect()
    } == {(1, "update")}
    new_n2 = spark.createDataFrame([(None, "b"), (1, "x")], nschema)
    assert {
        (r["id"], r["change"])
        for r in table_diff(old_n, new_n2, ["id"]).collect()
    } == {(None, "update")}


# ---------------------------------------------------------------- z-order


def _file_ranges(path, cols):
    """Per-parquet-file (min, max) footer stats for each column."""
    import glob

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo = {c: None for c in cols}
        hi = {c: None for c in cols}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name in cols and col.statistics is not None:
                    s = col.statistics
                    lo[name] = s.min if lo[name] is None else min(lo[name], s.min)
                    hi[name] = s.max if hi[name] is None else max(hi[name], s.max)
        out.append({c: (lo[c], hi[c]) for c in cols})
    return out


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    from pyspark.sql import functions as F

    from conduit_connector_s3_iceberg_spark.sources.bucketing import write_zordered

    n = 1 << 12
    # two independent uniform dimensions (bit-reversal makes y ~ uncorrelated
    # with x, deterministically)
    df = spark.range(n).select(
        F.col("id").alias("x"),
        ((F.col("id") * 2654435761) % n).alias("y"),
    )
    zpath = str(tmp_path / "zorder")
    write_zordered(df, zpath, "x", (0, n), "y", (0, n), n_files=16)

    spath = str(tmp_path / "sorted_x")
    (
        df.repartitionByRange(16, "x").sortWithinPartitions("x")
        .write.mode("overwrite").parquet(spath)
    )

    z_ranges = _file_ranges(zpath, ("x", "y"))
    x_ranges = _file_ranges(spath, ("x", "y"))
    assert len(z_ranges) == 16 and len(x_ranges) == 16

    def files_hit(ranges, col, lo, hi):
        """Files a footer-based scan must read for ``col BETWEEN lo AND hi``."""
        return sum(1 for r in ranges if not (r[col][1] < lo or r[col][0] > hi))

    slab = n // 16  # a selective range predicate (1/16 of the domain)
    # single-column x-sort: perfect x pruning, but a y predicate reads ALL
    # files. z-order: BOTH predicates prune (each curve segment is a
    # compact box, ~4x4 grid at 16 files).
    assert files_hit(x_ranges, "y", 0, slab) == 16
    assert files_hit(z_ranges, "y", 0, slab) <= 8
    assert files_hit(z_ranges, "x", 0, slab) <= 8
    # z trades a little x-pruning for y-pruning; the trade must never cost
    # more than it buys across the two dimensions combined
    z_total = files_hit(z_ranges, "x", 0, slab) + files_hit(z_ranges, "y", 0, slab)
    x_total = files_hit(x_ranges, "x", 0, slab) + files_hit(x_ranges, "y", 0, slab)
    assert z_total < x_total
    # correctness: same rows either way
    assert spark.read.parquet(zpath).count() == n


def test_sync_table_reconciles_to_snapshot(spark, tmp_path):
    """sync_table makes the target exactly equal the authoritative
    snapshot (insert + update + delete) and reports the diff counts —
    the executable twin of iceberg.merge_sync_sql."""
    from pyspark.sql import types as T

    from conduit_connector_s3_iceberg_spark.writer import (
        ParquetWarehouse,
        sync_table,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "sync_wh"))
    schema = "id long, name string, qty int"
    wh.create_table("t", T.StructType.fromDDL(schema))
    wh.append(
        "t",
        spark.createDataFrame([(1, "a", 5), (2, "b", 7), (3, "c", 9)], schema),
    )
    snapshot = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 99), (4, "d", 1)], schema
    )
    counts = sync_table(wh, "t", snapshot, ["id"])
    assert counts == {"insert": 1, "update": 1, "delete": 1}
    got = sorted(tuple(r) for r in wh.read("t").collect())
    assert got == sorted(tuple(r) for r in snapshot.collect())
    # idempotent: a second sync against the same snapshot is a no-op
    assert sync_table(wh, "t", snapshot, ["id"]) == {
        "insert": 0, "update": 0, "delete": 0,
    }


def test_sync_table_null_keys_are_applied(spark, tmp_path):
    """NULL-key changes must be APPLIED, not merely counted: table_diff
    matches NULL keys null-safely, so the rewrite's anti/semi joins must
    too — a plain equi-join would keep the stale NULL-key row and drop its
    replacement (r3 ADVICE, writer.py sync_table)."""
    from pyspark.sql import types as T

    from conduit_connector_s3_iceberg_spark.writer import (
        ParquetWarehouse,
        sync_table,
    )

    wh = ParquetWarehouse(spark, str(tmp_path / "sync_null_wh"))
    schema = T.StructType.fromDDL("id long, name string, qty int")
    wh.create_table("t", schema)
    wh.append(
        "t",
        spark.createDataFrame([(None, "x", 1), (1, "a", 5)], schema),
    )
    # NULL-key row updated, keyed row unchanged
    snap1 = spark.createDataFrame([(None, "x", 2), (1, "a", 5)], schema)
    assert sync_table(wh, "t", snap1, ["id"]) == {
        "insert": 0, "update": 1, "delete": 0,
    }
    got = sorted(
        ((r["id"], r["name"], r["qty"]) for r in wh.read("t").collect()),
        key=str,
    )
    assert got == sorted([(None, "x", 2), (1, "a", 5)], key=str)
    # NULL-key row deleted, a fresh NULL-key insert would be ambiguous with
    # it under keyed reconcile, so exercise delete alone
    snap2 = spark.createDataFrame([(1, "a", 5)], schema)
    assert sync_table(wh, "t", snap2, ["id"]) == {
        "insert": 0, "update": 0, "delete": 1,
    }
    assert [tuple(r) for r in wh.read("t").collect()] == [(1, "a", 5)]


def test_partition_spec_evolution_rewrites_and_prunes(spark, tmp_path):
    from pyspark.sql import types as T

    from conduit_connector_s3_iceberg_spark.writer import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("day", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    wh.create_table("docs", schema, partition_by=["day"])
    rows = [
        (i, f"2024-01-{1 + i % 3:02d}", ["en", "de"][i % 2], f"t{i}")
        for i in range(24)
    ]
    wh.append("docs", spark.createDataFrame(rows, schema))
    pre_versions = wh.history("docs")

    out = wh.evolve_partition_spec("docs", ["day", "lang"])
    assert out["previous"]["partition_by"] == ["day"]
    assert out["current"]["partition_by"] == ["day", "lang"]

    # same rows, and scans prune on BOTH partition columns now
    assert wh.read("docs").count() == 24
    plan = (
        wh.read("docs")
        .filter("day = '2024-01-02' and lang = 'en'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:200]
    assert "day" in pf and "lang" in pf

    # new-spec appends land in the evolved layout and read back
    wh.append(
        "docs",
        spark.createDataFrame([(100, "2024-01-09", "fr", "x")], schema),
    )
    assert wh.read("docs").count() == 25

    # pre-evolution snapshots stay time-travel-readable (old layout)
    assert wh.read("docs", pre_versions[-1]).count() == 24

    # appending after rolling back across the evolution boundary is refused
    wh.rollback("docs", pre_versions[-1])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="evolve_partition_spec"):
        wh.append(
            "docs",
            spark.createDataFrame([(101, "2024-01-09", "fr", "y")], schema),
        )


def test_mor_equality_deletes_lifecycle(spark, tmp_path):
    """Iceberg v2 merge-on-read analogue: O(keys) delete commits, reads
    subtract pending delete files, time travel sees pre-delete rows,
    rewrite_deletes materializes and clears, appends carry deletes."""
    from pyspark.sql import types as T

    from conduit_connector_s3_iceberg_spark.writer import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    wh.create_table("t", schema)
    wh.append("t", spark.createDataFrame([(i, f"v{i}") for i in range(10)], schema))
    files_before = wh.num_data_files("t")
    pre = wh.history("t")[-1]

    out = wh.delete_keys_mor(
        "t", spark.createDataFrame([(2,), (5,), (7,)], "id long"), ["id"]
    )
    assert out["delete_files"] == 1
    # delete commit linked data files, did not rewrite them
    assert wh.num_data_files("t") == files_before
    assert sorted(r["id"] for r in wh.read("t").collect()) == [0, 1, 3, 4, 6, 8, 9]
    # time travel to the pre-delete snapshot still sees all rows
    assert wh.read("t", pre).count() == 10

    # appends carry pending deletes forward
    wh.append("t", spark.createDataFrame([(20, "x")], schema))
    assert sorted(r["id"] for r in wh.read("t").collect()) == [0, 1, 3, 4, 6, 8, 9, 20]

    # a second delete must use the same key set
    import pytest as _pytest

    with _pytest.raises(ValueError, match="one key set"):
        wh.delete_keys_mor(
            "t", spark.createDataFrame([("v1",)], "v string"), ["v"]
        )

    # materialize: rows gone physically, no delete files remain
    res = wh.rewrite_deletes("t")
    assert res["delete_files_applied"] >= 1
    cur = wh._current_path("t")
    assert wh._delete_files(cur) == []
    assert sorted(r["id"] for r in wh.read("t").collect()) == [0, 1, 3, 4, 6, 8, 9, 20]
    assert wh.rewrite_deletes("t") == {"delete_files_applied": 0}


def test_mor_deletes_block_partition_overwrite_until_rewritten(spark, tmp_path):
    from pyspark.sql import types as T

    from conduit_connector_s3_iceberg_spark.writer import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("day", T.StringType())]
    )
    wh.create_table("p", schema, partition_by=["day"])
    wh.append(
        "p",
        spark.createDataFrame(
            [(1, "2024-01-01"), (2, "2024-01-02")], schema
        ),
    )
    wh.delete_keys_mor("p", spark.createDataFrame([(1,)], "id long"), ["id"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rewrite_deletes"):
        wh.overwrite_partitions(
            "p", spark.createDataFrame([(9, "2024-01-01")], schema)
        )
    wh.rewrite_deletes("p")
    out = wh.overwrite_partitions(
        "p", spark.createDataFrame([(9, "2024-01-01")], schema)
    )
    assert out["replaced_partitions"] == ["day=2024-01-01"]
    assert sorted(r["id"] for r in wh.read("p").collect()) == [2, 9]


def test_orc_round_trip_with_pruning(spark, tmp_path):
    from conduit_connector_s3_iceberg_spark.sources.files import (
        read_orc,
        write_orc,
    )
    from conduit_connector_s3_iceberg_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "docs_orc")
    write_orc(docs, out, partition_by=["lang"])
    back = read_orc(spark, out)
    assert back.count() == docs.count()
    assert sorted(back.columns) == sorted(docs.columns)
    # partition-dir pruning applies to ORC exactly as to parquet
    plan = (
        back.filter("lang = 'en'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:120]


def test_tags_pin_snapshots_through_expiry(spark, tmp_path):
    from pyspark.sql import types as T

    from conduit_connector_s3_iceberg_spark.writer import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    schema = T.StructType([T.StructField("id", T.LongType())])
    wh.create_table("t", schema)
    wh.append("t", spark.createDataFrame([(1,)], schema))
    wh.create_tag("t", "release-v1")
    wh.append("t", spark.createDataFrame([(2,)], schema))
    wh.append("t", spark.createDataFrame([(3,)], schema))

    # tag resolves to the pinned snapshot regardless of later commits
    assert sorted(r["id"] for r in wh.read("t", "release-v1").collect()) == [1]
    # expiry keeps the tagged snapshot alive alongside the current one
    out = wh.expire_snapshots("t", keep_last=1)
    assert out["expired"] >= 1
    assert sorted(r["id"] for r in wh.read("t", "release-v1").collect()) == [1]
    assert sorted(r["id"] for r in wh.read("t").collect()) == [1, 2, 3]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        wh.create_tag("t", "release-v1")
    wh.drop_tag("t", "release-v1")
    with _pytest.raises(ValueError):
        wh.read("t", "release-v1")
