"""Group commit on the CDC write path: staging records with
``writer.batch()`` and committing them together must give exactly the
table that applying the same records one at a time gives.
"""

import json
import random

import pytest
from pyspark.sql import types as T

from conduit_connector_s3_iceberg_spark.records import Operation, Record
from conduit_connector_s3_iceberg_spark.writer import (
    CdcWriter,
    CollectionRouter,
    ParquetWarehouse,
)

SCHEMA = T.StructType(
    [
        T.StructField("a", T.IntegerType(), True),
        T.StructField("b", T.StringType(), True),
        T.StructField("v", T.LongType(), True),
    ]
)
# one row with a NULL key column: no key ever matches it
SEED_ROWS = [(1, "x", 10), (2, "y", 20), (3, "x", 30), (None, "x", 40)]


def snapshot(wh, table):
    rows = sorted((tuple(r) for r in wh.read(table).collect()), key=repr)
    return rows, len(wh.history(table))


def make_wh(spark, path, tables=("t",)):
    wh = ParquetWarehouse(spark, str(path))
    for t in tables:
        wh.create_table(t, SCHEMA)
        wh.append(t, spark.createDataFrame(SEED_ROWS, SCHEMA))
    return wh


def _key(rng, a, b, composite):
    """A key map in one of the wire forms: raw JSON with native values,
    raw JSON with the int as a string, or a Struct (stringified)."""
    obj = {"a": a, "b": b} if composite else {"a": a}
    form = rng.randrange(3)
    if form == 0:
        return json.dumps(obj).encode()
    if form == 1:
        return json.dumps({**obj, "a": str(a)}).encode()
    return {k: float(v) if k == "a" else v for k, v in obj.items()}


def random_ops(rng, n, mor, tables=("t",)):
    """Random records over a small key space, so inserts reuse live keys,
    updates follow inserts of the same key, and deletes hit both."""
    out = []
    for i in range(n):
        a, b, v = rng.randrange(1, 5), rng.choice("xy"), i * 100
        # MoR delete files pin one key-field set, so MoR keys stay composite
        composite = mor or rng.random() < 0.5
        row = json.dumps({"a": a, "b": b, "v": v}).encode()
        kind = rng.choices(
            [Operation.CREATE, Operation.UPDATE, Operation.DELETE,
             Operation.UNSPECIFIED],
            weights=[4, 3, 3, 1],
        )[0]
        meta = {"opencdc.collection": rng.choice(tables)}
        if kind == Operation.CREATE:
            rec = Record(b"%d" % i, kind, payload_after=row, metadata=meta)
        elif kind == Operation.UPDATE:
            rec = Record(b"%d" % i, kind, key=_key(rng, a, b, composite),
                         payload_after=row, metadata=meta)
        elif kind == Operation.DELETE:
            rec = Record(b"%d" % i, kind, key=_key(rng, a, b, composite),
                         metadata=meta)
        else:
            rec = Record(b"%d" % i, kind, metadata=meta)
        out.append(rec)
    return out


# the cases named in the contract, in one group
FIXED = [
    Record(b"f0", Operation.CREATE, payload_after=b'{"a": 1, "b": "x", "v": 1}'),
    Record(b"f1", Operation.UPDATE, key=b'{"a": 5}',
           payload_after=b'{"a": 5, "b": "z", "v": 2}'),
    Record(b"f2", Operation.CREATE, payload_after=b'{"a": 6, "b": "z", "v": 3}'),
    Record(b"f3", Operation.UPDATE, key={"a": 6.0},
           payload_after=b'{"a": 6, "b": "w", "v": 4}'),
    Record(b"f4", Operation.UNSPECIFIED),
    Record(b"f5", Operation.DELETE, key=b'{"a": "2", "b": "y"}'),
    Record(b"f6", Operation.CREATE, payload_after=b'{"a": 2, "b": "y", "v": 5}'),
]


def apply_grouped(writer, records, cuts):
    """Apply ``records`` in groups split at the sorted indexes ``cuts``."""
    bounds = [0, *cuts, len(records)]
    for lo, hi in zip(bounds, bounds[1:]):
        with writer.batch() as group:
            for r in records[lo:hi]:
                writer.write(r)
        assert group.landed == hi - lo


@pytest.mark.parametrize("seed,mor", [(1, False), (2, False), (3, True)])
def test_group_commit_equals_record_at_a_time(spark, tmp_path, seed, mor):
    rng = random.Random(seed)
    ops = FIXED + random_ops(rng, 10, mor)
    variants = {
        "one group": [],
        "random groups": sorted(rng.sample(range(1, len(ops)), 4)),
    }

    ref_wh = make_wh(spark, tmp_path / "ref")
    ref = CdcWriter(ref_wh, "t", mor_deletes=mor)
    for r in ops:
        ref.write(r)
    want, ref_commits = snapshot(ref_wh, "t")
    assert any(row[0] == 6 and row[1] == "w" for row in want)
    assert (None, "x", 40) in want

    for name, cuts in variants.items():
        wh = make_wh(spark, tmp_path / name.replace(" ", "_"))
        apply_grouped(CdcWriter(wh, "t", mor_deletes=mor), ops, cuts)
        got, commits = snapshot(wh, "t")
        assert got == want, name
        assert commits < ref_commits, name


def test_router_group_spans_two_tables(spark, tmp_path):
    rng = random.Random(7)
    ops = random_ops(rng, 12, mor=False, tables=("t", "u"))
    ref_wh = make_wh(spark, tmp_path / "ref", tables=("t", "u"))
    ref = CollectionRouter(ref_wh, "t")
    for r in ops:
        ref.write(r)

    wh = make_wh(spark, tmp_path / "grouped", tables=("t", "u"))
    apply_grouped(CollectionRouter(wh, "t"), ops, [])
    for table in ("t", "u"):
        assert snapshot(wh, table)[0] == snapshot(ref_wh, table)[0], table


def test_failed_commit_lands_nothing_and_reports_prefix(spark, tmp_path):
    """A run whose commit fails leaves the table untouched; ``landed``
    counts only the runs before it."""
    wh = make_wh(spark, tmp_path / "wh", tables=("t", "u"))
    router = CollectionRouter(wh, "t")
    before_u = snapshot(wh, "u")
    good = Record(b"1", Operation.CREATE,
                  payload_after=b'{"a": 9, "b": "x", "v": 1}')
    bad = Record(b"2", Operation.CREATE, payload_after=b'{"a": "nope"}',
                 metadata={"opencdc.collection": "u"})
    group = router.batch()
    with pytest.raises(Exception):
        with group:
            router.write(good)
            router.write(bad)
    assert group.landed == 1
    assert (9, "x", 1) in snapshot(wh, "t")[0]
    assert snapshot(wh, "u") == before_u


def test_mor_reinsert_after_delete_is_visible(spark, tmp_path):
    """create k → delete k (equality-delete file) → create k must show the
    new row only, exactly like copy-on-write mode."""
    got = {}
    for mor in (False, True):
        wh = make_wh(spark, tmp_path / f"mor{mor}")
        w = CdcWriter(wh, "t", mor_deletes=mor)
        w.write(Record(b"1", Operation.CREATE,
                       payload_after=b'{"a": 7, "b": "x", "v": 1}'))
        w.write(Record(b"2", Operation.DELETE, key=b'{"a": 7, "b": "x"}'))
        w.write(Record(b"3", Operation.CREATE,
                       payload_after=b'{"a": 7, "b": "x", "v": 2}'))
        got[mor] = snapshot(wh, "t")[0]
    assert [r for r in got[True] if r[0] == 7] == [(7, "x", 2)]
    assert got[True] == got[False]


def test_delete_count_on_sorted_partitioned_table(spark, tmp_path):
    """The rewrite counts deleted rows once even when the write
    range-partitions on a sort key (its sampling job reads every row)."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("s", SCHEMA, partition_by=["b"], sort_by=["a"])
    wh.append("s", spark.createDataFrame(SEED_ROWS, SCHEMA))
    w = CdcWriter(wh, "s")
    assert w.delete(Record(b"1", Operation.DELETE, key={"a": 3.0})) == 1
    assert w.delete(Record(b"2", Operation.DELETE, key=b'{"a": 3}')) == 0
    got = sorted(((r.a, r.b, r.v) for r in wh.read("s").collect()), key=repr)
    assert got == sorted([r for r in SEED_ROWS if r[0] != 3], key=repr)


def test_group_splits_before_each_update_or_delete(spark, tmp_path):
    """Inserts share a commit; each update or delete starts a new one that
    also holds the inserts after it, and its records are reported landed
    as soon as it commits."""
    wh = make_wh(spark, tmp_path)
    writer = CdcWriter(wh, "t")
    before = len(wh.history("t"))
    landed = []
    with writer.batch(on_landed=landed.append) as group:
        for r in [
            Record(b"0", Operation.CREATE, payload_after=b'{"a": 7, "b": "x", "v": 1}'),
            Record(b"1", Operation.CREATE, payload_after=b'{"a": 8, "b": "x", "v": 2}'),
            Record(b"2", Operation.UPDATE, key=b'{"a": 7}',
                   payload_after=b'{"a": 7, "b": "y", "v": 3}'),
            Record(b"3", Operation.DELETE, key=b'{"a": 1}'),
            Record(b"4", Operation.UNSPECIFIED),
            Record(b"5", Operation.CREATE, payload_after=b'{"a": 9, "b": "x", "v": 4}'),
        ]:
            writer.write(r)
    assert landed == [2, 1, 3]
    assert group.landed == 6
    rows, commits = snapshot(wh, "t")
    assert commits == before + 3
    assert (7, "y", 3) in rows and (8, "x", 2) in rows and (9, "x", 4) in rows
    assert not any(row[0] == 1 for row in rows)
