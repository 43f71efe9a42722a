"""``ParquetWarehouse`` versions: every mutation kind against a multiset
model, with time travel, rollback, tags and snapshot expiry in between.

Each mutation that makes a version goes write → carry → commit: one new
``v-*`` directory and one ``LOG`` line, and no other directory left behind.
The sequence test checks that layout after every step, the current rows
after every step, and every version still in ``history()`` plus every tag
after each expiry and at the end.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import random
from collections import Counter

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conduit_connector_s3_iceberg_spark.writer import OP_COL, ParquetWarehouse

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("day", T.StringType()),
        T.StructField("v", T.StringType()),
    ]
)
DAYS = ("d0", "d1", "d2")
KEYS = 6
METADATA = {"CURRENT", "LOG", "SCHEMA", "SPEC", "TAGS"}
OPS = (
    "append", "reinsert", "overwrite_with", "replace_key", "delete_key",
    "merge_apply", "overwrite_where_not", "delete_keys_mor", "rewrite_deletes",
    "compact", "overwrite_partitions", "rollback", "create_tag",
    "expire_snapshots",
)


def _current(table_dir: str) -> str:
    with open(os.path.join(table_dir, "CURRENT")) as fh:
        return json.load(fh)["version"]


def _log(table_dir: str) -> list[str]:
    with open(os.path.join(table_dir, "LOG")) as fh:
        return [ln.strip() for ln in fh if ln.strip()]


def _read_all(wh: ParquetWarehouse, names) -> dict[str, Counter]:
    """Rows of every named version or tag, read in one Spark job."""
    frames = [wh.read("t", n).withColumn("__ref", F.lit(n)) for n in names]
    got = {n: Counter() for n in names}
    for r in functools.reduce(DataFrame.unionByName, frames).collect():
        got[r["__ref"]][(r["id"], r["day"], r["v"])] += 1
    return got


def _without(rows: Counter, drop) -> Counter:
    return Counter({r: n for r, n in rows.items() if not drop(r)})


@pytest.mark.parametrize("seed", [1, 2])
def test_mutation_sequence_matches_multiset_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    serial = itertools.count()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("t", SCHEMA, partition_by=["day"])
    tdir = os.path.join(str(tmp_path / "wh"), "t")
    # version name -> (rows, keys of pending MoR deletes)
    states = {_current(tdir): (Counter(), frozenset())}
    tags: dict[str, str] = {}

    def new_rows(n, keys=range(KEYS)):
        return [
            (rng.choice(keys), rng.choice(DAYS), f"r{next(serial)}")
            for _ in range(n)
        ]

    def frame(rows):
        return spark.createDataFrame(rows, SCHEMA)

    def check_all():
        names = set(wh.history("t")) | set(tags)
        got = _read_all(wh, names)
        for name in names:
            assert got[name] == states[tags.get(name, name)][0], name

    # every kind at least once, in random order, plus a random tail. The
    # first MoR delete hides rows just appended, and then an append and a
    # second MoR delete carry its delete files, a partition overwrite is
    # refused and a deleted key is re-inserted. At the end, a MoR delete is
    # folded in.
    ops = list(OPS) + [rng.choice(OPS) for _ in range(4)]
    rng.shuffle(ops)
    at = ops.index("delete_keys_mor")
    ops[at:at + 1] = [
        "append", "delete_keys_mor", "append", "delete_keys_mor",
        "overwrite_partitions", "reinsert",
    ]
    ops += ["delete_keys_mor", "rewrite_deletes"]
    for step, op in enumerate(ops):
        cur = _current(tdir)
        rows, pending = states[cur]
        log_before = _log(tdir)
        if op == "reinsert" and not pending:
            op = "append"
        expect = None  # (rows, pending) of the version it commits, if any
        target = None  # the version a rollback commits
        if op in ("append", "reinsert"):
            # a plain append avoids pending keys, so it carries the deletes
            keys = [k for k in range(KEYS) if (k in pending) == (op == "reinsert")]
            added = new_rows(rng.randint(1, 3), keys or range(KEYS))
            folded = pending & {r[0] for r in added}
            expect = (rows + Counter(added), frozenset() if folded else pending)
            wh.append("t", frame(added))
        elif op == "overwrite_with":
            added = new_rows(rng.randint(0, 4))
            expect = (Counter(added), frozenset())
            wh.overwrite_with("t", frame(added))
        elif op == "replace_key":
            k = rng.randrange(KEYS)
            added = new_rows(rng.randint(1, 2), [k])
            expect = (_without(rows, lambda r: r[0] == k) + Counter(added), frozenset())
            assert wh.replace_key("t", {"id": k}, frame(added)) is None
        elif op == "delete_key":
            k = rng.randrange(KEYS)
            n = sum(c for r, c in rows.items() if r[0] == k)
            if n:
                expect = (_without(rows, lambda r: r[0] == k), frozenset())
            assert wh.replace_key("t", {"id": k}) == n
        elif op == "merge_apply":
            source, upserts = [], []
            for k in rng.sample(range(KEYS), rng.randint(1, 3)):
                if rng.random() < 0.6:
                    upserts += new_rows(1, [k])
                    source.append(upserts[-1] + ("upsert",))
                else:
                    source.append((k, None, None, "delete"))
            touched = {s[0] for s in source}
            expect = (
                _without(rows, lambda r: r[0] in touched) + Counter(upserts),
                frozenset(),
            )
            src = spark.createDataFrame(
                source, "id long, day string, v string, " + OP_COL + " string"
            )
            wh.merge_apply("t", src, ["id"])
        elif op == "overwrite_where_not":
            k, d = rng.randrange(KEYS), rng.choice(DAYS)
            hit = lambda r: r[0] == k and r[1] == d  # noqa: E731
            n = sum(c for r, c in rows.items() if hit(r))
            if n:
                expect = (_without(rows, hit), frozenset())
            pred = (F.col("id") == k) & (F.col("day") == d)
            assert wh.overwrite_where_not("t", pred) == n
        elif op == "delete_keys_mor":
            # present keys, so later versions must keep hiding their rows
            present = sorted({r[0] for r in rows}) or list(range(KEYS))
            keys = set(rng.sample(present, min(len(present), rng.randint(1, 2))))
            expect = (_without(rows, lambda r: r[0] in keys), pending | keys)
            wh.delete_keys_mor(
                "t", spark.createDataFrame([(k,) for k in keys], "id long"), ["id"]
            )
        elif op == "rewrite_deletes":
            if pending:
                expect = (rows, frozenset())
            applied = wh.rewrite_deletes("t")["delete_files_applied"]
            assert bool(applied) == bool(pending)
        elif op == "compact":
            expect = (rows, frozenset())
            wh.compact("t", target_files=2)
        elif op == "overwrite_partitions":
            added = new_rows(rng.randint(1, 3))
            if pending:
                # equality deletes apply by key table-wide: refused
                with pytest.raises(ValueError, match="rewrite_deletes"):
                    wh.overwrite_partitions("t", frame(added))
            else:
                days = {r[1] for r in added}
                kept = _without(rows, lambda r: r[1] in days)
                expect = (kept + Counter(added), pending)
                out = wh.overwrite_partitions("t", frame(added))
                assert out["replaced_partitions"] == sorted(f"day={d}" for d in days)
        elif op == "rollback":
            expired = sorted(set(states) - set(wh.history("t")))
            if expired and rng.random() < 0.3:
                with pytest.raises(ValueError, match="expired"):
                    wh.rollback("t", rng.choice(expired))
            else:
                target = rng.choice(sorted(set(wh.history("t"))))
                assert wh.rollback("t", target) == target
        elif op == "create_tag":
            if tags and rng.random() < 0.3:
                with pytest.raises(ValueError, match="already exists"):
                    wh.create_tag("t", rng.choice(sorted(tags)))
            else:
                name = f"tag{step}"
                version = rng.choice([None, rng.choice(wh.history("t"))])
                tags[name] = wh.create_tag("t", name, version)
                assert tags[name] == (cur if version is None else version)
        else:  # expire_snapshots
            wh.expire_snapshots("t", keep_last=rng.randint(1, 3))
            assert cur in wh.history("t")
            assert set(tags.values()) <= set(wh.history("t"))
            check_all()

        log = _log(tdir)
        if op == "expire_snapshots":
            assert _current(tdir) == cur
        elif expect is None and target is None:
            assert log == log_before and _current(tdir) == cur, op
        else:
            assert log == log_before + [_current(tdir)], op
            if target is not None:
                assert _current(tdir) == target
            else:
                assert _current(tdir) not in states, op
                states[_current(tdir)] = expect
        # one directory per live version, nothing staged or orphaned
        entries = set(os.listdir(tdir))
        versions = {e for e in entries if e.startswith("v-")}
        assert versions == set(wh.history("t")), op
        assert entries - versions <= METADATA, op
        assert wh.tags("t") == tags
        got = _read_all(wh, [_current(tdir)])[_current(tdir)]
        assert got == states[_current(tdir)][0], (step, op)
    check_all()


def test_overwrite_partitions_after_rollback_across_evolution_is_refused(
    spark, tmp_path
):
    """Carrying files of the pre-evolution layout next to files written
    under the evolved spec would mix ``a=`` and ``a=/b=`` directories in one
    version and make every later read fail; the write is refused instead
    and the table keeps its snapshot."""
    schema = "id long, a string, b string"
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("t", T.StructType.fromDDL(schema), partition_by=["a"])
    old = [(1, "x", "p"), (2, "y", "q")]
    wh.append("t", spark.createDataFrame(old, schema))
    pre = wh.history("t")[-1]
    wh.evolve_partition_spec("t", ["a", "b"])
    wh.rollback("t", pre)
    history = wh.history("t")

    with pytest.raises(ValueError, match="evolve_partition_spec"):
        wh.overwrite_partitions("t", spark.createDataFrame([(3, "x", "r")], schema))

    assert wh.history("t") == history
    got = wh.read("t").select("id", "a", "b").collect()
    assert sorted(tuple(r) for r in got) == old
    tdir = str(tmp_path / "wh" / "t")
    assert {e for e in os.listdir(tdir) if e.startswith("v-")} == set(history)


def test_rename_column_onto_existing_column_is_refused(spark, tmp_path):
    """Renaming onto a present column is refused before anything is
    stored: the schema keeps one field per name and the table reads."""
    schema = T.StructType.fromDDL("a long, b string")
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("t", schema)
    wh.append("t", spark.createDataFrame([(1, "x")], schema))
    history = wh.history("t")

    with pytest.raises(ValueError, match="already exists"):
        wh.rename_column("t", "a", "b")

    assert wh.schema("t") == schema
    assert wh.history("t") == history
    assert [tuple(r) for r in wh.read("t").collect()] == [(1, "x")]
