"""The store contract: every CDC apply path calls only ``read``, ``schema``,
``table_exists``, ``append``, ``replace_key`` and ``merge_apply``.

``ContractStore`` exposes exactly those six methods (plus the ``spark``
session) over a real :class:`ParquetWarehouse` and records each call. Any
other attribute raises ``AssertionError`` rather than ``AttributeError``, so
``hasattr`` dispatch on the store fails too. A path that reaches past the
contract (``overwrite_with``, ``overwrite_where_not``, ...) would fail on
``iceberg.IcebergTableStore`` the same way, which these tests catch without
the Iceberg runtime.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from conduit_connector_s3_iceberg_spark.iceberg import (
    IcebergTableStore,
    replace_key_sql,
)
from conduit_connector_s3_iceberg_spark.records import Operation, Record
from conduit_connector_s3_iceberg_spark.streaming.cdc import (
    apply_cdc_batch,
    decode_cdc,
    route_cdc_batch,
)
from conduit_connector_s3_iceberg_spark.writer import (
    CdcWriter,
    CollectionRouter,
    ParquetWarehouse,
)

CONTRACT = ("read", "schema", "table_exists", "append", "replace_key", "merge_apply")

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("qty", T.IntegerType(), True),
    ]
)
ENVELOPE = (
    "position string, operation string, key string, before string, "
    "after string, metadata map<string,string>"
)


class ContractStore:
    """The six contract methods over ``wh``; each call is recorded as
    ``(method, table)``."""

    def __init__(self, wh: ParquetWarehouse):
        self.spark = wh.spark
        self.calls: list[tuple[str, str]] = []
        for name in CONTRACT:
            setattr(self, name, self._recorder(wh, name))

    def _recorder(self, wh, name):
        def call(table, *args, **kwargs):
            self.calls.append((name, table))
            return getattr(wh, name)(table, *args, **kwargs)

        return call

    def __getattr__(self, name):
        raise AssertionError(f"store method outside the contract: {name}")

    def names(self) -> list[str]:
        return [name for name, _ in self.calls]


@pytest.fixture()
def store(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    for table in ("t", "u"):
        wh.create_table(table, SCHEMA)
    wh.append("t", spark.createDataFrame([(1, "a", 1), (2, "b", 2)], SCHEMA))
    return ContractStore(wh)


def row(id_, name, qty):
    return {"id": id_, "name": name, "qty": qty}


def rows(store, table="t"):
    return sorted(tuple(r) for r in store.read(table).collect())


def rec(op, key=None, after=None, collection=None):
    return Record(
        b"p",
        op,
        key=json.dumps(key).encode() if key is not None else None,
        payload_after=json.dumps(after).encode() if after is not None else None,
        metadata={"opencdc.collection": collection} if collection else {},
    )


def envelope(spark, records):
    return spark.createDataFrame(
        [
            (
                f"p{i}",
                op,
                json.dumps(key) if key is not None else None,
                None,
                json.dumps(after) if after is not None else None,
                {"opencdc.collection": coll} if coll else {},
            )
            for i, (op, key, after, coll) in enumerate(records)
        ],
        ENVELOPE,
    )


def test_write_each_operation_uses_only_the_contract(store):
    writer = CdcWriter(store, "t")
    writer.write(rec(Operation.CREATE, after=row(3, "c", 3)))
    assert "append" in store.names()
    store.calls.clear()
    writer.write(rec(Operation.UPDATE, key={"id": 1}, after=row(1, "a2", 9)))
    assert store.names().count("replace_key") == 1
    store.calls.clear()
    assert writer.delete(rec(Operation.DELETE, key={"id": 2})) == 1
    assert store.names().count("replace_key") == 1
    store.calls.clear()
    writer.write(rec(Operation.UNSPECIFIED))
    assert store.calls == []
    assert rows(store) == [(1, "a2", 9), (3, "c", 3)]


def test_batch_commits_runs_through_the_contract(store):
    writer = CdcWriter(store, "t")
    with writer.batch():
        writer.write(rec(Operation.CREATE, after=row(3, "c", 3)))
        writer.write(rec(Operation.CREATE, after=row(4, "d", 4)))
        writer.write(rec(Operation.DELETE, key={"id": 1}))
        writer.write(rec(Operation.CREATE, after=row(5, "e", 5)))
        writer.write(rec(Operation.UPDATE, key={"id": 3}, after=row(3, "c2", 7)))
    commits = [n for n in store.names() if n in ("append", "replace_key")]
    assert commits == ["append", "replace_key", "replace_key"]
    assert rows(store) == [(2, "b", 2), (3, "c2", 7), (4, "d", 4), (5, "e", 5)]


def test_apply_batch_goes_through_merge_apply(store):
    writer = CdcWriter(store, "t")
    writer.apply_batch(
        [
            rec(Operation.CREATE, after=row(3, "c", 3)),
            rec(Operation.UPDATE, key={"id": 1}, after=row(1, "a2", 8)),
            rec(Operation.DELETE, key={"id": 2}),
            rec(Operation.UNSPECIFIED),
            rec(Operation.UPDATE, key={"id": 3}, after=row(3, "c2", 4)),
        ],
        key_fields=["id"],
    )
    assert store.names().count("merge_apply") == 1
    assert rows(store) == [(1, "a2", 8), (3, "c2", 4)]


def test_collection_router_uses_only_the_contract(store):
    router = CollectionRouter(store, "t")
    with router.batch():
        router.write(rec(Operation.CREATE, after=row(7, "x", 1), collection="u"))
        router.write(rec(Operation.DELETE, key={"id": 1}))
    assert ("table_exists", "u") in store.calls
    assert rows(store, "u") == [(7, "x", 1)]
    assert rows(store) == [(2, "b", 2)]
    with pytest.raises(ValueError, match="unknown collection"):
        router.write(rec(Operation.CREATE, after={"id": 8}, collection="nope"))


def test_apply_cdc_batch_goes_through_merge_apply(spark, store):
    batch = envelope(
        spark,
        [
            ("create", None, row(3, "c", 3), None),
            ("update", {"id": 1}, row(1, "a2", 5), None),
            ("delete", {"id": 2}, None, None),
        ],
    )
    apply_cdc_batch(store, "t", decode_cdc(batch, SCHEMA, ["id"]), ["id"])
    assert ("merge_apply", "t") in store.calls
    assert rows(store) == [(1, "a2", 5), (3, "c", 3)]


def test_route_cdc_batch_goes_through_merge_apply(spark, store):
    batch = envelope(
        spark,
        [
            ("create", None, row(3, "c", 3), None),
            ("create", None, row(9, "z", 9), "u"),
        ],
    )
    applied = route_cdc_batch(store, batch, {"t": ["id"], "u": ["id"]}, "t")
    assert applied == {"t": 1, "u": 1}
    assert [c for c in store.calls if c[0] == "merge_apply"] == [
        ("merge_apply", "t"),
        ("merge_apply", "u"),
    ]
    assert rows(store, "u") == [(9, "z", 9)]


def test_epoch_key_changing_update_matches_the_after_image_key(spark, tmp_path):
    """An update whose after-image key (id=5) differs from its envelope key
    (id=1) upserts the after-image key and leaves the envelope key's row:
    the merge matches on the source row's own key, as Iceberg's MERGE does."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("t", SCHEMA)
    wh.append("t", spark.createDataFrame([(1, "a", 1)], SCHEMA))
    batch = envelope(spark, [("update", {"id": 1}, row(5, "e", 5), None)])
    apply_cdc_batch(wh, "t", decode_cdc(batch, SCHEMA, ["id"]), ["id"])
    got = sorted(tuple(r) for r in wh.read("t").collect())
    assert got == [(1, "a", 1), (5, "e", 5)]


def test_apply_batch_failfast_commits_nothing(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_table("t", SCHEMA)
    wh.append("t", spark.createDataFrame([(1, "a", 1)], SCHEMA))
    history = wh.history("t")
    with pytest.raises(Exception):
        CdcWriter(wh, "t").apply_batch(
            [
                rec(Operation.CREATE, after=row(2, "b", 2)),
                rec(Operation.CREATE, after=row(3, "c", "not_an_int")),
            ],
            key_fields=["id"],
        )
    assert wh.history("t") == history
    assert [tuple(r) for r in wh.read("t").collect()] == [(1, "a", 1)]


def test_iceberg_store_table_exists_and_replace_key_source(spark, tmp_path):
    """Without the Iceberg runtime the MERGE cannot run, so the session's
    ``sql`` is captured: the statement must parse, and its source view
    must hold the key as one typed 'delete' row plus the 'insert' rows."""

    class CapturingSpark:
        def __init__(self, spark):
            self.spark, self.statements = spark, []

        def __getattr__(self, name):
            return getattr(self.spark, name)

        def sql(self, statement):
            self.statements.append(statement)

    spark.sql(
        "CREATE TABLE spark_catalog.default.contract_items "
        f"(id INT, name STRING, qty INT) USING parquet LOCATION '{tmp_path / 'items'}'"
    )
    try:
        store = IcebergTableStore(spark, "spark_catalog", "default")
        assert store.table_exists("contract_items")
        assert not store.table_exists("contract_missing")
        store.spark = CapturingSpark(spark)
        view = "__cdc_source_contract_items"

        store.replace_key("contract_items", {"id": "7"})
        assert store.spark.statements[-1] == replace_key_sql(
            "`spark_catalog`.`default`.`contract_items`", view, ["id"], ["name", "qty"]
        )
        spark._jsparkSession.sessionState().sqlParser().parsePlan(
            store.spark.statements[-1]
        )
        assert [tuple(r) for r in spark.table(view).collect()] == [
            (7, "delete", None, None)
        ]

        store.replace_key(
            "contract_items", {"id": 7}, spark.createDataFrame([(7, "g", 3)], SCHEMA)
        )
        assert sorted(
            (r["id"], r["__op"], r["name"]) for r in spark.table(view).collect()
        ) == [(7, "delete", None), (7, "insert", "g")]
    finally:
        spark.sql("DROP TABLE IF EXISTS spark_catalog.default.contract_items")
