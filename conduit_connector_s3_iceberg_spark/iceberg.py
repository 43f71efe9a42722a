"""Iceberg table store: the production twin of :class:`.writer.ParquetWarehouse`.

The same store contract (:class:`.writer.TableStore`: read / schema /
table_exists / append / replace_key / merge_apply) plus compaction, executed
as real Iceberg row-level DML through ``spark.sql`` — what the reference's
embedded Spark does via ``IcebergSparkSessionExtensions``
(``SparkUtils.java:45``), minus its flaws:

* key values reach the MERGE as rows of its source view instead of
  string-inlined literals (reference uses jOOQ inlining,
  ``SparkDestinationStream.java:134``) — injection-safe by construction;
* composite keys AND all fields (reference bug: drops all but one,
  ``SparkDestinationStream.java:126-132``);
* update/delete and batch apply are each one atomic ``MERGE INTO``
  (reference: non-atomic delete-then-insert, ``README.md:74-77``);
* appends are batched DataFrameWriterV2, not one file per record.

SQL builders are pure functions so the statement shapes are unit-tested in
this container (no Iceberg jar); execution methods require a session built
with ``build_session(config=...)`` against a real catalog.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .writer import OP_COL, key_frame


def _qident(name: str) -> str:
    """Backtick-quote one identifier part (`` ` `` doubled inside)."""
    return "`" + name.replace("`", "``") + "`"


def qualified(catalog: str, namespace: str, table: str) -> str:
    return ".".join(_qident(p) for p in (catalog, namespace, table))


def _merge_terms(key_fields: list[str], data_fields: list[str]):
    """The ON condition (ALL key fields ANDed), the UPDATE SET list, and the
    INSERT column and value lists shared by the MERGE builders."""
    if not key_fields:
        raise ValueError("key has no fields")  # reference guard, `:119-122`
    on = " AND ".join(f"t.{_qident(k)} = s.{_qident(k)}" for k in key_fields)
    sets = ", ".join(f"t.{_qident(c)} = s.{_qident(c)}" for c in data_fields)
    cols = ", ".join(_qident(c) for c in (*key_fields, *data_fields))
    vals = ", ".join(f"s.{_qident(c)}" for c in (*key_fields, *data_fields))
    return on, sets, cols, vals


def replace_key_sql(
    table_fqn: str, source_view: str, key_fields: list[str], data_fields: list[str]
) -> str:
    """One atomic MERGE replacing a key's rows: the source's ``'delete'``
    row carries the key values (bound as data, never spliced into the
    text) and deletes every target row equal to it on ALL key fields; the
    ``'insert'`` rows never match (the ON clause admits only the delete
    row) and are inserted."""
    on, _, cols, vals = _merge_terms(key_fields, data_fields)
    op = f"s.{_qident(OP_COL)}"
    return (
        f"MERGE INTO {table_fqn} AS t\n"
        f"USING {_qident(source_view)} AS s\n"
        f"ON {on} AND {op} = 'delete'\n"
        f"WHEN MATCHED THEN DELETE\n"
        f"WHEN NOT MATCHED AND {op} = 'insert' THEN INSERT ({cols}) VALUES ({vals})"
    )


def merge_apply_sql(
    table_fqn: str, source_view: str, key_fields: list[str], data_fields: list[str]
) -> str:
    """One atomic MERGE applying a collapsed CDC batch: delete rows whose
    final op is delete, update matched upserts, insert unmatched upserts.

    ``source_view`` columns: all table columns + :data:`OP_COL`.
    """
    on, sets, cols, vals = _merge_terms(key_fields, data_fields)
    return (
        f"MERGE INTO {table_fqn} AS t\n"
        f"USING {_qident(source_view)} AS s\n"
        f"ON {on}\n"
        f"WHEN MATCHED AND s.{_qident(OP_COL)} = 'delete' THEN DELETE\n"
        f"WHEN MATCHED THEN UPDATE SET {sets}\n"
        f"WHEN NOT MATCHED AND s.{_qident(OP_COL)} <> 'delete' "
        f"THEN INSERT ({cols}) VALUES ({vals})"
    )


def merge_sync_sql(
    table_fqn: str, source_view: str, key_fields: list[str], data_fields: list[str]
) -> str:
    """Full-snapshot synchronization MERGE: make the target exactly equal
    the source relation — update matched, insert unmatched, and DELETE
    target rows absent from the source (``WHEN NOT MATCHED BY SOURCE``,
    Spark 4 / Iceberg MERGE surface). The one-statement form of
    ``table_diff`` + apply: the standard nightly reconcile against an
    authoritative snapshot when no change feed exists.
    """
    on, sets, cols, vals = _merge_terms(key_fields, data_fields)
    return (
        f"MERGE INTO {table_fqn} AS t\n"
        f"USING {_qident(source_view)} AS s\n"
        f"ON {on}\n"
        f"WHEN MATCHED THEN UPDATE SET {sets}\n"
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})\n"
        f"WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )


def compact_sql(catalog: str, namespace: str, table: str) -> str:
    """Iceberg small-files compaction procedure (the cure for the
    reference's one-file-per-record write pattern)."""
    return (
        f"CALL {_qident(catalog)}.system.rewrite_data_files("
        f"table => '{namespace}.{table}')"
    )


def expire_snapshots_sql(
    catalog: str, namespace: str, table: str, older_than: str
) -> str:
    return (
        f"CALL {_qident(catalog)}.system.expire_snapshots("
        f"table => '{namespace}.{table}', older_than => TIMESTAMP '{older_than}')"
    )


class IcebergTableStore:
    """Executes the :class:`.writer.TableStore` contract against a live
    Iceberg catalog."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace

    def _fqn(self, table: str) -> str:
        return qualified(self.catalog, self.namespace, table)

    def read(self, table: str) -> DataFrame:
        return self.spark.table(self._fqn(table))

    def schema(self, table: str):
        # reference: schema fetched from the table per insert (`:216`)
        return self.read(table).schema

    def table_exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._fqn(table))

    def append(self, table: str, df: DataFrame) -> None:
        df.writeTo(self._fqn(table)).append()

    def _merge(self, table: str, source: DataFrame, build, key_fields) -> None:
        """Run the MERGE ``build`` makes with ``source`` as its view."""
        view = f"__cdc_source_{table}"
        source.createOrReplaceTempView(view)
        data_fields = [
            f.name for f in self.schema(table).fields if f.name not in key_fields
        ]
        self.spark.sql(build(self._fqn(table), view, key_fields, data_fields))

    def replace_key(
        self, table: str, key_map: dict[str, Any], rows: DataFrame | None = None
    ) -> None:
        """One MERGE (:func:`replace_key_sql`) whose source is the key bound
        as a typed row plus ``rows``. Returns None: a MERGE reports no
        per-key delete count."""
        keys = key_frame(self.spark, key_map, self.schema(table))
        if rows is None:  # the INSERT clause still needs every table column
            rows = self.read(table).limit(0)
        source = keys.withColumn(OP_COL, F.lit("delete")).unionByName(
            rows.withColumn(OP_COL, F.lit("insert")), allowMissingColumns=True
        )
        self._merge(table, source, replace_key_sql, list(key_map))

    def merge_apply(
        self, table: str, source: DataFrame, key_fields: list[str]
    ) -> None:
        """``source``: table-shaped rows + an :data:`OP_COL` column, already
        collapsed last-write-wins (see ``streaming.cdc.collapse_lww``)."""
        self._merge(table, source, merge_apply_sql, key_fields)

    def compact(self, table: str) -> None:
        self.spark.sql(compact_sql(self.catalog, self.namespace, table))

    def expire_snapshots(self, table: str, older_than: str) -> None:
        self.spark.sql(
            expire_snapshots_sql(self.catalog, self.namespace, table, older_than)
        )
