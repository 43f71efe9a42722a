"""Iceberg DML statement generation (unit-testable without the runtime jar)."""

from __future__ import annotations

import re

import pytest

from conduit_connector_s3_iceberg_spark.iceberg import (
    compact_sql,
    expire_snapshots_sql,
    merge_apply_sql,
    qualified,
    replace_key_sql,
)


def test_qualified_quoting():
    assert qualified("cat", "ns", "t") == "`cat`.`ns`.`t`"
    assert qualified("c", "n", "we`ird") == "`c`.`n`.`we``ird`"


def test_replace_key_sql_ands_all_key_fields():
    # the reference silently drops all but one key field (jOOQ condition
    # misuse, SparkDestinationStream.java:126-132); ours must AND them all
    sql = replace_key_sql("`c`.`n`.`t`", "src", ["id", "region"], ["qty"])
    assert "MERGE INTO `c`.`n`.`t` AS t" in sql
    assert (
        "ON t.`id` = s.`id` AND t.`region` = s.`region` AND s.`__op` = 'delete'"
        in sql
    )
    assert "WHEN MATCHED THEN DELETE" in sql
    assert (
        "WHEN NOT MATCHED AND s.`__op` = 'insert' "
        "THEN INSERT (`id`, `region`, `qty`) VALUES (s.`id`, s.`region`, s.`qty`)"
        in sql
    )


def test_replace_key_sql_empty_key_rejected():
    with pytest.raises(ValueError, match="key has no fields"):
        replace_key_sql("`c`.`n`.`t`", "src", [], ["qty"])


def test_replace_key_sql_binds_key_values_as_source_rows():
    # the builder takes key field NAMES only: key values reach the MERGE as
    # rows of the source view, so a malicious value never reaches the SQL
    # text — the only literals are the operation markers
    sql = replace_key_sql("`c`.`n`.`t`", "src", ["name"], ["qty"])
    assert "t.`name` = s.`name`" in sql
    assert sorted(set(re.findall(r"'[^']*'", sql))) == ["'delete'", "'insert'"]


def test_merge_apply_sql_shape():
    sql = merge_apply_sql("`c`.`n`.`t`", "src", ["id"], ["name", "qty"])
    assert "MERGE INTO `c`.`n`.`t` AS t" in sql
    assert "ON t.`id` = s.`id`" in sql
    assert "WHEN MATCHED AND s.`__op` = 'delete' THEN DELETE" in sql
    assert "WHEN MATCHED THEN UPDATE SET t.`name` = s.`name`, t.`qty` = s.`qty`" in sql
    assert (
        "WHEN NOT MATCHED AND s.`__op` <> 'delete' "
        "THEN INSERT (`id`, `name`, `qty`) VALUES (s.`id`, s.`name`, s.`qty`)" in sql
    )


def test_maintenance_procedures():
    assert compact_sql("cat", "ns", "t") == (
        "CALL `cat`.system.rewrite_data_files(table => 'ns.t')"
    )
    assert "expire_snapshots" in expire_snapshots_sql(
        "cat", "ns", "t", "2024-01-01 00:00:00"
    )


def test_merge_sync_sql_shape():
    from conduit_connector_s3_iceberg_spark.iceberg import merge_sync_sql

    sql = merge_sync_sql("`c`.`n`.`t`", "snap", ["id"], ["name", "qty"])
    assert "MERGE INTO `c`.`n`.`t` AS t" in sql
    assert "ON t.`id` = s.`id`" in sql
    assert "WHEN MATCHED THEN UPDATE SET t.`name` = s.`name`, t.`qty` = s.`qty`" in sql
    assert "WHEN NOT MATCHED THEN INSERT (`id`, `name`, `qty`)" in sql
    assert sql.strip().endswith("WHEN NOT MATCHED BY SOURCE THEN DELETE")
