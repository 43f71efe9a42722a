"""One payload rule on every CDC write path.

The same payloads go through a wire group (``CdcWriter.batch()``), through
``CdcWriter.apply_batch``, through the FAILFAST epoch path (``decode_cdc`` +
``apply_cdc_batch``) and through the dead-letter epoch path
(``apply_cdc_batch_dlq``). For each payload the four paths store equal rows
or all four refuse it with the same reason: integer tokens keep their exact
value, an exact-integral float becomes an int, and a fractional, quoted,
boolean or out-of-range value in an integral column is refused; nested
values are untouched, and a string column keeps a number token's text as
written.

Both epoch modes and ``CdcWriter.apply_batch`` give one verdict per record:
a record FAILFAST refuses fails the epoch with the reason the dead-letter
path quarantines it with. A key value is read by the payload's integral
rule on every path: ``1.0`` is the key 1, ``12.5`` and ``abc`` do not
conform to a bigint key.
"""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import types as T

from conduit_connector_s3_iceberg_spark.functions.codec import CDC_ENVELOPE
from conduit_connector_s3_iceberg_spark.records import Operation, Record
from conduit_connector_s3_iceberg_spark.streaming.cdc import (
    apply_cdc_batch,
    apply_cdc_batch_dlq,
    decode_cdc,
)
from conduit_connector_s3_iceberg_spark.writer import CdcWriter, ParquetWarehouse

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("n", T.IntegerType(), True),
        T.StructField("m", T.StructType([T.StructField("x", T.DoubleType())]), True),
        T.StructField("s", T.StringType(), True),
    ]
)

#: payloads every path stores, with the stored (id, n, m, s) row
STORED = {
    "exact_big_long": ('{"id": 9007199254740993, "n": 1}', (9007199254740993, 1, None, None)),
    "integral_float": ('{"id": 2, "n": 987.0}', (2, 987, None, None)),
    "null": ('{"id": 5, "n": null}', (5, None, None, None)),
    "nested_float": ('{"id": 6, "m": {"x": 3.0}}', (6, None, (3.0,), None)),
    "long_range_ends": ('{"id": -9223372036854775808, "n": -2147483648.0}',
                        (-(2**63), -(2**31), None, None)),
    # the reference rewrites this to "987"; the rule here follows the column type
    "float_in_string": ('{"id": 8, "s": 987.0}', (8, None, None, "987.0")),
}
#: payloads every path refuses
REFUSED = {
    "fractional_float": '{"id": 3, "n": 12.5}',
    "quoted_number": '{"id": 4, "n": "12"}',
    "bool_in_int": '{"id": 7, "n": true}',
    "long_overflow": '{"id": 9223372036854775808}',
    "long_underflow": '{"id": -9223372036854775809}',
    "int_overflow": '{"id": 9, "n": 2147483648}',
}


#: envelope records ``(operation, key, after)`` both epoch modes and
#: ``apply_batch`` refuse, with the reason each gives, against a table
#: holding ids 1-4
REFUSED_RECORDS = {
    "unknown_op": (("bogus", '{"id": 1}', '{"id": 1, "n": 5}'), "unknown operation: bogus"),
    "update_without_payload": (("update", '{"id": 2}', None), "record has no payload"),
    "create_without_key": (("create", None, '{"n": 5}'), "key has no fields"),
    "delete_without_key": (("delete", None, None), "key has no fields"),
    "delete_fractional_key": (
        ("delete", '{"id": 12.5}', None), "key field 'id' does not conform to bigint"
    ),
    "delete_text_key": (
        ("delete", '{"id": "abc"}', None), "key field 'id' does not conform to bigint"
    ),
    "update_text_key_without_key_field": (
        ("update", '{"id": "abc"}', '{"n": 5}'), "key field 'id' does not conform to bigint"
    ),
}
SEED = [(i, i, None, None) for i in (1, 2, 3, 4)]
#: delete keys every path reads as id 1
DELETE_KEYS = ['{"id": 1}', '{"id": 1.0}', '{"id": 1e0}', '{"id": "1"}']


def _creates(payloads):
    return [("create", None, p) for p in payloads]


def _records(records):
    return [
        Record(f"p-{i}".encode(), Operation(op), key=None if key is None else key.encode(),
               payload_after=None if after is None else after.encode())
        for i, (op, key, after) in enumerate(records)
    ]


def _wire(wh, records):
    writer = CdcWriter(wh, "t")
    with writer.batch():
        for record in _records(records):
            writer.write(record)


def _apply_batch(wh, records):
    CdcWriter(wh, "t").apply_batch(_records(records), ["id"])


def _envelope(spark, records):
    lines = [{"position": f"p-{i}", "operation": op, "key": key, "after": after}
             for i, (op, key, after) in enumerate(records)]
    return spark.createDataFrame(lines, CDC_ENVELOPE)


def _epoch(wh, records):
    """The FAILFAST epoch path (``apply_cdc_stream``'s default)."""
    apply_cdc_batch(wh, "t", decode_cdc(_envelope(wh.spark, records), SCHEMA, ["id"]), ["id"])


def _dead_letter(wh, records):
    """The dead-letter epoch path: refused records go to table ``dlq``."""
    apply_cdc_batch_dlq(wh, "t", _envelope(wh.spark, records), ["id"], "dlq")


def _reason(exc: Exception) -> str:
    """The refusal reason a failed apply carries: the message of the plan's
    ``raise_error``, or the exception's own text."""
    found = re.search(r"\[USER_RAISED_EXCEPTION\] (.*?) SQLSTATE", str(exc))
    return found.group(1) if found else str(exc)


def _rows(wh):
    return sorted(
        (r["id"], r["n"], None if r["m"] is None else tuple(r["m"]), r["s"])
        for r in wh.read("t").collect()
    )


def _outcomes(spark, tmp_path, records, paths=(_wire, _apply_batch, _epoch, _dead_letter),
              seed=()):
    """Each path's stored rows, or ``"refused: <reason>"`` when it refused
    every record and left the table as seeded: a FAILFAST path by raising,
    the dead-letter path by quarantining each record and storing nothing."""
    outcomes = {}
    for path in paths:
        wh = ParquetWarehouse(spark, str(tmp_path / path.__name__))
        wh.create_table("t", SCHEMA)
        if seed:
            wh.append("t", spark.createDataFrame(seed, SCHEMA))
        try:
            path(wh, records)
        except Exception as e:
            outcomes[path.__name__] = f"refused: {_reason(e)}"
            assert _rows(wh) == sorted(seed)
            continue
        if wh.table_exists("dlq"):
            errors = [r["error"] for r in wh.read("dlq").collect()]
            assert len(errors) == len(records) and _rows(wh) == sorted(seed)
            outcomes[path.__name__] = "refused: " + "; ".join(sorted(set(errors)))
            continue
        outcomes[path.__name__] = _rows(wh)
    return outcomes


def test_every_write_path_stores_the_same_rows(spark, tmp_path):
    records = _creates(p for p, _ in STORED.values())
    want = sorted(row for _, row in STORED.values())
    outcomes = _outcomes(spark, tmp_path, records)
    assert outcomes == {name: want for name in outcomes}, json.dumps(outcomes)


@pytest.mark.parametrize("case", list(REFUSED))
def test_every_write_path_refuses(spark, tmp_path, case):
    outcomes = _outcomes(spark, tmp_path, _creates([REFUSED[case]]))
    assert len(set(outcomes.values())) == 1, json.dumps(outcomes)
    assert next(iter(outcomes.values())).startswith("refused: "), json.dumps(outcomes)


@pytest.mark.parametrize("case", list(REFUSED_RECORDS))
def test_epoch_modes_refuse_the_same_records(spark, tmp_path, case):
    """FAILFAST (the epoch default and ``apply_batch``) raises with the
    reason the dead-letter path quarantines, and none changes the table.
    A ``Record`` cannot carry an unknown operation, so that case leaves
    ``apply_batch`` out."""
    record, reason = REFUSED_RECORDS[case]
    paths = (_epoch, _dead_letter) if case == "unknown_op" else (_apply_batch, _epoch, _dead_letter)
    outcomes = _outcomes(spark, tmp_path, [record], paths, SEED)
    assert outcomes == {path.__name__: f"refused: {reason}" for path in paths}


@pytest.mark.parametrize("key", DELETE_KEYS)
def test_every_write_path_deletes_an_integral_key(spark, tmp_path, key):
    outcomes = _outcomes(spark, tmp_path, [("delete", key, None)], seed=SEED)
    assert outcomes == {name: SEED[1:] for name in outcomes}, json.dumps(outcomes)


def test_integral_key_spellings_collapse_as_one_key(spark, tmp_path):
    """``1.0`` and ``1`` are one key in a batch's last-write-wins collapse:
    the later delete wins over the earlier update."""
    records = [("update", '{"id": 1.0}', '{"id": 1, "n": 9}'), ("delete", '{"id": 1}', None)]
    outcomes = _outcomes(spark, tmp_path, records, seed=SEED)
    assert outcomes == {name: SEED[1:] for name in outcomes}, json.dumps(outcomes)
