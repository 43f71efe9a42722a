"""One payload rule on every CDC write path.

The same payloads go through a wire group (``CdcWriter.batch()``), through
``CdcWriter.apply_batch`` and through the epoch path (``decode_cdc`` +
``apply_cdc_batch``). For each payload the three paths store equal rows or
all three refuse it: integer tokens keep their exact value, an
exact-integral float becomes an int, and a fractional, quoted, boolean or
out-of-range value in an integral column is refused; nested values are
untouched, and a string column keeps a number token's text as written.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from conduit_connector_s3_iceberg_spark.functions.codec import CDC_ENVELOPE
from conduit_connector_s3_iceberg_spark.records import Operation, Record
from conduit_connector_s3_iceberg_spark.streaming.cdc import apply_cdc_batch, decode_cdc
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


def _records(payloads):
    return [Record(f"p-{i}".encode(), Operation.CREATE, payload_after=p.encode())
            for i, p in enumerate(payloads)]


def _wire(wh, payloads):
    writer = CdcWriter(wh, "t")
    with writer.batch():
        for record in _records(payloads):
            writer.write(record)


def _apply_batch(wh, payloads):
    CdcWriter(wh, "t").apply_batch(_records(payloads), ["id"])


def _epoch(wh, payloads):
    lines = [{"position": f"p-{i}", "operation": "create", "after": p}
             for i, p in enumerate(payloads)]
    envelope = wh.spark.createDataFrame(lines, CDC_ENVELOPE)
    apply_cdc_batch(wh, "t", decode_cdc(envelope, SCHEMA, ["id"]), ["id"])


def _outcomes(spark, tmp_path, payloads):
    """Each path's stored rows, or "refused" when it raised and stored none."""
    outcomes = {}
    for path in (_wire, _apply_batch, _epoch):
        wh = ParquetWarehouse(spark, str(tmp_path / path.__name__))
        wh.create_table("t", SCHEMA)
        try:
            path(wh, payloads)
        except Exception:
            outcomes[path.__name__] = "refused"
            assert wh.read("t").count() == 0
            continue
        outcomes[path.__name__] = sorted(
            (r["id"], r["n"], None if r["m"] is None else tuple(r["m"]), r["s"])
            for r in wh.read("t").collect()
        )
    return outcomes


def test_every_write_path_stores_the_same_rows(spark, tmp_path):
    payloads = [p for p, _ in STORED.values()]
    want = sorted(row for _, row in STORED.values())
    outcomes = _outcomes(spark, tmp_path, payloads)
    assert outcomes == {name: want for name in outcomes}, json.dumps(outcomes)


@pytest.mark.parametrize("case", list(REFUSED))
def test_every_write_path_refuses(spark, tmp_path, case):
    outcomes = _outcomes(spark, tmp_path, [REFUSED[case]])
    assert set(outcomes.values()) == {"refused"}, json.dumps(outcomes)
