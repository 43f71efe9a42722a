"""Decode-layer unit tests: the reference's key/payload error taxonomy,
and the payload integral rule as ``conform_payload`` applies it.

Table-driven from ``SparkDestinationStreamIT.java:185-258`` and
``SparkDestinationStream.java:138-262`` (see FIXTURES.md §2).
"""

import json

import pytest
from pyspark.sql import types as T

from conduit_connector_s3_iceberg_spark.functions.codec import conform_payload
from conduit_connector_s3_iceberg_spark.records import (
    KeyError_,
    json_key_to_map,
    key_to_map,
    normalize_payload_json,
    struct_key_to_map,
)
from conduit_connector_s3_iceberg_spark.writer import arrow_frame


class TestKeyDecode:
    def test_json_scalar_types_kept_native(self):
        raw = b'{"i": 12, "f": 1.5, "s": "x", "b": true}'
        assert json_key_to_map(raw) == {"i": 12, "f": 1.5, "s": "x", "b": True}

    def test_null_fields_dropped(self):
        assert json_key_to_map(b'{"a": null, "b": 1}') == {"b": 1}

    def test_nested_value_rejected(self):
        with pytest.raises(KeyError_, match="unsupported node type"):
            json_key_to_map(b'{"a": {"nested": 1}}')
        with pytest.raises(KeyError_, match="unsupported node type"):
            json_key_to_map(b'{"a": [1, 2]}')

    # FIXTURES.md §2 error table
    @pytest.mark.parametrize("raw", [b"abc123", b"", b'"scalar"', b"[1,2]"])
    def test_not_json_object(self, raw):
        with pytest.raises(KeyError_, match="input data is not JSON"):
            json_key_to_map(raw)

    @pytest.mark.parametrize("key", [b"{}", {}, b'{"a": null}', None])
    def test_empty_key_rejected(self, key):
        with pytest.raises(KeyError_, match="key has no fields"):
            key_to_map(key)

    def test_struct_key_values_stringified(self):
        # reference stringifies ALL struct scalars (String.valueOf)
        out = struct_key_to_map({"integer_field": 12.0, "s": "x", "b": True})
        assert out == {"integer_field": "12", "s": "x", "b": "true"}

    def test_struct_nested_rejected(self):
        with pytest.raises(KeyError_, match="unsupported value kind"):
            struct_key_to_map({"a": {"nested": 1}})


def _conform(spark, schema, *payloads):
    """Payload texts through the one payload rule, as collected rows."""
    frame = arrow_frame(spark, {"value": list(payloads)})
    return conform_payload(frame, "value", schema).select("value.*").collect()


class TestPayloadNormalization:
    def test_top_level_integral_floats_become_ints(self, spark):
        schema = T.StructType([T.StructField("a", T.LongType()),
                               T.StructField("b", T.DoubleType())])
        [row] = _conform(spark, schema, normalize_payload_json(b'{"a": 987.0, "b": 1.5}'))
        assert row.asDict() == {"a": 987, "b": 1.5}
        assert isinstance(row["a"], int)

    def test_nested_values_untouched(self, spark):
        # reference rewrites top-level only (SparkDestinationStream.java:254)
        payload = '{"arr": [1.0, 2.5], "m": {"x": 3.0}}'
        doubles = T.StructType([
            T.StructField("arr", T.ArrayType(T.DoubleType())),
            T.StructField("m", T.StructType([T.StructField("x", T.DoubleType())])),
        ])
        [row] = _conform(spark, doubles, payload)
        assert row["arr"] == [1.0, 2.5] and row["m"]["x"] == 3.0
        longs = T.StructType([
            T.StructField("m", T.StructType([T.StructField("x", T.LongType())])),
        ])
        with pytest.raises(Exception):
            _conform(spark, longs, payload)

    def test_bool_not_treated_as_number(self, spark):
        flag = T.StructType([T.StructField("flag", T.BooleanType())])
        assert _conform(spark, flag, '{"flag": true}')[0]["flag"] is True
        as_int = T.StructType([T.StructField("flag", T.IntegerType())])
        with pytest.raises(Exception):
            _conform(spark, as_int, '{"flag": true}')

    def test_dict_payload_accepted(self, spark):
        text = normalize_payload_json({"a": 2.0})
        assert json.loads(text) == {"a": 2.0}
        schema = T.StructType([T.StructField("a", T.IntegerType())])
        assert _conform(spark, schema, text)[0]["a"] == 2

    def test_non_json_payload_rejected(self):
        with pytest.raises(ValueError, match="input data is not JSON"):
            normalize_payload_json(b"not json")

    def test_missing_payload_rejected(self):
        with pytest.raises(ValueError, match="record has no payload"):
            normalize_payload_json(None)
