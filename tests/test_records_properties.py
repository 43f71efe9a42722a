"""Property-based tests (hypothesis) for the record decode layer — the
reference's behavior rules hold for ALL inputs, not just the handwritten
cases in test_records.py. The payload properties run one Spark job per
generated batch through ``conform_payload``."""

from __future__ import annotations

import json
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import types as T

from conduit_connector_s3_iceberg_spark.functions.codec import conform_payload
from conduit_connector_s3_iceberg_spark.records import (
    KeyError_,
    json_key_to_map,
    struct_key_to_map,
)
from conduit_connector_s3_iceberg_spark.writer import arrow_frame

scalars = st.one_of(
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=40),
)
field_names = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="_"),
    min_size=1,
    max_size=20,
)


@given(st.dictionaries(field_names, scalars, min_size=1, max_size=8))
@settings(max_examples=200, deadline=None)
def test_json_keys_scalars_always_kept(obj):
    out = json_key_to_map(json.dumps(obj).encode())
    assert set(out) == set(obj)
    for k, v in obj.items():
        assert out[k] == v


@given(st.dictionaries(field_names, st.none() | scalars, min_size=1, max_size=8))
@settings(max_examples=200, deadline=None)
def test_json_null_fields_always_dropped(obj):
    out = json_key_to_map(json.dumps(obj).encode())
    assert set(out) == {k for k, v in obj.items() if v is not None}


@given(
    st.dictionaries(
        field_names,
        st.one_of(st.lists(scalars, max_size=3), st.dictionaries(field_names, scalars, max_size=3)),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=100, deadline=None)
def test_nested_key_values_always_rejected(obj):
    with pytest.raises(KeyError_, match="unsupported node type"):
        json_key_to_map(json.dumps(obj).encode())


@given(st.dictionaries(field_names, scalars, min_size=1, max_size=8))
@settings(max_examples=200, deadline=None)
def test_struct_keys_always_stringified(obj):
    out = struct_key_to_map(obj)
    assert set(out) == set(obj)
    assert all(isinstance(v, str) for v in out.values())
    for k, v in obj.items():
        if isinstance(v, bool):
            assert out[k] in ("true", "false")
        elif isinstance(v, float) and v.is_integer():
            # Struct numbers are doubles; exact integrals print as ints
            assert out[k] == str(int(v))


#: the payload property tests' table: two integral columns of different
#: widths, and one double and one string column that pass values through
PAYLOAD_SCHEMA = T.StructType([
    T.StructField("i", T.LongType()),
    T.StructField("n", T.IntegerType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("s", T.StringType()),
])
BITS = {"i": 64, "n": 32}
edges = st.sampled_from([2**63 - 1, -(2**63), 2**63, 2**31 - 1, -(2**31), 2**31, 2**53 + 1])
integral_values = st.one_of(
    st.none(), st.booleans(), st.integers(-(2**70), 2**70), edges,
    st.floats(allow_nan=False, allow_infinity=False),
    st.floats(allow_nan=False, allow_infinity=False).map(float.__round__).map(float),
    st.text(max_size=6),
)
payload_rows = st.fixed_dictionaries(
    {},
    optional={"i": integral_values, "n": integral_values,
              "d": st.floats(allow_nan=False, allow_infinity=False),
              "s": st.text(max_size=12)},
)


def _conformed(spark, schema, objs):
    """One Spark job: the JSON texts of ``objs`` through conform_payload."""
    frame = arrow_frame(spark, {"value": [json.dumps(o) for o in objs]})
    rows = conform_payload(frame, "value", schema).select("value.*")
    return [r.asDict(recursive=True) for r in rows.collect()]


def _integral(v, bits):
    """The exact rule for one integral column; None means refused."""
    if isinstance(v, float) and v.is_integer():
        # the value the JSON text denotes: beyond 2**53 the shortest repr
        # of a double need not be the double's own integer value
        v = int(Decimal(json.dumps(v)))
    if isinstance(v, bool) or not isinstance(v, int):
        return None
    return v if -(2 ** (bits - 1)) <= v < 2 ** (bits - 1) else None


@given(st.lists(payload_rows, min_size=1, max_size=6))
@settings(max_examples=30, deadline=None)
def test_payload_normalization_invariants(spark, batch):
    expected = []
    for obj in batch:
        row = {"d": obj.get("d"), "s": obj.get("s")}
        for name, bits in BITS.items():
            v = obj.get(name)
            row[name] = None if v is None else _integral(v, bits)
            if v is not None and row[name] is None:
                # one refused value refuses the whole batch
                with pytest.raises(Exception):
                    _conformed(spark, PAYLOAD_SCHEMA, batch)
                return
        expected.append(row)
    got = _conformed(spark, PAYLOAD_SCHEMA, batch)
    assert got == expected
    for row in got:
        assert all(type(row[n]) is int for n in BITS if row[n] is not None)


@given(
    st.lists(
        st.lists(st.floats(allow_nan=False, allow_infinity=False), min_size=1, max_size=3),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=30, deadline=None)
def test_payload_nested_floats_never_rewritten(spark, batch):
    # integral rewrite is top-level ONLY (reference iterates top-level
    # field names, SparkDestinationStream.java:254)
    schema = T.StructType([
        T.StructField("arr", T.ArrayType(T.DoubleType())),
        T.StructField("m", T.StructType([T.StructField("x", T.DoubleType())])),
    ])
    objs = [{"arr": floats, "m": {"x": floats[0]}} for floats in batch]
    assert _conformed(spark, schema, objs) == objs
