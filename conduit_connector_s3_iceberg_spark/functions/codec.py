"""Column-expression CDC codec: the one payload-conform rule.

Every OpenCDC payload reaches table rows through :func:`conform_payload`:
the plugin wire path (``writer.CdcWriter``, which decodes one record at a
time on the driver, as the reference does in ``SparkDestinationStream.java:
138-262``), ``CdcWriter.apply_batch`` and the epoch path
(``streaming.cdc.decode_cdc``), which decodes on executors as column
expressions over a DataFrame of raw envelope rows. The rules:

* payload JSON is parsed against the target table schema; what a FAILFAST
  parse refuses fails the job (``SparkDestinationStream.java:221-227``);
* a top-level integral column takes an integer token exactly and an
  exact-integral float (``987.0``, ``1e2``) as an int (``:237-262``); a
  fractional, quoted, boolean or out-of-range value is refused; nested
  values are untouched;
* a string column takes a number token's text as written: ``987.0`` is
  stored as ``"987.0"``. This is a deliberate divergence: the reference
  rewrites every top-level integral float before its read, so it stores
  ``"987"``; here the rule follows the column's type;
* keys are JSON objects of scalars; values compare via implicit casts
  (``:195-206``).

Everything stays JVM-side — no Python UDFs.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Envelope schema for a CDC record stream (mirrors ``opencdc.proto:51-74``
#: — position/operation/key/before/after/metadata; key+payloads carried as
#: raw JSON text exactly as the proto's raw-``Data`` form).
CDC_ENVELOPE = T.StructType(
    [
        T.StructField("position", T.StringType(), False),
        T.StructField("operation", T.StringType(), False),
        T.StructField("key", T.StringType(), True),
        T.StructField("before", T.StringType(), True),
        T.StructField("after", T.StringType(), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

#: bit width of each integral column type
_INTEGRALS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}

#: the two parses' columns while :func:`conform_payload` binds them, and the
#: widened parse's corrupt-record field (set where FAILFAST would refuse)
_EXACT, _WIDE, _CORRUPT = "__exact", "__wide", "__corrupt"


def _bits(dtype: T.DataType) -> int | None:
    return _INTEGRALS.get(type(dtype))


def _parses(json_col: Column | str, schema: T.StructType) -> tuple[Column, Column]:
    """The two parses of one payload, which together read it as the
    reference's Jackson read does. The exact parse takes the integral
    fields as ``decimal(38,0)``: an integer token keeps its exact value, a
    float is rounded to an integer. The widened parse takes the table schema
    with integral fields as double. Its corrupt-record field marks what a
    FAILFAST parse refuses: malformed JSON, a value that does not fit its
    column, a quoted number or a boolean in an integral column."""
    exact = T.StructType(
        [T.StructField(f.name, T.DecimalType(38, 0)) for f in schema.fields if _bits(f.dataType)]
    )
    widened = T.StructType(
        [T.StructField(f.name, T.DoubleType()) if _bits(f.dataType) else f for f in schema.fields]
        + [T.StructField(_CORRUPT, T.StringType())]
    )
    return (
        F.from_json(json_col, exact),
        F.from_json(json_col, widened, {"columnNameOfCorruptRecord": _CORRUPT}),
    )


def _conformed(exact: Column, wide: Column, schema: T.StructType) -> tuple[Column, Column]:
    """``(row, error)`` over the two parses: the row struct with the table's
    field types, and the reason the payload is refused (null if it is not).

    A top-level integral value is taken when its exact reading lies in the
    column's range and equals its double reading: ``987.0`` and ``1e2`` are
    ints, ``12.5``, ``1e-30`` and ``2**63`` in a bigint column are refused
    (``SparkDestinationStream.java:237-262``). Nested values are untouched.
    """
    errors = [F.when(wide[_CORRUPT].isNotNull(), F.lit("payload does not conform to the table schema"))]
    fields = []
    for f in schema.fields:
        value, bits = wide[f.name], _bits(f.dataType)
        if bits:
            e = exact[f.name]
            ok = e.between(-(2 ** (bits - 1)), 2 ** (bits - 1) - 1) & (e == value)
            errors.append(
                F.when(
                    value.isNotNull() & ~F.coalesce(ok, F.lit(False)),
                    F.lit(f"field {f.name!r} does not conform to {f.dataType.simpleString()}"),
                )
            )
            value = e.cast(f.dataType)
        fields.append(value.alias(f.name))
    return F.struct(*fields), F.coalesce(*errors)


@functools.lru_cache(maxsize=64)
def _bound_rule(json_col: str, schema: T.StructType) -> tuple[Column, Column, Column]:
    """The two parses and the conformed struct that reads them — built once
    per payload column and schema: every Column call is a JVM round trip,
    and the wire path conforms one small frame per commit."""
    exact, wide = _parses(json_col, schema)
    row, error = _conformed(F.col(_EXACT), F.col(_WIDE), schema)
    conformed = F.when(error.isNull(), row).otherwise(F.raise_error(error))
    return exact.alias(_EXACT), wide.alias(_WIDE), conformed.alias(json_col)


def conform_payload(frame: DataFrame, json_col: str, schema: T.StructType) -> DataFrame:
    """``frame`` with its payload-JSON column ``json_col`` replaced by a
    struct column of the same name, conformed to the target table schema
    (:func:`_conformed`). A payload that does not conform fails the job.

    Each parse is bound once, as a column of an inner projection that the
    outer one reads its fields from: Spark does not inline a ``from_json``
    that is read more than once, so the plan holds two parses however many
    fields the table has."""
    exact, wide, conformed = _bound_rule(json_col, schema)
    bound = frame.select(*[c for c in frame.columns if c != json_col], exact, wide)
    return bound.select(*[conformed if c == json_col else F.col(c) for c in frame.columns])


def payload_error(json_col: Column | str, schema: T.StructType) -> Column:
    """Why :func:`conform_payload` would refuse the payload in ``json_col``,
    or null where it takes it — the same rule as a verdict column."""
    return _conformed(*_parses(json_col, schema), schema)[1]


def key_struct(key_col: Column | str, key_fields: list[str]) -> Column:
    """Key-JSON column → struct of (string-typed) key fields; values match
    typed columns through implicit casts — the columnar form of the
    reference's stringified struct keys (``:195-206``)."""
    kmap = F.from_json(key_col, T.MapType(T.StringType(), T.StringType()))
    return F.struct(*[kmap[k].alias(k) for k in key_fields])
