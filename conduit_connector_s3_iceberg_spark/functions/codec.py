"""Column-expression CDC codec: the one payload-conform rule.

Every OpenCDC payload reaches table rows through :func:`conform_payload`:
the plugin wire path (``writer.CdcWriter``, which decodes one record at a
time on the driver, as the reference does in ``SparkDestinationStream.java:
138-262``), ``CdcWriter.apply_batch`` and the epoch path
(``streaming.cdc.decode_cdc``), which decodes on executors as column
expressions over a DataFrame of raw envelope rows. The rules:

* payload JSON is parsed against the target table schema; what a FAILFAST
  parse refuses fails the job (``SparkDestinationStream.java:221-227``),
  or, for a caller that reports refusals per record (the epoch decode),
  leaves its reason in a column; a payload that is not a JSON object is
  ``input data is not JSON`` (``:175-188``);
* a top-level integral column takes an integer token exactly and an
  exact-integral float (``987.0``, ``1e2``) as an int (``:237-262``); a
  fractional, quoted, boolean or out-of-range value is refused; nested
  values are untouched;
* a string column takes a number token's text as written: ``987.0`` is
  stored as ``"987.0"``. This is a deliberate divergence: the reference
  rewrites every top-level integral float before its read, so it stores
  ``"987"``; here the rule follows the column's type;
* keys are JSON objects of scalars (:func:`key_struct`); a key value is
  cast to its column's type, an integral column reading it by the same
  integral rule as a payload value (``:195-206``).

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

#: a JSON object read as a map of its fields' text (null if it is not one)
JSON_MAP = T.MapType(T.StringType(), T.StringType())

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


def _integral(exact: Column, double: Column, bits: int) -> Column:
    """Whether a value read as ``decimal(38,0)`` (``exact``) and as double
    is an integer of ``bits`` bits: the exact reading lies in that range and
    equals the double reading, so a fractional value is refused."""
    return exact.between(-(2 ** (bits - 1)), 2 ** (bits - 1) - 1) & (exact == double)


def _conformed(
    raw: Column, exact: Column, wide: Column, schema: T.StructType
) -> tuple[Column, Column]:
    """``(row, error)`` over the raw payload and its two parses: the row
    struct with the table's field types (null where the payload is null),
    and the reason the payload is refused (null if it is not).

    A top-level integral value is taken when its exact reading lies in the
    column's range and equals its double reading: ``987.0`` and ``1e2`` are
    ints, ``12.5``, ``1e-30`` and ``2**63`` in a bigint column are refused
    (``SparkDestinationStream.java:237-262``). Nested values are untouched.
    A payload the widened parse cannot read is ``input data is not JSON``
    when it is not a JSON object at all (``:175-188``); that third read
    runs only on payloads already refused.
    """
    unread = raw.isNotNull() & (wide.isNull() | wide[_CORRUPT].isNotNull())
    # json_object_keys is null unless the text is a JSON object, and unlike
    # from_json it compiles into the projection's generated code
    not_json = F.when(F.json_object_keys(raw).isNull(), F.lit("input data is not JSON"))
    nonconforming = F.lit("payload does not conform to the table schema")
    errors = [F.when(unread, F.coalesce(not_json, nonconforming))]
    fields = []
    for f in schema.fields:
        value, bits = wide[f.name], _bits(f.dataType)
        if bits:
            e = exact[f.name]
            errors.append(
                F.when(
                    value.isNotNull() & ~F.coalesce(_integral(e, value, bits), F.lit(False)),
                    F.lit(f"field {f.name!r} does not conform to {f.dataType.simpleString()}"),
                )
            )
            value = e.try_cast(f.dataType)  # a refused value reads as null when reported
        fields.append(value.alias(f.name))
    return F.when(raw.isNotNull(), F.struct(*fields)), F.coalesce(*errors)


def refuse(col: Column, error: Column) -> Column:
    """``col``, failing the job with ``error`` wherever that is set."""
    return F.when(error.isNull(), col).otherwise(F.raise_error(error))


@functools.lru_cache(maxsize=64)
def _bound_rule(
    json_col: str, schema: T.StructType, error_col: str | None
) -> tuple[Column, ...]:
    """The two parses and the output columns that read them — built once
    per payload column, schema and mode: every Column call is a JVM round
    trip, and the wire path conforms one small frame per commit."""
    exact, wide = _parses(json_col, schema)
    row, error = _conformed(F.col(json_col), F.col(_EXACT), F.col(_WIDE), schema)
    if error_col is None:
        return exact.alias(_EXACT), wide.alias(_WIDE), refuse(row, error).alias(json_col)
    return exact.alias(_EXACT), wide.alias(_WIDE), row.alias(json_col), error.alias(error_col)


def conform_payload(
    frame: DataFrame, json_col: str, schema: T.StructType, error_col: str | None = None
) -> DataFrame:
    """``frame`` with its payload-JSON column ``json_col`` replaced by a
    struct column of the same name, conformed to the target table schema
    (:func:`_conformed`). A payload that does not conform fails the job;
    with ``error_col`` set, its reason lands in that column instead (null
    where the payload conforms), appended after ``frame``'s columns.

    Each parse is bound once, as a column of an inner projection that the
    outer one reads its fields from: Spark does not inline a ``from_json``
    that is read more than once, so the plan holds two parses however many
    fields the table has."""
    exact, wide, row, *error = _bound_rule(json_col, schema, error_col)
    bound = frame.select(*frame.columns, exact, wide)
    return bound.select(*[row if c == json_col else F.col(c) for c in frame.columns], *error)


@functools.lru_cache(maxsize=64)
def key_struct(kmap: str, key_fields: tuple[str, ...], schema: T.StructType) -> Column:
    """The parsed key map column ``kmap`` (``from_json`` of the key against
    :data:`JSON_MAP`) → struct of the key fields typed like their table
    columns. A key's values are text (the reference's stringified struct
    keys, ``:195-206``) and are cast to the column type, except that an
    integral column takes them by the payload rule (:func:`_integral`):
    ``1``, ``1.0`` and ``1e0`` are the int 1, ``12.5`` and ``abc`` do not
    conform. A field that does not conform reads as null, as does a
    null-valued one (``json_key_to_map`` drops it, ``:164-165``). Built
    once per column, key and schema, as every Column call is a JVM round
    trip."""
    fields = []
    for k in key_fields:
        text, dtype = F.col(kmap)[k], schema[k].dataType
        bits = _bits(dtype)
        if bits:
            exact = text.try_cast(T.DecimalType(38, 0))
            ok = _integral(exact, text.try_cast(T.DoubleType()), bits)
            fields.append(F.when(ok, exact.try_cast(dtype)).alias(k))
        else:
            fields.append(text.try_cast(dtype).alias(k))
    return F.struct(*fields)
