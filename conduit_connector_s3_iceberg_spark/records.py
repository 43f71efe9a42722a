"""OpenCDC record model and decode layer.

Re-expresses the reference's wire data model and per-record decode rules
(``src/main/proto/opencdc.proto:38-97``, ``SparkDestinationStream.java:
116-262``) with the same observable behavior. A ``Record`` arrives in one
shape: the plugin wire decodes proto-JSON ``opencdc.v1.Record`` frames
(:mod:`.plugin.protojson`), whose ``Data`` is raw JSON bytes or an
already-decoded Struct (a ``dict``).

* key decode keeps bool/number/string, drops null/missing, rejects nested
  values (``SparkDestinationStream.java:161-170``);
* empty keys raise ``key has no fields`` (``:119-122``);
* non-JSON key bytes raise ``input data is not JSON`` (``:180,184``);
* Struct keys are stringified scalars (``:195-206``);
* payloads are validated as JSON objects here; the exact-integral rule of
  ``toJsonString`` (``:237-262``) is applied by the schema-conformed parse,
  ``functions.codec.conform_payload``, which every write path shares. It
  applies to integral columns only: a string column keeps a number
  token's text (``987.0`` stays ``"987.0"``; the reference stores
  ``"987"``).

Divergence (deliberate, documented): composite keys AND all fields — the
reference silently drops all but the first via jOOQ condition misuse
(``SparkDestinationStream.java:126-132``); we fix that bug.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from enum import Enum
from typing import Any


class Operation(str, Enum):
    """CDC operation (``opencdc.proto:38-49``)."""

    UNSPECIFIED = "unspecified"
    CREATE = "create"
    UPDATE = "update"
    DELETE = "delete"
    SNAPSHOT = "snapshot"


@dataclass
class Record:
    """One OpenCDC change event (``opencdc.proto:51-74``).

    ``key``/``payload_after`` accept raw JSON ``bytes`` (the proto's raw
    data form) or a ``dict`` (the decoded protobuf-Struct form).
    """

    position: bytes
    operation: Operation
    key: bytes | dict | None = None
    payload_before: bytes | dict | None = None
    payload_after: bytes | dict | None = None
    metadata: dict[str, str] = field(default_factory=dict)


class KeyError_(ValueError):
    """Key decode failure with the reference's message contract."""


def _read_json_object(raw: bytes) -> dict:
    """Parse bytes as a JSON object; reference: ``readJson``,
    ``SparkDestinationStream.java:175-188``."""
    try:
        obj = json.loads(raw.decode("utf-8")) if raw else None
    except (json.JSONDecodeError, UnicodeDecodeError):
        raise KeyError_("input data is not JSON") from None
    if not isinstance(obj, dict):
        raise KeyError_("input data is not JSON")
    return obj


def json_key_to_map(raw: bytes) -> dict[str, Any]:
    """JSON key bytes → predicate map (``jsonStringToMap``,
    ``SparkDestinationStream.java:151-173``): bool/number/string kept with
    native types, null dropped, nested values rejected."""
    obj = _read_json_object(raw)
    out: dict[str, Any] = {}
    for name, value in obj.items():
        if value is None:
            continue  # NULL/MISSING dropped (reference :164-165)
        if isinstance(value, (bool, int, float, str)):
            out[name] = value
        else:
            raise KeyError_(
                f"unsupported node type for key field {name!r}: "
                f"{type(value).__name__}"
            )
    return out


def struct_key_to_map(struct: dict[str, Any]) -> dict[str, str]:
    """Protobuf-Struct key → predicate map (``protobufStructToMap``,
    ``SparkDestinationStream.java:190-209``): number/string/bool only, all
    values STRINGIFIED (the reference's ``String.valueOf``), relying on
    engine-side implicit casts to match typed columns."""
    out: dict[str, str] = {}
    for name, value in struct.items():
        if isinstance(value, bool):
            out[name] = "true" if value else "false"
        elif isinstance(value, (int, float, str)):
            if isinstance(value, float) and value.is_integer():
                out[name] = str(int(value))  # Struct numbers are doubles
            else:
                out[name] = str(value)
        else:
            raise KeyError_(
                f"unsupported value kind for key field {name!r}: "
                f"{type(value).__name__}"
            )
    return out


def key_to_map(key: bytes | dict | None) -> dict[str, Any]:
    """Key ``Data`` → predicate map (``toPojoMap``,
    ``SparkDestinationStream.java:138-149``) + the empty-key guard that
    prevents accidental full-table deletes (``:119-122``)."""
    if isinstance(key, dict):
        out: dict[str, Any] = struct_key_to_map(key)
    elif isinstance(key, (bytes, bytearray)):
        out = json_key_to_map(bytes(key))
    else:
        raise KeyError_("key has no fields")
    if not out:
        raise KeyError_("key has no fields")
    return out


def normalize_payload_json(payload: bytes | dict | None) -> str:
    """Payload ``Data`` → one JSON object text for the schema-conformed
    parse (``toJsonString``, ``SparkDestinationStream.java:237-262``): raw
    bytes must be a JSON object and pass through as text; a decoded Struct
    is serialized. Numbers are not rewritten here — the integral rule is
    part of that parse (``functions.codec.conform_payload``)."""
    if payload is None:
        raise ValueError("record has no payload")
    if isinstance(payload, dict):
        return json.dumps(payload)
    try:
        text = bytes(payload).decode("utf-8")
        obj = json.loads(text)
    except (json.JSONDecodeError, UnicodeDecodeError):
        raise ValueError("input data is not JSON") from None
    if not isinstance(obj, dict):
        raise ValueError("input data is not JSON")
    return text
