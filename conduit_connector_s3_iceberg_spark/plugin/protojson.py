"""Canonical protobuf-JSON codec for the plugin wire.

The NDJSON transport's message payloads follow the standard protobuf
JSON mapping (protojson) of the reference's service contract, and a
record frame has exactly this one shape: :func:`record_from_proto_json`
is the only record decoder —
``connector.proto`` (``DestinationPlugin`` at :84-131, message trees at
:221-383) and ``opencdc.proto`` (``Record``/``Change``/``Data`` at
:52-97) — so that a future gRPC binding is a pure codec swap with zero
service-layer change:

- field names are lowerCamelCase (``ack_position`` → ``ackPosition``,
  ``raw_data`` → ``rawData``, ``structured_data`` → ``structuredData``,
  ``destination_params`` → ``destinationParams``);
- ``bytes`` fields are base64 strings;
- enums are their full proto spellings (``OPERATION_CREATE``,
  ``TYPE_REQUIRED``);
- ``map<string, string>`` is a JSON object;
- ``google.protobuf.Struct`` is a plain JSON object;
- the ``Data`` oneof carries exactly one of ``rawData`` /
  ``structuredData``;
- empty messages are ``{}``.

``PROTO_FIELDS`` vendors the field tree of every message the
destination/specifier surface exchanges, hand-derived from the proto
files (cites inline). ``tests/test_wire_shapes.py`` re-derives the same
tree by parsing the proto sources and asserts the two match 1:1, then
asserts every encoder/decoder round-trips through exactly these fields.
"""

from __future__ import annotations

import base64
from typing import Any

from ..records import Operation, Record

__all__ = [
    "PROTO_FIELDS",
    "OPERATION_TO_PROTO",
    "OPERATION_FROM_PROTO",
    "data_to_proto_json",
    "data_from_proto_json",
    "record_to_proto_json",
    "record_from_proto_json",
    "unb64",
    "run_response_to_proto_json",
    "specify_response_to_proto_json",
]


# Field trees, keyed by fully-qualified proto message name. Values map the
# JSON (lowerCamelCase) field name to a kind tag used by the golden tests:
#   scalar kinds: "bytes" (base64 string), "string", "bool", "enum:<Enum>"
#   composite:    "map<string,string>", "map<string,<Msg>>", "msg:<Msg>",
#                 "repeated:<Msg>", "struct" (google.protobuf.Struct),
#                 "oneof" (marker row listing the oneof arms)
PROTO_FIELDS: dict[str, dict[str, str]] = {
    # opencdc.proto:52-74
    "opencdc.v1.Record": {
        "position": "bytes",
        "operation": "enum:Operation",
        "metadata": "map<string,string>",
        "key": "msg:opencdc.v1.Data",
        "payload": "msg:opencdc.v1.Change",
    },
    # opencdc.proto:77-85
    "opencdc.v1.Change": {
        "before": "msg:opencdc.v1.Data",
        "after": "msg:opencdc.v1.Data",
    },
    # opencdc.proto:89-97 — oneof data { raw_data; structured_data; }
    "opencdc.v1.Data": {
        "rawData": "bytes",
        "structuredData": "struct",
    },
    # connector.proto:222-228
    "connector.v1.Destination.Configure.Request": {
        "config": "map<string,string>",
    },
    "connector.v1.Destination.Configure.Response": {},
    # connector.proto:230-233
    "connector.v1.Destination.Start.Request": {},
    "connector.v1.Destination.Start.Response": {},
    # connector.proto:235-249
    "connector.v1.Destination.Run.Request": {
        "record": "msg:opencdc.v1.Record",
    },
    "connector.v1.Destination.Run.Response": {
        "ackPosition": "bytes",
        "error": "string",
    },
    # connector.proto:251-259
    "connector.v1.Destination.Stop.Request": {
        "lastPosition": "bytes",
    },
    "connector.v1.Destination.Stop.Response": {},
    # connector.proto:261-264
    "connector.v1.Destination.Teardown.Request": {},
    "connector.v1.Destination.Teardown.Response": {},
    # connector.proto:299-324
    "connector.v1.Specifier.Specify.Request": {},
    "connector.v1.Specifier.Specify.Response": {
        "name": "string",
        "summary": "string",
        "description": "string",
        "version": "string",
        "author": "string",
        "destinationParams": "map<string,connector.v1.Specifier.Parameter>",
        "sourceParams": "map<string,connector.v1.Specifier.Parameter>",
    },
    # connector.proto:327-382
    "connector.v1.Specifier.Parameter": {
        "default": "string",
        "required": "bool",
        "description": "string",
        "type": "enum:Type",
        "validations": "repeated:connector.v1.Specifier.Parameter.Validation",
    },
    # connector.proto:329-350
    "connector.v1.Specifier.Parameter.Validation": {
        "type": "enum:Type",
        "value": "string",
    },
}

# opencdc.proto:38-49
OPERATION_TO_PROTO: dict[Operation, str] = {
    Operation.UNSPECIFIED: "OPERATION_UNSPECIFIED",
    Operation.CREATE: "OPERATION_CREATE",
    Operation.UPDATE: "OPERATION_UPDATE",
    Operation.DELETE: "OPERATION_DELETE",
    Operation.SNAPSHOT: "OPERATION_SNAPSHOT",
}
OPERATION_FROM_PROTO = {v: k for k, v in OPERATION_TO_PROTO.items()}


def _b64(b: bytes) -> str:
    return base64.b64encode(b).decode("ascii")


def unb64(s: str) -> bytes:
    """A proto-JSON ``bytes`` field; anything but strict base64 raises."""
    return base64.b64decode(s, validate=True)


def data_to_proto_json(v: bytes | dict | None) -> dict[str, Any] | None:
    """``opencdc.v1.Data`` (``opencdc.proto:89-97``): the oneof's set arm
    only — raw bytes as base64 ``rawData``, a decoded Struct as
    ``structuredData``."""
    if v is None:
        return None
    if isinstance(v, bytes):
        return {"rawData": _b64(v)}
    return {"structuredData": dict(v)}


def data_from_proto_json(d: dict[str, Any] | None) -> bytes | dict | None:
    if d is None:
        return None
    has_raw = "rawData" in d
    has_struct = "structuredData" in d
    if has_raw and has_struct:
        raise ValueError("Data oneof carries both rawData and structuredData")
    if has_raw:
        return unb64(d["rawData"])
    if has_struct:
        return dict(d["structuredData"])
    raise ValueError("Data oneof carries neither rawData nor structuredData")


def record_to_proto_json(r: Record) -> dict[str, Any]:
    """``opencdc.v1.Record`` (``opencdc.proto:52-74``) in proto-JSON.
    Unset optional message fields are omitted, per protojson."""
    out: dict[str, Any] = {
        "position": _b64(r.position),
        "operation": OPERATION_TO_PROTO[r.operation],
    }
    if r.metadata:
        out["metadata"] = dict(r.metadata)
    key = data_to_proto_json(r.key)
    if key is not None:
        out["key"] = key
    change: dict[str, Any] = {}
    before = data_to_proto_json(r.payload_before)
    after = data_to_proto_json(r.payload_after)
    if before is not None:
        change["before"] = before
    if after is not None:
        change["after"] = after
    if change:
        out["payload"] = change
    return out


def record_from_proto_json(msg: dict[str, Any]) -> Record:
    """The one decoder of a wire record. Omitted fields take their proto
    defaults, as canonical marshalers omit them; an operation spelling
    other than ``OPERATION_*`` raises."""
    payload = msg.get("payload") or {}
    op = msg.get("operation", "OPERATION_UNSPECIFIED")
    if op not in OPERATION_FROM_PROTO:
        raise ValueError(f"unknown operation: {op}")
    return Record(
        position=unb64(msg.get("position", "")),
        operation=OPERATION_FROM_PROTO[op],
        key=data_from_proto_json(msg.get("key")),
        payload_before=data_from_proto_json(payload.get("before")),
        payload_after=data_from_proto_json(payload.get("after")),
        metadata=dict(msg.get("metadata") or {}),
    )


def run_response_to_proto_json(ack_position: bytes, error: str = "") -> dict:
    """``Destination.Run.Response`` (``connector.proto:241-248``): ack
    position plus an error string, empty on success.

    Deliberate deviation from canonical protojson: we ALWAYS emit
    ``error`` (even when ``""``) so every frame is self-describing on an
    NDJSON transport with no schema channel.  A canonical marshaler would
    omit default-valued scalars; any protojson-conformant decoder accepts
    both spellings, so compatibility is unaffected — only a byte-level
    diff against ``protojson.Marshal`` output would differ."""
    return {"ackPosition": _b64(ack_position), "error": error}


def specify_response_to_proto_json(
    name: str,
    summary: str,
    version: str,
    destination_params: dict[str, dict],
    source_params: dict[str, dict] | None = None,
    description: str = "",
    author: str = "",
) -> dict[str, Any]:
    """``Specifier.Specify.Response`` (``connector.proto:302-323``) with
    nested ``Parameter``/``Validation`` trees (``connector.proto:327-382``).

    ``destination_params`` values may use snake_case internal keys; they
    are normalized to the proto-JSON spellings here (``default``,
    ``description``, ``type`` → ``TYPE_*``, ``validations`` →
    ``[{"type": "TYPE_*", "value": ...}]``).

    Deliberate deviation from canonical protojson: default-valued scalars
    (empty ``description``/``author``, empty ``sourceParams`` map) are
    emitted rather than omitted, so the NDJSON frame is self-describing.
    Conformant decoders accept both; only byte-level comparison against a
    real protojson marshaler differs.
    """

    def param(p: dict[str, Any]) -> dict[str, Any]:
        out: dict[str, Any] = {
            "default": str(p.get("default", "")),
            "description": str(p.get("description", "")),
        }
        ptype = str(p.get("type", "TYPE_STRING"))
        out["type"] = ptype if ptype.startswith("TYPE_") else (
            "TYPE_" + ptype.upper()
        )
        vals = []
        for v in p.get("validations", []) or []:
            vtype = str(v.get("type", "TYPE_UNSPECIFIED"))
            vals.append(
                {
                    "type": vtype if vtype.startswith("TYPE_")
                    else "TYPE_" + vtype.upper(),
                    "value": str(v.get("value", "")),
                }
            )
        if p.get("required") and not any(
            v["type"] == "TYPE_REQUIRED" for v in vals
        ):
            vals.append({"type": "TYPE_REQUIRED", "value": ""})
        # the internal spec()'s shorthand keys → the proto validations
        # ("comma separated list {value}", connector.proto:338-341)
        if p.get("inclusion"):
            vals.append(
                {"type": "TYPE_INCLUSION", "value": ",".join(p["inclusion"])}
            )
        if p.get("exclusion"):
            vals.append(
                {"type": "TYPE_EXCLUSION", "value": ",".join(p["exclusion"])}
            )
        if vals:
            out["validations"] = vals
        return out

    return {
        "name": name,
        "summary": summary,
        "description": description,
        "version": version,
        "author": author,
        "destinationParams": {
            k: param(v) for k, v in (destination_params or {}).items()
        },
        "sourceParams": {
            k: param(v) for k, v in (source_params or {}).items()
        },
    }
