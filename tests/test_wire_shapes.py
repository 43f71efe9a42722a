"""Golden wire-shape tests: the NDJSON transport's message payloads must
match the reference's protobuf contract 1:1.

Two layers of pinning (r5 verdict item #1):

1. ``PROTO_FIELDS`` (the vendored field tree in ``plugin/protojson.py``)
   is re-derived here by PARSING the actual proto sources
   (``connector.proto``, ``opencdc.proto``) with a minimal proto-syntax
   reader — field names, lowerCamelCase JSON spellings, map/repeated/
   oneof structure. Any drift between the vendored tree and the proto
   files fails the build. (Skipped gracefully if the proto sources are
   not on disk; the vendored tree still pins the encoders below.)
2. Table-driven encode/decode tests assert every RPC's request/response
   JSON uses exactly the proto field tree — so a future gRPC binding is
   a codec swap with zero service-layer change.
"""

from __future__ import annotations

import base64
import pathlib
import re

import pytest

from conduit_connector_s3_iceberg_spark.plugin.protojson import (
    OPERATION_FROM_PROTO,
    OPERATION_TO_PROTO,
    PROTO_FIELDS,
    data_from_proto_json,
    data_to_proto_json,
    record_from_proto_json,
    record_to_proto_json,
    run_response_to_proto_json,
    specify_response_to_proto_json,
)
from conduit_connector_s3_iceberg_spark.plugin.service import (
    SpecifyResponse,
    record_from_wire,
)
from conduit_connector_s3_iceberg_spark.records import Operation, Record

PROTO_DIR = pathlib.Path("/root/reference/src/main/proto")


def b64(s: bytes) -> str:
    return base64.b64encode(s).decode()


# --------------------------------------------------- proto-source parser ---


def camel(name: str) -> str:
    parts = name.split("_")
    return parts[0] + "".join(p.capitalize() for p in parts[1:])


def parse_proto_messages(text: str, package: str) -> dict[str, dict[str, str]]:
    """Extract {fqn message name: {json field name: raw proto type}} from a
    proto3 source. Handles nested messages, maps, repeated, oneofs (arms
    become plain fields, per the JSON mapping), and skips enums/options/
    comments/rpc blocks. Minimal by design — just enough to re-derive the
    field tree of the messages this transport exchanges."""
    # strip comments, then normalize so every "{" ends its line and every
    # "}" stands alone — makes one-line bodies ("message Request {}") and
    # trailing braces tractable for a line scanner with exact brace pairing
    text = re.sub(r"//[^\n]*", "", text)
    text = text.replace("{", "{\n").replace("}", "\n}\n")
    out: dict[str, dict[str, str]] = {}
    # (kind, name): kind in message/enum/oneof/service/block; every "{"
    # pushes exactly one frame, every "}" pops exactly one
    stack: list[tuple[str, str]] = []
    field_re = re.compile(
        r"^\s*(repeated\s+)?(map<\s*\w+\s*,\s*[\w.]+\s*>|[\w.]+)\s+(\w+)\s*=\s*\d+"
    )
    for rawline in text.splitlines():
        line = rawline.strip()
        if not line:
            continue
        if line == "}":
            if stack:
                stack.pop()
            continue
        if line.endswith("{"):
            m = re.match(r"^(message|enum|oneof|service)\s+(\w+)\s*\{$", line)
            if m:
                kind, name = m.group(1), m.group(2)
                stack.append((kind, name))
                if kind == "message":
                    fqn = package + "." + ".".join(
                        n for k, n in stack if k == "message"
                    )
                    out[fqn] = {}
            else:
                stack.append(("block", ""))
            continue
        if not stack or not any(k == "message" for k, _ in stack):
            continue
        if stack[-1][0] == "enum" or any(k == "service" for k, _ in stack):
            continue
        fm = field_re.match(line)
        if fm:
            repeated, ptype, fname = fm.groups()
            fqn = package + "." + ".".join(
                n for k, n in stack if k == "message"
            )
            ptype = re.sub(r"\s+", "", ptype)
            out[fqn][camel(fname)] = ("repeated " if repeated else "") + ptype
    return out


@pytest.fixture(scope="module")
def proto_tree():
    if not PROTO_DIR.exists():  # pragma: no cover - env-dependent
        pytest.skip("reference proto sources not on disk")
    tree: dict[str, dict[str, str]] = {}
    tree.update(
        parse_proto_messages(
            (PROTO_DIR / "opencdc.proto").read_text(), "opencdc.v1"
        )
    )
    tree.update(
        parse_proto_messages(
            (PROTO_DIR / "connector.proto").read_text(), "connector.v1"
        )
    )
    return tree


def test_vendored_tree_matches_proto_sources(proto_tree):
    """Every message in PROTO_FIELDS exists in the parsed proto sources
    with EXACTLY the same JSON field names — 1:1, both directions."""
    for fqn, fields in PROTO_FIELDS.items():
        assert fqn in proto_tree, f"{fqn} not found in proto sources"
        assert set(fields) == set(proto_tree[fqn]), (
            f"{fqn}: vendored fields {sorted(fields)} != proto "
            f"{sorted(proto_tree[fqn])}"
        )


def test_vendored_kinds_match_proto_types(proto_tree):
    """Structural kinds agree: bytes/string/bool scalars, maps, repeated,
    Struct, and message/enum references resolve to the right targets."""
    for fqn, fields in PROTO_FIELDS.items():
        for fname, kind in fields.items():
            ptype = proto_tree[fqn][fname]
            if kind == "bytes":
                assert ptype == "bytes", (fqn, fname, ptype)
            elif kind == "string":
                assert ptype == "string", (fqn, fname, ptype)
            elif kind == "bool":
                assert ptype == "bool", (fqn, fname, ptype)
            elif kind == "struct":
                assert ptype == "google.protobuf.Struct", (fqn, fname, ptype)
            elif kind == "map<string,string>":
                assert ptype == "map<string,string>", (fqn, fname, ptype)
            elif kind.startswith("map<string,"):
                target = kind[len("map<string,"):-1].rsplit(".", 1)[-1]
                assert ptype == f"map<string,{target}>", (fqn, fname, ptype)
            elif kind.startswith("repeated:"):
                target = kind.split(":", 1)[1].rsplit(".", 1)[-1]
                assert ptype == f"repeated {target}", (fqn, fname, ptype)
            elif kind.startswith("msg:"):
                target = kind.split(":", 1)[1]
                assert target in PROTO_FIELDS
                assert ptype.rsplit(".", 1)[-1] == target.rsplit(".", 1)[-1]
            elif kind.startswith("enum:"):
                assert ptype.rsplit(".", 1)[-1] == kind.split(":", 1)[1]
            else:  # pragma: no cover - unknown tag is a test bug
                raise AssertionError(f"unknown kind tag {kind!r}")


def test_operation_enum_spellings_match_proto():
    """OPERATION_* spellings are exactly opencdc.proto:38-49."""
    src = (
        (PROTO_DIR / "opencdc.proto").read_text()
        if PROTO_DIR.exists()
        else None
    )
    expected = {
        "OPERATION_UNSPECIFIED",
        "OPERATION_CREATE",
        "OPERATION_UPDATE",
        "OPERATION_DELETE",
        "OPERATION_SNAPSHOT",
    }
    assert set(OPERATION_TO_PROTO.values()) == expected
    assert set(OPERATION_FROM_PROTO) == expected
    if src is not None:
        assert set(re.findall(r"OPERATION_\w+", src)) == expected


# --------------------------------------------------- table-driven codecs ---

SAMPLE_RECORD = Record(
    position=b"pos-7",
    operation=Operation.UPDATE,
    key=b'{"id": 1}',
    payload_before={"id": 1, "v": "old"},
    payload_after=b'{"id": 1, "v": "new"}',
    metadata={"opencdc.collection": "t1", "opencdc.version": "v1"},
)

RECORD_WIRE = {
    "position": b64(b"pos-7"),
    "operation": "OPERATION_UPDATE",
    "metadata": {"opencdc.collection": "t1", "opencdc.version": "v1"},
    "key": {"rawData": b64(b'{"id": 1}')},
    "payload": {
        "before": {"structuredData": {"id": 1, "v": "old"}},
        "after": {"rawData": b64(b'{"id": 1, "v": "new"}')},
    },
}


def assert_tree(obj: dict, fqn: str) -> None:
    """Recursively assert obj's keys are a subset of the proto message's
    field tree (protojson omits unset fields, so subset not equality)."""
    fields = PROTO_FIELDS[fqn]
    assert set(obj) <= set(fields), (
        f"{fqn}: extra wire fields {set(obj) - set(fields)}"
    )
    for k, v in obj.items():
        kind = fields[k]
        if kind.startswith("msg:") and v is not None:
            assert_tree(v, kind.split(":", 1)[1])
        elif kind.startswith("map<string,connector") and v:
            target = kind[len("map<string,"):-1]
            for pv in v.values():
                assert_tree(pv, target)
        elif kind.startswith("repeated:") and v:
            target = kind.split(":", 1)[1]
            for item in v:
                assert_tree(item, target)


def test_record_round_trips_through_proto_json():
    wire = record_to_proto_json(SAMPLE_RECORD)
    assert wire == RECORD_WIRE
    assert_tree(wire, "opencdc.v1.Record")
    back = record_from_proto_json(wire)
    assert back == SAMPLE_RECORD
    # and through the transport entry point used by the server
    assert record_from_wire(wire) == SAMPLE_RECORD


@pytest.mark.parametrize("op", list(Operation))
def test_every_operation_round_trips(op):
    r = Record(position=b"p", operation=op)
    assert record_from_proto_json(record_to_proto_json(r)) == r


def test_strict_proto_json_with_omitted_defaults_routes_to_proto_decoder():
    # Canonical protojson marshalers (protojson.Marshal in a Go host) OMIT
    # default-valued fields: a record with operation OPERATION_UNSPECIFIED
    # and no Data arms serializes as just {"position": "<b64>"}. That frame
    # decodes with the proto defaults and a base64 position.
    r = record_from_wire({"position": b64(b"\x00\x01pos")})
    assert r.position == b"\x00\x01pos"
    assert r.operation is Operation.UNSPECIFIED
    # the pre-proto-JSON shorthand (lowercase op, raw/struct arms) is refused
    with pytest.raises(ValueError, match="unknown operation: create"):
        record_from_wire(
            {"position": "pos1", "operation": "create",
             "payload": {"after": {"raw": '{"a": 1}'}}}
        )
    with pytest.raises(ValueError, match="neither rawData nor structuredData"):
        record_from_wire({"position": b64(b"p"), "operation": "OPERATION_CREATE",
                          "payload": {"after": {"struct": {"a": 1}}}})
    with pytest.raises(ValueError, match="unknown operation: delete"):
        record_from_wire({"position": b64(b"p"), "operation": "delete"})


@pytest.mark.parametrize(
    "msg",
    [
        {"position": "w-1"},  # UTF-8 text, not base64
        {"position": b64(b"p") + "!"},
        {"position": b64(b"p"), "operation": "OPERATION_CREATE",
         "payload": {"after": {"rawData": "{not base64}"}}},
        {"position": b64(b"p"), "operation": "OPERATION_DELETE",
         "key": {"rawData": "e30=\n"}},
    ],
)
def test_bytes_fields_decode_as_strict_base64(msg):
    with pytest.raises(ValueError):
        record_from_wire(msg)


def test_data_oneof_exclusive():
    assert data_to_proto_json(b"x") == {"rawData": b64(b"x")}
    assert data_to_proto_json({"a": 1}) == {"structuredData": {"a": 1}}
    assert data_to_proto_json(None) is None
    with pytest.raises(ValueError, match="both"):
        data_from_proto_json({"rawData": "eA==", "structuredData": {}})
    with pytest.raises(ValueError, match="neither"):
        data_from_proto_json({})


def test_run_response_shape():
    wire = run_response_to_proto_json(b"pos-7")
    assert wire == {"ackPosition": b64(b"pos-7"), "error": ""}
    assert_tree(wire, "connector.v1.Destination.Run.Response")


def test_specify_response_shape():
    wire = specify_response_to_proto_json(
        name="s3-iceberg-spark",
        summary="s",
        version="v0.6.0",
        author="a",
        destination_params={
            "table.name": {"required": True, "description": "Table name"},
            "catalog.catalog-impl": {
                "required": True,
                "inclusion": ["org.apache.iceberg.rest.RESTCatalog"],
            },
            "s3.endpoint": {"required": False},
        },
    )
    assert_tree(wire, "connector.v1.Specifier.Specify.Response")
    p = wire["destinationParams"]["table.name"]
    assert p["type"] == "TYPE_STRING"
    assert {"type": "TYPE_REQUIRED", "value": ""} in p["validations"]
    inc = wire["destinationParams"]["catalog.catalog-impl"]["validations"]
    assert {
        "type": "TYPE_INCLUSION",
        "value": "org.apache.iceberg.rest.RESTCatalog",
    } in inc
    assert "validations" not in wire["destinationParams"]["s3.endpoint"]


def test_specify_service_wire_uses_proto_tree(tmp_path):
    """The real SpecifierService response, through the real server codec,
    stays inside the proto field tree."""
    from conduit_connector_s3_iceberg_spark.plugin.server import _to_wire
    from conduit_connector_s3_iceberg_spark.plugin.service import (
        MemoryObserver,
        SpecifierService,
    )

    obs = MemoryObserver()
    SpecifierService().specify(None, obs)
    [resp] = obs.values
    assert isinstance(resp, SpecifyResponse)
    wire = _to_wire(resp)
    assert_tree(wire, "connector.v1.Specifier.Specify.Response")
    assert wire["name"] == "s3-iceberg-spark"
    assert wire["author"]


# One row per RPC: (request proto message, sample request JSON,
#                   response proto message, sample response JSON)
RPC_TABLE = [
    (
        "connector.v1.Destination.Configure.Request",
        {"config": {"table.name": "t"}},
        "connector.v1.Destination.Configure.Response",
        {},
    ),
    (
        "connector.v1.Destination.Start.Request",
        {},
        "connector.v1.Destination.Start.Response",
        {},
    ),
    (
        "connector.v1.Destination.Run.Request",
        {"record": RECORD_WIRE},
        "connector.v1.Destination.Run.Response",
        {"ackPosition": b64(b"pos-7"), "error": ""},
    ),
    (
        "connector.v1.Destination.Stop.Request",
        {"lastPosition": b64(b"pos-7")},
        "connector.v1.Destination.Stop.Response",
        {},
    ),
    (
        "connector.v1.Destination.Teardown.Request",
        {},
        "connector.v1.Destination.Teardown.Response",
        {},
    ),
    (
        "connector.v1.Specifier.Specify.Request",
        {},
        "connector.v1.Specifier.Specify.Response",
        {"name": "x", "summary": "", "description": "", "version": "v1",
         "author": "", "destinationParams": {}, "sourceParams": {}},
    ),
]


@pytest.mark.parametrize(
    "req_fqn,req,resp_fqn,resp",
    RPC_TABLE,
    ids=[r[0].split(".")[-2] for r in RPC_TABLE],
)
def test_rpc_request_response_match_proto_tree(req_fqn, req, resp_fqn, resp):
    assert_tree(req, req_fqn)
    assert_tree(resp, resp_fqn)
