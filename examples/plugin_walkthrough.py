"""Plugin-process walkthrough: the reference's wire contract end to end.

A Conduit host launches the connector as a child process, reads the
go-plugin handshake off stdout, then drives the destination protocol:
Configure → Start → Run(stream of records, acked one by one) → Stop →
Teardown (``Application.java:26-39``, ``connector.proto:84-110``). This
script plays BOTH roles in one process — it starts the NDJSON plugin
server on an ephemeral port, connects as the host, ingests a handful of
OpenCDC records over the wire, then reads the resulting table back
through the query surface.

Run from the repo root:

    python examples/plugin_walkthrough.py
"""

from __future__ import annotations

import json
import socket
import sys

sys.path.insert(0, ".")

from pyspark.sql import types as T  # noqa: E402

from conduit_connector_s3_iceberg_spark.plugin import (  # noqa: E402
    DestinationService,
    PluginServer,
)
from conduit_connector_s3_iceberg_spark.plugin.protojson import (  # noqa: E402
    record_to_proto_json,
)
from conduit_connector_s3_iceberg_spark.plugin.server import (  # noqa: E402
    handshake_line,
)
from conduit_connector_s3_iceberg_spark.records import (  # noqa: E402
    Operation,
    Record,
)
from conduit_connector_s3_iceberg_spark.session import build_session  # noqa: E402
from conduit_connector_s3_iceberg_spark.writer import (  # noqa: E402
    CdcWriter,
    ParquetWarehouse,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("score", T.FloatType(), True),
    ]
)

CONFIG = {
    "catalog.name": "demo",
    "catalog.catalog-impl": "org.apache.iceberg.rest.RESTCatalog",
    "namespace": "conduit",
    "table.name": "walkthrough",
    "s3.access-key-id": "admin",
    "s3.secret-access-key": "password",
    "s3.region": "us-east-1",
}

# Each record is sent as its proto-JSON ``opencdc.v1.Record``: base64
# position and rawData, OPERATION_* spellings, structuredData objects.
RECORDS = [
    Record(b"p-1", Operation.CREATE,
           payload_after=b'{"id": 1, "name": "ada", "score": 9.5}'),
    Record(b"p-2", Operation.CREATE,
           payload_after={"id": 2, "name": "bo", "score": 7.0}),
    Record(b"p-3", Operation.UPDATE, key=b'{"id": 2}',
           payload_after=b'{"id": 2, "name": "bo2", "score": 8.0}'),
    # stringified struct key, cast to the int column
    Record(b"p-4", Operation.DELETE, key={"id": "1"}),
]


def main() -> int:
    spark = build_session(app_name="plugin-walkthrough")
    wh = ParquetWarehouse(spark, "/tmp/plugin-walkthrough-wh")
    wh.create_table("walkthrough", SCHEMA)

    service = DestinationService(
        session_factory=lambda cfg: spark,
        writer_factory=lambda s, cfg: CdcWriter(wh, cfg.table_name),
        stop_spark_on_teardown=False,
    )
    server = PluginServer(port=0, destination=service)
    server.start()
    print(f"handshake: {handshake_line(server.port)}")

    sock = socket.create_connection(("localhost", server.port), timeout=60)
    rfile = sock.makefile("rb")

    def call(obj, label=None):
        sock.sendall((json.dumps(obj) + "\n").encode())
        resp = json.loads(rfile.readline())
        print(f"  -> {label or obj['rpc']}: {resp}")
        return resp

    print("\n[host] specify / configure / start")
    call({"rpc": "specify"})
    call({"rpc": "configure", "config": CONFIG})
    call({"rpc": "start"})

    print("\n[host] run stream — each record acked by position")
    call({"rpc": "run"})
    for rec in RECORDS:
        call({"record": record_to_proto_json(rec)},
             f"record {rec.position.decode()}")
    sock.sendall(b'{"end": true}\n')

    print("\n[host] stop / teardown")
    call({"rpc": "stop"})
    call({"rpc": "teardown"})
    sock.close()
    server.stop()

    print("\n[table after the stream] (create ada, create bo, "
          "update bo->bo2, delete ada)")
    wh.read("walkthrough").orderBy("id").show()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
