"""Transport-agnostic Conduit destination-plugin services.

Re-expresses the reference's gRPC service classes
(``DestinationService.java:31-114``, ``SpecifierService.java:42-141``,
``SparkDestinationStream.java:60-277``) without binding to a wire
library: every RPC takes a request value and a *response observer* — the
same shape as ``io.grpc.stub.StreamObserver`` — so the identical service
object can be driven by a mock observer in tests (exactly how
``SparkDestinationStreamIT.java:101-106`` drives the reference), by the
stdlib-socket server in :mod:`.server`, or by a real gRPC binding when
the runtime exists.

Error contract (reference taxonomy, message-exact prefixes):

* ``configure`` failure → INTERNAL ``couldn't configure task: <cause>``
  (``DestinationService.java:50-58``)
* ``start`` failure → INTERNAL ``couldn't start connector: <cause>``
  (``DestinationService.java:73-81``)
* per-record ``run`` failure → INTERNAL ``couldn't write record:
  <cause>`` on the *response* stream (``SparkDestinationStream.java:
  76-84``); successes ack with the record's position (``:87-92``)
* ``teardown`` failure → INTERNAL ``Couldn't tear down: <cause>``
  (``DestinationService.java:107-112``)

Lifecycle RPCs (``connector.proto:120-130`` — LifecycleOnCreated /
OnUpdated / OnDeleted) are intentionally NOT implemented, matching the
reference: ``DestinationService`` extends the generated base class
without overriding them, so gRPC answers UNIMPLEMENTED — exactly what
the NDJSON server's unknown-rpc branch returns here (asserted in
``tests/test_plugin.py::test_lifecycle_rpcs_unimplemented_like_reference``).

State machine: Configure is "the first function to be called"; Start
"is called after Configure"; Run opens the record stream; Stop flushes
and half-closes it; Teardown ends the process (``connector.proto:
84-110``). The reference *implicitly* enforces this (calling ``start``
unconfigured NPEs inside the try block and surfaces as the INTERNAL
error above); here the ordering violation raises
:class:`PluginStateError` inside the same handler so the wire-visible
behavior — an INTERNAL error with the stage's message prefix — matches,
but with a diagnosable cause instead of a null pointer.
"""

from __future__ import annotations

import itertools
import threading
from dataclasses import dataclass, field
from typing import Any, Callable, Protocol

from ..records import Record
from ..session import ConnectorConfig, spec
from ..writer import CdcWriter
from .protojson import record_from_proto_json

__all__ = [
    "ServiceError",
    "PluginStateError",
    "StreamObserver",
    "MemoryObserver",
    "DestinationStream",
    "DestinationService",
    "SpecifierService",
    "record_from_wire",
]


class ServiceError(Exception):
    """A failed RPC: gRPC's ``Status.<code>.withDescription(...)`` shape."""

    def __init__(self, description: str, code: str = "INTERNAL"):
        super().__init__(description)
        self.code = code
        self.description = description


class PluginStateError(RuntimeError):
    """Lifecycle RPC called out of order (diagnosable cause for the
    INTERNAL error the reference would emit as a null-pointer)."""


class StreamObserver(Protocol):
    """Minimal ``io.grpc.stub.StreamObserver`` shape."""

    def on_next(self, value: Any) -> None: ...

    def on_error(self, error: Exception) -> None: ...

    def on_completed(self) -> None: ...


class MemoryObserver:
    """Recording observer — the test/mock transport (Mockito-mock role in
    ``SparkDestinationStreamIT.java:101``)."""

    def __init__(self) -> None:
        self.values: list[Any] = []
        self.errors: list[Exception] = []
        self.completed = False

    def on_next(self, value: Any) -> None:
        self.values.append(value)

    def on_error(self, error: Exception) -> None:
        self.errors.append(error)

    def on_completed(self) -> None:
        self.completed = True


# ------------------------------------------------------------ messages ----
# Lightweight stand-ins for the generated protobuf classes
# (connector.proto:139-330). Only the fields the reference reads.


@dataclass
class ConfigureRequest:
    config: dict[str, str]


@dataclass
class StartRequest:
    pass


@dataclass
class RunRequest:
    record: Record


@dataclass
class RunResponse:
    ack_position: bytes


@dataclass
class StopRequest:
    last_position: bytes | None = None


@dataclass
class TeardownRequest:
    pass


@dataclass
class Empty:
    """Configure/Start/Stop/Teardown success responses carry no fields."""


@dataclass
class SpecifyResponse:
    """``Specifier.Specify.Response`` (``connector.proto:302-323``); the
    reference fills name/summary/version/author
    (``SpecifierService.java:52-55``)."""

    name: str
    summary: str
    version: str
    description: str = ""
    author: str = ""
    destination_params: dict[str, dict] = field(default_factory=dict)
    source_params: dict[str, dict] = field(default_factory=dict)


def record_from_wire(msg: dict[str, Any]) -> Record:
    """Decode ``Destination.Run.Request.record``: the protobuf-JSON mapping
    of ``opencdc.v1.Record`` (``opencdc.proto:52-97``) — base64
    ``position``, ``OPERATION_*`` enum spellings, and the ``Data`` oneof as
    ``{"rawData": <base64>}`` / ``{"structuredData": {...}}`` (see
    :mod:`.protojson`). It is the only record shape: any other raises."""
    return record_from_proto_json(msg)


# ------------------------------------------------------------- streams ----


class DestinationStream:
    """The ``Run`` bidirectional stream: request observer that applies
    records and acks (or errors) on the response observer — the
    ``SparkDestinationStream`` role (``SparkDestinationStream.java:
    60-277``) with the write itself delegated to :class:`CdcWriter`
    (which already carries the decode rules, FAILFAST parse, and the
    composite-key fix).

    Group commit: :meth:`on_group` applies a group of received records
    inside one ``writer.batch()``, where the reference commits each record
    on its own. The group commits as runs of records bound for one table,
    a new run starting at each update or delete (see
    :class:`~conduit_connector_s3_iceberg_spark.writer.WriteGroup`). Ack
    after commit: each position is acked, in order, as soon as the commit
    holding its record has landed, before the group's later runs commit.
    If a commit fails, nothing of it has landed; its records and the rest
    of the group are re-applied one record at a time, the good prefix is
    acked, and the first failing record gets the reference's single
    ``couldn't write record: <cause>`` error (``:76-84``), which closes
    the stream and drops every later record. :meth:`on_next` is a group
    of one."""

    def __init__(self, response_observer: StreamObserver, writer: CdcWriter):
        self.response_observer = response_observer
        self.writer = writer
        self.closed = False

    def on_next(self, request: RunRequest) -> None:
        self.on_group([request])

    def on_group(self, requests: list[RunRequest]) -> None:
        if self.closed:
            return
        records = [r.record for r in requests]
        unacked = iter(records)

        def ack_landed(n: int) -> None:
            for record in itertools.islice(unacked, n):
                self._ack(record)

        group = self.writer.batch(on_landed=ack_landed)
        try:
            with group:
                for record in records:
                    self.writer.write(record)
        except Exception:
            pass  # nothing from the failed commit on landed; retried below
        for record in records[group.landed :]:
            try:
                self.writer.write(record)
            except Exception as e:
                self.fail_record(e)
                return
            self._ack(record)

    def fail_record(self, cause: Exception) -> None:
        """A record could not be written: the reference's single
        ``couldn't write record: <cause>`` error (``:76-84``, any cause,
        one prefix), which closes the stream."""
        self.closed = True
        self.response_observer.on_error(ServiceError(f"couldn't write record: {cause}"))

    def _ack(self, record: Record) -> None:
        self.response_observer.on_next(RunResponse(ack_position=record.position))

    def on_error(self, error: Exception) -> None:
        # reference :264-270: reflect the client-side stream failure back
        self.closed = True
        self.response_observer.on_error(ServiceError(f"Error: {error}"))

    def on_completed(self) -> None:
        # reference :272-276: half-close the response stream
        self.closed = True
        self.response_observer.on_completed()


# ------------------------------------------------------------ services ----


class DestinationService:
    """The five destination RPCs (``connector.proto:84-110``) as one
    stateful object, mirroring ``DestinationService.java:31-114``.

    ``session_factory`` / ``writer_factory`` are the two environment
    seams: the defaults build a real SparkSession + a CdcWriter against
    the configured Iceberg table (or the ParquetWarehouse analogue when
    the Iceberg jar is absent); tests inject a shared session and a
    temp-warehouse writer, exactly as the reference IT injects its
    REST-catalog fixture.
    """

    def __init__(
        self,
        session_factory: Callable[[ConnectorConfig], Any] | None = None,
        writer_factory: Callable[[Any, ConnectorConfig], CdcWriter] | None = None,
        stop_spark_on_teardown: bool = True,
    ):
        self._lock = threading.Lock()
        self.config: ConnectorConfig | None = None
        self.spark: Any = None
        self.run_stream: DestinationStream | None = None
        self.session_factory = session_factory or self._default_session
        self.writer_factory = writer_factory or self._default_writer
        self.stop_spark_on_teardown = stop_spark_on_teardown

    # -- default environment seams -----------------------------------------
    @staticmethod
    def _default_session(config: ConnectorConfig):
        from ..session import build_session

        return build_session(
            app_name="conduit-connector-s3-iceberg", config=config
        )

    @staticmethod
    def _default_writer(spark: Any, config: ConnectorConfig) -> CdcWriter:
        from ..session import iceberg_available

        if iceberg_available():  # pragma: no cover — jar absent in sandbox
            from ..iceberg import IcebergTableStore

            store = IcebergTableStore(
                spark, config.catalog_name, config.namespace
            )
            return CdcWriter(store, config.table_name)
        from ..writer import ParquetWarehouse

        wh = ParquetWarehouse(spark, f"/tmp/conduit-wh-{config.catalog_name}")
        return CdcWriter(wh, config.table_name)

    # -- RPCs ---------------------------------------------------------------
    def configure(
        self, request: ConfigureRequest, response_observer: StreamObserver
    ) -> None:
        """``DestinationService.java:38-59``."""
        try:
            with self._lock:
                self.config = ConnectorConfig.from_map(dict(request.config))
            response_observer.on_next(Empty())
            response_observer.on_completed()
        except Exception as e:
            response_observer.on_error(
                ServiceError(f"couldn't configure task: {e}")
            )

    def start(
        self, request: StartRequest, response_observer: StreamObserver
    ) -> None:
        """``DestinationService.java:62-82``."""
        try:
            with self._lock:
                if self.config is None:
                    raise PluginStateError("Configure was not called")
                self.spark = self.session_factory(self.config)
            response_observer.on_next(Empty())
            response_observer.on_completed()
        except Exception as e:
            response_observer.on_error(
                ServiceError(f"couldn't start connector: {e}")
            )

    def run(self, response_observer: StreamObserver) -> DestinationStream:
        """``DestinationService.java:84-88`` — returns the request-side
        observer for the bidirectional stream."""
        with self._lock:
            if self.spark is None or self.config is None:
                raise ServiceError(
                    "couldn't open run stream: Start was not called"
                )
            writer = self.writer_factory(self.spark, self.config)
            self.run_stream = DestinationStream(response_observer, writer)
            return self.run_stream

    def stop(
        self, request: StopRequest, response_observer: StreamObserver
    ) -> None:
        """``DestinationService.java:90-95`` — flush & half-close the run
        stream, then ack the Stop call."""
        try:
            with self._lock:
                if self.run_stream is None:
                    raise PluginStateError("Run was not called")
                self.run_stream.on_completed()
            response_observer.on_next(Empty())
            response_observer.on_completed()
        except Exception as e:
            response_observer.on_error(ServiceError(f"couldn't stop: {e}"))

    def teardown(
        self, request: TeardownRequest, response_observer: StreamObserver
    ) -> None:
        """``DestinationService.java:97-113``."""
        try:
            with self._lock:
                if self.spark is not None and self.stop_spark_on_teardown:
                    self.spark.stop()
                self.spark = None
                self.run_stream = None
            response_observer.on_next(Empty())
            response_observer.on_completed()
        except Exception as e:
            response_observer.on_error(
                ServiceError(f"Couldn't tear down: {e}")
            )


class SpecifierService:
    """``Specify`` RPC (``SpecifierService.java:42-141``): connector
    metadata + the parameter spec already modeled in
    :func:`..session.spec`."""

    NAME = "s3-iceberg-spark"
    SUMMARY = "Writes OpenCDC records to Iceberg tables on S3 via Spark."
    VERSION = "v0.6.0"
    AUTHOR = "s3-iceberg-spark developers"

    def specify(self, request: Any, response_observer: StreamObserver) -> None:
        response_observer.on_next(
            SpecifyResponse(
                name=self.NAME,
                summary=self.SUMMARY,
                version=self.VERSION,
                author=self.AUTHOR,
                destination_params=spec(),
            )
        )
        response_observer.on_completed()
