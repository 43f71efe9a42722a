"""Plugin process entry point: handshake + wire server.

Re-expresses ``Application.java:26-39`` and ``Server.java:27-92``: bind
the two services to a TCP port, print the go-plugin handshake line
``1|1|tcp|localhost:<port>|grpc`` on stdout, serve until shut down, and
drain in-flight calls on stop (the reference's 30 s
``shutdown().awaitTermination``).

Transport: the sandbox has no ``grpc`` runtime (``import grpc`` fails;
no egress to fetch one), so the default binding is newline-delimited
JSON over a stdlib TCP socket — one JSON object per line in each
direction, which preserves gRPC's essential shapes (unary RPCs and the
``Run`` bidirectional stream interleaving acks with requests). When a
``grpc`` module IS importable, :func:`grpc_available` flips and
``PluginServer`` raises a loud reminder that the real binding should be
generated from ``connector.proto`` — the service classes need no change
(they already speak StreamObserver).

Wire protocol (client → server, one JSON object per line):

* ``{"rpc": "specify"}``
* ``{"rpc": "configure", "config": {...}}``
* ``{"rpc": "start"}``
* ``{"rpc": "run"}`` — opens the record stream; afterwards each
  ``{"record": {...}}`` line is one ``Run.Request`` whose record is a
  proto-JSON ``opencdc.v1.Record`` (the only record shape: a frame that
  does not decode gets one error and closes the stream), and each response
  line is an ack ``{"ok": true, "response": {"ackPosition": "<base64>",
  "error": ""}}`` or a terminal
  ``{"error": {...}}``; ``{"end": true}`` half-closes the stream (no
  reply).
* ``{"rpc": "stop"}`` / ``{"rpc": "teardown"}``

A unary call's request message is its ``"request"`` subtree, or else the
frame's bare top-level fields (``{"rpc": "configure", "config": {...}}``).

Group commit: every complete record frame in one socket read goes to the
stream as one group (see :class:`~.service.DestinationStream`): its
inserts share commits, and each update or delete commits once, together
with the inserts after it. Nothing waits for more frames to arrive — a
lone frame is a group of one — so a client that pipelines records ahead
of acks gets larger groups as the server falls behind. Acks follow the
commit: a record's ack is written as soon as the commit holding it has
landed, and acks keep the frames' order. A failed record gets one error;
the stream is then closed and the rest of its group is dropped.

Server → client unary responses: ``{"ok": true, ...fields}`` or
``{"error": {"code": "INTERNAL", "description": "..."}}``.
"""

from __future__ import annotations

import dataclasses
import json
import select
import socket
import socketserver
import sys
import threading
import time
from typing import Any

from .protojson import (
    run_response_to_proto_json,
    specify_response_to_proto_json,
    unb64,
)
from .service import (
    ConfigureRequest,
    DestinationService,
    MemoryObserver,
    RunRequest,
    RunResponse,
    ServiceError,
    SpecifierService,
    SpecifyResponse,
    StartRequest,
    StopRequest,
    TeardownRequest,
    record_from_wire,
)

__all__ = ["PluginServer", "handshake_line", "grpc_available", "main"]

HANDSHAKE_PROTOCOL_VERSION = 1  # go-plugin core protocol version
HANDSHAKE_APP_VERSION = 1


def grpc_available() -> bool:
    try:  # pragma: no cover — absent in sandbox
        import grpc  # noqa: F401

        return True
    except ImportError:
        return False


def handshake_line(port: int) -> str:
    """The go-plugin handshake the host parses from stdout
    (``Application.java:36``). The trailing transport token is ``grpc``
    by contract — Conduit's host side selects the gRPC client from it —
    so a non-gRPC test transport must NOT print this line to a real
    host; :func:`main` prints it for contract parity and documents the
    NDJSON substitution on stderr."""
    return (
        f"{HANDSHAKE_PROTOCOL_VERSION}|{HANDSHAKE_APP_VERSION}"
        f"|tcp|localhost:{port}|grpc"
    )


def _to_wire(value: Any) -> dict[str, Any]:
    """Encode a service response as its proto-JSON message
    (``connector.proto:221-324`` via :mod:`.protojson`). Empty responses
    (Configure/Start/Stop/Teardown) are ``{}`` per protojson."""
    if isinstance(value, RunResponse):
        return run_response_to_proto_json(value.ack_position)
    if isinstance(value, SpecifyResponse):
        return specify_response_to_proto_json(
            name=value.name,
            summary=value.summary,
            version=value.version,
            description=value.description,
            author=value.author,
            destination_params=value.destination_params,
            source_params=value.source_params,
        )
    if dataclasses.is_dataclass(value) and not isinstance(value, type):
        d = dataclasses.asdict(value)
        for k, v in list(d.items()):
            if isinstance(v, bytes):
                d[k] = v.decode("utf-8", errors="replace")
        return d
    return {}


class _LineObserver(MemoryObserver):
    """Response observer that also streams each event to the socket as a
    JSON line (used for the Run stream, where acks interleave)."""

    def __init__(self, wfile) -> None:
        super().__init__()
        self.wfile = wfile
        self.lock = threading.Lock()

    def _send(self, obj: dict[str, Any]) -> None:
        with self.lock:
            self.wfile.write((json.dumps(obj) + "\n").encode("utf-8"))
            self.wfile.flush()

    def on_next(self, value: Any) -> None:
        super().on_next(value)
        # "ok" is the transport frame discriminator (gRPC signals
        # data-vs-status out of band; NDJSON needs it in-band); the
        # "response" subtree is exactly the RPC's proto-JSON message
        self._send({"ok": True, "response": _to_wire(value)})

    def on_error(self, error: Exception) -> None:
        super().on_error(error)
        code = getattr(error, "code", "INTERNAL")
        self._send({"error": {"code": code, "description": str(error)}})


class _Handler(socketserver.StreamRequestHandler):
    """One connection = one client session against the shared services."""

    def handle(self) -> None:
        # Hand-rolled line buffering instead of ``for raw in self.rfile``:
        # the in-flight counter must be incremented BEFORE the frame's
        # bytes are consumed from the kernel, otherwise stop()'s drain can
        # sample _inflight == 0 between readline() returning and
        # request_begun() running, and the parsed-but-undispatched frame's
        # response then races process exit (r6 advice, server.py:162).
        # select() tells us bytes are pending without consuming them; an
        # idle connection parks in select() holding NO in-flight count, so
        # a connected-but-quiet client still cannot eat the grace window.
        server: PluginServer = self.server.plugin  # type: ignore[attr-defined]
        run_stream = None
        buf = b""
        conn = self.connection
        while True:
            readable, _, _ = select.select([conn], [], [], 0.5)
            if not readable:
                continue
            self.server.request_begun()  # type: ignore[attr-defined]
            try:
                try:
                    chunk = conn.recv(65536)
                except OSError:
                    return
                if not chunk:
                    return
                buf += chunk
                group: list[RunRequest] = []  # this read's record frames
                while b"\n" in buf:
                    raw, buf = buf.split(b"\n", 1)
                    line = raw.strip()
                    if not line:
                        continue
                    try:
                        msg = json.loads(line)
                    except json.JSONDecodeError as e:
                        run_stream = self._flush(run_stream, group)
                        self._reply(
                            {"error": {"code": "INTERNAL",
                                       "description": str(e)}}
                        )
                        continue
                    in_run = run_stream is not None and not msg.get("end")
                    if in_run and "record" in msg:
                        try:
                            group.append(
                                RunRequest(record=record_from_wire(msg["record"]))
                            )
                        except Exception as e:
                            # a record that does not decode fails as a
                            # record, after the records ahead of it
                            run_stream = self._flush(run_stream, group)
                            if run_stream is not None:
                                run_stream.fail_record(e)
                            run_stream = None
                        continue
                    run_stream = self._flush(run_stream, group)
                    run_stream, done = self._dispatch(msg, run_stream, server)
                    if done:
                        return
                run_stream = self._flush(run_stream, group)
            finally:
                self.server.request_done()  # type: ignore[attr-defined]

    @staticmethod
    def _flush(run_stream, group: list[RunRequest]):
        """Apply the pending record frames as one group; returns the run
        stream, or None once it has closed."""
        if run_stream is None or not group:
            return run_stream
        run_stream.on_group(group)
        group.clear()
        return None if run_stream.closed else run_stream

    def _dispatch(  # noqa: C901 — linear RPC dispatch
        self, msg: dict[str, Any], run_stream, server: "PluginServer"
    ):
        """Process one frame; returns (run_stream, connection_done)."""
        dest, specifier = server.destination, server.specifier
        if run_stream is not None:
            # inside the Run stream: record frames are grouped by handle();
            # only the end frame reaches here
            if msg.get("end"):
                run_stream.on_completed()
                return None, False
            self._reply(
                {"error": {"code": "INTERNAL",
                           "description": "expected record or end frame"}}
            )
            return run_stream, False
        rpc = msg.get("rpc")
        # the "request" subtree is the RPC's proto-JSON request message
        # (connector.proto:221-324). Bare top-level fields (``{"rpc":
        # "configure", "config": {...}}``) are read too: clients such as the
        # perfbench driver send them, and a unary request holds no record,
        # so reading them needs no second decoder
        req = msg.get("request") or msg
        obs = _LineObserver(self.wfile)
        if rpc == "specify":
            specifier.specify(None, obs)
        elif rpc == "configure":
            dest.configure(ConfigureRequest(config=req.get("config") or {}), obs)
        elif rpc == "start":
            dest.start(StartRequest(), obs)
        elif rpc == "run":
            try:
                run_stream = dest.run(_LineObserver(self.wfile))
                self._reply({"ok": True, "stream": "open"})
            except Exception as e:
                code = getattr(e, "code", "INTERNAL")
                self._reply(
                    {"error": {"code": code, "description": str(e)}}
                )
        elif rpc == "stop":
            try:
                last = req.get("lastPosition")
                stop = StopRequest(None if last is None else unb64(last))
            except (TypeError, ValueError) as e:
                obs.on_error(ServiceError(f"couldn't stop: {e}"))
            else:
                dest.stop(stop, obs)
        elif rpc == "teardown":
            dest.teardown(TeardownRequest(), obs)
            if server.exit_on_teardown:
                server.shutdown_async()
                return run_stream, True
        else:
            self._reply(
                {"error": {"code": "UNIMPLEMENTED",
                           "description": f"unknown rpc: {rpc!r}"}}
            )
        return run_stream, False

    def _reply(self, obj: dict[str, Any]) -> None:
        self.wfile.write((json.dumps(obj) + "\n").encode("utf-8"))
        self.wfile.flush()


class _ThreadingTCP(socketserver.ThreadingTCPServer):
    # daemon threads so a hung handler can never wedge process exit, but
    # block_on_close=False because stdlib server_close() joins WITHOUT a
    # timeout — the grace-bounded drain lives in drain_requests() instead
    # (the reference's 30 s awaitTermination, ``Server.java:72-76``)
    daemon_threads = True
    block_on_close = False
    allow_reuse_address = True

    def __init__(self, *args: Any, **kwargs: Any):
        super().__init__(*args, **kwargs)
        self._inflight = 0
        self._inflight_cv = threading.Condition()

    def request_begun(self) -> None:
        with self._inflight_cv:
            self._inflight += 1

    def request_done(self) -> None:
        with self._inflight_cv:
            self._inflight -= 1
            self._inflight_cv.notify_all()

    def drain_requests(self, grace_seconds: float) -> bool:
        """Wait until no RPC frame is mid-dispatch, bounded by
        ``grace_seconds``. In-flight = a parsed frame whose handler has
        not finished writing its response — NOT an idle persistent
        connection (a connected-but-quiet client must not consume the
        whole grace window). Returns True when fully drained."""
        deadline = time.monotonic() + grace_seconds
        with self._inflight_cv:
            while self._inflight > 0:
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    return False
                self._inflight_cv.wait(remaining)
        return True


class PluginServer:
    """``Server.java:27-92`` analogue: owns the listener + both services.

    ``port=0`` binds an ephemeral port (the reference's default — the
    host reads the real port from the handshake line).
    """

    def __init__(
        self,
        port: int = 0,
        destination: DestinationService | None = None,
        specifier: SpecifierService | None = None,
        exit_on_teardown: bool = False,
    ):
        self.destination = destination or DestinationService()
        self.specifier = specifier or SpecifierService()
        self.exit_on_teardown = exit_on_teardown
        self._tcp = _ThreadingTCP(("localhost", port), _Handler)
        self._tcp.plugin = self  # type: ignore[attr-defined]
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._tcp.server_address[1]

    def start(self) -> None:
        """Start serving on a daemon thread (``Server.java:47-64``)."""
        self._thread = threading.Thread(
            target=self._tcp.serve_forever, name="plugin-server", daemon=True
        )
        self._thread.start()

    def stop(self, grace_seconds: float = 30.0) -> None:
        """Orderly shutdown, draining in-flight RPCs (``Server.java:72-76``,
        the reference's 30 s awaitTermination): stop the accept loop, then
        wait up to the grace timeout for any frame that is mid-dispatch to
        finish writing its response BEFORE closing the listener — an
        in-flight record write completes and acks. Idle persistent
        connections do not count as in-flight (their daemon handler
        threads die with the process)."""
        self._tcp.shutdown()
        self._tcp.drain_requests(grace_seconds)
        self._tcp.server_close()
        if self._thread is not None:
            self._thread.join(timeout=grace_seconds)

    def shutdown_async(self) -> None:
        threading.Thread(target=self.stop, daemon=True).start()

    def block_until_shutdown(self) -> None:
        if self._thread is not None:
            self._thread.join()


def main(argv: list[str] | None = None) -> int:
    """``Application.main`` (``Application.java:29-38``): optional port
    arg, start, print handshake, block.

    Handshake gating: the go-plugin line's 5th field names the wire
    protocol. We advertise ``grpc`` only when the gRPC runtime is
    actually bound, OR when the caller passes ``--ndjson-handshake``
    (explicit acknowledgment that the host is a test client speaking the
    NDJSON transport — byte parity with ``Application.java:36``).
    Otherwise the token is ``ndjson`` so a real Conduit host fails fast
    on an unknown protocol instead of dialing gRPC at a non-gRPC port.
    """
    args = list(sys.argv[1:] if argv is None else argv)
    ndjson_ack = "--ndjson-handshake" in args
    args = [a for a in args if not a.startswith("--")]
    port = int(args[0]) if args else 0
    server = PluginServer(port=port, exit_on_teardown=True)
    server.start()
    if grpc_available() or ndjson_ack:
        line = handshake_line(server.port)
        if not grpc_available():
            print(
                "warning: grpc runtime not importable; serving the NDJSON "
                "test transport on the advertised port "
                "(--ndjson-handshake acknowledged)",
                file=sys.stderr,
            )
    else:
        line = handshake_line(server.port).rsplit("|", 1)[0] + "|ndjson"
        print(
            "warning: grpc runtime not importable; advertising the "
            "'ndjson' transport token (pass --ndjson-handshake to emit "
            "the reference-parity 'grpc' token for a test host)",
            file=sys.stderr,
        )
    print(line, flush=True)
    server.block_until_shutdown()
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
