"""Live wire surface for F3: the reference's `Listen(regexp) → stream
of events` contract (/root/reference/pqstream.proto:6-15,
server.go:284-315) served over HTTP NDJSON line-streaming.

grpcio is absent from this environment (tests/test_transport_probe.py
documents it), so the wire FRAMING is HTTP instead of gRPC — but
everything the framing carries is the real thing: the Dispatcher's
single-event-loop fan-out, per-client table-regexp filtering validated
at subscribe time (server.go:305-307 returns an error before streaming
starts), byte-parity event rendering (event_to_json_line — the pqs CLI
jsonpb layout), global seq order, and disconnect-driven unsubscribe
(a failed write returns False to the dispatcher, which removes the
subscriber — subscription.fn parity, server.go:30-33). When grpcio
appears, `Listen` becomes a thin gRPC method over the same Dispatcher
and renderer; nothing below the framing changes.

Backpressure semantics DEFAULT to the reference's: the event loop
writes to each client inline, so a slow client delays the batch for
everyone (the unbuffered channel at server.go:291). Bounded
micro-batches (maxFilesPerTrigger / PgOutboxPoller.max_rows) cap how
much a stall can hold in flight. Unlike the reference, a client may
opt OUT of head-of-line blocking per connection —
`/listen?tables=...&policy=drop-oldest|disconnect-slow|block&buffer=N`
moves its delivery onto a bounded per-subscriber queue + worker thread
(Dispatcher buffer policies), so one stalled socket no longer delays
any other subscriber's delivery: the fix the reference's own TODO
(server.go:291, "will likely buffer after benchmarking") never
shipped. Teardown order: dispatcher.stop() before WireServer.stop()
(the order __main__ uses) — the reverse closes handler wfiles while a
batch may be mid-write, which the callback tolerates (ValueError →
unsubscribe) but delivers less.

A second upgrade over the reference: `/listen?from_seq=N` resumes a
consumer from retained history (Kafka-style). NOTIFY delivers only to
connected listeners, so a reference client that reconnects has lost
everything in between; here the server batch-scans the retained
changelog (seq >= N pushes down to parquet row-group min/max), streams
it, then splices into the live feed with a per-connection seq guard —
exactly-once across the hand-off, bounded by the outbox compaction
low-water mark.
"""

from __future__ import annotations

import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from ..operators.filters import compile_or_raise
from .sinks import event_to_json_line
from .subscribe import BUFFER_POLICIES, Dispatcher

# Live rows buffered while a from_seq replay runs. Replay length is
# bounded by retention (outbox compaction's low-water mark), so this is
# a stall backstop, not a working size; overflow disconnects (keeping
# resume exactly-once) rather than dropping.
REPLAY_PENDING_CAP = 4096


class _ListenHandler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    server_version = "pqstream-spark-wire/1"

    def log_message(self, fmt, *args):  # quiet: tests assert on stdout
        pass

    def _send_json(self, obj) -> None:
        import json

        body = json.dumps(obj, separators=(",", ":")).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):  # noqa: N802 (stdlib naming)
        parsed = urlparse(self.path)
        server: WireServer = self.server  # type: ignore[assignment]
        if parsed.path == "/health":
            # liveness: is the fan-out query running? (the engine's
            # answer to the reference's -debugaddr agents)
            st = server.dispatcher.stats()
            self._send_json(
                {"status": "ok" if st["active"] else "inactive",
                 "subscribers": len(st["subscribers"])}
            )
            return
        if parsed.path == "/stats":
            st = server.dispatcher.stats()
            # snapshot: listen-handler threads insert/pop concurrently,
            # and iterating the live dict can raise "changed size"
            replays = list(server.replay_info.items())
            if replays:
                st["replays"] = {k: dict(v) for k, v in replays}
            self._send_json(st)
            return
        if parsed.path != "/listen":
            self.send_error(
                404,
                "unknown path (use /listen?tables=REGEXP, /stats, /health)",
            )
            return
        qs = parse_qs(parsed.query)
        regexp = qs.get("tables", [".*"])[0]
        try:
            compile_or_raise(regexp)
        except Exception as ex:
            # invalid pattern is an error BEFORE any streaming starts —
            # Listen parity (server.go:305-307)
            self.send_error(400, f"bad tables regexp: {ex}")
            return
        policy = qs.get("policy", [None])[0]
        if policy is not None and policy not in BUFFER_POLICIES:
            self.send_error(
                400, f"bad policy {policy!r} (use one of {BUFFER_POLICIES})"
            )
            return
        try:
            capacity = int(qs.get("buffer", ["64"])[0])
        except ValueError:
            self.send_error(400, "bad buffer size (integer required)")
            return
        from_seq = None
        if "from_seq" in qs:
            try:
                from_seq = int(qs["from_seq"][0])
            except ValueError:
                self.send_error(400, "bad from_seq (integer required)")
                return
            if server.history is None:
                # error BEFORE streaming starts, like a bad regexp
                self.send_error(
                    400, "from_seq replay is not supported on this backend"
                )
                return
        with_seq = qs.get("with_seq", ["0"])[0] not in ("0", "", "false")

        self.send_response(200)
        self.send_header("Content-Type", "application/x-ndjson")
        self.send_header("Cache-Control", "no-store")
        self.send_header("Connection", "close")
        self.end_headers()

        done = threading.Event()
        name = f"http-{uuid.uuid4().hex[:8]}"

        def write_row(row: dict) -> bool:
            try:
                line = event_to_json_line(row, include_seq=with_seq)
                self.wfile.write((line + "\n").encode())
                self.wfile.flush()
                return True
            except (OSError, ValueError):
                # OSError: client went away. ValueError: wfile was closed
                # on OUR side (WireServer.stop() while the dispatcher is
                # mid-batch) — either way unsubscribe via False instead of
                # letting the exception kill the shared foreachBatch query
                # for every other client.
                done.set()
                return False

        if from_seq is None:
            cb = write_row
        else:
            # Consumer resume (Kafka-style, impossible in the reference's
            # NOTIFY-only design): subscribe FIRST (live rows buffer in
            # `pending`), batch-replay retained history >= from_seq, then
            # splice — flush pending, dedup by seq, go live. The seq
            # guard makes the hand-off exactly-once: a row present in
            # both the history scan and an in-flight micro-batch is
            # written exactly once, and `last` only ever advances.
            lock = threading.Lock()
            state = {"live": False, "last": from_seq - 1}
            pending: list[dict] = []

            def cb(row: dict) -> bool:
                with lock:
                    if not state["live"]:
                        if len(pending) >= REPLAY_PENDING_CAP:
                            # replay outlived the buffer: disconnecting
                            # keeps resume exactly-once (dropping a live
                            # row here would silently break it); the
                            # client reconnects with a later from_seq
                            done.set()
                            return False
                        pending.append(row)
                        return True
                    if row["seq"] <= state["last"]:
                        return True  # already replayed
                    ok = write_row(row)
                    if ok:
                        state["last"] = row["seq"]
                    return ok

        server.dispatcher.subscribe(name, regexp, cb, policy=policy, capacity=capacity)
        try:
            if from_seq is not None:
                import re

                info = {"from_seq": from_seq, "replayed": 0, "live": False}
                server.replay_info[name] = info
                pattern = re.compile(compile_or_raise(regexp))
                replay_ok = True
                for row in server.history(from_seq):
                    if not pattern.search(row.get("table_name") or ""):
                        continue
                    if not write_row(row):
                        replay_ok = False
                        break
                    info["replayed"] += 1
                    with lock:
                        if row["seq"] > state["last"]:
                            state["last"] = row["seq"]
                if replay_ok:
                    with lock:
                        for row in pending:
                            if row["seq"] <= state["last"]:
                                continue
                            if not write_row(row):
                                done.set()
                                break
                            state["last"] = row["seq"]
                        pending.clear()
                        state["live"] = True
                    info["live"] = True
            # the dispatcher's event loop writes from its own thread;
            # this handler thread just holds the connection open until
            # the client disconnects or the server shuts down. A write
            # failure detects disconnect under traffic; the MSG_PEEK
            # probe detects it while IDLE (otherwise a closed client's
            # subscription lingers until the next event): the client
            # never sends after the request (Connection: close), so a
            # readable socket means EOF. selectors (epoll/kqueue), not
            # select.select: select raises ValueError for fd >= 1024,
            # which would read as "disconnect" for every high-fd client
            # at exactly the fan-out scale the wire advertises.
            import selectors as _selectors
            import socket as _socket

            sel = _selectors.DefaultSelector()
            try:
                sel.register(self.connection, _selectors.EVENT_READ)
                while not done.is_set() and not server.closing.is_set():
                    if not server.dispatcher.is_active(name):
                        break  # removed (cb False / disconnect-slow)
                    try:
                        if sel.select(timeout=0) and not self.connection.recv(
                            1, _socket.MSG_PEEK
                        ):
                            break  # client closed while idle
                    except OSError:
                        break
                    done.wait(0.2)
            finally:
                sel.close()
        finally:
            server.replay_info.pop(name, None)
            server.dispatcher.unsubscribe(name)


class WireServer(ThreadingHTTPServer):
    """`Listen` over HTTP NDJSON, bridging a Dispatcher.

    Usage:
        d = Dispatcher(events)
        srv = WireServer(d, port=0)   # port 0 = ephemeral
        srv.start_background()
        d.start()
        ... clients GET /listen?tables=users|notes ...
        srv.stop()
    """

    daemon_threads = True

    def __init__(
        self,
        dispatcher: Dispatcher,
        host: str = "127.0.0.1",
        port: int = 0,
        history=None,
    ):
        super().__init__((host, port), _ListenHandler)
        self.dispatcher = dispatcher
        # history: callable (from_seq: int) -> iterable of event-row
        # dicts with seq >= from_seq, ascending — enables
        # /listen?from_seq=N consumer resume. None = replay unsupported
        # (400 at subscribe time).
        self.history = history
        # per-connection replay progress, surfaced under /stats
        # "replays" while the connection is open (removed on close)
        self.replay_info: dict = {}
        self.closing = threading.Event()
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        host, port = self.server_address[:2]
        return f"http://{host}:{port}"

    def start_background(self) -> None:
        self._thread = threading.Thread(target=self.serve_forever, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self.closing.set()
        self.shutdown()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.server_close()
