"""F1/F2/F3 — the subscription surface (`Listen(table_regexp)`).

Reference: one event-loop goroutine multicasts every event to N
dynamic subscribers, each filtering by its own table regexp over an
UNBUFFERED channel — a slow client stalls the whole loop
(`/root/reference/server.go:249-315`, head-of-line TODO at :291).

Spark-first redesign: each subscriber is its own StreamingQuery over
the shared source. Isolation is structural — a slow sink slows only
its own query; there is no shared event loop to stall. Dynamic
subscribe/unsubscribe = start/stop of queries at runtime, which
Structured Streaming supports natively. Ordering within a subscriber
is by `seq` (the reference's implicit total order made explicit —
SURVEY.md §3.4).
"""

from __future__ import annotations

import queue
import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.filters import compile_or_raise
from ..pipeline import handle_events
from ..operators.redact import FieldRedactions
from .sinks import seq_ordered_rows


class SubscriptionManager:
    """Manages per-client Listen queries over one raw event stream.

    `source_factory` returns a fresh streaming RawEvent DataFrame; each
    subscription builds its own plan from it (Spark requires one query
    per sink; sources share files/offsets but not execution)."""

    def __init__(
        self,
        source_factory: Callable[[], DataFrame],
        redactions: FieldRedactions | None = None,
    ) -> None:
        self._source_factory = source_factory
        self._redactions = redactions or {}
        self._queries: dict[str, StreamingQuery] = {}

    def listen(
        self,
        name: str,
        table_regexp: str = ".*",
        sink_format: str = "memory",
        output_mode: str = "append",
        checkpoint_dir: str | None = None,
        foreach_batch: Callable | None = None,
        trigger: dict | None = None,
        typed_wire: bool = False,
    ) -> StreamingQuery:
        """Start a subscription — parity with Server.Listen
        (server.go:284-302): bad regexp raises before any query starts;
        the filter applies per-subscriber on the shared pipeline."""
        compile_or_raise(table_regexp)
        if name in self._queries and self._queries[name].isActive:
            raise ValueError(f"subscription {name!r} already active")

        ev = handle_events(
            self._source_factory(),
            redactions=self._redactions,
            table_regexp=table_regexp,
            typed_wire=typed_wire,
        )
        if foreach_batch is not None:
            writer = ev.writeStream.foreachBatch(foreach_batch)
        else:
            writer = ev.writeStream.format(sink_format)
        writer = writer.outputMode(output_mode).queryName(name)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        if trigger:
            writer = writer.trigger(**trigger)
        q = writer.start()
        self._queries[name] = q
        return q

    def stop(self, name: str) -> None:
        """Unsubscribe — the reference prunes a subscriber when its
        callback returns false (server.go:249-253); here it's an
        explicit stop of that subscriber's query only."""
        q = self._queries.pop(name, None)
        if q is not None and q.isActive:
            q.stop()

    def active(self) -> list[str]:
        return [n for n, q in self._queries.items() if q.isActive]

    def stop_all(self) -> None:
        for name in list(self._queries):
            self.stop(name)


BUFFER_POLICIES = ("block", "drop-oldest", "disconnect-slow")

_STOP = object()


class _Subscriber:
    """One fan-out target. policy=None delivers inline from the dispatch
    loop (the reference's unbuffered-channel semantics, server.go:291).
    A buffer policy decouples the subscriber behind a bounded queue +
    worker thread — the improvement the reference's own TODO
    (server.go:291 "will likely buffer after benchmarking") never
    shipped:

      block           — dispatch waits when this subscriber's queue is
                        full (today's semantics, with `capacity` slack)
      drop-oldest     — full queue evicts the oldest undelivered row;
                        `dropped` counts the loss (lossy tail, never
                        stalls the loop)
      disconnect-slow — a full queue disconnects the subscriber (the
                        strictest protect-the-loop policy)

    Per-subscriber ordering is preserved (single worker, FIFO queue).
    """

    def __init__(self, name, pattern, callback, policy, capacity):
        if policy is not None and policy not in BUFFER_POLICIES:
            raise ValueError(
                f"unknown buffer policy {policy!r}; use one of {BUFFER_POLICIES}"
            )
        self.name = name
        self.pattern = pattern
        self.cb = callback
        self.policy = policy
        self.dropped = 0
        self.delivered = 0
        self.dead = threading.Event()
        self.q = None
        self.thread = None
        if policy is not None:
            self.q = queue.Queue(maxsize=max(1, capacity))
            self.thread = threading.Thread(
                target=self._run, daemon=True, name=f"pq-sub-{name}"
            )
            self.thread.start()

    def _run(self) -> None:
        while True:
            item = self.q.get()
            if item is _STOP or self.dead.is_set():
                break
            try:
                ok = self.cb(item)
            except Exception:
                ok = False
            if not ok:
                self.dead.set()  # cb contract: False → unsubscribe
                break
            self.delivered += 1

    def offer(self, row) -> bool:
        """Deliver (inline) or enqueue (buffered). False → remove me."""
        if self.policy is None:
            try:
                ok = bool(self.cb(row))
            except Exception:
                return False
            if ok:
                self.delivered += 1
            return ok
        if self.dead.is_set():
            return False
        if self.policy == "block":
            while not self.dead.is_set():
                try:
                    self.q.put(row, timeout=0.05)
                    return True
                except queue.Full:
                    continue
            return False
        try:
            self.q.put_nowait(row)
            return True
        except queue.Full:
            if self.policy == "drop-oldest":
                try:
                    self.q.get_nowait()
                except queue.Empty:
                    pass
                self.dropped += 1
                try:
                    self.q.put_nowait(row)
                except queue.Full:
                    pass  # raced with _STOP fill; row counted dropped above
                return True
            self.dead.set()  # disconnect-slow
            return False

    def drain(self, timeout: float = 10.0) -> None:
        """Wait until the queue has been handed to the worker (graceful
        stop: buffered rows are delivered, not discarded)."""
        if self.q is None:
            return
        deadline = time.monotonic() + timeout
        while not self.q.empty() and not self.dead.is_set():
            if time.monotonic() >= deadline:
                break
            time.sleep(0.01)

    def close(self) -> None:
        """Signal the worker to exit. Deliberately does NOT join: close
        runs on the dispatch loop (offer → False → unsubscribe) and the
        worker may be blocked inside a stalled client write — joining
        here would hand the head-of-line stall right back to the loop.
        The worker is a daemon; Dispatcher.stop() joins with a timeout."""
        self.dead.set()
        if self.q is not None:
            try:
                self.q.put_nowait(_STOP)
            except Exception:
                pass

    def join(self, timeout: float = 5.0) -> None:
        if self.thread is not None and threading.current_thread() is not self.thread:
            self.thread.join(timeout=timeout)


class Dispatcher:
    """Single-query fan-out — the reference's exact topology (one event
    loop, N subscribers, `/root/reference/server.go:249-267`) as one
    StreamingQuery + a foreachBatch dispatcher.

    Trade-off vs per-query subscriptions (SubscriptionManager): the
    source is read ONCE per micro-batch regardless of subscriber count
    (cheaper at high fan-out), but subscribers share the batch cadence.
    By DEFAULT a slow callback delays the next micro-batch for everyone
    — precisely the reference's head-of-line blocking (server.go:291).
    Unlike the reference, a subscriber may opt into a bounded buffer
    (policy = block | drop-oldest | disconnect-slow, see _Subscriber):
    delivery then happens on that subscriber's own worker thread and a
    slow client can no longer stall the loop — the fix server.go:291's
    TODO promised and never shipped.

    A callback returning False unsubscribes (subscription.fn parity,
    server.go:30-33). Registration/removal is effective from the next
    micro-batch (buffered removal also mid-batch).
    """

    def __init__(self, events: DataFrame) -> None:
        self._events = events
        self._subs: dict[str, _Subscriber] = {}
        self._query: StreamingQuery | None = None
        self.dispatched = 0  # rows seen by the event loop, all batches

    def subscribe(
        self,
        name: str,
        table_regexp: str,
        callback,
        policy: str | None = None,
        capacity: int = 64,
    ) -> None:
        import re

        pattern = re.compile(compile_or_raise(table_regexp))
        self._subs[name] = _Subscriber(name, pattern, callback, policy, capacity)

    def unsubscribe(self, name: str) -> None:
        sub = self._subs.pop(name, None)
        if sub is not None:
            sub.close()

    def subscribers(self) -> list[str]:
        return sorted(self._subs)

    def is_active(self, name: str) -> bool:
        """Live subscription check — False once removed or once a
        buffered worker died (cb False / disconnect-slow overflow)."""
        sub = self._subs.get(name)
        return sub is not None and not sub.dead.is_set()

    def dropped(self, name: str) -> int:
        """Rows evicted for a drop-oldest subscriber (0 otherwise)."""
        sub = self._subs.get(name)
        return sub.dropped if sub is not None else 0

    def stats(self) -> dict:
        """Observability snapshot — the engine's answer to the
        reference's gops/pprof debug agents (cmd/pqs/main.go:41-46,
        cmd/pqsd -debugaddr): per-subscriber delivery/drop/backlog
        counters plus loop totals, served over /stats by WireServer."""
        return {
            "active": self._query is not None and self._query.isActive,
            "dispatched": self.dispatched,
            "subscribers": {
                name: {
                    "policy": sub.policy,
                    "delivered": sub.delivered,
                    "dropped": sub.dropped,
                    "backlog": sub.q.qsize() if sub.q is not None else 0,
                    "alive": not sub.dead.is_set(),
                }
                for name, sub in sorted(self._subs.items())
            },
        }

    def dispatch_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """The query's foreachBatch function: rows stream to the driver
        in global seq order — driver memory is bounded by one
        micro-batch (maxFilesPerTrigger), not the retained changelog —
        and each is multicast to the surviving subscribers, the
        reference's event-loop shape (server.go:249-267)."""
        if not self._subs:
            return
        for row in seq_ordered_rows(batch_df):
            if not self._subs:
                break
            self.dispatched += 1
            for name, sub in list(self._subs.items()):
                if not sub.pattern.search(row["table_name"] or ""):
                    continue
                if not sub.offer(row):
                    self.unsubscribe(name)  # False → unsubscribe

    def start(self, trigger: dict | None = None) -> StreamingQuery:
        writer = self._events.writeStream.foreachBatch(
            self.dispatch_batch
        ).queryName("pqstream_dispatcher")
        if trigger:
            writer = writer.trigger(**trigger)
        self._query = writer.start()
        return self._query

    def stop(self, drain: bool = False) -> None:
        """Stop the fan-out query. drain=True first processes every
        micro-batch already visible to the source AND waits for buffered
        subscribers' queues to empty, so subscribers see the in-flight
        work before shutdown (the graceful-stop contract,
        cmd/pqsd/main.go:113-118)."""
        if self._query is not None and self._query.isActive:
            if drain:
                try:
                    self._query.processAllAvailable()
                except Exception:
                    pass  # already terminal: nothing to drain
            self._query.stop()
        subs = [self._subs[n] for n in list(self._subs) if n in self._subs]
        for sub in subs:
            if drain:
                sub.drain()
            sub.close()
        for sub in subs:
            sub.join(timeout=2)
