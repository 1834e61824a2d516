"""`python -m pqstream_spark` — the daemon entry point.

Mirrors the reference daemon's flag surface (`pqsd`,
/root/reference/cmd/pqsd/main.go:30-42):

    -connect      → --connect   source: `sqlite:PATH` (local capture
                                backend: triggers + outbox + poller),
                                `postgres:CONNINFO` (live Postgres
                                capture) or a changelog parquet
                                directory (file source micro-batches)
    -tables       → --tables    server-level table regexp (which tables
                                get captured / pass the filter)
    -redactions   → --redactions JSON redaction config, same shape as
                                the reference's flag (README.md:62-75)
    -addr         → --out       where events go: a directory (one JSON
                                per line per micro-batch, K1 parity) or
                                `-` for stdout
    -addr (serve) → --listen-http PORT  additionally serve the Listen
                                wire over HTTP NDJSON on 127.0.0.1:PORT
                                (streaming/wire_http.py; gRPC framing
                                pending grpcio — see
                                tests/test_transport_probe.py)
    -remove       → --remove    remove capture triggers and exit
    (new)           --once      drain available data then exit (smoke/
                                batch mode; without it the daemon runs
                                until SIGINT/SIGTERM, graceful-stop
                                parity with main.go:113-118)

Startup order matches pqsd: remove-then-install triggers, then serve
(cmd/pqsd/main.go:95-112). Every polled backend then runs the same
loop (`_serve`): poll → handle_events → emit → commit.

Backends (`_backend`): `sqlite:` is sqlite; `postgres:` is outbox or
notify (`--transport`), or with `--transport logical` one of logical
(test_decoding), pgoutput (`--plugin pgoutput`) and sharded (pgoutput
with `--shards N`); anything else is dir. Backend-specific flags and
the backends that read them (`_FLAGS`); `_dispatch` rejects any other
combination with exit code 2 before anything is touched:

    flag              sqlite outbox notify logical pgoutput sharded dir
    --remove            x      x      x      x       x        x
    --consumer          x      x             x       x        x
    --bootstrap         x      x             x       x        x
    --lag               x      x             x       x        x
    --compact           x      x
    --replay-from       x      x
    --parallel-read            x
    --txn-consistent           x
    --slot                                   x       x        x
    --spill-dir                              x       x        x
    --spool-mode                             x       x        x
    --rebootstrap                            x       x        x
    --publication                                    x        x
    --shards                                                  x
    --checkpoint                                                     x
    --listen-http                                                    x
"""

from __future__ import annotations

import argparse
import json
import os
import re
import signal
import sys
import threading


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m pqstream_spark",
        description="pqstream-spark daemon: capture → transform → fan-out",
    )
    p.add_argument(
        "--connect",
        required=True,
        help="source: sqlite:PATH for the local capture backend, "
        "postgres:CONNINFO (libpq keywords, e.g. "
        "postgres:host=/run/pg dbname=app user=pq) for the live "
        "Postgres capture backend, or a changelog parquet directory "
        "for the file source",
    )
    p.add_argument("--tables", default=None, help="table name regexp")
    p.add_argument(
        "--redactions", default="", help="JSON redaction config or @file"
    )
    p.add_argument(
        "--out", default="-", help="output dir for jsonl batches, or - for stdout"
    )
    p.add_argument(
        "--remove", action="store_true", help="remove capture triggers and exit"
    )
    p.add_argument(
        "--once", action="store_true", help="drain available input, then exit"
    )
    p.add_argument(
        "--poll-interval", type=float, default=1.0,
        help="sqlite poller cadence in seconds (reference e2e runs at 1s)",
    )
    p.add_argument(
        "--consumer", default=None, metavar="NAME",
        help="outbox backends (sqlite/postgres; default 'daemon'): name "
        "of this consumer's durable offset "
        "row — two daemons with different names tail the same outbox "
        "independently, each at-least-once (outbox-level fan-out; "
        "--compact prunes only below ALL consumers' offsets)",
    )
    p.add_argument(
        "--bootstrap", action="store_true",
        help="outbox backends (sqlite/postgres): before streaming, "
        "emit the CURRENT rows "
        "of every captured table as synthetic INSERT events with "
        "negative seqs (initial snapshot + changelog switchover — the "
        "CDC bootstrap the reference's NOTIFY-only design cannot "
        "express). Runs once; a crash mid-snapshot re-bootstraps "
        "idempotently",
    )
    p.add_argument(
        "--compact", action="store_true",
        help="outbox backends (sqlite/postgres): after each batch, "
        "prune outbox rows "
        "every registered consumer has durably consumed (trades "
        "--replay-from depth for space)",
    )
    p.add_argument(
        "--replay-from", type=int, default=None, metavar="SEQ",
        help="outbox backends (sqlite/postgres): rewind the durable "
        "consumer offset to SEQ "
        "before draining, re-emitting every outbox event after it "
        "(reprocessing after a bad deploy; the idempotent seq-named "
        "sink rewrites the same files). The directory backend's "
        "equivalent is removing --checkpoint",
    )
    p.add_argument(
        "--checkpoint", default=None, metavar="DIR",
        help="durable restart point for the directory backend: the "
        "Structured Streaming checkpointLocation. Restart after a "
        "crash resumes from the last committed micro-batch instead of "
        "re-reading the whole changelog (the sqlite backend persists "
        "its offset inside the source database automatically)",
    )
    p.add_argument(
        "--transport", choices=("outbox", "notify", "logical"),
        default="outbox",
        help="postgres backend: 'outbox' (durable seqs via capture "
        "triggers, replay, at-least-once — the default), 'notify' "
        "(the reference's live LISTEN wire: pg_notify envelope with "
        "the two-tier 8KB degradation, AT-MOST-ONCE — events fired "
        "while the daemon is down are lost, exactly the reference's "
        "semantics), or 'logical' (replication slot + test_decoding: "
        "commit-ordered, transaction-atomic, ~zero write "
        "amplification, at-least-once with LSN-keyed durable offsets "
        "— the production CDC mechanism; needs wal_level=logical)",
    )
    p.add_argument(
        "--slot", default=None, metavar="NAME",
        help="logical transport: replication slot name (default "
        "pqstream_logical; slot names are cluster-global — use "
        "distinct slots per consumer)",
    )
    p.add_argument(
        "--plugin", choices=("test_decoding", "pgoutput"),
        default="test_decoding",
        help="logical transport decoding plugin: 'test_decoding' "
        "(text protocol, zero setup, client-side table filter) or "
        "'pgoutput' (the replication-grade binary protocol with "
        "SERVER-side filtering via a publication — unpublished tables "
        "never reach the wire; see --publication)",
    )
    p.add_argument(
        "--publication", default=None, metavar="NAME",
        help="pgoutput plugin: publication name (default "
        "pqstream_pub); created at install over the --tables set",
    )
    p.add_argument(
        "--shards", type=int, default=None, metavar="N",
        help="logical transport, pgoutput plugin: shard capture across "
        "N publications/slots (tables hash-assigned; same-table events "
        "always ride one shard, so per-table commit order holds) and "
        "drain them with N parallel executor-side pollers — N "
        "independent WAL decoders instead of one. Global event order "
        "is per shard only; cross-table transactions are split across "
        "shards (keep N=1 for cross-table atomicity). --slot/"
        "--publication become the per-shard name prefixes",
    )
    p.add_argument(
        "--parallel-read", type=int, default=None, metavar="N",
        help="postgres outbox backend: read each poll batch through N "
        "executor-side psql sub-range reads (mapInPandas) instead of "
        "one driver-side psql — the no-JDBC scale path; size N to the "
        "server's connection budget",
    )
    p.add_argument(
        "--listen-http", type=int, default=None, metavar="PORT",
        help="serve Listen over HTTP NDJSON on 127.0.0.1:PORT "
        "(directory backend only; 0 picks an ephemeral port)",
    )
    p.add_argument(
        "--lag", action="store_true",
        help="outbox backends: print per-consumer backlog (one JSON "
        "line per offset row: consumer, kind, last_seq, max_seq, lag) "
        "plus a summary line, then exit — the operational answer to "
        "'is anything falling behind' without attaching a consumer. "
        "reportfloor rows show REPORTING lag (a stream reader's "
        "offset horizon), plain rows show DELIVERY lag (what "
        "compaction keys on)",
    )
    p.add_argument(
        "--spill-dir", default=None, metavar="DIR",
        help="logical transport (test_decoding plugin): giant-"
        "transaction escape hatch — a transaction exceeding max_peek "
        "decoded changes drains through pg_recvlogical into on-disk "
        "spool segments under DIR (bounded memory both sides, "
        "txn-atomic at the sink, crash-resumable) instead of failing "
        "loudly",
    )
    p.add_argument(
        "--rebootstrap", action="store_true",
        help="logical transport: recover a LOST slot (wal_status="
        "'lost' — max_slot_wal_keep_size pressure discarded WAL the "
        "slot still needed, its changes are unrecoverable). Drops the "
        "dead slot, creates a fresh one over the walsender with an "
        "exported snapshot, re-emits the snapshot (exactly-once "
        "switchover), and resumes the changelog. No-op while the slot "
        "is healthy",
    )
    p.add_argument(
        "--spool-mode", action="store_true",
        help="logical transport (either plugin, requires "
        "--spill-dir): ALWAYS-ON executor-side spool ingest — every "
        "poll drains the slot through pg_recvlogical into spool "
        "segments (database -> disk, bytes never transit driver "
        "Python) and the segments are parsed on an executor via "
        "mapInPandas (Arrow batches). Same crash/exactly-once "
        "contract as the peek path; highest wide-row drain throughput",
    )
    p.add_argument(
        "--txn-consistent", action="store_true",
        help="postgres outbox backend: emit whole transactions only "
        "(TxnAssembler over the envelope xid with a one-batch "
        "holdback) — a multi-row transaction straddling a fenced "
        "batch ceiling lands in the sink all-or-nothing; the durable "
        "offset trails one batch so a crash replays (never loses) the "
        "holdback. The logical transport needs no flag: its batches "
        "are transaction-atomic by construction",
    )
    p.add_argument(
        "--fence-wait", type=float, default=2.0, metavar="SEC",
        help="postgres outbox backend: max seconds a poll waits for "
        "in-flight transactions to finish before settling for the "
        "current safe ceiling (the concurrent-writer watermark fence, "
        "PgSeqFence — rows above the fence wait for the next poll; "
        "delivery is never lost either way)",
    )
    return p


def _load_redactions(arg: str):
    from .operators.redact import decode_redactions

    if not arg:
        return {}
    if arg.startswith("@"):
        with open(arg[1:]) as f:
            arg = f.read()
    return decode_redactions(arg)


BACKENDS = ("sqlite", "outbox", "notify", "logical", "pgoutput", "sharded",
            "dir")
_SLOT = ("logical", "pgoutput", "sharded")  # replication-slot decoding
_OFFSET = ("sqlite", "outbox", *_SLOT)  # durable consumer offsets
_CAPTURE = (*_OFFSET, "notify")  # install capture in the source database


def _backend(args: argparse.Namespace) -> str:
    """The capture backend `args` select (one of BACKENDS)."""
    if args.connect.startswith("sqlite:"):
        return "sqlite"
    if not args.connect.startswith("postgres:"):
        return "dir"
    if args.transport != "logical":
        return args.transport
    if args.plugin != "pgoutput":
        return "logical"
    return "pgoutput" if args.shards is None else "sharded"


_NO_SLOT = ("only the logical transport (--transport logical) decodes a "
            "replication slot")

# Backend-specific flags: the backends that read each one, and why the
# others do not. A flag given to any other backend is rejected up front
# instead of being silently ignored.
_FLAGS: dict[str, tuple[tuple[str, ...], str]] = {
    "--tables": (BACKENDS, ""),
    "--once": (BACKENDS, ""),
    "--remove": (_CAPTURE, "the directory backend installs no capture"),
    "--consumer": (_OFFSET, "NOTIFY and the directory backend keep no "
                   "named consumer offset (NOTIFY has no cursor, offsets, "
                   "or replay)"),
    "--bootstrap": (_OFFSET, "NOTIFY has no cursor to switch over to, and "
                    "the directory backend re-reads its whole changelog"),
    "--lag": (_OFFSET, "the NOTIFY wire and the directory backend keep no "
              "server-side consumer offsets to measure"),
    "--compact": (("sqlite", "outbox"), "only an outbox table is pruned; a "
                  "replication slot releases WAL retention by advancing"),
    "--replay-from": (("sqlite", "outbox"), "a replication slot cannot "
                      "rewind (confirmed_flush_lsn is monotone; replay = new "
                      "slot + --bootstrap), NOTIFY has no cursor, and the "
                      "directory backend replays by removing --checkpoint"),
    "--parallel-read": (("outbox",), "only the postgres outbox has a "
                        "seq-partitionable server-side table (WAL decode "
                        "order is inherently serial)"),
    "--txn-consistent": (("outbox",), "logical batches are "
                         "transaction-atomic by construction "
                         "(pg_logical_slot_peek_changes only stops at "
                         "commit boundaries); the other backends carry no "
                         "writer xid"),
    "--slot": (_SLOT, _NO_SLOT),
    "--spill-dir": (_SLOT, _NO_SLOT),
    "--spool-mode": (_SLOT, _NO_SLOT),
    "--rebootstrap": (_SLOT, _NO_SLOT),
    "--publication": (("pgoutput", "sharded"), "publications belong to the "
                      "pgoutput plugin (--plugin pgoutput)"),
    "--shards": (("sharded",), "sharding scopes decode via publications — "
                 "pgoutput only (--transport logical --plugin pgoutput)"),
    "--checkpoint": (("dir",), "the polled backends persist their offset "
                     "inside the source database"),
    "--listen-http": (("dir",), "the Listen wire serves the directory "
                      "backend only"),
}

# Value checks and flag pairings, applied after _FLAGS.
_CHECKS = (
    # 0 would be falsy at the read-path choice and silently fall back to
    # the serial read — the operator must not believe the scale path is
    # active when it is not
    (lambda a: a.parallel_read is not None and a.parallel_read < 1,
     "--parallel-read: N must be >= 1 (got {a.parallel_read})"),
    (lambda a: a.fence_wait < 0,
     "--fence-wait: must be >= 0 (got {a.fence_wait})"),
    (lambda a: a.shards is not None and a.shards < 1,
     "--shards: N must be >= 1 (got {a.shards})"),
    (lambda a: a.spool_mode and a.spill_dir is None,
     "--spool-mode needs --spill-dir (the spool directory is the durable "
     "copy of drained WAL)"),
    (lambda a: a.txn_consistent and a.parallel_read is not None,
     "--txn-consistent reads the envelope xid driver-side "
     "(read_batch_txn); it does not compose with --parallel-read"),
)


def _flag_error(args: argparse.Namespace, backend: str) -> str | None:
    for flag, (readers, why) in _FLAGS.items():
        value = getattr(args, flag[2:].replace("-", "_"))
        # identity, not `in (None, False)`: 0 == False would let
        # --replay-from 0 through
        if backend not in readers and value is not None and value is not False:
            return f"{flag} does not apply to the {backend} backend: {why}"
    for bad, message in _CHECKS:
        if bad(args):
            return message.format(a=args)
    return None


class _Stop(threading.Event):
    """The daemon's graceful-stop flag; main() installs it as the
    SIGINT/SIGTERM handler."""

    def __call__(self, signum, frame) -> None:
        self.set()


def _spark(stop: threading.Event):
    """The daemon's Spark session. Creating the SparkContext installs
    pyspark's own SIGINT handler, which cancels jobs and raises
    KeyboardInterrupt (pyspark/core/context.py); when main() owns the
    handler (`stop` is installed), it goes back in, so SIGINT drains
    the in-flight batch like SIGTERM does."""
    from . import session

    owned = signal.getsignal(signal.SIGINT) is stop
    spark = session.get_spark("pqstream-daemon")
    if owned and threading.current_thread() is threading.main_thread():
        signal.signal(signal.SIGINT, stop)
    return spark


def _print_batch(batch_df, epoch: int) -> None:
    """`--out -`: one JSON line per event on stdout, in seq order."""
    from .streaming.sinks import event_to_json_line, seq_ordered_rows

    for d in seq_ordered_rows(batch_df):
        print(event_to_json_line(d), flush=True)


def _sink(out: str, prefix: str = "batch"):
    """The polled backends' writer: stdout, or one seq-named file per
    batch (`{prefix}-{lo}-{hi}.jsonl`) that a replayed batch rewrites
    in place — with the durable offset, exactly-once effect."""
    if out == "-":
        return _print_batch
    from .streaming import sinks

    return sinks.jsonl_seq_writer(out, prefix=prefix)


def _handle(batch, redactions):
    """Outbox-shaped batch → handled events. typed_wire: the CLI is a
    wire sink — render jsonpb-faithful typed JSON (numbers/nulls
    preserved), like the reference pays serialization cost exactly
    once at the notify/print boundary."""
    from . import pipeline
    from .sources.outbox_local import raw_events_from_outbox

    return pipeline.handle_events(
        raw_events_from_outbox(batch), redactions=redactions,
        typed_wire=True,
    )


def _emit_snapshot(args, emit, redactions, snap_batch, epoch: int = -1,
                   stale=lambda f: f.startswith("batch--")) -> None:
    """Sink a `--bootstrap` snapshot (negative seqs). The snapshot owns
    the negative-seq file namespace: a crashed earlier bootstrap may
    have left a snapshot of a different size (different seq range =
    different filename), which re-emitting would not overwrite — so
    the `stale` files go first."""
    snap = _handle(snap_batch, redactions)
    if args.out != "-":
        for f in os.listdir(args.out):
            if stale(f):
                os.remove(os.path.join(args.out, f))
    emit(snap, epoch)


def _serve(args, stop: threading.Event, emit, redactions, poll, commit,
           compact=None, pause: bool = True) -> int:
    """The one poll loop of every polled backend. `poll()` returns
    `(batch, drained)`; `commit()` runs only after the batch is sunk,
    so a crash in between replays it (at-least-once; the seq-named
    sink rewrites the same file). `--once` stops at the first drained
    poll; otherwise the loop waits `--poll-interval` between polls
    (`pause=False`: the transport's poll waits itself)."""
    epoch = 0
    while not stop.is_set():
        batch, drained = poll()
        emit(_handle(batch, redactions), epoch)
        commit()
        if args.compact:
            compact()
        epoch += 1
        if args.once:
            if drained:
                break
        elif pause:
            stop.wait(args.poll_interval)
    return 0


def _outbox_poll(poller, read):
    """poll() for the outbox pollers: drained exactly when the read
    window was empty (`_pending_hi is None`), so no poll pays a Spark
    job to count rows. A postgres batch that only advanced over abort
    gaps has _pending_hi set with zero rows — the loop runs one extra
    (cheap, empty) iteration and terminates on the next poll when the
    watermark stops moving; counting rows instead would re-run all N
    psql sub-range reads on the --parallel-read path."""
    def poll():
        batch = read()
        return batch, poller._pending_hi is None

    return poll


def _run_sqlite(args, stop: threading.Event) -> int:
    import sqlite3

    from .sources import outbox_local

    conn = sqlite3.connect(args.connect[len("sqlite:"):])
    cap = outbox_local.LocalCaptureManager(conn, table_regexp=args.tables)
    cap.remove()  # remove-then-install (cmd/pqsd/main.go:95-102)
    if args.remove:
        return 0
    tables = cap.install()
    print(f"capturing {len(tables)} tables: {tables}", file=sys.stderr)

    spark = _spark(stop)
    redactions = _load_redactions(args.redactions)
    # the offset lives next to the outbox: restart (even after SIGKILL)
    # resumes from the last advanced seq; a batch emitted but not yet
    # advanced replays, and the seq-named idempotent sink rewrites the
    # same file — exactly-once effect end to end
    poller = outbox_local.LocalOutboxPoller.open_durable(
        conn, consumer=args.consumer or "daemon")
    if args.replay_from is not None:
        poller.rewind(args.replay_from)
    emit = _sink(args.out)
    if args.bootstrap and not outbox_local.bootstrap_done(conn):
        # Consistent switchover point: the snapshot reflects every
        # write up to `hi`, so the changelog must resume AFTER hi
        # or snapshot and changelog both deliver the same row.
        # BEGIN IMMEDIATE blocks concurrent writers between the
        # snapshot read and the high-water capture.
        conn.execute("BEGIN IMMEDIATE")
        snap_batch = outbox_local.snapshot_batch(conn, spark, args.tables)
        hi = conn.execute(
            "SELECT COALESCE(MAX(seq), 0) FROM pqstream_outbox"
        ).fetchone()[0]
        conn.commit()
        _emit_snapshot(args, emit, redactions, snap_batch)
        poller.rewind(hi)
        # marked only after the snapshot is durably sunk: a crash
        # in between re-bootstraps, idempotently
        outbox_local.mark_bootstrap_done(conn)
    return _serve(args, stop, emit, redactions,
                  _outbox_poll(poller, lambda: poller.read_batch(spark)),
                  poller.advance, poller.compact)


def _remove_pg_triggers(runner, tables: str | None) -> None:
    """Remove both trigger transports' capture (outbox and NOTIFY): a
    daemon restarted with a different --transport must not leave
    orphaned capture firing into an unconsumed outbox (or an
    unlistened channel) forever."""
    from .sources.outbox_pg import PgCaptureManager, PgNotifyCaptureManager

    PgCaptureManager(runner, table_regexp=tables).remove()
    PgNotifyCaptureManager(runner, table_regexp=tables).remove()


def _run_postgres(args, stop: threading.Event) -> int:
    """Live-Postgres capture backend (sources/outbox_pg.py): the same
    remove-then-install → poll → handle → emit loop as _run_sqlite, but
    the triggers are the golden-pinned PL/pgSQL executing inside a real
    server and the durable offset row lives in the source database —
    matching the reference's deployment (pqsd against live PG,
    cmd/pqsd/main.go:95-112) with the at-least-once outbox upgrade.
    The other transports branch off here."""
    from .sources import outbox_pg

    runner = outbox_pg.PsqlRunner(args.connect[len("postgres:"):])
    backend = _backend(args)
    if backend == "notify":
        return _run_postgres_notify(args, stop, runner)
    if backend != "outbox":
        return _run_postgres_logical(args, stop, runner)
    cap = outbox_pg.PgCaptureManager(runner, table_regexp=args.tables)
    _remove_pg_triggers(runner, args.tables)  # remove-then-install
    if args.remove:
        return 0
    tables = cap.install()
    print(f"capturing {len(tables)} tables: {tables}", file=sys.stderr)

    spark = _spark(stop)
    redactions = _load_redactions(args.redactions)
    poller = outbox_pg.PgOutboxPoller.open_durable(
        runner, consumer=args.consumer or "daemon",
        fence_wait=args.fence_wait)
    if args.replay_from is not None:
        poller.rewind(args.replay_from)
    emit = _sink(args.out)
    if args.bootstrap and not outbox_pg.pg_bootstrap_done(runner):
        # consistent switchover: the high-water mark is the FENCED safe
        # ceiling (PgSeqFence), never the visible MAX(seq) — rewinding
        # past a seq an in-flight writer could still commit below would
        # lose that row forever. A fenced mark can only double-deliver
        # rows the snapshot also caught, which the at-least-once
        # contract and seq-dedup downstream already absorb (same stance
        # as the sqlite backend's BEGIN IMMEDIATE, weakened to
        # at-least-once)
        hi = outbox_pg.pg_outbox_high_water(runner,
                                            fence_wait=args.fence_wait)
        _emit_snapshot(args, emit, redactions,
                       outbox_pg.pg_snapshot_batch(runner, spark, args.tables))
        poller.rewind(hi)
        outbox_pg.pg_mark_bootstrap_done(runner)

    commit = poller.advance
    if args.txn_consistent:
        assembler = outbox_pg.TxnAssembler()
        # xid-extent index at STARTUP, never inside a poll (CREATE
        # INDEX queues behind open writers — a mid-poll creation would
        # wedge the loop exactly when transactions are in flight)
        poller.ensure_xid_index()

        def read():
            return assembler.feed(poller.read_batch_txn(spark)).drop("xid")

        def commit():
            # transaction-consistent durability: the read cursor moves
            # batch by batch, but the PERSISTED offset stays below the
            # lowest seq the assembler still holds (pending_floor) — a
            # crash replays the held-back rows instead of losing them;
            # replayed complete transactions are absorbed by the
            # seq-keyed idempotent sink and a fresh assembler re-groups
            # the replayed window.
            poller.advance_read()
            floor = assembler.pending_floor()
            poller.persist_at(
                poller.last_seq if floor is None else floor - 1)
    elif args.parallel_read:
        def read():
            return poller.read_batch_distributed(
                spark, num_partitions=args.parallel_read)
    else:
        def read():
            return poller.read_batch(spark)

    return _serve(args, stop, emit, redactions, _outbox_poll(poller, read),
                  commit, poller.compact)


def _run_postgres_notify(args, stop: threading.Event, runner) -> int:
    """`--transport notify`: the reference's own data path, live —
    pqsd's remove-then-install of the NOTIFY trigger, one LISTEN
    session, envelopes handled per micro-batch. At-most-once by
    design: no offsets, no replay (_dispatch rejects the flags that
    imply durability rather than silently ignoring them)."""
    import time

    from .sources.notify_pg import NotifyListener
    from .sources.outbox_pg import PgNotifyCaptureManager

    _remove_pg_triggers(runner, args.tables)
    if args.remove:
        return 0
    tables = PgNotifyCaptureManager(runner, table_regexp=args.tables).install()
    print(f"NOTIFY capture on {len(tables)} tables: {tables}",
          file=sys.stderr)

    spark = _spark(stop)
    redactions = _load_redactions(args.redactions)
    # per-run prefix: notify seqs are session-local (restart at 1 per
    # listener), so seq-named files would collide across daemon
    # restarts and overwrite earlier output
    emit = _sink(args.out, prefix=f"notify-{int(time.time() * 1000):x}")
    with NotifyListener(runner.conninfo) as lis:
        def poll():
            payloads = lis.poll(timeout=args.poll_interval)
            return lis.batch_df(spark, payloads), not payloads

        return _serve(args, stop, emit, redactions, poll,
                      commit=lambda: None, pause=False)


def _logical_preconditions(runner, cap) -> bool:
    """Every install precondition of the logical transport, checked
    BEFORE any destructive step: removing the other transports'
    triggers and THEN failing install (wal_level=replica, an empty
    table set, a cluster-global slot owned by another database) would
    leave the database with no capture at all — every write until the
    operator re-runs would be lost."""
    wal_level = runner.scalar("SHOW wal_level")
    if wal_level != "logical":
        print(f"--transport logical needs wal_level=logical (server "
              f"has {wal_level!r}); existing capture left untouched",
              file=sys.stderr)
        return False
    try:
        if not cap.discover_tables():
            print("no tables match the table regexp; existing "
                  "capture left untouched", file=sys.stderr)
            return False
        if hasattr(cap, "_slot_exists"):
            cap._slot_exists()  # raises on foreign-database slot
    except Exception as exc:  # noqa: BLE001 — loud, pre-destructive
        print(f"logical install precondition failed: {exc}; "
              "existing capture left untouched", file=sys.stderr)
        return False
    return True


_HEALTHY = (None, "reserved", "extended")  # healthy slot wal_status values


def _slot_rows(runner, where: str) -> list[dict]:
    """The logical slots matching `where`, with their lag columns.
    insert_lsn, not wal_lsn: async-committed WAL sitting in
    wal_buffers has not moved the WRITE position yet, and lag must
    count it. wal_status/safe_wal_size: the abandoned-slot footgun — a
    slot whose consumer stopped polling retains WAL forever and fills
    the source disk; 'unreserved'/'lost' means max_slot_wal_keep_size
    pressure is already discarding (or about to discard) the slot's
    WAL, and the operator must drain or remove() it."""
    return runner.query_csv(
        "SELECT slot_name, active::text AS active, "
        "(pg_current_wal_insert_lsn() - confirmed_flush_lsn)::bigint "
        "AS wal_bytes_pending, "
        "(pg_current_wal_insert_lsn() - restart_lsn)::bigint "
        "AS wal_bytes_retained, "
        "wal_status, safe_wal_size "
        "FROM pg_replication_slots WHERE slot_type = 'logical' "
        f"AND {where} ORDER BY slot_name"
    )


def _slot_record(r: dict) -> dict:
    return {
        "slot": r["slot_name"],
        "active": r["active"] in ("t", "true"),
        "wal_bytes_pending": int(r["wal_bytes_pending"] or 0),
        "wal_bytes_retained": int(r["wal_bytes_retained"] or 0),
        "wal_status": r["wal_status"],
        "safe_wal_size": (
            int(r["safe_wal_size"]) if r["safe_wal_size"] is not None
            else None
        ),
    }


def _drop_lost_slot(runner, slot: str, marker: str) -> bool:
    """`--rebootstrap` slot-loss recovery: wal_status='lost' means
    max_slot_wal_keep_size pressure discarded WAL this slot still
    needed — its unconsumed changes are GONE and the stream is dead
    (decode errors on the next peek). The recovery is the bootstrap
    machinery re-run: drop the dead slot and clear its bootstrap
    sentinel `marker`, so the exported-snapshot session re-snapshots
    the table state INCLUDING every change the lost WAL carried and
    the fresh slot decodes exactly what commits after it (disjoint,
    exactly-once switchover). Seq anchors are kept: they describe rows
    already durably sunk, and the new slot's commit LSNs are strictly
    beyond the stored anchor. Returns whether the slot was lost."""
    from .sources.outbox_pg import PG_OFFSET_TABLE, _quote_lit

    rows = _slot_rows(runner, f"slot_name = {_quote_lit(slot)}")
    if not rows or rows[0]["wal_status"] != "lost":
        return False
    print(f"slot {slot!r} is LOST (WAL retention pressure); "
          "rebootstrapping: drop slot -> exported-snapshot slot -> "
          "snapshot + changelog", file=sys.stderr)
    runner.sql(f"SELECT pg_drop_replication_slot({_quote_lit(slot)});")
    # clear the sentinel so the snapshot re-runs (check=False: a
    # first-ever run has no offset table yet)
    runner.sql(
        f"DELETE FROM {PG_OFFSET_TABLE} "
        f"WHERE consumer = {_quote_lit(marker)};",
        check=False)
    return True


def _snapshot_session(runner, mgr, slot: str, marker: str, plugin: str):
    """Exactly-once bootstrap anchor: when a snapshot is owed (`marker`
    unset) AND the slot does not exist yet, create the slot over the
    walsender with an EXPORTED snapshot at its consistent point —
    snapshot ∪ changelog then partition history DISJOINTLY (no overlap
    for downstream to absorb). Identity and publication are applied
    first (create_slot=False) so the first decoded UPDATE already
    carries the complete old tuple. Returns the open session, or None
    when no snapshot is owed or the slot already exists (including a
    crash between an earlier exported-snapshot session and the
    sentinel write — the session died, the slot persisted): the
    snapshot then falls back to the at-least-once overlap stance."""
    from .sources.logical_pg import SlotSnapshotSession
    from .sources.outbox_pg import pg_bootstrap_done

    if pg_bootstrap_done(runner, marker) or mgr._slot_exists():
        return None
    mgr.install(create_slot=False)
    return SlotSnapshotSession(runner.conninfo, slot, plugin=plugin).__enter__()


def _warn_retention(health: list[dict]) -> None:
    """Slot retention health at startup: an 'unreserved'/'lost' slot
    means max_slot_wal_keep_size pressure already discarded (or is
    about to discard) WAL this consumer needs — surfaced loudly
    instead of failing later with a decode error."""
    for h in health:
        if h.get("wal_status") not in _HEALTHY:
            print(f"WARNING: slot {h['slot']!r} wal_status="
                  f"{h['wal_status']!r} (safe_wal_size="
                  f"{h.get('safe_wal_size')}); WAL this consumer needs "
                  "is under retention pressure — drain faster or raise "
                  "max_slot_wal_keep_size", file=sys.stderr)


def _run_postgres_logical(args, stop: threading.Event, runner) -> int:
    """`--transport logical`: replication slot + test_decoding or
    pgoutput — the production CDC mechanism (sources/logical_pg.py).
    Commit-ordered and transaction-atomic by construction (no fence),
    ~zero write amplification (no trigger, no outbox table), durable
    LSN offsets in the slot itself. At-least-once with replay-stable
    seqs: a crash between sink and advance re-emits the same seq-named
    files.

    `--shards N` (pgoutput): capture sharded across N
    publications/slots, drained by N parallel executor-side pollers
    (sources/sharded_pg.py) and merged into one stream with
    replay-stable interleaved global seqs. Ordering contract printed at
    startup: per-table commit order (tables hash-pin to one shard);
    cross-shard interleaving is arbitrary."""
    from pyspark.sql import functions as F

    from .sources import logical_pg, pgoutput_pg, sharded_pg
    from .sources.outbox_local import OUTBOX_BATCH_SCHEMA
    from .sources.outbox_pg import (
        pg_bootstrap_done,
        pg_mark_bootstrap_done,
        pg_snapshot_batch,
    )

    slot = args.slot or logical_pg.DEFAULT_SLOT
    publication = args.publication or pgoutput_pg.DEFAULT_PUBLICATION
    sharded = args.shards is not None
    if sharded:
        cap = sharded_pg.ShardedPgOutputCapture(
            runner, n_shards=args.shards, slot_prefix=slot,
            publication_prefix=publication, table_regexp=args.tables)
    elif args.plugin == "pgoutput":
        cap = pgoutput_pg.PgOutputCaptureManager(
            runner, slot=slot, publication=publication,
            table_regexp=args.tables)
    else:
        cap = logical_pg.PgLogicalCaptureManager(runner, slot=slot,
                                                 table_regexp=args.tables)
    if not args.remove and not _logical_preconditions(runner, cap):
        return 2
    # NO remove-then-install here: dropping the slot would forget the
    # resume position (triggers are stateless, slots are the offset).
    # But a daemon switched TO logical must clean the other transports'
    # triggers so they stop writing an unconsumed outbox / channel.
    _remove_pg_triggers(runner, args.tables)
    if args.remove:
        if sharded:
            cap.remove()
            print(f"removed sharded capture ({args.shards} shards, slot "
                  f"prefix {slot!r})", file=sys.stderr)
        else:
            tables = cap.remove()
            print(f"removed slot {slot!r}; replica identity reset on "
                  f"{len(tables)} tables", file=sys.stderr)
        return 0
    # Bootstrap units, each with its own sentinel: the slot, or every
    # shard. Shards are TABLE-DISJOINT, so "snapshot ∪ changelog
    # partitions history disjointly" holds independently per shard and
    # the union of N per-shard exactly-once streams is globally
    # exactly-once; a crash between shard k's snapshot and shard k+1's
    # resumes at k+1, never re-snapshots k. unit id -> (sentinel, slot,
    # capture manager, table regexp).
    if sharded:
        # rename any legacy sentinel rows to the compaction-excluded form
        sharded_pg.migrate_legacy_shard_markers(runner)
        units = {
            i: (sharded_pg.shard_bootstrap_marker(i),
                sharded_pg.shard_slot(slot, i), cap._manager(i, tables),
                sharded_pg._anchored_regexp(tables))
            for i, tables in cap.shards().items()
        }
    else:
        # transport-scoped sentinel (ends with #bootstrap so compaction
        # skips it): an outbox-transport bootstrap must NOT satisfy the
        # logical one — the slot only sees WAL after its creation, so
        # the logical path needs its OWN snapshot regardless of earlier
        # outbox history
        units = {0: ("daemon@logical#bootstrap", slot, cap, args.tables)}
    # slot-loss recovery: only LOST slots re-bootstrap; healthy shards
    # keep their slots and stream on undisturbed
    rebooted = {i for i, (marker, unit_slot, _, _) in units.items()
                if args.rebootstrap
                and _drop_lost_slot(runner, unit_slot, marker)}
    owed = [i for i in sorted(units) if args.bootstrap or i in rebooted]
    plugin = ("pgoutput" if args.plugin == "pgoutput"
              else logical_pg.DECODING_PLUGIN)
    snap_sessions: dict[int, object] = {}
    try:
        for i in owed:
            marker, unit_slot, mgr, _ = units[i]
            sess = _snapshot_session(runner, mgr, unit_slot, marker, plugin)
            if sess is not None:
                snap_sessions[i] = sess
        installed = cap.install()
    except Exception:
        for s in snap_sessions.values():
            s.close()
        raise
    if sharded:
        print(f"sharded logical capture: {len(installed)} live shards "
              f"over {sum(len(t) for t in installed.values())} tables "
              f"{dict(installed)}; ordering domain = per table "
              "(same-table events ride one shard; cross-shard order "
              "arbitrary)", file=sys.stderr)
    else:
        print(f"logical capture (slot {slot!r}) on {len(installed)} "
              f"tables: {installed}", file=sys.stderr)

    spark = _spark(stop)
    redactions = _load_redactions(args.redactions)
    if sharded:
        poller = sharded_pg.ShardedPgOutputPoller.open_durable(
            runner.conninfo, n_shards=args.shards, slot_prefix=slot,
            publication_prefix=publication,
            consumer=args.consumer or "daemon",
            spill_dir=args.spill_dir)
        _warn_retention(poller.lag())
    else:
        poller_cls, extra = logical_pg.PgLogicalPoller, {}
        if args.plugin == "pgoutput":
            poller_cls = pgoutput_pg.PgOutputPoller
            extra = {"publication": publication}
        poller = poller_cls.open_durable(
            runner, slot=slot, consumer=args.consumer or "daemon",
            table_regexp=args.tables,
            # giant-transaction escape hatch (pgoutput: the binary
            # spool, a structural reframing of pg_recvlogical's output)
            spill_dir=args.spill_dir, **extra)
        _warn_retention([poller.lag()])
    emit = _sink(args.out)
    snap_file = re.compile(r"batch-(-\d+)-(-\d+)\.jsonl")
    if (sharded and args.bootstrap and args.out != "-"
            and not any(pg_bootstrap_done(runner, marker)
                        for marker, _, _, _ in units.values())):
        # a FRESH full bootstrap re-snapshots every shard: drop all
        # stale snapshot files up front. The per-shard modulo decode
        # below recovers shard ownership with the CURRENT --shards
        # value, so files written under a DIFFERENT shard count
        # decode to the wrong shard and would survive, leaving stale
        # snapshot rows beside fresh ones. Guarded on no shard marker
        # being set: a crash-resume must NOT delete an
        # already-snapshotted shard's files (its marker makes the loop
        # skip re-emitting them).
        for f in os.listdir(args.out):
            if snap_file.fullmatch(f):
                os.remove(os.path.join(args.out, f))
    for i in owed:
        marker, _, _, table_regexp = units[i]
        if pg_bootstrap_done(runner, marker):
            continue
        # switchover stance: with an exported-snapshot session the
        # snapshot is anchored at the slot's consistent point —
        # snapshot and changelog are DISJOINT, exactly-once across the
        # boundary. Without one (slot predates this bootstrap, or a
        # crash killed the exporting session), the snapshot runs
        # read-committed AFTER slot creation: at-least-once overlap,
        # absorbed by the seq-keyed idempotent downstream (documented
        # DEPLOY §4a)
        sess = snap_sessions.pop(i, None)
        try:
            snap_batch = pg_snapshot_batch(
                runner, spark, table_regexp,
                snapshot_name=(sess.snapshot_name
                               if sess is not None else None),
            )
            if not sharded:
                _emit_snapshot(args, emit, redactions, snap_batch)
            else:
                # snapshot seqs are -n..-1 PER SHARD; re-encode them
                # uniquely (local*N - shard: still negative, distinct
                # across shards, and (-seq) % N recovers the shard —
                # which is how the stale-file cleanup scopes itself to
                # THIS shard on a partial re-bootstrap)
                snap_batch = snap_batch.withColumn(
                    "seq", (F.col("seq") * args.shards - i).cast("long"))

                def stale(f, i=i):
                    m = snap_file.fullmatch(f)
                    return (m is not None
                            and (-int(m.group(2))) % args.shards == i)

                _emit_snapshot(args, emit, redactions, snap_batch,
                               epoch=-(i + 1), stale=stale)
        finally:
            if sess is not None:
                sess.close()
        pg_mark_bootstrap_done(runner, marker)
    for s in snap_sessions.values():  # sentinels already set
        s.close()

    def poll():
        if args.spool_mode:
            # continuous executor-side spool ingest: the drain writes
            # segments database->disk and an executor parses them into
            # Arrow batches (sharded: N parallel pg_recvlogical drains,
            # one parse job); the persisted frame is counted once here
            # and reused by the sink
            batch, n = poller.read_batch_spool_distributed(spark)
        elif sharded:
            batch, n = poller.read_batch_distributed(spark)
        else:
            # read_rows gives the row count driver-side for free — a
            # count() here would burn one Spark job per poll
            data_rows, _ = poller.read_rows()
            n = len(data_rows)
            batch = spark.createDataFrame(data_rows, OUTBOX_BATCH_SCHEMA)
        return batch, n == 0

    return _serve(args, stop, emit, redactions, poll, poller.advance)


_ACTIVE_WIRE = None  # set while the --listen-http wire server is up


def _run_changelog_dir(args, stop: threading.Event) -> int:
    from .streaming import sinks
    from .streaming.subscribe import SubscriptionManager
    from .streaming.source import stream_changelog

    spark = _spark(stop)
    mgr = SubscriptionManager(
        lambda: stream_changelog(spark, args.connect),
        redactions=_load_redactions(args.redactions),
    )
    wire = None
    if args.listen_http is not None:
        from .pipeline import handle_events
        from .streaming.subscribe import Dispatcher
        from .streaming.wire_http import WireServer

        # wire clients get the full handled chain (parse → redact →
        # merge-patch), each with their own per-request table regexp
        disp = Dispatcher(
            handle_events(
                stream_changelog(spark, args.connect),
                redactions=_load_redactions(args.redactions),
                table_regexp=args.tables or ".*",
                typed_wire=True,
            )
        )

        def _history(from_seq: int):
            # consumer resume (/listen?from_seq=N): batch-scan the
            # retained changelog through the SAME handled chain as the
            # live feed, so replayed and live lines render identically;
            # the seq filter pushes down to parquet min/max
            from pyspark.sql import functions as F

            from .streaming.source import batch_changelog

            df = handle_events(
                batch_changelog(spark, args.connect),
                redactions=_load_redactions(args.redactions),
                table_regexp=args.tables or ".*",
                typed_wire=True,
            )
            # a range-partitioned orderBy, not seq_ordered_rows: this
            # scan is bounded by retention, not by one micro-batch
            it = (
                df.filter(F.col("seq") >= from_seq)
                .orderBy("seq")
                .toLocalIterator()
            )
            return (r.asDict() for r in it)

        wire = WireServer(disp, port=args.listen_http, history=_history)
        wire.start_background()
        disp.start()
        global _ACTIVE_WIRE  # observable handle for tests/tooling
        _ACTIVE_WIRE = wire
        print(f"Listen wire serving on {wire.url}/listen", file=sys.stderr)
    q = mgr.listen(
        "daemon",
        table_regexp=args.tables or ".*",
        foreach_batch=(_print_batch if args.out == "-"
                       else sinks.jsonl_dir_writer(args.out)),
        checkpoint_dir=args.checkpoint,
        typed_wire=True,
    )
    if args.once:
        q.processAllAvailable()
    else:
        while not stop.is_set() and q.isActive:
            stop.wait(1.0)
        # Drain the in-flight micro-batch before stopping: SIGINT must
        # leave a complete, parseable output (the reference gives its
        # server a 10 s graceful-shutdown budget before the hard exit,
        # cmd/pqsd/main.go:113-118 — same contract here: finish the
        # work already read, then stop).
        try:
            q.processAllAvailable()
        except Exception:
            pass  # stream already terminal: nothing in flight to drain
    if wire is not None:
        # drain the wire dispatcher's own query too — Listen clients
        # must see the same in-flight batch the jsonl output got
        wire.dispatcher.stop(drain=True)
        wire.stop()
        _ACTIVE_WIRE = None  # don't leak a dead server handle
    mgr.stop_all()
    return 0


def _print_lag(connect: str, out) -> int:
    """One JSON line per offset row + a summary: the per-consumer
    backlog of an outbox without attaching a consumer. Read-only —
    missing tables report an empty outbox instead of creating anything
    (an operator probing a prospective database must not mutate it)."""
    from .sources.outbox import offset_row_kind

    rows: list[tuple[str, int]] = []
    max_seq = 0
    if connect.startswith("sqlite:"):
        import sqlite3

        from .sources.outbox_local import (
            LOCAL_OFFSET_TABLE,
            LOCAL_OUTBOX_TABLE,
        )

        conn = sqlite3.connect(connect[len("sqlite:"):])
        try:
            def _exists(t):
                return conn.execute(
                    "SELECT 1 FROM sqlite_master WHERE name = ?", (t,)
                ).fetchone() is not None

            if _exists(LOCAL_OUTBOX_TABLE):
                max_seq = int(conn.execute(
                    f"SELECT COALESCE(MAX(seq), 0) FROM {LOCAL_OUTBOX_TABLE}"
                ).fetchone()[0])
            if _exists(LOCAL_OFFSET_TABLE):
                rows = [(c, int(s)) for c, s in conn.execute(
                    f"SELECT consumer, last_seq FROM {LOCAL_OFFSET_TABLE} "
                    "ORDER BY consumer"
                )]
        finally:
            conn.close()
    else:
        from .sources.outbox import OUTBOX_TABLE
        from .sources.outbox_pg import PG_OFFSET_TABLE, PsqlRunner

        runner = PsqlRunner(connect[len("postgres:"):])
        if runner.scalar(f"SELECT to_regclass('{OUTBOX_TABLE}')::text"):
            max_seq = int(runner.scalar(
                f"SELECT COALESCE(MAX(seq), 0) FROM {OUTBOX_TABLE}") or 0)
        if runner.scalar(f"SELECT to_regclass('{PG_OFFSET_TABLE}')::text"):
            rows = [
                (r["consumer"], int(r["last_seq"]))
                for r in runner.query_csv(
                    f"SELECT consumer, last_seq FROM {PG_OFFSET_TABLE} "
                    "ORDER BY consumer"
                )
            ]
    for consumer, last_seq in rows:
        kind = offset_row_kind(consumer)
        rec = {"consumer": consumer, "kind": kind, "last_seq": last_seq}
        if kind in ("consumer", "reportfloor"):
            # only outbox-domain offsets compare against the outbox
            # max_seq; logical anchors and lease nonces are different
            # number spaces entirely
            rec["max_seq"] = max_seq
            rec["lag"] = max(0, max_seq - last_seq)
        print(json.dumps(rec), file=out)
    print(json.dumps({
        "summary": True, "max_seq": max_seq,
        "consumers": sum(1 for c, _ in rows
                         if offset_row_kind(c) == "consumer"),
    }), file=out)
    return 0


def _print_lag_sharded(connect: str, slot: str | None, n_shards: int,
                       out) -> int:
    """`--lag --transport logical --plugin pgoutput --shards N`: ONE
    JSON report for the whole sharded capture — per-shard backlog/
    health rows plus an unhealthy count — instead of N invocations
    with hand-assembled output. A shard whose slot is MISSING entirely
    (dropped under retention pressure, partial remove) is surfaced as
    unhealthy too: it is the worst lag state, not an absence of
    data."""
    from .sources.outbox_pg import PsqlRunner, _quote_lit
    from .sources.sharded_pg import DEFAULT_SHARD_SLOT

    prefix = slot or DEFAULT_SHARD_SLOT
    runner = PsqlRunner(connect[len("postgres:"):])
    by_shard: dict[int, dict] = {}
    for r in _slot_rows(runner,
                        f"slot_name LIKE {_quote_lit(prefix + '_s%')}"):
        suffix = r["slot_name"][len(prefix) + 2:]
        if suffix.isdigit():
            by_shard[int(suffix)] = r
    shards = [
        {"shard": i, **_slot_record(by_shard[i])} if i in by_shard
        else {"shard": i, "slot": f"{prefix}_s{i}", "missing": True}
        for i in range(n_shards)
    ]
    unhealthy = sum(1 for s in shards
                    if s.get("missing") or s["wal_status"] not in _HEALTHY)
    print(json.dumps({
        "shards": shards, "n_shards": n_shards, "unhealthy": unhealthy,
    }), file=out)
    if unhealthy:
        print(f"WARNING: {unhealthy} shard slot(s) missing or "
              "unreserved/lost — WAL those shards need is being (or "
              "has been) discarded; drain, --rebootstrap, or remove",
              file=sys.stderr)
    return 0


def _print_lag_logical(connect: str, slot: str | None, out) -> int:
    """`--lag --transport logical`: per-slot backlog straight from
    pg_replication_slots — wal_bytes_pending is what a stopped consumer
    costs in retained WAL (the operational number DEPLOY §4a says to
    watch), wal_bytes_retained what the slot pins against recycling."""
    from .sources.outbox_pg import PsqlRunner, _quote_lit

    runner = PsqlRunner(connect[len("postgres:"):])
    rows = _slot_rows(runner,
                      f"slot_name = {_quote_lit(slot)}" if slot else "TRUE")
    unhealthy = 0
    for r in rows:
        rec = _slot_record(r)
        if rec["wal_status"] not in _HEALTHY:
            unhealthy += 1
        print(json.dumps(rec), file=out)
    print(json.dumps({
        "summary": True, "slots": len(rows), "unhealthy": unhealthy,
    }), file=out)
    if unhealthy:
        print(f"WARNING: {unhealthy} slot(s) unreserved/lost — WAL the "
              "slot needs is being (or has been) discarded under "
              "max_slot_wal_keep_size; drain the consumer or remove the "
              "slot", file=sys.stderr)
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    stop = _Stop()

    # SIGINT → graceful stop (ctxutil/background_signals.go:12-22
    # parity); the previous handlers come back before main() returns,
    # so an in-process caller (tests, an embedding host) keeps its own
    prev = {}
    if threading.current_thread() is threading.main_thread():
        for sig in (signal.SIGINT, signal.SIGTERM):
            prev[sig] = signal.signal(sig, stop)
    try:
        return _dispatch(args, stop)
    finally:
        for sig, handler in prev.items():
            # None: the old handler was not installed from Python
            signal.signal(sig, signal.SIG_DFL if handler is None
                          else handler)


def _dispatch(args: argparse.Namespace, stop: threading.Event) -> int:
    """Validate the whole flag set, then run the selected backend. Every
    rejection happens here, before any trigger, slot or file is
    touched."""
    backend = _backend(args)
    if backend == "dir" and not os.path.isdir(args.connect):
        print(f"--connect: not a sqlite:/postgres: URL or directory: "
              f"{args.connect}", file=sys.stderr)
        return 2
    error = _flag_error(args, backend)
    if error is not None:
        print(error, file=sys.stderr)
        return 2
    if args.lag:
        if backend == "sharded":
            return _print_lag_sharded(
                args.connect, args.slot, args.shards, sys.stdout)
        if backend in _SLOT:
            return _print_lag_logical(args.connect, args.slot, sys.stdout)
        return _print_lag(args.connect, sys.stdout)
    if backend == "sqlite":
        return _run_sqlite(args, stop)
    if backend == "dir":
        return _run_changelog_dir(args, stop)
    return _run_postgres(args, stop)


if __name__ == "__main__":
    sys.exit(main())
