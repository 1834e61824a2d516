"""`python -m pqstream_spark` — the daemon entry point.

Mirrors the reference daemon's flag surface (`pqsd`,
/root/reference/cmd/pqsd/main.go:30-42):

    -connect      → --connect   source: `sqlite:PATH` (local capture
                                backend: triggers + outbox + poller) or
                                a changelog parquet directory (file
                                source micro-batches)
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
                                until SIGINT, graceful-stop parity with
                                main.go:113-118)

Startup order matches pqsd: remove-then-install triggers, then serve
(cmd/pqsd/main.go:95-112).
"""

from __future__ import annotations

import argparse
import json
import os
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


def _emit(batch_df, out: str, epoch: int) -> None:
    from .streaming.sinks import event_to_json_line, jsonl_dir_writer

    if out == "-":
        for r in batch_df.orderBy("seq").toLocalIterator():
            print(event_to_json_line(r.asDict()), flush=True)
    else:
        jsonl_dir_writer(out)(batch_df, epoch)


def _run_sqlite(args, stop: threading.Event) -> int:
    import sqlite3

    from .pipeline import handle_events
    from .session import get_spark
    from .sources.outbox_local import (
        LocalCaptureManager,
        LocalOutboxPoller,
        raw_events_from_outbox,
    )

    path = args.connect[len("sqlite:"):]
    conn = sqlite3.connect(path)
    cap = LocalCaptureManager(conn, table_regexp=args.tables)
    cap.remove()  # remove-then-install (cmd/pqsd/main.go:95-102)
    if args.remove:
        return 0
    tables = cap.install()
    print(f"capturing {len(tables)} tables: {tables}", file=sys.stderr)

    spark = get_spark("pqstream-daemon")
    redactions = _load_redactions(args.redactions)
    # the offset lives next to the outbox: restart (even after SIGKILL)
    # resumes from the last advanced seq; a batch emitted but not yet
    # advanced replays, and the seq-named idempotent sink rewrites the
    # same file — exactly-once effect end to end
    poller = LocalOutboxPoller.open_durable(
        conn, consumer=args.consumer or "daemon")
    if args.replay_from is not None:
        poller.rewind(args.replay_from)
    if args.out == "-":
        emit = lambda df, ep: _emit(df, "-", ep)  # noqa: E731
    else:
        from .streaming.sinks import jsonl_seq_writer

        emit = jsonl_seq_writer(args.out)
    if args.bootstrap:
        from .sources.outbox_local import (
            bootstrap_done,
            mark_bootstrap_done,
            snapshot_batch,
        )

        if not bootstrap_done(conn):
            # Consistent switchover point: the snapshot reflects every
            # write up to `hi`, so the changelog must resume AFTER hi
            # or snapshot and changelog both deliver the same row.
            # BEGIN IMMEDIATE blocks concurrent writers between the
            # snapshot read and the high-water capture.
            conn.execute("BEGIN IMMEDIATE")
            snap_batch = snapshot_batch(conn, spark, args.tables)
            hi = conn.execute(
                "SELECT COALESCE(MAX(seq), 0) FROM pqstream_outbox"
            ).fetchone()[0]
            conn.commit()
            snap = handle_events(
                raw_events_from_outbox(snap_batch),
                redactions=redactions,
                typed_wire=True,
            )
            if args.out != "-":
                # the snapshot owns the negative-seq file namespace: a
                # crashed earlier bootstrap may have left a snapshot of
                # a different size (different seq range = different
                # filename), which re-emitting would not overwrite
                for f in os.listdir(args.out):
                    if f.startswith("batch--"):
                        os.remove(os.path.join(args.out, f))
            emit(snap, -1)
            poller.rewind(hi)
            # marked only after the snapshot is durably sunk: a crash
            # in between re-bootstraps, idempotently
            mark_bootstrap_done(conn)
    epoch = 0
    while not stop.is_set():
        batch = poller.read_batch(spark)
        # typed_wire: the CLI is a wire sink — render jsonpb-faithful
        # typed JSON (numbers/nulls preserved), like the reference pays
        # serialization cost exactly once at the notify/print boundary
        events = handle_events(
            raw_events_from_outbox(batch), redactions=redactions,
            typed_wire=True,
        )
        emit(events, epoch)
        poller.advance()
        if args.compact:
            poller.compact()
        epoch += 1
        if args.once:
            if batch.isEmpty():
                break
        else:
            stop.wait(args.poll_interval)
    return 0


def _run_postgres(args, stop: threading.Event) -> int:
    """Live-Postgres capture backend (sources/outbox_pg.py): the same
    remove-then-install → poll → handle → emit loop as _run_sqlite, but
    the triggers are the golden-pinned PL/pgSQL executing inside a real
    server and the durable offset row lives in the source database —
    matching the reference's deployment (pqsd against live PG,
    cmd/pqsd/main.go:95-112) with the at-least-once outbox upgrade."""
    from .pipeline import handle_events
    from .session import get_spark
    from .sources.outbox_local import raw_events_from_outbox
    from .sources.outbox_pg import (
        PgCaptureManager,
        PgOutboxPoller,
        PsqlRunner,
        pg_bootstrap_done,
        pg_mark_bootstrap_done,
        pg_outbox_high_water,
        pg_snapshot_batch,
    )

    conninfo = args.connect[len("postgres:"):]
    runner = PsqlRunner(conninfo)
    if args.transport == "notify":
        return _run_postgres_notify(args, stop, runner)
    if args.transport == "logical":
        return _run_postgres_logical(args, stop, runner)
    if (args.spill_dir is not None or args.spool_mode
            or args.rebootstrap or args.shards is not None):
        print("--spill-dir/--spool-mode/--rebootstrap/--shards apply to "
              "the logical transport only (--transport logical)",
              file=sys.stderr)
        return 2
    if args.txn_consistent and args.parallel_read:
        print("--txn-consistent reads the envelope xid driver-side "
              "(read_batch_txn); it does not compose with "
              "--parallel-read", file=sys.stderr)
        return 2
    cap = PgCaptureManager(runner, table_regexp=args.tables)
    # remove-then-install (cmd/pqsd/main.go:95-102) — including the
    # OTHER transport's triggers: a daemon restarted with a different
    # --transport must not leave orphaned capture firing into an
    # unconsumed outbox (or an unlistened channel) forever
    from .sources.outbox_pg import PgNotifyCaptureManager

    cap.remove()
    PgNotifyCaptureManager(runner, table_regexp=args.tables).remove()
    if args.remove:
        return 0
    tables = cap.install()
    print(f"capturing {len(tables)} tables: {tables}", file=sys.stderr)

    spark = get_spark("pqstream-daemon")
    redactions = _load_redactions(args.redactions)
    poller = PgOutboxPoller.open_durable(
        runner, consumer=args.consumer or "daemon",
        fence_wait=args.fence_wait)
    if args.replay_from is not None:
        poller.rewind(args.replay_from)
    if args.out == "-":
        emit = lambda df, ep: _emit(df, "-", ep)  # noqa: E731
    else:
        from .streaming.sinks import jsonl_seq_writer

        emit = jsonl_seq_writer(args.out)
    if args.bootstrap and not pg_bootstrap_done(runner):
        # consistent switchover: the high-water mark is the FENCED safe
        # ceiling (PgSeqFence), never the visible MAX(seq) — rewinding
        # past a seq an in-flight writer could still commit below would
        # lose that row forever. A fenced mark can only double-deliver
        # rows the snapshot also caught, which the at-least-once
        # contract and seq-dedup downstream already absorb (same stance
        # as the sqlite backend's BEGIN IMMEDIATE, weakened to
        # at-least-once)
        hi = pg_outbox_high_water(runner, fence_wait=args.fence_wait)
        snap_batch = pg_snapshot_batch(runner, spark, args.tables)
        snap = handle_events(
            raw_events_from_outbox(snap_batch),
            redactions=redactions, typed_wire=True,
        )
        if args.out != "-":
            for f in os.listdir(args.out):
                if f.startswith("batch--"):
                    os.remove(os.path.join(args.out, f))
        emit(snap, -1)
        poller.rewind(hi)
        pg_mark_bootstrap_done(runner)
    assembler = None
    if args.txn_consistent:
        from .sources.outbox_pg import TxnAssembler

        assembler = TxnAssembler()
        # xid-extent index at STARTUP, never inside a poll (CREATE
        # INDEX queues behind open writers — a mid-poll creation would
        # wedge the loop exactly when transactions are in flight)
        poller.ensure_xid_index()
    epoch = 0
    while not stop.is_set():
        if assembler is not None:
            raw = poller.read_batch_txn(spark)
            batch = assembler.feed(raw).drop("xid")
        elif args.parallel_read:
            batch = poller.read_batch_distributed(
                spark, num_partitions=args.parallel_read
            )
        else:
            batch = poller.read_batch(spark)
        # drained-check: _pending_hi is None exactly when the fenced
        # window is empty (hi <= lo). A batch that only advanced over
        # abort gaps has _pending_hi set with zero rows — the loop
        # runs one extra (cheap, empty) iteration and terminates on
        # the next poll when the watermark stops moving; checking row
        # counts instead would re-run all N psql sub-range reads on
        # the distributed path
        batch_empty = poller._pending_hi is None
        events = handle_events(
            raw_events_from_outbox(batch), redactions=redactions,
            typed_wire=True,
        )
        emit(events, epoch)
        if assembler is None:
            poller.advance()
        else:
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
        if args.compact:
            poller.compact()
        epoch += 1
        if args.once:
            if batch_empty:
                break
        else:
            stop.wait(args.poll_interval)
    return 0


def _run_postgres_notify(args, stop: threading.Event, runner) -> int:
    """`--transport notify`: the reference's own data path, live —
    pqsd's remove-then-install of the NOTIFY trigger, one LISTEN
    session, envelopes handled per micro-batch. At-most-once by
    design: no offsets, no replay (the flags that imply durability
    are rejected up front rather than silently ignored)."""
    from .pipeline import handle_events
    from .session import get_spark
    from .sources.notify_pg import NotifyListener
    from .sources.outbox_local import raw_events_from_outbox
    from .sources.outbox_pg import PgNotifyCaptureManager

    for flag, name in ((args.replay_from is not None, "--replay-from"),
                       (args.compact, "--compact"),
                       (args.bootstrap, "--bootstrap"),
                       (args.consumer is not None, "--consumer"),
                       (args.txn_consistent, "--txn-consistent"),
                       (args.spool_mode, "--spool-mode"),
                       (args.shards is not None, "--shards"),
                       (args.rebootstrap, "--rebootstrap"),
                       (args.spill_dir is not None, "--spill-dir")):
        if flag:
            print(f"{name} requires the durable outbox transport "
                  "(NOTIFY has no cursor, offsets, or replay)",
                  file=sys.stderr)
            return 2
    from .sources.outbox_pg import PgCaptureManager as _OutboxCap

    cap = PgNotifyCaptureManager(runner, table_regexp=args.tables)
    # remove BOTH transports' triggers (see _run_postgres): an outbox
    # trigger left behind by a previous run would keep filling
    # pqstream_outbox with no consumer
    cap.remove()
    _OutboxCap(runner, table_regexp=args.tables).remove()
    if args.remove:
        return 0
    tables = cap.install()
    print(f"NOTIFY capture on {len(tables)} tables: {tables}",
          file=sys.stderr)

    spark = get_spark("pqstream-daemon")
    redactions = _load_redactions(args.redactions)
    if args.out == "-":
        emit = lambda df, ep: _emit(df, "-", ep)  # noqa: E731
    else:
        import time as _time

        from .streaming.sinks import jsonl_seq_writer

        # per-run prefix: notify seqs are session-local (restart at 1
        # per listener), so seq-named files would collide across
        # daemon restarts and overwrite earlier output
        emit = jsonl_seq_writer(
            args.out, prefix=f"notify-{int(_time.time() * 1000):x}"
        )
    conninfo = args.connect[len("postgres:"):]
    epoch = 0
    with NotifyListener(conninfo) as lis:
        while not stop.is_set():
            payloads = lis.poll(timeout=args.poll_interval)
            batch = lis.batch_df(spark, payloads)
            events = handle_events(
                raw_events_from_outbox(batch), redactions=redactions,
                typed_wire=True,
            )
            emit(events, epoch)
            epoch += 1
            if args.once and not payloads:
                break
    return 0


def _run_postgres_logical(args, stop: threading.Event, runner) -> int:
    """`--transport logical`: replication slot + test_decoding — the
    production CDC mechanism (sources/logical_pg.py). Commit-ordered
    and transaction-atomic by construction (no fence), ~zero write
    amplification (no trigger, no outbox table), durable LSN offsets
    in the slot itself. At-least-once with replay-stable seqs: a crash
    between sink and advance re-emits the same seq-named files."""
    from .pipeline import handle_events
    from .session import get_spark
    from .sources.logical_pg import (
        DEFAULT_SLOT,
        PgLogicalCaptureManager,
        PgLogicalPoller,
    )
    from .sources.outbox_local import raw_events_from_outbox

    for flag, name, why in (
        (args.replay_from is not None, "--replay-from",
         "a replication slot cannot rewind (confirmed_flush_lsn is "
         "monotone); replay = new slot + --bootstrap"),
        (args.compact, "--compact",
         "WAL retention is released by the slot advance itself; there "
         "is no outbox table to prune"),
        (args.parallel_read is not None, "--parallel-read",
         "WAL decode order is inherently serial (it IS the changelog); "
         "parallelism applies downstream of the batch"),
        (args.txn_consistent, "--txn-consistent",
         "logical batches are transaction-atomic by construction "
         "(pg_logical_slot_peek_changes only stops at commit "
         "boundaries) — no assembler needed"),
        (args.shards is not None and args.plugin != "pgoutput",
         "--shards",
         "sharding scopes decode via publications — pgoutput only "
         "(--plugin pgoutput)"),
        (args.shards is not None and args.shards < 1,
         "--shards", "N must be >= 1"),
        (args.spool_mode and args.spill_dir is None,
         "--spool-mode",
         "continuous spool ingest needs --spill-dir (the spool "
         "directory is the durable copy of drained WAL)"),
    ):
        if flag:
            print(f"{name} does not apply to the logical transport: {why}",
                  file=sys.stderr)
            return 2

    slot = args.slot or DEFAULT_SLOT
    if args.shards is not None:
        return _run_postgres_logical_sharded(args, stop, runner)
    if args.plugin == "pgoutput":
        from .sources.pgoutput_pg import (
            DEFAULT_PUBLICATION,
            PgOutputCaptureManager,
            PgOutputPoller,
        )

        publication = args.publication or DEFAULT_PUBLICATION
        cap = PgOutputCaptureManager(
            runner, slot=slot, publication=publication,
            table_regexp=args.tables)
    else:
        cap = PgLogicalCaptureManager(runner, slot=slot,
                                      table_regexp=args.tables)
    # validate BEFORE any destructive step (review finding): removing
    # the other transports' triggers and THEN failing install on
    # wal_level=replica would leave the database with no capture at
    # all — every write until the operator re-runs would be lost
    if not args.remove:
        wal_level = runner.scalar("SHOW wal_level")
        if wal_level != "logical":
            print(f"--transport logical needs wal_level=logical (server "
                  f"has {wal_level!r}); existing capture left untouched",
                  file=sys.stderr)
            return 2
        # ALL install preconditions run before any destructive step
        # (ADVICE r9: wal_level alone was checked — a cluster-global
        # slot owned by another database, or an empty table set, still
        # failed install AFTER the other transports' triggers were
        # removed, leaving the database with no capture at all)
        try:
            if not cap.discover_tables():
                print("no tables match the table regexp; existing "
                      "capture left untouched", file=sys.stderr)
                return 2
            if hasattr(cap, "_slot_exists"):
                cap._slot_exists()  # raises on foreign-database slot
        except Exception as exc:  # noqa: BLE001 — loud, pre-destructive
            print(f"logical install precondition failed: {exc}; "
                  "existing capture left untouched", file=sys.stderr)
            return 2
    # NO remove-then-install here: dropping the slot would forget the
    # resume position (triggers are stateless, slots are the offset).
    # But a daemon switched TO logical must clean the other transports'
    # triggers so they stop writing an unconsumed outbox / channel.
    from .sources.outbox_pg import PgCaptureManager, PgNotifyCaptureManager

    PgCaptureManager(runner, table_regexp=args.tables).remove()
    PgNotifyCaptureManager(runner, table_regexp=args.tables).remove()
    if args.remove:
        tables = cap.remove()
        print(f"removed slot {slot!r}; replica identity reset on "
              f"{len(tables)} tables", file=sys.stderr)
        return 0
    # Exactly-once bootstrap anchor (round 10, VERDICT r9 #2): when a
    # snapshot is needed AND the slot does not exist yet, create the
    # slot over the walsender with an EXPORTED snapshot at its
    # consistent point — snapshot ∪ changelog then partition history
    # DISJOINTLY (no overlap for downstream to absorb). Identity and
    # publication are applied first (create_slot=False) so the first
    # decoded UPDATE already carries the complete old tuple. If the
    # slot already exists (including a crash between an earlier
    # exported-snapshot session and the sentinel write — the session
    # died, the slot persisted), the snapshot falls back to the
    # documented at-least-once overlap stance below.
    snap_session = None
    boot_marker = "daemon@logical#bootstrap"
    if args.rebootstrap:
        # Slot-loss recovery (round 11, VERDICT r10 #6): wal_status=
        # 'lost' means max_slot_wal_keep_size pressure discarded WAL
        # this slot still needed — its unconsumed changes are GONE and
        # the stream is dead (decode errors on the next peek). The
        # recovery is the bootstrap machinery re-run: drop the dead
        # slot, clear the bootstrap sentinel, and route through the
        # exported-snapshot session below — the fresh snapshot shows
        # the table state INCLUDING every change the lost WAL carried,
        # and the fresh slot decodes exactly what commits after it
        # (disjoint, exactly-once switchover). Seq anchors are kept:
        # they describe rows already durably sunk, and the new slot's
        # commit LSNs are strictly beyond the stored anchor.
        from .sources.outbox_pg import PG_OFFSET_TABLE, _quote_lit

        status = runner.scalar(
            "SELECT wal_status FROM pg_replication_slots "
            f"WHERE slot_name = {_quote_lit(slot)}")
        if status == "lost":
            print(f"slot {slot!r} is LOST (WAL retention pressure); "
                  "rebootstrapping: drop slot -> exported-snapshot "
                  "slot -> snapshot + changelog", file=sys.stderr)
            runner.sql(
                f"SELECT pg_drop_replication_slot({_quote_lit(slot)});")
            # clear the sentinel so the snapshot re-runs (check=False:
            # a first-ever run has no offset table yet)
            runner.sql(
                f"DELETE FROM {PG_OFFSET_TABLE} "
                f"WHERE consumer = {_quote_lit(boot_marker)};",
                check=False)
            args.bootstrap = True
    if args.bootstrap:
        from .sources.logical_pg import DECODING_PLUGIN, SlotSnapshotSession
        from .sources.outbox_pg import pg_bootstrap_done as _boot_done

        if not _boot_done(runner, boot_marker) and not cap._slot_exists():
            cap.install(create_slot=False)
            snap_session = SlotSnapshotSession(
                runner.conninfo, slot,
                plugin=("pgoutput" if args.plugin == "pgoutput"
                        else DECODING_PLUGIN),
            ).__enter__()
    try:
        tables = cap.install()
    except Exception:
        if snap_session is not None:
            snap_session.close()
        raise
    print(f"logical capture (slot {slot!r}) on {len(tables)} tables: "
          f"{tables}", file=sys.stderr)

    spark = get_spark("pqstream-daemon")
    redactions = _load_redactions(args.redactions)
    if args.plugin == "pgoutput":
        poller = PgOutputPoller.open_durable(
            runner, slot=slot, consumer=args.consumer or "daemon",
            publication=publication, table_regexp=args.tables,
            # giant-transaction escape hatch (round 11): the binary
            # spool — structural reframing of pg_recvlogical's output
            spill_dir=args.spill_dir,
        )
    else:
        poller = PgLogicalPoller.open_durable(
            runner, slot=slot, consumer=args.consumer or "daemon",
            table_regexp=args.tables, spill_dir=args.spill_dir,
        )
    # slot retention health at startup (round 10): an 'unreserved'/
    # 'lost' slot means max_slot_wal_keep_size pressure already
    # discarded (or is about to discard) WAL this consumer needs —
    # surfaced loudly instead of failing later with a decode error
    health = poller.lag()
    if health.get("wal_status") not in (None, "reserved", "extended"):
        print(f"WARNING: slot {slot!r} wal_status="
              f"{health['wal_status']!r} (safe_wal_size="
              f"{health.get('safe_wal_size')}); WAL this consumer needs "
              "is under retention pressure — drain faster or raise "
              "max_slot_wal_keep_size", file=sys.stderr)
    if args.out == "-":
        emit = lambda df, ep: _emit(df, "-", ep)  # noqa: E731
    else:
        from .streaming.sinks import jsonl_seq_writer

        emit = jsonl_seq_writer(args.out)
    if args.bootstrap:
        from .sources.outbox_pg import (
            pg_bootstrap_done,
            pg_mark_bootstrap_done,
            pg_snapshot_batch,
        )

        # transport-scoped sentinel (ends with #bootstrap so both
        # compact() exclusions still match): an outbox-transport
        # bootstrap must NOT satisfy the logical one — the slot only
        # sees WAL after its creation, so the logical path needs its
        # OWN snapshot regardless of earlier outbox history
        marker = boot_marker
        if not pg_bootstrap_done(runner, marker):
            # switchover stance: with an exported-snapshot session
            # (snap_session) the snapshot is anchored at the slot's
            # consistent point — snapshot and changelog are DISJOINT,
            # exactly-once across the boundary. Without one (slot
            # predates this bootstrap, or a crash killed the exporting
            # session), the snapshot runs read-committed AFTER slot
            # creation: at-least-once overlap, absorbed by the
            # seq-keyed idempotent downstream (documented DEPLOY §4a)
            try:
                snap_batch = pg_snapshot_batch(
                    runner, spark, args.tables,
                    snapshot_name=(snap_session.snapshot_name
                                   if snap_session is not None else None),
                )
                snap = handle_events(
                    raw_events_from_outbox(snap_batch),
                    redactions=redactions, typed_wire=True,
                )
                if args.out != "-":
                    for f in os.listdir(args.out):
                        if f.startswith("batch--"):
                            os.remove(os.path.join(args.out, f))
                emit(snap, -1)
            finally:
                if snap_session is not None:
                    snap_session.close()
                    snap_session = None
            pg_mark_bootstrap_done(runner, marker)
    if snap_session is not None:  # bootstrap sentinel already set
        snap_session.close()
    from .sources.outbox_local import OUTBOX_BATCH_SCHEMA

    epoch = 0
    while not stop.is_set():
        if args.spool_mode:
            # continuous executor-side spool ingest (round 11): the
            # drain writes segments database->disk and an executor
            # parses them into Arrow batches; the persisted frame is
            # counted once here and reused by the sink
            batch, n = poller.read_batch_spool_distributed(spark)
        else:
            # read_rows gives the row count driver-side for free — a
            # count() here would burn one Spark job per poll (review
            # finding; the outbox loop avoids the same trap via
            # _pending_hi)
            data_rows, _ = poller.read_rows()
            n = len(data_rows)
            batch = spark.createDataFrame(data_rows, OUTBOX_BATCH_SCHEMA)
        events = handle_events(
            raw_events_from_outbox(batch), redactions=redactions,
            typed_wire=True,
        )
        emit(events, epoch)
        poller.advance()
        epoch += 1
        if args.once:
            if n == 0:
                break
        else:
            stop.wait(args.poll_interval)
    return 0


def _run_postgres_logical_sharded(args, stop: threading.Event,
                                  runner) -> int:
    """`--shards N` (round 11, VERDICT r10 #1): capture sharded across
    N pgoutput publications/slots, drained by N parallel executor-side
    pollers (sources/sharded_pg.py) and merged into one stream with
    replay-stable interleaved global seqs. Ordering contract printed at
    startup: per-table commit order (tables hash-pin to one shard);
    cross-shard interleaving is arbitrary."""
    from .pipeline import handle_events
    from .session import get_spark
    from .sources.logical_pg import DEFAULT_SLOT
    from .sources.outbox_local import raw_events_from_outbox
    from .sources.outbox_pg import PgCaptureManager, PgNotifyCaptureManager
    from .sources.pgoutput_pg import DEFAULT_PUBLICATION
    from .sources.sharded_pg import (
        ShardedPgOutputCapture,
        ShardedPgOutputPoller,
    )

    slot = args.slot or DEFAULT_SLOT
    publication = args.publication or DEFAULT_PUBLICATION
    cap = ShardedPgOutputCapture(
        runner, n_shards=args.shards, slot_prefix=slot,
        publication_prefix=publication, table_regexp=args.tables)
    if not args.remove:
        wal_level = runner.scalar("SHOW wal_level")
        if wal_level != "logical":
            print(f"--transport logical needs wal_level=logical (server "
                  f"has {wal_level!r}); existing capture left untouched",
                  file=sys.stderr)
            return 2
        if not cap.discover_tables():
            print("no tables match the table regexp; existing capture "
                  "left untouched", file=sys.stderr)
            return 2
    PgCaptureManager(runner, table_regexp=args.tables).remove()
    PgNotifyCaptureManager(runner, table_regexp=args.tables).remove()
    if args.remove:
        cap.remove()
        print(f"removed sharded capture ({args.shards} shards, slot "
              f"prefix {slot!r})", file=sys.stderr)
        return 0
    # Per-shard exactly-once bootstrap (round 11 composition: the
    # sharded analog of the single-slot exported-snapshot anchor).
    # Shards are TABLE-DISJOINT, so "snapshot ∪ changelog partitions
    # history disjointly" holds independently per shard and the union
    # of N per-shard exactly-once streams is globally exactly-once.
    # Each shard gets its own sentinel (a crash between shard k's
    # snapshot and shard k+1's resumes at k+1, never re-snapshots k).
    from .sources.outbox_pg import PG_OFFSET_TABLE, _quote_lit
    from .sources.sharded_pg import (
        _anchored_regexp,
        migrate_legacy_shard_markers,
        shard_bootstrap_marker as _shard_marker,
    )

    def _shard_slot(i: int) -> str:
        return f"{slot}_s{i}"

    # rename any round-11 sentinel rows to the compact()-excluded form
    migrate_legacy_shard_markers(runner)

    pre_assignment = cap.shards()
    rebooted: set[int] = set()
    if args.rebootstrap:
        # per-shard slot-loss recovery: only LOST shards re-bootstrap;
        # healthy shards keep their slots and stream on undisturbed
        for i in pre_assignment:
            status = runner.scalar(
                "SELECT wal_status FROM pg_replication_slots "
                f"WHERE slot_name = {_quote_lit(_shard_slot(i))}")
            if status == "lost":
                print(f"shard slot {_shard_slot(i)!r} is LOST (WAL "
                      "retention pressure); rebootstrapping shard "
                      f"{i}: drop slot -> exported-snapshot slot -> "
                      "snapshot + changelog", file=sys.stderr)
                runner.sql("SELECT pg_drop_replication_slot("
                           f"{_quote_lit(_shard_slot(i))});")
                runner.sql(
                    f"DELETE FROM {PG_OFFSET_TABLE} "
                    f"WHERE consumer = {_quote_lit(_shard_marker(i))};",
                    check=False)
                rebooted.add(i)
    snap_sessions: dict[int, object] = {}
    if args.bootstrap or rebooted:
        from .sources.logical_pg import SlotSnapshotSession
        from .sources.outbox_pg import pg_bootstrap_done as _boot_done

        for i, tables in pre_assignment.items():
            if not (args.bootstrap or i in rebooted):
                continue
            mgr = cap._manager(i, tables)
            if not _boot_done(runner, _shard_marker(i)) \
                    and not mgr._slot_exists():
                # identity + publication BEFORE the slot so the first
                # decoded UPDATE already carries the full old tuple
                mgr.install(create_slot=False)
                try:
                    snap_sessions[i] = SlotSnapshotSession(
                        runner.conninfo, _shard_slot(i),
                        plugin="pgoutput").__enter__()
                except Exception:
                    for s in snap_sessions.values():
                        s.close()
                    raise
    try:
        assignment = cap.install()
    except Exception:
        for s in snap_sessions.values():
            s.close()
        raise
    print(f"sharded logical capture: {len(assignment)} live shards over "
          f"{sum(len(t) for t in assignment.values())} tables "
          f"{dict(assignment)}; ordering domain = per table (same-table "
          "events ride one shard; cross-shard order arbitrary)",
          file=sys.stderr)

    spark = get_spark("pqstream-daemon")
    redactions = _load_redactions(args.redactions)
    poller = ShardedPgOutputPoller.open_durable(
        runner.conninfo, n_shards=args.shards, slot_prefix=slot,
        publication_prefix=publication,
        consumer=args.consumer or "daemon",
        spill_dir=args.spill_dir)
    for h in poller.lag():
        if h.get("wal_status") not in (None, "reserved", "extended"):
            print(f"WARNING: shard slot {h['slot']!r} wal_status="
                  f"{h['wal_status']!r} — WAL under retention pressure",
                  file=sys.stderr)
    if args.out == "-":
        emit = lambda df, ep: _emit(df, "-", ep)  # noqa: E731
    else:
        from .streaming.sinks import jsonl_seq_writer

        emit = jsonl_seq_writer(args.out)
    if args.bootstrap or rebooted:
        import re as _re

        from pyspark.sql import functions as F

        from .sources.outbox_pg import (
            pg_bootstrap_done,
            pg_mark_bootstrap_done,
            pg_snapshot_batch,
        )

        n_sh = args.shards
        if (args.bootstrap and args.out != "-"
                and not any(pg_bootstrap_done(runner, _shard_marker(i))
                            for i in pre_assignment)):
            # a FRESH full bootstrap re-snapshots every shard: drop all
            # stale snapshot files up front. The per-shard modulo decode
            # below recovers shard ownership with the CURRENT --shards
            # value, so files written under a DIFFERENT shard count
            # decode to the wrong shard and would survive, leaving stale
            # snapshot rows beside fresh ones (ADVICE r11 #3). Guarded
            # on no shard marker being set: a crash-resume must NOT
            # delete an already-snapshotted shard's files (its marker
            # makes the loop skip re-emitting them).
            for f in os.listdir(args.out):
                if _re.fullmatch(r"batch-(-\d+)-(-\d+)\.jsonl", f):
                    os.remove(os.path.join(args.out, f))
        for i, tables in sorted(pre_assignment.items()):
            if not (args.bootstrap or i in rebooted):
                continue
            if pg_bootstrap_done(runner, _shard_marker(i)):
                continue
            sess = snap_sessions.get(i)
            try:
                snap_batch = pg_snapshot_batch(
                    runner, spark, _anchored_regexp(tables),
                    snapshot_name=(sess.snapshot_name
                                   if sess is not None else None),
                )
                # snapshot seqs are -n..-1 PER SHARD; re-encode them
                # uniquely (local*N - shard: still negative, distinct
                # across shards, and (-seq) % N recovers the shard —
                # which is how the stale-file cleanup below scopes
                # itself to THIS shard on a partial re-bootstrap)
                snap_batch = snap_batch.withColumn(
                    "seq", (F.col("seq") * n_sh - i).cast("long"))
                snap = handle_events(
                    raw_events_from_outbox(snap_batch),
                    redactions=redactions, typed_wire=True,
                )
                if args.out != "-":
                    for f in os.listdir(args.out):
                        m = _re.fullmatch(
                            r"batch-(-\d+)-(-\d+)\.jsonl", f)
                        if m and (-int(m.group(2))) % n_sh == i:
                            os.remove(os.path.join(args.out, f))
                emit(snap, -(i + 1))
            finally:
                if sess is not None:
                    sess.close()
                    snap_sessions.pop(i, None)
            pg_mark_bootstrap_done(runner, _shard_marker(i))
    for s in snap_sessions.values():  # sentinels already set
        s.close()
    epoch = 0
    while not stop.is_set():
        if args.spool_mode:
            # sharded continuous spool ingest: N parallel
            # pg_recvlogical drains, one executor-side parse job
            batch, n = poller.read_batch_spool_distributed(spark)
        else:
            batch, n = poller.read_batch_distributed(spark)
        events = handle_events(
            raw_events_from_outbox(batch), redactions=redactions,
            typed_wire=True,
        )
        emit(events, epoch)
        poller.advance()
        epoch += 1
        if args.once:
            if n == 0:
                break
        else:
            stop.wait(args.poll_interval)
    return 0


_ACTIVE_WIRE = None  # set while the --listen-http wire server is up


def _run_changelog_dir(args, stop: threading.Event) -> int:
    from .session import get_spark
    from .streaming.subscribe import SubscriptionManager
    from .streaming.source import stream_changelog

    spark = get_spark("pqstream-daemon")
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
    out = args.out
    q = mgr.listen(
        "daemon",
        table_regexp=args.tables or ".*",
        foreach_batch=lambda df, epoch: _emit(df, out, epoch),
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
        kind = ("bootstrap" if consumer.endswith("#bootstrap")
                else "reportfloor" if consumer.endswith("#reportfloor")
                else "lease" if consumer.endswith("#lease")
                else "logical" if "#logical" in consumer
                else "consumer")
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
        "consumers": sum(
            1 for c, _ in rows
            if not (c.endswith(("#bootstrap", "#reportfloor", "#lease"))
                    or "#logical" in c)
        ),
    }), file=out)
    return 0


def _print_lag_sharded(connect: str, slot: str | None, n_shards: int,
                       out) -> int:
    """`--lag --transport logical --shards N` (round 12, VERDICT r11
    #6): ONE JSON report for the whole sharded capture — per-shard
    backlog/health rows plus an unhealthy count — instead of N
    invocations with hand-assembled output. A shard whose slot is
    MISSING entirely (dropped under retention pressure, partial
    remove) is surfaced as unhealthy too: it is the worst lag state,
    not an absence of data."""
    from .sources.outbox_pg import PsqlRunner, _quote_lit
    from .sources.sharded_pg import DEFAULT_SHARD_SLOT

    prefix = slot or DEFAULT_SHARD_SLOT
    runner = PsqlRunner(connect[len("postgres:"):])
    rows = runner.query_csv(
        "SELECT slot_name, active::text AS active, "
        "(pg_current_wal_insert_lsn() - confirmed_flush_lsn)::bigint "
        "AS wal_bytes_pending, "
        "(pg_current_wal_insert_lsn() - restart_lsn)::bigint "
        "AS wal_bytes_retained, "
        "wal_status, safe_wal_size "
        "FROM pg_replication_slots WHERE slot_type = 'logical' "
        f"AND slot_name LIKE {_quote_lit(prefix + '_s%')} "
        "ORDER BY slot_name"
    )
    by_shard: dict[int, dict] = {}
    for r in rows:
        suffix = r["slot_name"][len(prefix) + 2:]
        if not suffix.isdigit():
            continue
        by_shard[int(suffix)] = r
    shards = []
    unhealthy = 0
    for i in range(n_shards):
        r = by_shard.get(i)
        if r is None:
            shards.append({"shard": i, "slot": f"{prefix}_s{i}",
                           "missing": True})
            unhealthy += 1
            continue
        status = r["wal_status"]
        if status not in (None, "reserved", "extended"):
            unhealthy += 1
        shards.append({
            "shard": i,
            "slot": r["slot_name"],
            "active": r["active"] in ("t", "true"),
            "wal_bytes_pending": int(r["wal_bytes_pending"] or 0),
            "wal_bytes_retained": int(r["wal_bytes_retained"] or 0),
            "wal_status": status,
            "safe_wal_size": (
                int(r["safe_wal_size"]) if r["safe_wal_size"] is not None
                else None
            ),
        })
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
    where = "WHERE slot_type = 'logical'"
    if slot:
        where += f" AND slot_name = {_quote_lit(slot)}"
    rows = runner.query_csv(
        # insert_lsn, not wal_lsn: async-committed WAL sitting in
        # wal_buffers has not moved the WRITE position yet, and lag
        # must count it. wal_status/safe_wal_size (round-10, VERDICT r9
        # #3): the abandoned-slot footgun — a slot whose consumer
        # stopped polling retains WAL forever and fills the source
        # disk; 'unreserved'/'lost' means max_slot_wal_keep_size
        # pressure is already discarding (or about to discard) the
        # slot's WAL, and the operator must drain or remove() it.
        "SELECT slot_name, active::text AS active, "
        "(pg_current_wal_insert_lsn() - confirmed_flush_lsn)::bigint "
        "AS wal_bytes_pending, "
        "(pg_current_wal_insert_lsn() - restart_lsn)::bigint "
        "AS wal_bytes_retained, "
        "wal_status, safe_wal_size "
        f"FROM pg_replication_slots {where} ORDER BY slot_name"
    )
    unhealthy = 0
    for r in rows:
        status = r["wal_status"]
        if status not in (None, "reserved", "extended"):
            unhealthy += 1
        print(json.dumps({
            "slot": r["slot_name"],
            "active": r["active"] in ("t", "true"),
            "wal_bytes_pending": int(r["wal_bytes_pending"] or 0),
            "wal_bytes_retained": int(r["wal_bytes_retained"] or 0),
            "wal_status": status,
            "safe_wal_size": (
                int(r["safe_wal_size"]) if r["safe_wal_size"] is not None
                else None
            ),
        }), file=out)
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
    stop = threading.Event()

    # SIGINT → graceful stop (ctxutil/background_signals.go:12-22
    # parity); the previous handlers come back before main() returns,
    # so an in-process caller (tests, an embedding host) keeps its own
    prev = {}
    if threading.current_thread() is threading.main_thread():
        for sig in (signal.SIGINT, signal.SIGTERM):
            prev[sig] = signal.signal(sig, lambda *_: stop.set())
    try:
        return _dispatch(args, stop)
    finally:
        for sig, handler in prev.items():
            # None: the old handler was not installed from Python
            signal.signal(sig, signal.SIG_DFL if handler is None
                          else handler)


def _dispatch(args: argparse.Namespace, stop: threading.Event) -> int:
    if args.parallel_read is not None and (
        not args.connect.startswith("postgres:")
        or args.transport != "outbox"
    ):
        print("--parallel-read requires the postgres outbox backend "
              "(--connect postgres:... --transport outbox): the other "
              "backends have no seq-partitionable server-side table",
              file=sys.stderr)
        return 2
    if args.parallel_read is not None and args.parallel_read < 1:
        # 0 would be falsy at the dispatch check and silently fall
        # back to the serial read — the operator must not believe the
        # scale path is active when it is not
        print(f"--parallel-read: N must be >= 1 (got {args.parallel_read})",
              file=sys.stderr)
        return 2
    if args.fence_wait < 0:
        print(f"--fence-wait: must be >= 0 (got {args.fence_wait})",
              file=sys.stderr)
        return 2
    if args.lag:
        if (args.connect.startswith("postgres:")
                and args.transport == "logical"):
            if args.shards is not None:
                return _print_lag_sharded(
                    args.connect, args.slot, args.shards, sys.stdout)
            return _print_lag_logical(args.connect, args.slot, sys.stdout)
        if not args.connect.startswith(("sqlite:", "postgres:")) or (
            args.connect.startswith("postgres:")
            and args.transport != "outbox"
        ):
            print("--lag requires an offset-keeping backend (--connect "
                  "sqlite:PATH or postgres:CONNINFO with --transport "
                  "outbox or logical): the NOTIFY wire and the directory "
                  "backend keep no server-side consumer offsets to measure",
                  file=sys.stderr)
            return 2
        return _print_lag(args.connect, sys.stdout)
    if args.connect.startswith("sqlite:"):
        return _run_sqlite(args, stop)
    if args.connect.startswith("postgres:"):
        return _run_postgres(args, stop)
    if not os.path.isdir(args.connect):
        print(f"--connect: not a sqlite: URL or directory: {args.connect}",
              file=sys.stderr)
        return 2
    if args.remove:
        print("--remove only applies to the sqlite capture backend",
              file=sys.stderr)
        return 2
    if args.replay_from is not None:
        print("--replay-from only applies to the sqlite backend "
              "(directory backend: remove the --checkpoint dir to replay)",
              file=sys.stderr)
        return 2
    return _run_changelog_dir(args, stop)


if __name__ == "__main__":
    sys.exit(main())
