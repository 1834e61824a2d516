"""`pqstream_logical` — the logical-replication transport as a real
Structured Streaming source (round 9; the engine-managed-offset form
of `sources/logical_pg.py`, completing parity with the outbox's
`pqstream_outbox` DataSource).

    spark.dataSource.register(LogicalDataSource)
    spark.readStream.format("pqstream_logical")
        .option("url", "postgres:host=/run/pg dbname=app user=pq")
        .option("slot", "my_consumer_slot")
        .option("maxChangesPerBatch", 10000)
        .load()

Offset model: offsets are the poller's replay-stable dense seqs,
always TRANSACTION-ALIGNED — `latestOffset` reports only complete-
transaction boundaries (read_rows never tears a transaction), so a
micro-batch is all-or-nothing at the transaction level by
construction: the property the outbox path needs its transaction-
boundary rule for (`outbox_pg.txn_ceiling`), free here. `commit(end)` advances the replication slot (and the
(seq, LSN) anchor rows) to the boundary the engine durably finished —
the slot's `confirmed_flush_lsn` is the crash-safe cursor, so a
restart replays exactly the unconfirmed window with byte-identical
seqs (PgLogicalPoller's numbering invariant).

Execution shape: WAL decode is inherently serial (it IS the definition
of the changelog), so each trigger's rows are parsed once driver-side
and shipped to executors inside the InputPartitions (bounded by
maxChangesPerBatch; the same driver-materialization stance as
PgLogicalPoller, stated honestly). Downstream parallelism comes from
Spark repartitioning the envelope stream; independent consumers use
independent slots.

Unlike the outbox DataSource there is no consumer-key lease and no
report floor: the slot IS the consumer identity (cluster-global name —
two queries cannot share one slot's confirmed_flush_lsn without
Postgres itself serializing them), and offsets never regress because
the numbering anchor is committed before the slot advance."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from .outbox_local import OUTBOX_BATCH_SCHEMA

# -- bootstrap snapshot spool (round 13, VERDICT r12 #3) --------------------
#
# `option("bootstrap", true)` gives the DataSource the daemon's
# `--bootstrap` capability: the initial table state arrives through the
# stream as negative-seq INSERT rows BEFORE the changelog, with the
# exactly-once switchover at the slot's consistent point. Mechanics:
# when the slot does not exist yet, reader startup installs replica
# identity (+ publication on pgoutput) first, creates the slot over the
# walsender with an EXPORTED snapshot (SlotSnapshotSession — the
# CREATE SUBSCRIPTION copy_data shape), and dumps every captured
# table's rows UNDER that snapshot to a durable spool file; snapshot ∪
# changelog then partition history disjointly. If the slot already
# exists the snapshot falls back to read-committed (documented
# at-least-once overlap, absorbed by seq-keyed idempotent sinks — the
# daemon's stance). The dump is guarded by a consumer-scoped
# '#bootstrap' sentinel row (compaction-excluded suffix), written only
# AFTER the spool files are durably in place, so a crash anywhere
# re-runs the dump; once any engine offset exists, the sentinel is
# already set and the FILES are the replay source — a restarted query
# re-slices byte-identical snapshot rows from disk.
#
# Offset model: snapshot rows occupy LOCAL seqs -(n-1)..0 (file line k
# of n = local k-n), so `initialOffset` is -n and local 0 — "snapshot
# fully consumed, changelog untouched" — coincides with the fresh
# non-bootstrap origin; the changelog continues at 1 unchanged. Output
# rows re-encode as the daemon's negative snapshot seqs:
# global = (local-1)*n_shards - shard (single slot: -n..-1 exactly).

SNAPSHOT_SUBDIR = "snapshot"


def snapshot_spool_dir(spill_dir: str, slot: str) -> str:
    return os.path.join(spill_dir, slot, SNAPSHOT_SUBDIR)


def ensure_snapshot_spool(runner, spill_dir: str, slot: str, marker: str,
                          table_regexp: str | None, plugin: str,
                          install_fn) -> None:
    """Idempotently produce the bootstrap snapshot spool for `slot`
    (module comment above). `install_fn()` applies identity/publication
    WITHOUT creating the slot — it runs only on the fresh-slot
    (exactly-once) path, before the walsender export."""
    from .logical_pg import SlotSnapshotSession
    from .outbox_pg import (
        PsqlError,
        _quote_lit,
        pg_bootstrap_done,
        pg_mark_bootstrap_done,
        pg_snapshot_rows,
    )

    if pg_bootstrap_done(runner, marker):
        return
    exists = int(runner.scalar(
        "SELECT count(*) FROM pg_replication_slots "
        f"WHERE slot_name = {_quote_lit(slot)}") or 0) > 0
    sess = None
    if not exists:
        install_fn()
        sess = SlotSnapshotSession(
            runner.conninfo, slot, plugin=plugin).__enter__()
    try:
        rows = pg_snapshot_rows(
            runner, table_regexp,
            snapshot_name=sess.snapshot_name if sess else None)
    finally:
        if sess is not None:
            sess.close()
    d = snapshot_spool_dir(spill_dir, slot)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, "rows.jsonl.tmp")
    with open(tmp, "w") as f:
        for (_seq, ts, schema, table, op, row_id, payload, _prev) in rows:
            f.write(json.dumps(
                [ts.isoformat() if ts is not None else None,
                 schema, table, op, row_id, payload],
                ensure_ascii=False) + "\n")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(d, "rows.jsonl"))
    mtmp = os.path.join(d, "meta.json.tmp")
    with open(mtmp, "w") as f:
        json.dump({"n": len(rows)}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(mtmp, os.path.join(d, "meta.json"))
    # fsync the spool DIRECTORY before marking the Postgres-durable
    # sentinel (ADVICE r13 low): the file contents are fsynced above,
    # but the renames live in the directory — a host crash could lose
    # them while the sentinel persists, turning the loud
    # check_snapshot_not_lost recovery path into the only way out
    dfd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
    pg_mark_bootstrap_done(runner, marker)


def load_snapshot_spool(spill_dir: str, slot: str) -> dict | None:
    """{"n": rows, "path": rows.jsonl, "consumed": last consumed local
    seq} for a live (unconsumed) snapshot spool, else None. A dir with
    rows but no meta is a torn dump that never marked its sentinel —
    ignored (the next bootstrap attempt overwrites it)."""
    d = snapshot_spool_dir(spill_dir, slot)
    meta = os.path.join(d, "meta.json")
    rows = os.path.join(d, "rows.jsonl")
    if not (os.path.exists(meta) and os.path.exists(rows)):
        return None
    with open(meta) as f:
        n = int(json.load(f)["n"])
    out = {"n": n, "path": rows, "consumed": None}
    cons = os.path.join(d, "consumed.json")
    if os.path.exists(cons):
        with open(cons) as f:
            out["consumed"] = int(json.load(f)["local"])
    return out


def record_snapshot_progress(spill_dir: str, slot: str,
                             local: int) -> None:
    """Durably record the last engine-committed SNAPSHOT local seq
    (round-13 review fix #1): the changelog phase's progress is
    durable in the (seq, LSN) anchor rows, but a mid-snapshot commit
    advanced nothing durable — a restart whose engine calls
    latestOffset before replaying any partitions()/commit() would
    rate-limit from the snapshot START and report an offset BEHIND
    the checkpoint, re-planning (and re-emitting) committed snapshot
    rows. This marker is the snapshot phase's anchor-row analog."""
    d = snapshot_spool_dir(spill_dir, slot)
    tmp = os.path.join(d, "consumed.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"local": int(local)}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(d, "consumed.json"))


def retire_snapshot_spool(spill_dir: str, slot: str) -> None:
    """Delete a fully-consumed snapshot spool but leave a tombstone
    (round-13 review fix #4): the bootstrap SENTINEL is durable in
    Postgres while the spool is a file — if the spool is LOST (wiped
    spill dir, ephemeral /tmp) before consumption, a restarted reader
    would see sentinel-done + no spool and silently skip the entire
    initial state. The tombstone lets reader init distinguish
    'consumed and retired' (fine) from 'lost' (raise loudly)."""
    import shutil

    d = snapshot_spool_dir(spill_dir, slot)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "retired"), "w") as f:
        f.write("consumed\n")


def snapshot_spool_retired(spill_dir: str, slot: str) -> bool:
    return os.path.exists(
        os.path.join(snapshot_spool_dir(spill_dir, slot), "retired"))


def check_snapshot_not_lost(spill_dir: str, slot: str, last_seq: int,
                            snap: dict | None) -> None:
    """Loud guard for the lost-spool window (review fix #4): the
    sentinel says a snapshot was dumped, no live spool exists, no
    tombstone says it was consumed, and the consumer has no changelog
    history either — the initial state would silently vanish."""
    if (snap is None and last_seq == 0
            and not snapshot_spool_retired(spill_dir, slot)):
        raise RuntimeError(
            f"bootstrap snapshot spool for slot {slot!r} is GONE "
            "(sentinel set, no spool files, no consumption tombstone) "
            "— was the spill directory wiped? The initial state cannot "
            "be delivered; restore the spool, or clear the "
            "'#bootstrap' sentinel row to re-dump on a fresh consumer"
        )


def iter_snapshot_rows(path: str, lo_line: int = 0,
                       hi_line: int | None = None):
    """Yield (k, ts, schema, table, op, id, payload) with k the
    1-based file line number — local seq = k - n. Lines at or below
    `lo_line` are SKIPPED WITHOUT parsing and iteration stops past
    `hi_line` (round-13 review fix #3: a rate-limited snapshot
    consumed in B chunks would otherwise json-parse the whole file B
    times — the same quadratic prefix pattern the WAL sidecar seek
    removed)."""
    with open(path) as f:
        for k, line in enumerate(f, start=1):
            if k <= lo_line:
                continue
            if hi_line is not None and k > hi_line:
                return
            ts_s, schema, table, op, row_id, payload = json.loads(line)
            ts = datetime.fromisoformat(ts_s) if ts_s else None
            yield k, ts, schema, table, op, row_id, payload


@dataclass
class SnapshotPartition(InputPartition):
    """One bootstrap-snapshot slice: rows come from the durable
    snapshot spool file, numbered by line (replay-stable)."""

    shard: int = 0
    n_shards: int = 1
    path: str = ""
    n: int = 0
    lo: int = 0  # exclusive, local seqs (negative range)
    hi: int = 0  # inclusive


def read_snapshot_partition(p: SnapshotPartition):
    """OUTBOX_BATCH_SCHEMA tuples for the slice — the daemon's
    negative-seq encoding: global = (local-1)*n_shards - shard.
    Lines outside the slice are never json-parsed (local = line - n,
    so the slice maps to an exact line window)."""
    for k, ts, schema, table, op, row_id, payload in iter_snapshot_rows(
            p.path, lo_line=p.lo + p.n, hi_line=p.hi + p.n):
        local = k - p.n
        yield ((local - 1) * p.n_shards - p.shard, ts, schema,
               table, op, row_id, payload, None)


@dataclass
class RowsPartition(InputPartition):
    rows: list = field(default_factory=list)


class LogicalStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        from .logical_pg import DEFAULT_SLOT, PgLogicalPoller
        from .outbox_pg import PsqlRunner

        url = options.get("url", "")
        for scheme in ("postgresql:", "postgres:"):
            if url.startswith(scheme):
                conninfo = url[len(scheme):]
                break
        else:
            raise ValueError(
                "pqstream_logical requires option url=postgres:CONNINFO"
            )
        plugin = options.get("plugin", "test_decoding")
        if plugin == "pgoutput":
            # the replication-grade binary plugin with server-side
            # publication filtering — same poller contract, so the
            # entire offset/staging machinery below is plugin-agnostic
            from .pgoutput_pg import DEFAULT_PUBLICATION, PgOutputPoller

            self._poller = PgOutputPoller.open_durable(
                PsqlRunner(conninfo),
                slot=options.get("slot", DEFAULT_SLOT),
                consumer=options.get("consumer", "datasource"),
                publication=options.get("publication", DEFAULT_PUBLICATION),
                table_regexp=options.get("tableregexp") or None,
                # protocol v2 streamed in-progress transactions: large
                # txns stream at logical_decoding_work_mem instead of
                # buffering server-side; batches stay txn-aligned
                streaming=str(options.get("streaming", "")
                              ).lower() in ("1", "true", "yes"),
                # giant-transaction spool (round 11): binary spool via
                # structural reframing of pg_recvlogical's output
                spill_dir=options.get("spilldir") or None,
            )
        elif plugin == "test_decoding":
            self._poller = PgLogicalPoller.open_durable(
                PsqlRunner(conninfo),
                slot=options.get("slot", DEFAULT_SLOT),
                consumer=options.get("consumer", "datasource"),
                table_regexp=options.get("tableregexp") or None,
                # giant-transaction spill drain (round 10): without it
                # a GiantTxnError (torn-anchor replay window wider than
                # max_peek) fails the query loudly; with it the backlog
                # spools through pg_recvlogical and arrives as one
                # txn-aligned batch. Spool batches compose with the
                # normal commit path: advance_to's GREATEST guard
                # absorbs the already-advanced slot, and the
                # consumed-check cleans the spool on the next trigger.
                spill_dir=options.get("spilldir") or None,
            )
        else:
            raise ValueError(
                f"unknown plugin {plugin!r} (test_decoding or pgoutput)"
            )
        self._poller.max_changes = int(
            options.get("maxchangesperbatch", 100_000)
        )
        self._poller.max_peek = int(
            options.get("maxpeek", self._poller.max_peek)
        )
        # bootstrap (round 13, VERDICT r12 #3): see the module comment
        self._slot = options.get("slot", None) or self._poller.slot
        self._spill = options.get("spilldir") or None
        self._snap: dict | None = None
        # True only when THIS query owns the snapshot range (planned
        # it at bootstrap, or replayed a negative checkpoint start) —
        # commit() must not retire a never-delivered spool just
        # because files exist (ADVICE r13 medium: a crashed
        # pre-delivery bootstrap followed by a non-bootstrap restart
        # would tombstone the spool as 'consumed' and a later
        # bootstrap=true run would silently skip the initial state)
        self._snap_owned = False
        if str(options.get("bootstrap", "")).lower() in ("1", "true", "yes"):
            if self._spill is None:
                raise ValueError(
                    "bootstrap requires option spillDir — the snapshot "
                    "spool is the durable replay copy of the initial "
                    "state; use durable, executor-reachable storage"
                )
            runner = self._poller.runner
            consumer = options.get("consumer", "datasource")
            marker = f"{consumer}@ds@{self._slot}#bootstrap"
            tre = options.get("tableregexp") or None
            if plugin == "pgoutput":
                from .pgoutput_pg import (
                    DEFAULT_PUBLICATION,
                    PgOutputCaptureManager,
                )

                mgr = PgOutputCaptureManager(
                    runner, slot=self._slot,
                    publication=options.get("publication",
                                            DEFAULT_PUBLICATION),
                    table_regexp=tre)
                snap_plugin = "pgoutput"
            else:
                from .logical_pg import (
                    DECODING_PLUGIN,
                    PgLogicalCaptureManager,
                )

                mgr = PgLogicalCaptureManager(
                    runner, slot=self._slot, table_regexp=tre)
                snap_plugin = DECODING_PLUGIN
            ensure_snapshot_spool(
                runner, self._spill, self._slot, marker, tre,
                snap_plugin, lambda: mgr.install(create_slot=False))
            snap = load_snapshot_spool(self._spill, self._slot)
            check_snapshot_not_lost(
                self._spill, self._slot, self._poller.last_seq, snap)
            # a bootstrap query owns whatever spool exists — including
            # an n==0 dump, which has no rows to deliver but should
            # still retire on the first durable commit
            self._snap_owned = snap is not None
            if snap and snap["n"] > 0:
                if self._poller.last_seq > 0:
                    raise ValueError(
                        "bootstrap snapshot pending but consumer "
                        f"{consumer!r} already has changelog history "
                        f"(last_seq={self._poller.last_seq}); bootstrap "
                        "a FRESH consumer, or delete the snapshot spool"
                    )
                self._snap = snap
        # staging from the most recent read_rows: seq-keyed rows and the
        # txn boundaries they can be committed at. Rebuilt on every
        # latestOffset (the peek re-reads the slot's unconfirmed window
        # with identical seqs, so a post-restart partitions() call for
        # a checkpointed range re-stages the same rows).
        self._staged_rows: list[tuple] = []
        self._boundaries: dict[int, tuple[str, int]] = {}
        self._reported = self._poller.last_seq
        # snapshot-phase rate-limit floor (ADVICE r13 low #3): the
        # largest snapshot offset this process has reported; seeds
        # from the durable consumed.json via _snap["consumed"]
        self._snap_reported = -(2 ** 63)

    def __getstate__(self) -> dict:
        """pyspark pickles the reader into the executor-side read
        closure (reader.read(partition)); the staged window and
        boundary map are driver-state that read() never touches —
        shipping them would double each micro-batch's serialized
        payload (review finding). Executors get an empty stage."""
        state = self.__dict__.copy()
        state["_staged_rows"] = []
        state["_boundaries"] = {}
        return state

    def initialOffset(self) -> dict:
        if self._snap is not None:
            # snapshot locals -(n-1)..0: consuming through 0 lands on
            # the fresh non-bootstrap origin, changelog continues at 1
            return {"seq": -self._snap["n"]}
        return {"seq": self._poller.last_seq}

    def _stage(self, upto: int | None = None) -> None:
        rows, boundaries = self._poller.read_rows(upto=upto)
        self._staged_rows = rows
        for end_seq, lsn_text, lsn_big in boundaries:
            self._boundaries[end_seq] = (lsn_text, lsn_big)

    def latestOffset(self) -> dict:
        """Reports the seq of the last staged ROW, not the last txn
        boundary: change-free transactions (the poller's own flush
        barrier, engine-table writes) do not move seqs, and reporting
        their boundaries would make every poll manufacture a new
        offset — processAllAvailable would chase the barrier forever.
        Their LSNs still fold into the boundary map under the same seq
        key (dict overwrite keeps the latest), so committing a row
        boundary advances the slot past trailing change-free txns
        too.

        Progress-aware escalation: the slot re-peeks its whole
        unconfirmed window each trigger, so a small maxChangesPerBatch
        can fill the window with ALREADY-REPORTED transactions — the
        uncommitted batch — and cut off the next one, reporting no
        progress while data is pending (the engine would believe the
        source drained). When staged rows show no progress past the
        last report, the window escalates until it does (bounded by
        max_peek); an empty stage never escalates here (idle polls
        must stay one cheap peek)."""
        if self._snap is not None:
            # snapshot-phase rate limit (ADVICE r13 low #3): a large
            # bootstrap consumes as bounded micro-batches with durable
            # incremental progress instead of one unbounded first
            # batch — any snapshot row index is a valid boundary, so
            # rows chunk at exactly maxChangesPerBatch. The floor is
            # rebuilt from consumed.json across restarts (the engine
            # may call latestOffset before replaying partitions()).
            c = self._snap.get("consumed")
            base = max(c if c is not None else -self._snap["n"],
                       self._snap_reported)
            if base < 0:
                nxt = min(0, base + self._poller.max_changes)
                self._snap_reported = nxt
                if nxt < 0:
                    return {"seq": nxt}
                # snapshot fully reported: fall through — the final
                # chunk's batch also picks up any pending changelog
        self._stage()
        upto = self._poller.max_changes
        while (self._staged_rows
               and self._staged_rows[-1][0] <= self._reported
               and upto < self._poller.max_peek):
            upto = min(upto * 4, self._poller.max_peek)
            self._stage(upto=upto)
        new_bounds = [s for s in self._boundaries if s > self._reported]
        if new_bounds:
            # rate limit survives the escalation: report the largest
            # txn boundary within maxChangesPerBatch of the last
            # report, or the smallest new boundary when one oversized
            # transaction exceeds the cap (txn atomicity wins)
            cap = self._reported + self._poller.max_changes
            within = [s for s in new_bounds if s <= cap]
            chosen = max(within) if within else min(new_bounds)
            self._reported = chosen
            return {"seq": chosen}
        # no new boundaries: hold the line at the last REPORT, never the
        # poller's committed position — an in-flight (reported, not yet
        # committed) batch keeps last_seq behind _reported, and a
        # regressed offset lands in Spark's offset log, re-planning a
        # range the slot will have advanced past by the next trigger
        self._reported = max(self._reported, self._poller.last_seq)
        # Idle housekeeping (round 10, ADVICE r9): each poll's flush
        # barrier writes one WAL record, but the slot only advances in
        # commit() — which never fires while the stream is idle, so
        # confirmed_flush_lsn froze while every trigger appended
        # another barrier transaction: WAL retention AND the per-poll
        # decode window grew without bound for the whole idle period.
        # When the staged window holds ONLY change-free boundaries
        # (no undelivered rows anywhere — an in-flight reported batch
        # would re-peek its rows into _staged_rows), advancing the slot
        # to the newest one is safe: those transactions deliver no rows
        # and no seqs depend on them.
        if not self._staged_rows:
            idle = self._boundaries.pop(self._poller.last_seq, None)
            if idle is not None:
                self._poller.advance_to(
                    idle[0], idle[1], self._poller.last_seq)
        return {"seq": self._reported}

    def _restage_until(self, target_seq: int) -> None:
        """Re-peek with an escalating window until the staged rows
        reach `target_seq` (or the window caps): a checkpointed range
        originally staged via latestOffset's escalation is NOT
        reproducible by one default-window peek after a restart
        (review finding) — the window must grow the same way."""
        upto = self._poller.max_changes
        self._stage()
        while ((not self._staged_rows
                or self._staged_rows[-1][0] < target_seq)
               and upto < self._poller.max_peek):
            upto = min(upto * 4, self._poller.max_peek)
            self._stage(upto=upto)

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["seq"]), int(end["seq"])
        snap_parts: list = []
        if lo < 0:
            # bootstrap snapshot slice (negative locals) — replayed
            # from the durable spool file on restart
            snap = self._snap or (
                load_snapshot_spool(self._spill, self._slot)
                if self._spill else None)
            # a replayed negative start means the checkpoint owns the
            # snapshot range even if this reader was constructed
            # without option bootstrap (fresh process, old checkpoint)
            self._snap_owned = True
            if snap is None:
                raise RuntimeError(
                    f"pqstream_logical: offset range starts at {lo} "
                    "(bootstrap snapshot) but the snapshot spool is "
                    "gone — was the spill directory deleted?"
                )
            s_hi = min(hi, 0)
            if s_hi > lo:
                snap_parts.append(SnapshotPartition(
                    shard=0, n_shards=1, path=snap["path"],
                    n=snap["n"], lo=lo, hi=s_hi))
            lo = 0
        if hi <= lo:
            return snap_parts or [RowsPartition([])]
        rows = [r for r in self._staged_rows if lo < r[0] <= hi]
        if len(rows) != hi - lo:
            # restart replay: the checkpointed range predates this
            # process — re-peek (replay-stable seqs) and re-slice
            self._restage_until(hi)
            rows = [r for r in self._staged_rows if lo < r[0] <= hi]
        if len(rows) != hi - lo:
            raise RuntimeError(
                f"pqstream_logical: cannot reconstruct offsets "
                f"({lo}, {hi}] from the slot — was the slot advanced "
                "externally or shared by another consumer?"
            )
        # a handful of bounded slices: decode is serial, but executor-
        # side parse/downstream work still spreads
        n = max(1, min(4, len(rows) // 2500 + 1))
        step = (len(rows) + n - 1) // n
        return snap_parts + ([
            RowsPartition(rows[i:i + step]) for i in range(0, len(rows), step)
        ] or [RowsPartition([])])

    def read(self, partition):
        if isinstance(partition, SnapshotPartition):
            yield from read_snapshot_partition(partition)
            return
        yield from partition.rows

    def commit(self, end: dict) -> None:
        end_seq = int(end["seq"])
        if (end_seq < 0 and self._spill is not None
                and self._snap is not None):
            # mid-snapshot commit: durably anchor the progress so a
            # restarted engine's first latestOffset rate-limits from
            # HERE, not the snapshot start (the sharded reader's
            # round-13 fix, applied to the single-slot surface)
            record_snapshot_progress(self._spill, self._slot, end_seq)
            self._snap["consumed"] = end_seq
        if end_seq >= 0 and self._spill is not None:
            # the engine durably finished the snapshot range: retire
            # the spool, leaving the consumption tombstone (idempotent
            # — a restart re-commit no-ops). Gated on ownership
            # (ADVICE r13 medium): a query that never planned the
            # snapshot must not tombstone somebody else's pending spool
            if (self._snap is not None
                    or (self._snap_owned
                        and load_snapshot_spool(self._spill, self._slot))):
                retire_snapshot_spool(self._spill, self._slot)
                self._snap = None
        if end_seq <= self._poller.last_seq:
            return
        if end_seq not in self._boundaries:
            # offsets are only ever boundaries this reader reported; a
            # restart rebuilds the map with the same escalating window
            self._restage_until(end_seq)
        if end_seq not in self._boundaries:
            raise RuntimeError(
                f"pqstream_logical: commit offset {end_seq} is not a "
                "transaction boundary the slot can reproduce — was the "
                "slot advanced externally or shared by another consumer?"
            )
        lsn_text, lsn_big = self._boundaries[end_seq]
        self._poller.advance_to(lsn_text, lsn_big, end_seq)
        self._boundaries = {
            s: v for s, v in self._boundaries.items() if s > end_seq
        }


class LogicalDataSource(DataSource):
    """spark.dataSource.register(LogicalDataSource); then
    readStream.format("pqstream_logical") for the commit-ordered,
    transaction-aligned changelog stream. With option `shards=N`
    (pgoutput + spillDir required) the stream rides N publication-
    scoped slots decoded in parallel with executor-side spool parse —
    the daemon's round-11 scale-out on the engine-native surface
    (sharded_datasource module docstring)."""

    @classmethod
    def name(cls) -> str:
        return "pqstream_logical"

    def schema(self) -> StructType:
        return OUTBOX_BATCH_SCHEMA

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        if self.options.get("shards") is not None:
            from .sharded_datasource import ShardedLogicalStreamReader

            return ShardedLogicalStreamReader(self.options)
        if (self.options.get("plugin", "test_decoding") == "pgoutput"
                and self.options.get("spilldir")):
            # round 14 (VERDICT r13 #3): the shard-less pgoutput+spool
            # surface rides the sharded machinery with shards=1 and
            # EXACT slot/publication names — executor-side spool
            # parse, drain-time sidecar, seekable slices, rate-limited
            # snapshot/backlog chunking; the LAST driver-byte path
            # (LogicalStreamReader's driver-side decode-and-ship,
            # stated in the module docstring) is gone from the
            # engine-native default. Legacy {"seq": n} checkpoints
            # map to shard 0 (ShardedLogicalStreamReader._norm_off).
            from .pgoutput_pg import DEFAULT_PUBLICATION
            from .logical_pg import DEFAULT_SLOT
            from .sharded_datasource import ShardedLogicalStreamReader

            opts = dict(self.options)
            opts.setdefault("slot", DEFAULT_SLOT)
            opts.setdefault("publication", DEFAULT_PUBLICATION)
            # the single-slot reader's default rate limit carries over
            opts.setdefault("maxchangesperbatch", "100000")
            opts["shards"] = "1"
            opts["exactnames"] = "true"
            return ShardedLogicalStreamReader(opts)
        return LogicalStreamReader(self.options)
