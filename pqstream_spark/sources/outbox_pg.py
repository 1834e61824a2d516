"""Live-Postgres capture backend: the trigger → outbox → poller path
executing against a real PostgreSQL server (SURVEY.md §2 S1/S4/S5).

The reference's capture side only ever runs inside live Postgres
(`/root/reference/queries.go:10-63` installed by `server.go:128-147`;
every integration test provisions a throwaway database,
`server_test.go:110-136`). This module executes the SAME golden-pinned
DDL (`sources/outbox.py`) against a real server:

- **Transport is a `psql` subprocess** — this container ships the
  PostgreSQL 15 server binaries (`pg_ctl`, `postgres`, `psql`) but no
  Python driver (psycopg2) and no JDBC jar, so `psql --csv` with an
  explicit NULL marker is the supported execution path here. Batches
  are bounded `(last_seq, last_seq + max_rows]` reads; the scale path
  is `PgOutboxPoller.read_batch_distributed` (`--parallel-read N`:
  N psql sub-range reads on executors).
- **Server lifecycle** (`EphemeralPostgres`) mirrors the reference's
  test topology: throwaway cluster per suite, trust auth on a private
  unix socket, `listen_addresses=''` (no TCP). Postgres refuses to run
  as root, so when invoked by root every server-side command is
  re-executed as `nobody` via `su` — the data directory is chowned
  accordingly.
- **Offsets are durable in the source database** (same design as the
  sqlite backend, `outbox_local.LocalOutboxPoller.open_durable`): one
  row per consumer in `pqstream_consumer_offset`, advanced AFTER the
  batch is durably sunk → at-least-once, which the idempotent
  seq-named sink collapses to exactly-once effect.

NOTIFY-path parity: `notify_trigger_function_sql` is the engine's own
rendering of the reference's fire-and-forget trigger — same
`json_build_object` envelope, same two-tier `length(...) >= 8000`
degradation (queries.go:26-47) — used by the parity tests to pin the
wire bytes a live server emits against the S2 operator
(`operators/degrade._envelope_text`) and against golden expectations.
It is generated here, not copied: the reference's trigger is the spec,
the text below is this engine's implementation of it.
"""

from __future__ import annotations

import csv
import io
import os
import re
import shlex
import shutil
import subprocess
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from .outbox import (
    CLAIM_SEQ_FUNCTION_SQL,
    CONSUMER_ROWS_SQL,
    CREATE_OUTBOX_SQL,
    DISCOVER_TABLES_SQL,
    MIGRATE_OUTBOX_OP_CHECK_SQL,
    MIGRATE_OUTBOX_SEQ_DEFAULT_SQL,
    MIGRATE_OUTBOX_XID_SQL,
    OUTBOX_TABLE,
    TRIGGER_FUNCTION_SQL,
    TRUNCATE_TRIGGER_FUNCTION_SQL,
    VERIFY_OUTBOX_JSON_TYPE_SQL,
    _check_ident,
    filter_tables,
    install_trigger_sql,
    outbox_jsonb_error,
    remove_trigger_sql,
)
from .outbox_local import OUTBOX_BATCH_SCHEMA

PG_OFFSET_TABLE = "pqstream_consumer_offset"

# psql renders NULL and empty string identically in CSV by default; an
# explicit marker disambiguates. '\N' cannot collide with outbox data:
# payload/previous are JSON texts (start with '{'), ops/idents are words.
_NULL = r"\N"


def pg_binaries() -> dict[str, str | None]:
    """Which PostgreSQL binaries this environment ships. The transport
    gap-watch (tests/test_transport_probe.py) asserts that when these
    are ALL present the live-PG test suite must not skip — a binary
    appearing flips tests from skip to required, by construction."""
    return {name: shutil.which(name) for name in ("pg_ctl", "postgres", "psql", "initdb")}


def pg_available() -> bool:
    b = pg_binaries()
    return all(b[k] for k in ("pg_ctl", "postgres", "psql"))


class PsqlError(RuntimeError):
    pass


@dataclass
class PsqlRunner:
    """Execute SQL against a live server through `psql` subprocesses.

    `conninfo` is a libpq keyword/value string ("host=/run/pg dbname=app
    user=pq"). Each call is one psql invocation with ON_ERROR_STOP, so a
    multi-statement script is atomic-per-statement with loud failures —
    the same contract a DB-API cursor loop gives the sqlite backend."""

    conninfo: str

    def _psql(self, opts: list[str], script: str | None = None,
              check: bool = True) -> str:
        """The one psql invocation: no psqlrc, quiet, ON_ERROR_STOP,
        the _NULL marker, cwd /tmp; a failure raises PsqlError."""
        proc = subprocess.run(
            ["psql", self.conninfo, "-X", "-q", "-v", "ON_ERROR_STOP=1",
             "-P", f"null={_NULL}", *opts],
            input=script, capture_output=True, text=True, cwd="/tmp",
        )
        if check and proc.returncode != 0:
            raise PsqlError(
                f"psql failed (rc={proc.returncode}): {proc.stderr.strip()}"
            )
        return proc.stdout

    def sql(self, script: str, *, check: bool = True) -> str:
        return self._psql([], script, check=check)

    def query_csv(
        self, query: str, pre_statements: tuple[str, ...] = ()
    ) -> list[dict[str, str | None]]:
        """One SELECT → list of dicts; psql --csv quoting is RFC-4180,
        parsed by the stdlib csv module; _NULL marks SQL NULL.
        `pre_statements` run first in the SAME session (one process
        spawn) and must produce no result rows (SET/DO) so stdout stays
        a single CSV block — the logical poller's flush barrier rides
        this."""
        opts = ["--csv"]
        for s in (*pre_statements, query):
            opts += ["-c", s]
        rows = list(csv.reader(io.StringIO(self._psql(opts))))
        if not rows:
            return []
        header, data = rows[0], rows[1:]
        return [
            {k: (None if v == _NULL else v) for k, v in zip(header, r)}
            for r in data
        ]

    def scalar(self, query: str) -> str | None:
        rows = self.query_csv(query)
        return next(iter(rows[0].values())) if rows else None

    def query_lines(self, *stmts: str) -> list[str]:
        """Multiple single-value SELECTs in ONE psql invocation, strictly
        in session order; returns one output line per statement (tuples
        only, unaligned). This is the ordered-scalar transport PgSeqFence
        rounds ride on (ADVICE r8: keep the psql contract — ON_ERROR_STOP,
        cwd, null marker, error wrapping — single-homed on this class)."""
        opts = ["-t", "-A"]
        for s in stmts:
            opts += ["-c", s]
        out = self._psql(opts)
        lines = [l for l in out.splitlines() if l.strip()]
        if len(lines) != len(stmts):
            raise PsqlError(
                f"query_lines: expected {len(stmts)} lines, got {out!r}"
            )
        return lines


class EphemeralPostgres:
    """Throwaway PostgreSQL cluster on a private unix socket.

    Parity with the reference's integration topology (one disposable
    database per test run, `server_test.go:110-136`) adapted to this
    sandbox: `pg_ctl initdb` + `pg_ctl start` under `base_dir`, trust
    auth, no TCP (`listen_addresses=''`), fsync off (test speed). When
    the caller is root, server commands run as `nobody` (Postgres
    refuses root) with the base dir chowned to match."""

    def __init__(self, base_dir: str, superuser: str = "pq") -> None:
        self.base = os.path.abspath(base_dir)
        self.data = os.path.join(self.base, "data")
        self.sock = os.path.join(self.base, "sock")
        self.log = os.path.join(self.base, "server.log")
        self.superuser = superuser
        self._running = False

    @classmethod
    def temp(cls, prefix: str = "pqstream_pg_") -> "EphemeralPostgres":
        """Cluster under a fresh /tmp directory. Needed when the caller
        is root and the natural location (e.g. pytest's tmp_path) sits
        below root-0700 ancestors the demoted `nobody` server process
        cannot traverse; /tmp itself is world-traversable."""
        import tempfile

        return cls(tempfile.mkdtemp(prefix=prefix, dir="/tmp"))

    # -- process plumbing -------------------------------------------------
    def _server_cmd(self, cmd: str) -> subprocess.CompletedProcess:
        """Run a pg_ctl command, demoted to `nobody` when root."""
        if os.geteuid() == 0:
            full = ["su", "nobody", "-s", "/bin/sh", "-c", cmd]
        else:
            full = ["/bin/sh", "-c", cmd]
        return subprocess.run(full, capture_output=True, text=True, cwd="/tmp")

    def _chown_for_server(self) -> None:
        if os.geteuid() == 0:
            subprocess.run(["chown", "-R", "nobody", self.base],
                           check=True, cwd="/tmp")

    # -- lifecycle --------------------------------------------------------
    def initdb(self, extra: str = "") -> None:
        """`extra` appends raw initdb options (e.g. '--wal-segsize=1'
        for the WAL-retention tests — 1 MiB segments make
        max_slot_wal_keep_size pressure reachable with kilobytes of
        writes instead of multiples of 16 MiB)."""
        os.makedirs(self.data, exist_ok=True)
        os.makedirs(self.sock, exist_ok=True)
        self._chown_for_server()
        pg_ctl = shutil.which("pg_ctl")
        proc = self._server_cmd(
            f"{shlex.quote(pg_ctl)} initdb -D {shlex.quote(self.data)} "
            f"-o '--auth=trust --no-sync -U {self.superuser} {extra}'"
        )
        if proc.returncode != 0:
            raise RuntimeError(f"initdb failed: {proc.stderr}\n{proc.stdout}")

    def start(self, wal_level: str = "logical", extra_conf: str = "") -> None:
        pg_ctl = shutil.which("pg_ctl")
        # wal_level=logical from the start: the logical-replication
        # capture backend (sources/logical_pg.py) needs it, its cost on
        # a test cluster is noise, and one cluster shape keeps every
        # suite on the same code path (`wal_level` overridable so tests
        # can exercise the replica-level refusal paths; `extra_conf`
        # appends raw `-c k=v` settings, e.g. max_slot_wal_keep_size
        # for the retention-pressure tests)
        opts = (
            f"-k {self.sock} -c listen_addresses= -c fsync=off "
            f"-c synchronous_commit=off -c full_page_writes=off "
            f"-c wal_level={wal_level} -c max_replication_slots=64 "
            f"-c max_wal_senders=64"
        )
        if extra_conf:
            opts += f" {extra_conf}"
        proc = self._server_cmd(
            f"{shlex.quote(pg_ctl)} start -w -t 60 -D {shlex.quote(self.data)} "
            f"-l {shlex.quote(self.log)} -o {shlex.quote(opts)}"
        )
        if proc.returncode != 0:
            tail = ""
            if os.path.exists(self.log):
                with open(self.log) as f:
                    tail = f.read()[-2000:]
            raise RuntimeError(f"pg start failed: {proc.stderr}\n{tail}")
        self._running = True
        # socket dir must be world-traversable for non-nobody clients
        os.chmod(self.sock, 0o777) if os.geteuid() == 0 else None
        self._wait_ready()

    def _wait_ready(self, timeout: float = 30.0) -> None:
        runner = self.runner("postgres")
        end = time.time() + timeout
        last = ""
        while time.time() < end:
            try:
                if runner.scalar("SELECT 1") == "1":
                    return
            except PsqlError as e:  # still starting
                last = str(e)
            time.sleep(0.2)
        raise RuntimeError(f"postgres did not become ready: {last}")

    def stop(self, mode: str = "immediate") -> None:
        if not self._running:
            return
        pg_ctl = shutil.which("pg_ctl")
        self._server_cmd(
            f"{shlex.quote(pg_ctl)} stop -D {shlex.quote(self.data)} -m {mode} -t 30"
        )
        self._running = False

    def destroy(self) -> None:
        self.stop()
        shutil.rmtree(self.base, ignore_errors=True)

    # -- databases --------------------------------------------------------
    def conninfo(self, dbname: str = "postgres") -> str:
        return f"host={self.sock} dbname={dbname} user={self.superuser}"

    def runner(self, dbname: str = "postgres") -> PsqlRunner:
        return PsqlRunner(self.conninfo(dbname))

    def createdb(self, name: str) -> PsqlRunner:
        """Throwaway database per test case, like testDBConn
        (server_test.go:110-125): drop-if-exists, create, hand back a
        runner bound to it."""
        if not re.fullmatch(r"[a-z_][a-z0-9_]*", name):
            raise ValueError(f"bad database name: {name!r}")
        admin = self.runner("postgres")
        admin.sql(f"DROP DATABASE IF EXISTS {name}", check=False)
        admin.sql(f"CREATE DATABASE {name}")
        return self.runner(name)


class PgCaptureManager:
    """Trigger lifecycle on live Postgres — executes the golden-pinned
    DDL from sources/outbox.py verbatim. Same contract as
    LocalCaptureManager: remove-then-install startup
    (cmd/pqsd/main.go:95-102), install with zero matching tables is an
    error (server.go:136-139). All install DDL ships in ONE psql
    invocation wrapped in a transaction, so a half-installed trigger
    set cannot survive a failure."""

    def __init__(self, runner: PsqlRunner, table_regexp: str | None = None) -> None:
        self.runner = runner
        self.table_regexp = table_regexp

    def discover_tables(self) -> list[str]:
        rows = self.runner.query_csv(DISCOVER_TABLES_SQL)
        names = [r["table_name"] for r in rows]
        return filter_tables(names, self.table_regexp)

    def _verify_outbox_json_type(self) -> None:
        """ADVICE r7: CREATE TABLE IF NOT EXISTS will not retype an
        outbox created by an earlier jsonb DDL generation, and jsonb's
        key-reordered re-spaced rendering silently defeats the
        row_to_json byte-parity the json type exists for — so a legacy
        jsonb outbox must fail LOUDLY, not capture quietly wrong."""
        rows = self.runner.query_csv(VERIFY_OUTBOX_JSON_TYPE_SQL)
        bad = [r["column_name"] for r in rows if r["data_type"] != "json"]
        if bad:
            raise outbox_jsonb_error(bad)

    def install(self) -> list[str]:
        tables = self.discover_tables()
        if not tables:
            raise RuntimeError("no tables match the table regexp")
        # verify BEFORE installing: a jsonb outbox must not get live
        # triggers attached (it would capture with the wrong rendering
        # until someone reads the error)
        self._verify_outbox_json_type()
        stmts = ["BEGIN", CREATE_OUTBOX_SQL]
        # legacy outboxes: refresh the op CHECK to the full proto
        # domain (TRUNCATE, round 8) — in the same transaction
        stmts += MIGRATE_OUTBOX_OP_CHECK_SQL
        # seq claims must force xid assignment first (fence soundness
        # for direct outbox INSERTs — CLAIM_SEQ_FUNCTION_SQL comment);
        # applied as the column default on fresh AND legacy outboxes.
        # The xid column (txn reassembly, round 9) migrates in place too.
        stmts += [CLAIM_SEQ_FUNCTION_SQL, MIGRATE_OUTBOX_SEQ_DEFAULT_SQL,
                  MIGRATE_OUTBOX_XID_SQL]
        stmts += [TRIGGER_FUNCTION_SQL, TRUNCATE_TRIGGER_FUNCTION_SQL]
        stmts += [install_trigger_sql(t) for t in tables]
        stmts.append("COMMIT")
        self.runner.sql(";\n".join(stmts) + ";")
        return tables

    def remove(self) -> list[str]:
        tables = self.discover_tables()
        if tables:
            stmts = [remove_trigger_sql(t) for t in tables]
            self.runner.sql(";\n".join(stmts) + ";")
        return tables


def _parse_pg_ts(ts: str) -> datetime:
    """psql timestamptz text ('2026-08-14 17:10:00.49+00') → naive UTC,
    matching OUTBOX_BATCH_SCHEMA's TimestampType convention."""
    dt = datetime.fromisoformat(ts)
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


def outbox_rows(runner: PsqlRunner, lo: int, hi: int) -> list[tuple]:
    """The outbox rows with lo < seq <= hi in seq order, as
    OUTBOX_BATCH_SCHEMA tuples — the one range read of the Postgres
    outbox. The serial poll runs it on the driver; each --parallel-read
    task and each pqstream_outbox partition runs it on an executor
    (`runner` then carries only the conninfo there)."""
    rows = runner.query_csv(
        f"SELECT seq, ts, schema_name, table_name, op, id, "
        f"payload::text AS payload_json, previous::text AS previous_json "
        f"FROM {OUTBOX_TABLE} WHERE seq > {int(lo)} AND seq <= {int(hi)} "
        f"ORDER BY seq"
    )
    return [
        (int(r["seq"]), _parse_pg_ts(r["ts"]), r["schema_name"],
         r["table_name"], r["op"], r["id"], r["payload_json"],
         r["previous_json"])
        for r in rows
    ]


def ensure_xid_index(runner: PsqlRunner) -> None:
    """Index on the envelope xid, which txn_ceiling's per-xid extent
    lookups probe. OPT-IN (plain consumers never pay its write
    amplification) and created at CONSTRUCTION time, never inside a
    poll: CREATE INDEX takes a lock that queues behind open writers, so
    a mid-poll creation would wedge the poll loop exactly when
    transactions are in flight. Without it the same lookups run as one
    hash-join scan per poll — correct either way."""
    runner.sql(
        f"CREATE INDEX IF NOT EXISTS {OUTBOX_TABLE}_xid_idx "
        f"ON {OUTBOX_TABLE} (xid);"
    )


def _txn_boundaries(runner: PsqlRunner, base: int, cap: int,
                    agg: str) -> tuple[int, int]:
    """(`agg` — MAX or MIN — of the transaction boundaries in
    (base, cap], or base when there is none; the furthest seq any
    window row's transaction reaches, or base on an empty window).

    A boundary is a row seq B such that no transaction has rows on both
    sides of B. One window query: per-xid max seq over the xids present
    in the window (NULL xids are their own one-row groups: no txn
    identity, nothing to tear), running max of it by seq, boundary
    where the running reach equals the row's own seq. Every window row
    is at or below the fence, so its writer has finished and all the
    transaction's rows are visible — rows of a straddling transaction
    above `cap` push the reach past the boundary, exactly the tear the
    rule prevents."""
    got = runner.query_csv(
        "WITH win AS (SELECT seq, xid "
        f"FROM {OUTBOX_TABLE} WHERE seq > {int(base)} "
        f"AND seq <= {int(cap)}), "
        "ext AS (SELECT x.xid, MAX(o.seq) AS mx "
        "FROM (SELECT DISTINCT xid FROM win WHERE xid IS NOT NULL) x "
        f"JOIN {OUTBOX_TABLE} o ON o.xid = x.xid GROUP BY x.xid), "
        "r AS (SELECT win.seq, MAX(COALESCE(ext.mx, win.seq)) "
        "OVER (ORDER BY win.seq) AS reach "
        "FROM win LEFT JOIN ext ON win.xid = ext.xid) "
        f"SELECT COALESCE({agg}(seq) FILTER (WHERE reach = seq), "
        f"{int(base)}) AS boundary, "
        f"COALESCE(MAX(reach), {int(base)}) AS reach FROM r"
    )[0]
    return int(got["boundary"]), int(got["reach"])


def txn_ceiling(runner: PsqlRunner, base: int, cap: int, fence: int) -> int:
    """The transaction-boundary rule: pull the fenced, rate-capped
    ceiling `cap` of a read over (base, cap] back so no writer
    transaction has rows on both sides of it. A reader that takes
    exactly (base, ceiling] — the Structured Streaming source contract
    — then gets every transaction whole in one batch. The
    pqstream_outbox DataSource (`txnAligned`) and the daemon's
    `--txn-consistent` poller both apply it; it needs the writer xid
    only, so the serial and the partitioned read share it.

    - No transaction crosses `cap` (an empty window, or only abort
      gaps above the last row): `cap` itself, so gaps are passed as the
      plain read passes them.
    - Otherwise the largest boundary in (base, cap].
    - No boundary there and `fence` lies past `cap` (one transaction
      larger than the rate cap): the smallest boundary in
      (base, fence] — atomicity beats max_rows.
    - Otherwise `base`: the straddling transaction waits for a later
      fence. A self-contained transaction inside its seq span waits
      with it and is emitted in the same batch."""
    largest, reach = _txn_boundaries(runner, base, cap, "MAX")
    if reach <= cap:
        return cap
    if largest > base or fence <= cap:
        return largest
    return _txn_boundaries(runner, base, fence, "MIN")[0]


OUTBOX_SEQ_SEQUENCE = f"{OUTBOX_TABLE}_seq_seq"


class PgSeqFence:
    """Concurrent-writer fence for the seq watermark (round-8 lead fix).

    The race: `seq BIGSERIAL` values are claimed by nextval INSIDE the
    writing transaction, so seq order != commit order. Writer A claims
    seq 100 and stalls; writer B claims 101 and commits; a naive poller
    sees MAX(seq)=101, durably advances last_seq=101, and when A
    finally commits its seq-100 row sits below the watermark forever —
    silent permanent loss, precisely in the concurrent-producer
    deployments the outbox backend exists for (the reference's NOTIFY
    has no such race: notifications are delivered at commit, in commit
    order, server.go:258-281).

    A row-level xmin filter alone is NOT airtight: xid order is
    first-write order while seq order is nextval order, and one
    transaction can claim several seqs over its lifetime — an older-xid
    transaction can claim a LATER seq than a younger in-flight one, so
    "row's xmin precedes every in-flight xid" does not imply "no
    in-flight transaction holds a lower seq". The fence therefore
    bounds the WATERMARK, not row visibility:

    1. Read the outbox sequence's `last_value` → `claimed`, the highest
       seq any transaction has claimed so far (sequences are
       non-transactional and cross-session visible; the table is
       created with the default CACHE 1, so `last_value` never
       over-reports by a session-local cache block).
    2. THEN force assignment of OUR OWN xid (`pg_current_xact_id()`)
       and keep it as the fence `bound`. Xids are assigned globally
       monotonically, and every claimer of a seq <= `claimed` already
       had its xid before the claimed-read: the trigger path assigns it
       at the user-table heap write (strictly before the AFTER trigger
       claims), and direct outbox INSERTs are covered structurally —
       the seq column's DEFAULT is pqstream_claim_seq(), which forces
       xid assignment BEFORE nextval returns (a bare nextval default
       would leave a sub-statement window where a claim exists with no
       xid; proven by test) — so every claimer xid < bound. NOTE deliberately NOT snapshot xmax:
       snapshot xmax is latestCompletedXid+1, and an assigned-but-
       running xid sits AT OR ABOVE it whenever no younger transaction
       has committed — a fence keyed on xmax self-drains in exactly
       that state and silently loses the open writer's rows (caught by
       the randomized multi-writer stress test). The xid cost is one
       per fence round — poll-rate churn, noise next to the workload's
       own xid consumption.
    3. A pending fence (claimed, bound) becomes SAFE once a later
       snapshot's xmin — the lowest ACTIVE xid, which PostgreSQL
       computes over all running transactions regardless of xmax —
       reaches `bound`: every xid below bound has finished, so every
       seq <= claimed is final — its row is either visible (committed)
       or a permanent gap (aborted). The watermark may then pass
       `claimed` without ever losing a late commit.

    All three reads ship in ONE psql invocation (statements in a
    session execute strictly in order). With no transactions in flight
    a fence drains in the same poll that captured it (current xmin
    lands past our just-committed xid) — the serial-writer fast path
    costs zero extra latency. Under concurrency, availability degrades
    instead of correctness: the batch ceiling lags by at most one poll
    plus the longest transaction open at capture time.
    """

    def __init__(self, runner: PsqlRunner) -> None:
        self.runner = runner
        self._safe_seq = 0
        # pending (claimed_seq, own_xid_bound) fences, oldest first —
        # the bound is the fence round's OWN pg_current_xact_id(),
        # NEVER snapshot xmax (see step 2 above: xmax self-drains past
        # open writers)
        self._fences: list[tuple[int, int]] = []

    def safe_seq(self, wait: float = 0.0) -> int:
        """Returns the highest seq that is FINAL (no in-flight
        transaction can ever commit a row at or below it). Monotone
        non-decreasing across calls.

        `wait` > 0: keep re-polling (50 ms cadence) until the claimed
        ceiling observed by the FIRST round becomes final or the wait
        expires — so a poll issued right after serial writes committed
        never returns an artificially empty batch just because an
        unrelated short transaction was in flight at snapshot time
        (`--once` drains would otherwise exit early). A transaction
        that stays open past the wait degrades availability only: rows
        above the fence are simply left for a later poll."""
        target = self._round()
        deadline = time.time() + wait
        while self._safe_seq < target and time.time() < deadline:
            time.sleep(0.05)
            self._round()
        return self._safe_seq

    def _round(self) -> int:
        """One fence round; returns the claimed ceiling it observed."""
        # ordering matters: claimed read, THEN our xid assignment, THEN
        # the snapshot (class docstring steps 1-3). One psql invocation
        # (PsqlRunner.query_lines — statements in a session execute
        # strictly in order), one process spawn instead of several, so
        # the per-poll fence cost is psql startup (~40 ms here), not
        # query time.
        lines = self.runner.query_lines(
            f"SELECT last_value || '|' || is_called "
            f"FROM {OUTBOX_SEQ_SEQUENCE}",
            "SELECT pg_current_xact_id()::text",
            "SELECT pg_snapshot_xmin(pg_current_snapshot())::text",
        )
        last_value, is_called = lines[0].split("|")
        claimed = int(last_value)
        if is_called in ("f", "false"):
            claimed -= 1  # fresh sequence: last_value=start, nothing claimed
        bound = int(lines[1])  # our xid: > every claimer's xid
        cur_xmin = int(lines[2])  # lowest xid still active RIGHT NOW
        pending: list[tuple[int, int]] = []
        for v, b in self._fences + [(claimed, bound)]:
            if cur_xmin >= b:  # every xid < b has finished
                self._safe_seq = max(self._safe_seq, v)
            else:
                pending.append((v, b))
        # keep only fences that can still raise the bar; the newest few
        # suffice (the list is monotone in both components)
        self._fences = [f for f in pending if f[0] > self._safe_seq][-8:]
        return claimed


def pg_plan_balanced_bounds(
    runner: PsqlRunner, lo: int, hi: int, num_partitions: int
) -> list[tuple[int, int]]:
    """Row-balanced sub-ranges of (lo, hi] for the parallel drain.

    Equal seq-VALUE slices degrade to serial when the seq space is
    sparse and lopsided (post-compaction, consumer-offset skew): one
    reader takes nearly all rows while N-1 read zeros. This plans the
    splits from actual row quantiles instead — one bounded window
    query (`ntile(N) OVER (ORDER BY seq)` min/max per tile, scanning
    only the batch window, which max_rows already caps) — so each psql
    reader gets within one row of an equal share regardless of gaps.
    Returns contiguous disjoint (range_lo, range_hi] bounds covering
    every row in (lo, hi]; empty list when the window has no rows."""
    n = max(1, int(num_partitions))
    tiles = runner.query_csv(
        f"SELECT MAX(seq) AS tile_hi FROM ("
        f"  SELECT seq, ntile({n}) OVER (ORDER BY seq) AS tile"
        f"  FROM {OUTBOX_TABLE} WHERE seq > {int(lo)} AND seq <= {int(hi)}"
        f") s GROUP BY tile ORDER BY tile"
    )
    bounds: list[tuple[int, int]] = []
    prev = int(lo)
    for t in tiles:
        tile_hi = int(t["tile_hi"])
        bounds.append((prev, tile_hi))
        prev = tile_hi
    return bounds


@dataclass
class PgOutboxPoller:
    """Bounded incremental reads of the live-PG outbox via psql CSV.

    Contract-identical to LocalOutboxPoller (sources/outbox_local.py):
    each read covers (last_seq, last_seq + max_rows]; `advance()` after
    the downstream commit persists the high-water mark in
    pqstream_consumer_offset inside the SAME database — a SIGKILL
    between sink and advance replays that batch on restart
    (at-least-once), and the seq-named idempotent sink collapses the
    replay to exactly-once effect. The batch is bounded by max_rows, so
    the driver-side CSV materialization is capped by construction; the
    scale path is read_batch_distributed (`--parallel-read N`).

    Concurrent writers: every batch's upper bound comes from PgSeqFence
    — the watermark never passes a seq a still-open transaction could
    commit below (seq order != commit order; see the fence docstring),
    so at-least-once holds under arbitrarily many interleaved writers,
    not just the serial case. `fence_wait` bounds how long a poll waits
    for in-flight transactions to drain before settling for the current
    safe ceiling.

    `txn_consistent` (`--txn-consistent`): the ceiling is further
    pulled back to a transaction boundary (txn_ceiling), so every batch
    — serial or partitioned — holds each writer transaction whole. The
    durable offset is the batch ceiling as usual: nothing is held back
    between polls, so a crash replays at most the in-flight batch."""

    runner: PsqlRunner
    max_rows: int = 100_000
    last_seq: int = 0
    consumer: str | None = None
    fence_wait: float = 2.0
    txn_consistent: bool = False
    _pending_hi: int | None = field(default=None, repr=False)
    _fence: "PgSeqFence | None" = field(default=None, repr=False)

    def _safe_hi(self) -> int:
        """Upper bound for the next batch: at most max_rows past
        last_seq, never past the finality fence, and on a transaction
        boundary when txn_consistent."""
        if self._fence is None:
            self._fence = PgSeqFence(self.runner)
        safe = self._fence.safe_seq(wait=self.fence_wait)
        hi = min(self.last_seq + self.max_rows, max(safe, self.last_seq))
        if self.txn_consistent and hi > self.last_seq:
            hi = txn_ceiling(self.runner, self.last_seq, hi, safe)
        return hi

    @classmethod
    def open_durable(
        cls, runner: PsqlRunner, consumer: str = "daemon",
        max_rows: int = 100_000, fence_wait: float = 2.0,
        txn_consistent: bool = False,
    ) -> "PgOutboxPoller":
        runner.sql(
            f"CREATE TABLE IF NOT EXISTS {PG_OFFSET_TABLE} ("
            "consumer TEXT PRIMARY KEY, last_seq BIGINT NOT NULL);"
        )
        # register at 0 on first connect — compaction's low-water mark
        # protects consumers from first connect, not first batch
        # (Kafka-style retention, same as the sqlite backend)
        runner.sql(
            f"INSERT INTO {PG_OFFSET_TABLE} (consumer, last_seq) "
            f"VALUES ({_quote_lit(consumer)}, 0) "
            "ON CONFLICT (consumer) DO NOTHING;"
        )
        last = runner.scalar(
            f"SELECT last_seq FROM {PG_OFFSET_TABLE} "
            f"WHERE consumer = {_quote_lit(consumer)}"
        )
        if txn_consistent:
            ensure_xid_index(runner)
        return cls(runner, max_rows=max_rows, last_seq=int(last or 0),
                   consumer=consumer, fence_wait=fence_wait,
                   txn_consistent=txn_consistent)

    def read_batch(self, spark):
        lo = self.last_seq
        hi = self._safe_hi()
        if hi <= lo:
            self._pending_hi = None
            return spark.createDataFrame([], OUTBOX_BATCH_SCHEMA)
        data = outbox_rows(self.runner, lo, hi)
        # advance to the FENCE, not the max row read: every seq <= hi is
        # final, so gaps below it are aborted transactions — passing
        # them is safe and avoids re-scanning abort gaps forever
        self._pending_hi = hi
        return spark.createDataFrame(data, OUTBOX_BATCH_SCHEMA)

    def read_batch_distributed(self, spark, num_partitions: int = 8):
        """Same fenced batch contract, but the rows are read on the
        executors, never the driver: one `mapInPandas` task per
        sub-range, each running outbox_rows over its own psql session.
        The fence gives the batch a STABLE upper bound: every seq <= it
        is final, so the lazy executor read (which runs later than this
        planning call) sees exactly the planned row set — a row
        committing in between necessarily lands above the fence and
        waits for the next poll, which keeps the seq-named sink's
        replay idempotent. Sub-ranges are planned from row quantiles
        (pg_plan_balanced_bounds), so a sparse post-compaction seq
        space still spreads evenly across the N readers instead of
        degrading to serial. Each task opens its own session, so size
        N to the server's connection budget; on a real cluster the
        executors need `psql` and a conninfo they can reach."""
        lo = self.last_seq
        hi = self._safe_hi()
        if hi <= lo:
            self._pending_hi = None
            return spark.createDataFrame([], OUTBOX_BATCH_SCHEMA)
        bounds = pg_plan_balanced_bounds(self.runner, lo, hi, num_partitions)
        self._pending_hi = hi
        if not bounds:  # only abort gaps below the fence
            return spark.createDataFrame([], OUTBOX_BATCH_SCHEMA)
        conninfo = self.runner.conninfo
        columns = OUTBOX_BATCH_SCHEMA.fieldNames()

        def read_ranges(batches):
            import pandas as pd

            for pdf in batches:
                for range_lo, range_hi in pdf.itertuples(index=False):
                    rows = outbox_rows(PsqlRunner(conninfo), range_lo,
                                       range_hi)
                    if rows:
                        yield pd.DataFrame.from_records(rows,
                                                        columns=columns)

        return (
            spark.createDataFrame(bounds, "range_lo LONG, range_hi LONG")
            .repartition(len(bounds))
            .mapInPandas(read_ranges, OUTBOX_BATCH_SCHEMA)
        )

    def _persist(self) -> None:
        if self.consumer is not None:
            self.runner.sql(
                f"INSERT INTO {PG_OFFSET_TABLE} (consumer, last_seq) "
                f"VALUES ({_quote_lit(self.consumer)}, {int(self.last_seq)}) "
                "ON CONFLICT (consumer) DO UPDATE "
                "SET last_seq = excluded.last_seq;"
            )

    def advance(self) -> int:
        if self._pending_hi is not None:
            self.last_seq = self._pending_hi
            self._pending_hi = None
            self._persist()
        return self.last_seq

    def rewind(self, seq: int) -> int:
        self.last_seq = int(seq)
        self._pending_hi = None
        self._persist()
        return self.last_seq

    def compact(self) -> int:
        """Prune outbox rows below every consumer's durable offset
        (Kafka-style low-water retention; bootstrap sentinel excluded,
        same contract as LocalOutboxPoller.compact). `#reportfloor`
        rows are excluded too: the stream reader's report floor runs
        AHEAD of its query checkpoint (OutboxStreamReader), so it is a
        reporting watermark, never a delivery guarantee — retention
        keys on the reader's plain consumer row, advanced at commit()."""
        low = self.runner.scalar(
            f"SELECT MIN(last_seq) FROM {PG_OFFSET_TABLE} "
            f"WHERE {CONSUMER_ROWS_SQL}"
        )
        if low is None or int(low) <= 0:
            return 0
        n = self.runner.scalar(
            f"WITH d AS (DELETE FROM {OUTBOX_TABLE} "
            f"WHERE seq <= {int(low)} RETURNING 1) SELECT count(*) FROM d"
        )
        return int(n or 0)


def _quote_lit(s: str) -> str:
    """SQL string literal with doubled quotes — identifiers/consumer
    names only pass through here; payload data never does."""
    return "'" + s.replace("'", "''") + "'"


# -- bootstrap snapshot (CDC bootstrap-then-stream, PG flavor) ------------

BOOTSTRAP_CONSUMER = "daemon#bootstrap"


def pg_bootstrap_done(runner: PsqlRunner, marker: str = BOOTSTRAP_CONSUMER) -> bool:
    """`marker` scopes the bootstrap sentinel: the outbox and logical
    transports snapshot against DIFFERENT cursors (outbox seq vs slot
    creation point), so a bootstrap done on one transport must not
    satisfy the other (review finding: a shared marker silently
    skipped the logical snapshot after any earlier outbox bootstrap,
    permanently losing every pre-slot row from that output path)."""
    runner.sql(
        f"CREATE TABLE IF NOT EXISTS {PG_OFFSET_TABLE} ("
        "consumer TEXT PRIMARY KEY, last_seq BIGINT NOT NULL);"
    )
    return (
        runner.scalar(
            f"SELECT last_seq FROM {PG_OFFSET_TABLE} "
            f"WHERE consumer = {_quote_lit(marker)}"
        )
        is not None
    )


def pg_mark_bootstrap_done(runner: PsqlRunner, marker: str = BOOTSTRAP_CONSUMER) -> None:
    runner.sql(
        f"INSERT INTO {PG_OFFSET_TABLE} (consumer, last_seq) "
        f"VALUES ({_quote_lit(marker)}, 1) "
        "ON CONFLICT (consumer) DO NOTHING;"
    )


def pg_snapshot_batch(runner: PsqlRunner, spark, table_regexp: str | None = None,
                      snapshot_name: str | None = None):
    """Initial-state snapshot as synthetic INSERT outbox rows with
    negative seqs, mirroring outbox_local.snapshot_batch. Payload JSON
    is rendered server-side by to_json(t) — byte-identical to what the
    capture trigger would have emitted for the same row.

    `snapshot_name` anchors every table read at an EXPORTED snapshot
    (`SET TRANSACTION SNAPSHOT` inside REPEATABLE READ) — the logical
    transport's exactly-once bootstrap passes the slot's creation
    snapshot here (SlotSnapshotSession) so snapshot ∪ changelog
    partition history disjointly; without it each table reads its own
    read-committed snapshot (the outbox path, which fences instead)."""
    rows = pg_snapshot_rows(runner, table_regexp, snapshot_name)
    return spark.createDataFrame(rows, OUTBOX_BATCH_SCHEMA)


def pg_snapshot_rows(runner: PsqlRunner, table_regexp: str | None = None,
                     snapshot_name: str | None = None) -> list[tuple]:
    """`pg_snapshot_batch`'s row gatherer, factored (round 13) so the
    DataSource bootstrap — which runs where no SparkSession is
    available (the Python DataSource worker) — can dump the same
    synthetic INSERT rows to a durable spool instead of a DataFrame.
    Seqs are -n..-1 in (table, payload) sort order."""
    mgr = PgCaptureManager(runner, table_regexp=table_regexp)
    tables = mgr.discover_tables()
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    pre: tuple[str, ...] = ()
    if snapshot_name is not None:
        if not re.fullmatch(r"[0-9A-Fa-f-]+", snapshot_name):
            raise ValueError(f"bad snapshot name: {snapshot_name!r}")
        pre = ("BEGIN ISOLATION LEVEL REPEATABLE READ",
               f"SET TRANSACTION SNAPSHOT '{snapshot_name}'")
    rows = []
    for t in sorted(tables):
        ti = _check_ident(t)
        recs = runner.query_csv(
            f'SELECT to_json(t)::text AS payload, '
            f"(to_json(t) ->> 'id') AS id FROM \"{ti}\" t ORDER BY to_json(t)::text",
            pre_statements=pre,
        )
        for r in recs:
            rows.append((0, now, "public", t, "INSERT", r["id"], r["payload"], None))
    n = len(rows)
    return [(i - n, *r[1:]) for i, r in enumerate(rows)]


def pg_outbox_high_water(runner: PsqlRunner, fenced: bool = True,
                         fence_wait: float = 2.0) -> int:
    """Outbox high-water mark for the bootstrap switchover. `fenced`
    (default) returns PgSeqFence's safe ceiling instead of the visible
    MAX(seq): rewinding the poller to a seq an in-flight transaction
    could still commit below would skip that row forever (the same
    concurrent-writer race the poller fences). A fenced mark can only
    DOUBLE-deliver rows also caught by the snapshot, which the
    at-least-once contract and downstream seq-dedup already absorb."""
    if fenced:
        return PgSeqFence(runner).safe_seq(wait=fence_wait)
    return int(runner.scalar(f"SELECT COALESCE(MAX(seq), 0) FROM {OUTBOX_TABLE}") or 0)


# -- NOTIFY parity trigger (reference wire semantics, our rendering) ------

NOTIFY_CHANNEL = "pqstream_notify"

# The reference trigger's envelope + two-tier degradation
# (queries.go:26-47), re-expressed: json_build_object with the same six
# keys in the same order; tier 1 drops `previous` when the full
# envelope's text length >= 8000; tier 2 drops `payload` too. id is
# (payload -> 'id')::text — the reference's json_extract_path(payload,
# 'id')::text, which renders STRING ids with their JSON quotes (pinned
# behavior, divergence from the outbox's ->> documented in SURVEY.md).
NOTIFY_TRIGGER_FUNCTION_SQL = """
CREATE OR REPLACE FUNCTION pqstream_notify_parity() RETURNS TRIGGER AS $$
DECLARE
  payload JSON;
  previous JSON;
  notification JSON;
BEGIN
  IF TG_OP = 'DELETE' THEN
    payload := to_json(OLD);
  ELSE
    payload := to_json(NEW);
  END IF;
  IF TG_OP = 'UPDATE' THEN
    previous := to_json(OLD);
  END IF;
  notification := json_build_object(
      'schema', TG_TABLE_SCHEMA,
      'table', TG_TABLE_NAME,
      'op', TG_OP,
      'id', (payload -> 'id')::text,
      'payload', payload,
      'previous', previous);
  IF length(notification::text) >= 8000 THEN
    notification := json_build_object(
        'schema', TG_TABLE_SCHEMA,
        'table', TG_TABLE_NAME,
        'op', TG_OP,
        'id', (payload -> 'id')::text,
        'payload', payload);
  END IF;
  IF length(notification::text) >= 8000 THEN
    notification := json_build_object(
        'schema', TG_TABLE_SCHEMA,
        'table', TG_TABLE_NAME,
        'op', TG_OP,
        'id', (payload -> 'id')::text);
  END IF;
  PERFORM pg_notify('pqstream_notify', notification::text);
  RETURN NULL;
END;
$$ LANGUAGE plpgsql
""".strip()


# TRUNCATE on the NOTIFY wire: statement-level, one envelope per
# truncated table. Shape matches the reference's tier-2 degraded
# envelope (op + idents + id, nothing row-scoped — there is no row),
# with id null; op is the proto's Operation.TRUNCATE=4 name the
# reference's row-level trigger can never emit (queries.go:58-60).
NOTIFY_TRUNCATE_FUNCTION_SQL = """
CREATE OR REPLACE FUNCTION pqstream_notify_truncate() RETURNS TRIGGER AS $$
BEGIN
  PERFORM pg_notify('pqstream_notify', json_build_object(
      'schema', TG_TABLE_SCHEMA,
      'table', TG_TABLE_NAME,
      'op', TG_OP,
      'id', NULL)::text);
  RETURN NULL;
END;
$$ LANGUAGE plpgsql
""".strip()


def install_notify_trigger_sql(table: str) -> str:
    t = _check_ident(table)
    return (
        f'DROP TRIGGER IF EXISTS pqstream_notify_parity ON "{t}"; '
        f'CREATE TRIGGER pqstream_notify_parity '
        f'AFTER INSERT OR UPDATE OR DELETE ON "{t}" '
        f"FOR EACH ROW EXECUTE PROCEDURE pqstream_notify_parity(); "
        f'DROP TRIGGER IF EXISTS pqstream_notify_truncate ON "{t}"; '
        f'CREATE TRIGGER pqstream_notify_truncate '
        f'AFTER TRUNCATE ON "{t}" '
        f"FOR EACH STATEMENT EXECUTE PROCEDURE pqstream_notify_truncate()"
    )


_NOTIFY_RE = re.compile(
    r'Asynchronous notification "(?P<chan>[^"]+)" with payload '
    r'"(?P<payload>.*)" received from server process',
)


def capture_notifications(
    runner: PsqlRunner, script: str, channel: str = NOTIFY_CHANNEL
) -> list[str]:
    """Run `script` in a single psql session that LISTENs on `channel`
    first; return the NOTIFY payload texts psql reports. pg_notify
    delivery to the issuing session happens at commit, and psql prints
    each pending notification after the next command completes — so a
    trailing no-op SELECT flushes the last batch."""
    full = f"LISTEN {channel};\n{script}\nSELECT 1 AS notify_flush;\n"
    out = runner.sql(full)
    payloads = []
    for line in out.splitlines():
        m = _NOTIFY_RE.search(line)
        if m and m.group("chan") == channel:
            payloads.append(m.group("payload"))
    return payloads


def pg_fetch_row_by_id(
    runner: PsqlRunner, table: str, id_value: str,
    id_type: str = "integer", schema: str | None = None,
) -> str | None:
    """P3 fallback point lookup against LIVE Postgres — the
    reference's sqlFetchRowByID (`queries.go:62-64`, invoked at
    `server.go:194-212` when degradation dropped the payload but kept
    the id): re-SELECT the row and render it with row_to_json, the
    same serializer the trigger used, so a recovered payload is
    byte-identical to what an undegraded envelope would have carried.
    Returns None when the row no longer exists (DELETEs are
    unrecoverable — same reference behavior).

    String-id note: the NOTIFY envelope's id field is
    `(payload -> 'id')::text` — the JSON literal, so TEXT primary keys
    arrive WITH their JSON quotes ('"abc"'). Those are stripped here
    before the lookup; the reference itself never handles this (its
    fallback hardcodes `id = $1::integer`, server.go:26 — text ids
    are simply broken there), so this is a documented upgrade, not a
    divergence.

    `schema` (round 11, ADVICE r10): when given, the lookup is
    schema-qualified — required by the unchanged-TOAST resolution,
    whose envelope knows the schema and must never splice a same-named
    table's value resolved via search_path. Default None keeps the
    reference's unqualified resolution (queries.go:62-64 is itself
    unqualified) for the NOTIFY-parity path."""
    import json as _json

    t = _check_ident(table)
    qualified = f'"{t}"' if schema is None else f'"{_check_ident(schema)}"."{t}"'
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_ ]*", id_type):
        raise ValueError(f"bad id type: {id_type!r}")
    sid = str(id_value)
    if sid.startswith('"') and sid.endswith('"') and len(sid) >= 2:
        try:
            sid = _json.loads(sid)
        except (ValueError, TypeError):
            pass  # not a JSON string literal after all — use verbatim
    lit = _quote_lit(sid)
    return runner.scalar(
        f'SELECT row_to_json(r)::text FROM '
        f'(SELECT * FROM {qualified} WHERE id = {lit}::{id_type}) r'
    )


def remove_notify_trigger_sql(table: str) -> str:
    t = _check_ident(table)
    return (
        f'DROP TRIGGER IF EXISTS pqstream_notify_parity ON "{t}"; '
        f'DROP TRIGGER IF EXISTS pqstream_notify_truncate ON "{t}"'
    )


class PgNotifyCaptureManager:
    """Lifecycle for the fire-and-forget NOTIFY trigger — the daemon's
    `--transport notify` capture side, same remove-then-install
    contract as the outbox managers but installing the reference's
    wire (pg_notify envelope + two-tier degradation) instead of the
    durable outbox write."""

    def __init__(self, runner: PsqlRunner, table_regexp: str | None = None) -> None:
        self.runner = runner
        self.table_regexp = table_regexp

    def discover_tables(self) -> list[str]:
        rows = self.runner.query_csv(DISCOVER_TABLES_SQL)
        return filter_tables([r["table_name"] for r in rows],
                             self.table_regexp)

    def install(self) -> list[str]:
        tables = self.discover_tables()
        if not tables:
            raise RuntimeError("no tables match the table regexp")
        stmts = ["BEGIN", NOTIFY_TRIGGER_FUNCTION_SQL,
                 NOTIFY_TRUNCATE_FUNCTION_SQL]
        stmts += [install_notify_trigger_sql(t) for t in tables]
        stmts.append("COMMIT")
        self.runner.sql(";\n".join(stmts) + ";")
        return tables

    def remove(self) -> list[str]:
        tables = self.discover_tables()
        if tables:
            self.runner.sql(
                ";\n".join(remove_notify_trigger_sql(t) for t in tables) + ";"
            )
        return tables
