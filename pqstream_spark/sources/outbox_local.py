"""Local (sqlite) capture backend: the full trigger → outbox → poller
path, executable in-process with no Postgres.

The reference's capture side is only integration-tested against a live
database (/root/reference/server_test.go:110-257: throwaway DB per
case, scripted INSERT/UPDATE on a `notes` table, the event loop driven
under a deadline; DDL lifecycle at :362-406). No Postgres exists in
this environment, so this module re-creates that layer on sqlite3
(stdlib): real triggers fire on real writes, rows land in a real outbox
table ordered by a real autoincrement `seq`, and `LocalOutboxPoller`
reads bounded `(last_seq, last_seq+max_rows]` batches into a Spark
DataFrame with the exact schema `streaming/source.stream_changelog`
produces — so the downstream pipeline (parse → redact → merge-patch →
fan-out) runs unchanged against either backend.

Semantic parity notes (vs queries.go:10-53):
- payload is NEW for INSERT/UPDATE, OLD for DELETE (queries.go:17-21);
  previous is OLD only for UPDATE (queries.go:22-24); id is the text of
  the row's `id` column if present (queries.go:30).
- sqlite has no `to_jsonb(row)`, so each trigger enumerates the
  table's columns into `json_object(...)` — generated from
  PRAGMA table_info at install time (schema changes need reinstall,
  same as the reference's trigger lifecycle).
- sqlite fires one trigger per op, so install emits three triggers per
  table; remove drops all three. Install/remove are idempotent
  (DROP IF EXISTS first), mirroring installTrigger/removeTriggers
  (server.go:128-147,175-192).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .outbox import CONSUMER_ROWS_SQL, _check_ident, filter_tables

LOCAL_OUTBOX_TABLE = "pqstream_outbox"
LOCAL_OFFSET_TABLE = "pqstream_consumer_offset"

CREATE_LOCAL_OUTBOX_SQL = f"""
CREATE TABLE IF NOT EXISTS {LOCAL_OUTBOX_TABLE} (
  seq         INTEGER PRIMARY KEY AUTOINCREMENT,
  ts          TEXT NOT NULL DEFAULT (strftime('%Y-%m-%dT%H:%M:%fZ', 'now')),
  schema_name TEXT NOT NULL DEFAULT 'main',
  table_name  TEXT NOT NULL,
  op          TEXT NOT NULL CHECK (op IN ('INSERT', 'UPDATE', 'DELETE', 'TRUNCATE')),
  id          TEXT,
  payload     TEXT,
  previous    TEXT
)
""".strip()

# Excludes every engine-internal table (pqstream_%), not just the
# outbox: capturing pqstream_consumer_offset would make each offset
# write fire a trigger, land in the outbox, be consumed, advance the
# offset, fire again — an infinite feedback loop on any daemon
# restarted without a --tables filter.
DISCOVER_LOCAL_TABLES_SQL = """
SELECT name FROM sqlite_master
WHERE type = 'table' AND name NOT LIKE 'sqlite_%' AND name NOT LIKE 'pqstream_%'
""".strip()

# what the poller hands to Spark — identical to the streaming changelog
# envelope (model.RAW_EVENT_SCHEMA shape) so the pipeline is shared
OUTBOX_BATCH_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("schema_name", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("payload_json", T.StringType()),
        T.StructField("previous_json", T.StringType()),
    ]
)


def outbox_rows(conn, lo: int, hi: int) -> list[tuple]:
    """The outbox rows with lo < seq <= hi in seq order, as
    OUTBOX_BATCH_SCHEMA tuples — the one range read of the sqlite
    outbox, shared by LocalOutboxPoller and the pqstream_outbox
    DataSource partitions."""
    from datetime import datetime

    cur = conn.execute(
        f"SELECT seq, ts, schema_name, table_name, op, id, "
        f"payload, previous FROM {LOCAL_OUTBOX_TABLE} "
        f"WHERE seq > ? AND seq <= ? ORDER BY seq",
        (lo, hi),
    )
    return [
        (int(seq),
         datetime.fromisoformat(ts.replace("Z", "+00:00")).replace(tzinfo=None),
         schema_name, table_name, op, id_, payload, previous)
        for seq, ts, schema_name, table_name, op, id_, payload, previous
        in cur.fetchall()
    ]


def _json_object(cols: list[str], rowref: str) -> str:
    pairs = ", ".join(f"'{c}', {rowref}.\"{c}\"" for c in cols)
    return f"json_object({pairs})"


def _id_expr(cols: list[str], rowref: str) -> str:
    # queries.go:30: id is the text rendering of the row's id column if
    # one exists, else NULL
    return f'CAST({rowref}."id" AS TEXT)' if "id" in cols else "NULL"


def local_trigger_sql(table: str, cols: list[str]) -> list[str]:
    """Three per-op triggers with the reference's OLD/NEW selection."""
    t = _check_ident(table)
    new_json = _json_object(cols, "NEW")
    old_json = _json_object(cols, "OLD")
    stmts = []
    for op, payload, previous, idref in (
        ("INSERT", new_json, "NULL", _id_expr(cols, "NEW")),
        ("UPDATE", new_json, old_json, _id_expr(cols, "NEW")),
        ("DELETE", old_json, "NULL", _id_expr(cols, "OLD")),
    ):
        name = f"pqstream_outbox_{op.lower()}_{t}"
        stmts.append(f'DROP TRIGGER IF EXISTS "{name}"')
        stmts.append(
            f'CREATE TRIGGER "{name}" AFTER {op} ON "{t}" FOR EACH ROW '
            f"BEGIN INSERT INTO {LOCAL_OUTBOX_TABLE} "
            f"(table_name, op, id, payload, previous) "
            f"VALUES ('{t}', '{op}', {idref}, {payload}, {previous}); END"
        )
    return stmts


def local_remove_trigger_sql(table: str) -> list[str]:
    t = _check_ident(table)
    return [
        f'DROP TRIGGER IF EXISTS "pqstream_outbox_{op}_{t}"'
        for op in ("insert", "update", "delete")
    ]


class LocalCaptureManager:
    """sqlite trigger lifecycle — same contract as PgCaptureManager:
    remove-then-install startup (cmd/pqsd/main.go:95-102), install with
    zero matching tables is an error (server.go:136-139)."""

    def __init__(self, conn, table_regexp: str | None = None) -> None:
        self.conn = conn
        self.table_regexp = table_regexp

    def discover_tables(self) -> list[str]:
        cur = self.conn.execute(DISCOVER_LOCAL_TABLES_SQL)
        names = [r[0] for r in cur.fetchall()]
        return filter_tables(names, self.table_regexp)

    def _columns(self, table: str) -> list[str]:
        cur = self.conn.execute(f'PRAGMA table_info("{_check_ident(table)}")')
        return [r[1] for r in cur.fetchall()]

    def install(self) -> list[str]:
        tables = self.discover_tables()
        if not tables:
            raise RuntimeError("no tables match the table regexp")
        self.conn.execute(CREATE_LOCAL_OUTBOX_SQL)
        for t in tables:
            for stmt in local_trigger_sql(t, self._columns(t)):
                self.conn.execute(stmt)
        self.conn.commit()
        return tables

    def remove(self) -> list[str]:
        tables = self.discover_tables()
        for t in tables:
            for stmt in local_remove_trigger_sql(t):
                self.conn.execute(stmt)
        self.conn.commit()
        return tables


BOOTSTRAP_CONSUMER = "daemon#bootstrap"


def bootstrap_done(conn) -> bool:
    """Has the initial snapshot already been emitted? Tracked as a
    sentinel row in the offset table, written AFTER the snapshot is
    durably sunk — a crash mid-snapshot re-bootstraps, and the
    seq-named idempotent sink rewrites the same files."""
    conn.execute(
        f"CREATE TABLE IF NOT EXISTS {LOCAL_OFFSET_TABLE} ("
        "consumer TEXT PRIMARY KEY, last_seq INTEGER NOT NULL)"
    )
    row = conn.execute(
        f"SELECT last_seq FROM {LOCAL_OFFSET_TABLE} WHERE consumer = ?",
        (BOOTSTRAP_CONSUMER,),
    ).fetchone()
    return row is not None


def mark_bootstrap_done(conn) -> None:
    conn.execute(
        f"INSERT INTO {LOCAL_OFFSET_TABLE} (consumer, last_seq) "
        "VALUES (?, 1) ON CONFLICT(consumer) DO NOTHING",
        (BOOTSTRAP_CONSUMER,),
    )
    conn.commit()


def snapshot_batch(conn, spark: SparkSession, table_regexp: str | None = None) -> DataFrame:
    """Initial-state snapshot as synthetic INSERT outbox rows — the
    bootstrap half of the classic CDC bootstrap-then-stream pattern
    the reference cannot express (NOTIFY starts mid-stream; rows that
    existed before the listener connected are simply never seen,
    server.go:98-109). Sequencing: snapshot rows get NEGATIVE seqs
    (-n..-1, ordered by (table, rowid)) so they sort strictly before
    every real changelog seq and can never collide with outbox rows.
    payload JSON mirrors the trigger's json_object(column, value...)
    rendering, so downstream parsing is identical."""
    import json as _json
    from datetime import datetime, timezone

    mgr = LocalCaptureManager(conn, table_regexp=table_regexp)
    tables = mgr.discover_tables()
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    rows = []
    for t in sorted(tables):
        cols = [r[1] for r in conn.execute(f'PRAGMA table_info("{_check_ident(t)}")')]
        col_list = ", ".join(f'"{c}"' for c in cols)
        for r in conn.execute(
            f'SELECT {col_list} FROM "{_check_ident(t)}" ORDER BY rowid'
        ):
            payload = dict(zip(cols, r))
            rows.append(
                (
                    0,  # seq assigned below, once the total is known
                    now,
                    "main",
                    t,
                    "INSERT",
                    str(payload["id"]) if "id" in payload else None,
                    _json.dumps(payload),
                    None,
                )
            )
    n = len(rows)
    rows = [(i - n, *r[1:]) for i, r in enumerate(rows)]
    return spark.createDataFrame(rows, OUTBOX_BATCH_SCHEMA)


def raw_events_from_outbox(df: DataFrame) -> DataFrame:
    """Outbox batch → RawEvent frame (model.RAW_EVENT_SCHEMA): derive
    the map<string,string> projections from the JSON text so the shared
    pipeline (pipeline.handle_events: redact → merge-patch → filter)
    runs unchanged on outbox-sourced batches. Narrow, codegen'd."""
    from pyspark.sql import functions as F

    from ..model import MAP_SS

    return df.select(
        "seq",
        "ts",
        "schema_name",
        "table_name",
        "op",
        "id",
        F.from_json("payload_json", MAP_SS).alias("payload"),
        F.from_json("previous_json", MAP_SS).alias("previous"),
        "payload_json",
        "previous_json",
    )


@dataclass
class LocalOutboxPoller:
    """Bounded incremental reads of the sqlite outbox over DB-API.

    The micro-batch contract matches PgOutboxPoller (sources/outbox_pg.py):
    each call reads (last_seq, last_seq + max_rows]; the caller commits
    the batch downstream, then `advance()`s the high-water mark —
    restart-from-checkpoint is re-creating the poller with the stored
    `last_seq` (at-least-once: an uncommitted batch is re-read).
    """

    conn: object
    max_rows: int = 100_000
    last_seq: int = 0
    consumer: str | None = None  # set → advance() persists the offset
    _pending_hi: int | None = field(default=None, repr=False)

    @classmethod
    def open_durable(
        cls, conn, consumer: str = "daemon", max_rows: int = 100_000
    ) -> "LocalOutboxPoller":
        """Poller whose high-water mark survives a process crash.

        The offset lives in the SAME sqlite database as the outbox
        (one row per consumer name), written by `advance()` after the
        batch is durably sunk. A SIGKILL between sink and advance
        replays that batch on restart — at-least-once, which the
        idempotent seq-named sink (streaming/sinks.jsonl_seq_writer)
        collapses to exactly-once effect. This is the recovery story
        the reference lacks entirely: NOTIFY delivery is
        fire-and-forget (server.go:249-315), a crashed pqsd loses
        every event that fired while it was down."""
        conn.execute(
            f"CREATE TABLE IF NOT EXISTS {LOCAL_OFFSET_TABLE} ("
            "consumer TEXT PRIMARY KEY, last_seq INTEGER NOT NULL)"
        )
        conn.commit()
        row = conn.execute(
            f"SELECT last_seq FROM {LOCAL_OFFSET_TABLE} WHERE consumer = ?",
            (consumer,),
        ).fetchone()
        if row is None:
            # register at 0 immediately: compaction's low-water mark
            # only protects consumers it can SEE, so a consumer is
            # protected from its first connect, not its first batch.
            # (A consumer that has never connected is not protected —
            # Kafka-style retention semantics: attach after compaction
            # and you start from the retained data.)
            conn.execute(
                f"INSERT INTO {LOCAL_OFFSET_TABLE} (consumer, last_seq) "
                "VALUES (?, 0)",
                (consumer,),
            )
            conn.commit()
        return cls(
            conn,
            max_rows=max_rows,
            last_seq=int(row[0]) if row else 0,
            consumer=consumer,
        )

    def read_batch(self, spark: SparkSession) -> DataFrame:
        rows = outbox_rows(self.conn, self.last_seq,
                           self.last_seq + self.max_rows)
        self._pending_hi = rows[-1][0] if rows else None
        return spark.createDataFrame(rows, OUTBOX_BATCH_SCHEMA)

    def compact(self) -> int:
        """Prune outbox rows every registered consumer has durably
        consumed (seq <= the minimum persisted offset). The outbox is
        append-only and would otherwise grow without bound; compaction
        trades replay depth for space, which is why the daemon only
        runs it behind --compact. Returns rows deleted.

        Retention contract (Kafka-style): the low-water mark protects
        every consumer that has EVER connected (open_durable registers
        at 0 on first connect); a consumer attaching after compaction
        starts from the retained data. The bootstrap sentinel is not a
        consumer and is excluded from the mark."""
        row = self.conn.execute(
            f"SELECT MIN(last_seq) FROM {LOCAL_OFFSET_TABLE} "
            f"WHERE {CONSUMER_ROWS_SQL}"
        ).fetchone()
        low = row[0] if row else None
        if low is None or low <= 0:
            return 0
        cur = self.conn.execute(
            f"DELETE FROM {LOCAL_OUTBOX_TABLE} WHERE seq <= ?", (low,)
        )
        self.conn.commit()
        return cur.rowcount

    def rewind(self, seq: int) -> int:
        """Reset the high-water mark to `seq` (replay support: events
        with seq > `seq` are re-read on the next batch). Persisted
        immediately for durable pollers so a crash mid-replay resumes
        the replay, not the old offset."""
        self.last_seq = int(seq)
        self._pending_hi = None
        if self.consumer is not None:
            self.conn.execute(
                f"INSERT INTO {LOCAL_OFFSET_TABLE} (consumer, last_seq) "
                "VALUES (?, ?) ON CONFLICT(consumer) "
                "DO UPDATE SET last_seq = excluded.last_seq",
                (self.consumer, self.last_seq),
            )
            self.conn.commit()
        return self.last_seq

    def advance(self) -> int:
        """Commit the high-water mark after the batch is durably sunk.
        Durable pollers (open_durable) persist it transactionally in
        the source database; crash-before-advance replays the batch."""
        if self._pending_hi is not None:
            self.last_seq = self._pending_hi
            self._pending_hi = None
            if self.consumer is not None:
                self.conn.execute(
                    f"INSERT INTO {LOCAL_OFFSET_TABLE} (consumer, last_seq) "
                    "VALUES (?, ?) ON CONFLICT(consumer) "
                    "DO UPDATE SET last_seq = excluded.last_seq",
                    (self.consumer, self.last_seq),
                )
                self.conn.commit()
        return self.last_seq
