"""Capture side: Postgres triggers → outbox table → incremental reads
(SURVEY.md §2 S1/S3/S4/S5, §7 M2).

The reference's trigger serializes each mutated row to JSON and
pg_notify's it (`/root/reference/queries.go:10-53`) — fire-and-forget,
lost on disconnect. Ours writes to an append-only **outbox** table with
a monotonic `seq bigserial`; the streaming side reads `seq >
last_committed` per micro-batch and checkpoints the high-water mark:
at-least-once with replay, strictly better delivery than the
reference's at-most-once (documented divergence, SURVEY.md §7).

Design split:
- SQL text generation: pure functions, unit-tested without a database.
- Execution: `outbox_pg.PgCaptureManager` runs this DDL on a live
  server and `outbox_pg.PgOutboxPoller` reads fenced, bounded batches
  (`--parallel-read N` is the executor-side scale path);
  `outbox_local` is the sqlite twin of both. DDL setup is a utility,
  exactly as in the reference (daemon startup,
  cmd/pqsd/main.go:95-102).
- Offset rows: `offset_row_kind` / `CONSUMER_ROWS_SQL` are the one rule
  for which rows of an offset table are real delivery consumers.
"""

from __future__ import annotations

import re

OUTBOX_TABLE = "pqstream_outbox"

# mirrors the notification envelope built at queries.go:26-32, plus seq/ts.
# payload/previous are JSON (not JSONB) on purpose: the reference
# serializes with row_to_json (queries.go:17-21), whose text rendering is
# compact ({"id":1,...}) and preserves the table's column order; jsonb
# re-orders keys and re-spaces, which would break byte-parity between an
# outbox-sourced envelope and the reference's NOTIFY text (verified on
# live PG 15: to_jsonb(p)::text reorders by key length, to_json(p)::text
# equals row_to_json(p)::text byte-for-byte).
CREATE_OUTBOX_SQL = f"""
CREATE TABLE IF NOT EXISTS {OUTBOX_TABLE} (
  seq         BIGSERIAL PRIMARY KEY,
  ts          TIMESTAMPTZ NOT NULL DEFAULT now(),
  schema_name TEXT NOT NULL,
  table_name  TEXT NOT NULL,
  op          TEXT NOT NULL CONSTRAINT {OUTBOX_TABLE}_op_check
              CHECK (op IN ('INSERT', 'UPDATE', 'DELETE', 'TRUNCATE')),
  id          TEXT,
  payload     JSON,
  previous    JSON,
  xid         BIGINT NOT NULL DEFAULT pg_current_xact_id()::text::bigint
)
""".strip()

# The writer's xid, carried for free by the column DEFAULT (evaluated
# inside the writing transaction — the trigger and direct INSERTs both
# get it without touching the trigger body). It lets a consumer
# keep transactions whose seqs straddle a fenced batch ceiling whole
# (the transaction-boundary rule, `txn_ceiling` in sources/outbox_pg.py):
# the reference's NOTIFY is per-row with no transaction identity at all,
# so this is strictly additive. Legacy outboxes get the column via ADD
# COLUMN (volatile default → PG rewrites the table, stamping historical
# rows with the migration's own xid — meaningless for old rows,
# harmless: the rule only reasons about xids present in a read window,
# and each historical row carries its own migration-time xid).
MIGRATE_OUTBOX_XID_SQL = (
    f"ALTER TABLE {OUTBOX_TABLE} ADD COLUMN IF NOT EXISTS xid BIGINT "
    "NOT NULL DEFAULT pg_current_xact_id()::text::bigint"
)

# CREATE TABLE IF NOT EXISTS will not retype or re-constrain an outbox
# created by an earlier DDL generation; installs run these against
# legacy outboxes so the op domain (TRUNCATE, round 8) is current. The
# payload/previous JSON-vs-JSONB type is VERIFIED instead (fail loudly:
# silently keeping jsonb would defeat the row_to_json byte-parity the
# json type exists for and evade the golden-pin tests) — see
# PgCaptureManager.install.
MIGRATE_OUTBOX_OP_CHECK_SQL = [
    f"ALTER TABLE {OUTBOX_TABLE} DROP CONSTRAINT IF EXISTS "
    f"{OUTBOX_TABLE}_op_check",
    f"ALTER TABLE {OUTBOX_TABLE} ADD CONSTRAINT {OUTBOX_TABLE}_op_check "
    "CHECK (op IN ('INSERT', 'UPDATE', 'DELETE', 'TRUNCATE'))",
]

# The seq claim (nextval) and the writer's xid assignment are not
# atomically ordered for a transaction whose FIRST write is the outbox
# INSERT itself: column defaults evaluate before heap_insert assigns
# the xid, so for a sub-statement window a seq is claimed by a
# transaction that has no xid yet — invisible to PgSeqFence's
# assigned-xid bound. The trigger path never hits this (the user-table
# heap write precedes the AFTER trigger), but direct outbox INSERTs
# could. The claim function closes the window STRUCTURALLY for every
# writer: xid assignment is forced BEFORE nextval returns, so every
# claimer's xid exists — and is therefore below any later-assigned
# fence bound — by the time its claim is visible in last_value.
CLAIM_SEQ_FUNCTION_SQL = f"""
CREATE OR REPLACE FUNCTION pqstream_claim_seq() RETURNS BIGINT AS $$
BEGIN
  PERFORM pg_current_xact_id();
  RETURN nextval('{OUTBOX_TABLE}_seq_seq');
END;
$$ LANGUAGE plpgsql
""".strip()

MIGRATE_OUTBOX_SEQ_DEFAULT_SQL = (
    f"ALTER TABLE {OUTBOX_TABLE} ALTER COLUMN seq "
    "SET DEFAULT pqstream_claim_seq()"
)

# Legacy-outbox type check shared by every install path (ADVICE r7/r9):
# a jsonb outbox must fail loudly BEFORE triggers attach — jsonb's
# key-reordered rendering silently defeats row_to_json byte-parity.
VERIFY_OUTBOX_JSON_TYPE_SQL = (
    "SELECT column_name, data_type FROM information_schema.columns "
    f"WHERE table_schema = 'public' AND table_name = '{OUTBOX_TABLE}' "
    "AND column_name IN ('payload', 'previous')"
)


def outbox_jsonb_error(bad_columns: list[str]) -> RuntimeError:
    return RuntimeError(
        f"legacy {OUTBOX_TABLE} has {'/'.join(sorted(bad_columns))} typed "
        "jsonb (re-ordered rendering breaks row_to_json parity); "
        f"migrate with: ALTER TABLE {OUTBOX_TABLE} ALTER COLUMN "
        "payload TYPE json USING payload::text::json (and likewise "
        "previous), or drop and reinstall"
    )

# Trigger function: same OLD/NEW selection as the reference trigger —
# payload is NEW for INSERT/UPDATE and OLD for DELETE (queries.go:17-21),
# previous is OLD only for UPDATE (queries.go:22-24), id is the text of
# the row's id field if present (queries.go:30). to_json (the json type,
# equal to the reference's row_to_json on a row variable) keeps the
# compact column-ordered rendering. No 8 KB degradation: the outbox has
# no NOTIFY size cap (S2 kept as an optional transform).
TRIGGER_FUNCTION_SQL = f"""
CREATE OR REPLACE FUNCTION pqstream_outbox_capture() RETURNS TRIGGER AS $$
DECLARE
  row_json JSON;
  prev_json JSON;
BEGIN
  IF TG_OP = 'DELETE' THEN
    row_json := to_json(OLD);
  ELSE
    row_json := to_json(NEW);
  END IF;
  IF TG_OP = 'UPDATE' THEN
    prev_json := to_json(OLD);
  END IF;
  INSERT INTO {OUTBOX_TABLE} (schema_name, table_name, op, id, payload, previous)
  VALUES (TG_TABLE_SCHEMA, TG_TABLE_NAME, TG_OP, row_json ->> 'id', row_json, prev_json);
  RETURN NULL;
END;
$$ LANGUAGE plpgsql
""".strip()

# queries.go:3-9 plus one deviation the outbox upgrade forces: the
# reference is NOTIFY-only and owns no tables, but this engine's
# capture side creates pqstream_% tables in the same schema —
# capturing them would make every outbox/offset write fire the
# trigger again (infinite feedback), so engine-internal tables are
# excluded from discovery.
DISCOVER_TABLES_SQL = """
SELECT table_name FROM information_schema.tables
WHERE table_schema = 'public' AND table_type = 'BASE TABLE'
  AND table_name NOT LIKE 'pqstream_%'
""".strip()


def _check_ident(table: str) -> str:
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
        raise ValueError(f"invalid table identifier: {table!r}")
    return table


# TRUNCATE capture — the dead quadrant of the reference's wire contract
# (round 8): its proto declares Operation.TRUNCATE = 4
# (pqstream.proto:23) but its row-level trigger can never fire it
# (queries.go:58-60 is AFTER INSERT OR UPDATE OR DELETE; TRUNCATE fires
# no row-level triggers at all). Postgres supports STATEMENT-level
# AFTER TRUNCATE triggers: one envelope per truncated table, no row, no
# payload — the same shape as a tier-2-degraded envelope (op + idents,
# everything row-scoped NULL). Downstream, CDC materialization folds it
# as delete-all for the table (operators/materialize.py).
TRUNCATE_TRIGGER_FUNCTION_SQL = f"""
CREATE OR REPLACE FUNCTION pqstream_outbox_truncate() RETURNS TRIGGER AS $$
BEGIN
  INSERT INTO {OUTBOX_TABLE} (schema_name, table_name, op, id, payload, previous)
  VALUES (TG_TABLE_SCHEMA, TG_TABLE_NAME, 'TRUNCATE', NULL, NULL, NULL);
  RETURN NULL;
END;
$$ LANGUAGE plpgsql
""".strip()


def install_trigger_sql(table: str) -> str:
    """Idempotent per-table install — parity with installTrigger
    (server.go:128-147 / queries.go:57-61), plus the statement-level
    TRUNCATE companion the reference's enum promises but its trigger
    cannot deliver."""
    t = _check_ident(table)
    return (
        f'DROP TRIGGER IF EXISTS pqstream_outbox_trigger ON "{t}"; '
        f'CREATE TRIGGER pqstream_outbox_trigger '
        f'AFTER INSERT OR UPDATE OR DELETE ON "{t}" '
        f"FOR EACH ROW EXECUTE PROCEDURE pqstream_outbox_capture(); "
        f'DROP TRIGGER IF EXISTS pqstream_outbox_truncate_trigger ON "{t}"; '
        f'CREATE TRIGGER pqstream_outbox_truncate_trigger '
        f'AFTER TRUNCATE ON "{t}" '
        f"FOR EACH STATEMENT EXECUTE PROCEDURE pqstream_outbox_truncate()"
    )


def remove_trigger_sql(table: str) -> str:
    t = _check_ident(table)
    return (
        f'DROP TRIGGER IF EXISTS pqstream_outbox_trigger ON "{t}"; '
        f'DROP TRIGGER IF EXISTS pqstream_outbox_truncate_trigger ON "{t}"'
    )


def filter_tables(names: list[str], table_regexp: str | None) -> list[str]:
    """Server-level table filter (server.go:149-166): which tables get
    capture triggers at all — pushdown to capture time."""
    if table_regexp is None:
        return list(names)
    pat = re.compile(table_regexp)
    return [n for n in names if pat.search(n)]


# Offset-table rows that are not delivery consumers, as (kind, LIKE
# pattern on the consumer name): bootstrap sentinels, stream-reader
# report floors (a reporting watermark that runs ahead of the reader's
# checkpoint, never a delivery guarantee), leases, and the logical
# transport's seq/LSN anchors (a different number space). Outbox
# retention keys on the remaining rows only.
_NOT_CONSUMER = (
    ("bootstrap", "%#bootstrap"),
    ("reportfloor", "%#reportfloor"),
    ("lease", "%#lease"),
    ("logical", "%#logical%"),
)

# SQL predicate over an offset table's `consumer` column: true exactly
# for the rows offset_row_kind calls 'consumer'
CONSUMER_ROWS_SQL = " AND ".join(
    f"consumer NOT LIKE '{pattern}'" for _, pattern in _NOT_CONSUMER
)


def offset_row_kind(consumer: str) -> str:
    """'consumer' for a real delivery consumer's offset row, else the
    _NOT_CONSUMER kind its name matches (first match wins)."""
    for kind, pattern in _NOT_CONSUMER:
        if re.fullmatch(re.escape(pattern).replace("%", ".*"), consumer):
            return kind
    return "consumer"
