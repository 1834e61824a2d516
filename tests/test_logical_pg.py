"""Logical-replication capture backend on LIVE PostgreSQL (round-9
lead item): replication slot + test_decoding replacing the trigger
outbox — commit-ordered by construction (NO fence on this path),
transaction-atomic batches, ~zero write amplification, TRUNCATE decoded
natively. Reference anchor: S5, server.go:258-281."""

from __future__ import annotations

import json
import os
import subprocess

import pytest

from pqstream_spark.sources.logical_pg import (
    PgLogicalCaptureManager,
    PgLogicalPoller,
    parse_change_line,
    recv_changes_walsender,
)
from pqstream_spark.sources.outbox_pg import (
    EphemeralPostgres,
    PgCaptureManager,
    PgOutboxPoller,
    pg_available,
)

pytestmark = pytest.mark.skipif(
    not pg_available(), reason="PostgreSQL server binaries not installed"
)

NOTES_DDL = "CREATE TABLE notes (id serial PRIMARY KEY, created_at timestamp, note text)"


@pytest.fixture(scope="module")
def pg():
    srv = EphemeralPostgres.temp("pq_logical_")
    srv.initdb()
    srv.start()
    yield srv
    srv.destroy()


def _fresh(pg, name, slot=None):
    # slot names are cluster-global; one slot per test database
    r = pg.createdb(name)
    r.sql(NOTES_DDL + ";")
    mgr = PgLogicalCaptureManager(r, slot=slot or f"pq_{name}",
                                  table_regexp="notes")
    assert mgr.install() == ["notes"]
    return r, mgr


# -- parser units (no database) -------------------------------------------


def test_parse_insert_quoting_horrors():
    line = ("table public.notes: INSERT: id[integer]:7 "
            "note[text]:'qu''ote, comma new-tuple: [brackets]' "
            "val[double precision]:1.5 flag[boolean]:true gone[text]:null")
    (schema, table, op, row_id, payload, previous), = parse_change_line(line)
    assert (schema, table, op, row_id) == ("public", "notes", "INSERT", "7")
    assert previous is None
    obj = json.loads(payload)
    assert obj == {
        "id": 7,
        "note": "qu'ote, comma new-tuple: [brackets]",
        "val": 1.5,
        "flag": True,
        "gone": None,
    }
    # column order preserved (row_to_json convention)
    assert list(obj) == ["id", "note", "val", "flag", "gone"]


def test_parse_array_typed_columns():
    """Array types render with nested brackets (`tags[integer[]]:`);
    the review caught the original column regex truncating the payload
    at the first array column — every later column silently vanished."""
    line = ("table public.notes: INSERT: id[integer]:1 "
            "tags[integer[]]:'{1,2}' note[text]:'after-array'")
    (_, _, _, _, payload, _), = parse_change_line(line)
    assert json.loads(payload) == {
        "id": 1, "tags": "{1,2}", "note": "after-array"}


def test_parse_update_sections_and_delete_truncate():
    upd = ("table public.notes: UPDATE: "
           "old-key: id[integer]:1 note[text]:'old' "
           "new-tuple: id[integer]:1 note[text]:'new'")
    (_, _, op, row_id, payload, previous), = parse_change_line(upd)
    assert op == "UPDATE" and row_id == "1"
    assert json.loads(payload) == {"id": 1, "note": "new"}
    assert json.loads(previous) == {"id": 1, "note": "old"}

    dele = "table public.notes: DELETE: id[integer]:2 note[text]:'bye'"
    (_, _, op, row_id, payload, previous), = parse_change_line(dele)
    assert op == "DELETE" and row_id == "2" and previous is None
    assert json.loads(payload) == {"id": 2, "note": "bye"}

    trunc = "table public.notes: TRUNCATE: (no-flags)"
    (schema, table, op, row_id, payload, previous), = parse_change_line(trunc)
    assert (op, row_id, payload, previous) == ("TRUNCATE", None, None, None)

    # multi-table TRUNCATE: ONE decoded line names every table — each
    # must get its own delete-all envelope (review finding: the naive
    # split mangled the names and no marker ever fired)
    multi = "table public.a, public.b: TRUNCATE: (no-flags)"
    envs = parse_change_line(multi)
    assert [(e[0], e[1], e[2]) for e in envs] == [
        ("public", "a", "TRUNCATE"), ("public", "b", "TRUNCATE")]

    assert parse_change_line("message: whatever") == []


# -- golden e2e ------------------------------------------------------------


def test_logical_golden_envelope_e2e(pg, spark):
    """INSERT/UPDATE/DELETE/TRUNCATE through the slot → the exact
    outbox envelope multiset, seqs dense 1..n in commit order, UPDATE
    carrying previous (REPLICA IDENTITY FULL), DELETE carrying the OLD
    payload, TRUNCATE idents-only."""
    r, mgr = _fresh(pg, "logi_golden")
    r.sql(
        "INSERT INTO notes VALUES (default, '2020-01-02T03:04:05', 'hello');"
        "UPDATE notes SET note = 'world' WHERE id = 1;"
        "INSERT INTO notes VALUES (default, NULL, E'qu''ote, comma');"
        "DELETE FROM notes WHERE id = 2;"
        "TRUNCATE notes;"
    )
    p = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c")
    rows = sorted(p.read_batch(spark).collect(), key=lambda x: x.seq)
    p.advance()
    assert [row.seq for row in rows] == [1, 2, 3, 4, 5]
    assert [row.op for row in rows] == [
        "INSERT", "UPDATE", "INSERT", "DELETE", "TRUNCATE"]
    assert all(row.schema_name == "public" and row.table_name == "notes"
               for row in rows)
    ins, upd, ins2, dele, trunc = rows
    # timestamps normalized to row_to_json's ISO-8601 'T' form
    assert json.loads(ins.payload_json) == {
        "id": 1, "created_at": "2020-01-02T03:04:05", "note": "hello"}
    assert ins.id == "1" and ins.previous_json is None
    assert json.loads(upd.payload_json)["note"] == "world"
    assert json.loads(upd.previous_json)["note"] == "hello"
    assert json.loads(ins2.payload_json)["note"] == "qu'ote, comma"
    assert json.loads(ins2.payload_json)["created_at"] is None
    # DELETE payload = OLD row (reference queries.go:17-21 semantics)
    assert json.loads(dele.payload_json)["id"] == 2
    assert dele.previous_json is None
    assert (trunc.id, trunc.payload_json, trunc.previous_json) == (
        None, None, None)
    assert all(row.ts is not None for row in rows)  # commit timestamps
    # fully drained
    assert p.read_batch(spark).count() == 0


def test_logical_payload_parity_with_outbox_trigger(pg, spark):
    """The SAME writes through the trigger outbox and the logical slot
    must produce semantically identical envelopes (payload/previous as
    parsed JSON, op, id) — downstream operators are backend-agnostic."""
    r, mgr = _fresh(pg, "logi_parity")
    PgCaptureManager(r, table_regexp="notes").install()
    r.sql(
        "INSERT INTO notes VALUES (default, '2021-05-06T07:08:09', 'x');"
        "UPDATE notes SET note = NULL WHERE id = 1;"
        "DELETE FROM notes WHERE id = 1;"
    )
    out = PgOutboxPoller.open_durable(r, consumer="ob", fence_wait=2.0)
    ob_rows = sorted(out.read_batch(spark).collect(), key=lambda x: x.seq)
    lg = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="lg")
    lg_rows = sorted(lg.read_batch(spark).collect(), key=lambda x: x.seq)
    # the trigger path also captured the offset-table bookkeeping? No:
    # engine tables are excluded from discovery; both see 3 user events
    assert len(ob_rows) == len(lg_rows) == 3

    def norm(row):
        # null-valued keys dropped on both sides: test_decoding omits
        # NULL columns from OLD tuples while row_to_json keeps them
        # (parse_change_line docstring) — map consumers see both as
        # NULL, so parity is over the non-null content
        def load(s):
            if s is None:
                return None
            return {k: v for k, v in json.loads(s).items() if v is not None}

        return (row.op, row.id, load(row.payload_json),
                load(row.previous_json))

    assert [norm(a) for a in ob_rows] == [norm(b) for b in lg_rows]


# -- commit order WITHOUT a fence -------------------------------------------


def test_logical_commit_order_no_fence(pg, spark):
    """The exact interleaving that forced PgSeqFence on the outbox path
    (writer A writes first / commits last): logical decoding delivers B
    then A — commit order by construction — and a drain between the two
    commits delivers B without ever losing A."""
    r, mgr = _fresh(pg, "logi_order")
    conninfo = pg.conninfo("logi_order")
    pa = subprocess.Popen(
        ["psql", conninfo, "-X", "-q", "-v", "ON_ERROR_STOP=1", "-f", "-"],
        stdin=subprocess.PIPE, text=True, cwd="/tmp",
    )
    pa.stdin.write("BEGIN;\nINSERT INTO notes VALUES (100, now(), 'A');\n")
    pa.stdin.flush()
    import time
    time.sleep(0.4)
    r.sql("INSERT INTO notes VALUES (200, now(), 'B');")

    p = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c")
    mid = p.read_batch(spark).collect()
    p.advance()
    assert [json.loads(x.payload_json)["id"] for x in mid] == [200]

    pa.stdin.write("COMMIT;\n")
    pa.stdin.close()
    pa.wait()
    rest = p.read_batch(spark).collect()
    p.advance()
    assert [json.loads(x.payload_json)["id"] for x in rest] == [100]
    assert [x.seq for x in mid + rest] == [1, 2]


def test_logical_randomized_multi_writer_stress(pg, spark):
    """The randomized 4-writer stress that caught the xmax fence bug,
    on the logical path — with NO fence logic anywhere: every committed
    row delivered exactly once, rollbacks never delivered, seqs dense
    and strictly increasing in commit order."""
    import random

    import tests.test_outbox_pg as ob

    rng = random.Random(0xC0FFEE)
    r, mgr = _fresh(pg, "logi_stress")
    writers = [ob.TxnSession(pg.conninfo("logi_stress")) for _ in range(4)]
    p = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c", max_changes=16)
    delivered: list[tuple[int, int]] = []  # (seq, row id)
    committed: set[int] = set()
    aborted: set[int] = set()
    next_id = 0
    open_ids: dict[int, list[int]] = {i: [] for i in range(4)}

    def drain() -> int:
        rows = p.read_batch(spark).collect()
        delivered.extend(
            (row.seq, json.loads(row.payload_json)["id"]) for row in rows
        )
        p.advance()
        return len(rows)

    try:
        for step in range(60):
            w = rng.randrange(4)
            action = rng.random()
            sess = writers[w]
            if not open_ids[w] and action < 0.6:
                sess.run("BEGIN;")
                for _ in range(rng.randrange(1, 3)):
                    next_id += 1
                    sess.run(f"INSERT INTO notes VALUES "
                             f"({next_id}, now(), 'w{w}');")
                    open_ids[w].append(next_id)
            elif open_ids[w]:
                if action < 0.85:
                    sess.run("COMMIT;")
                    committed.update(open_ids[w])
                else:
                    sess.run("ROLLBACK;")
                    aborted.update(open_ids[w])
                open_ids[w] = []
            if step % 5 == 4:
                drain()
    finally:
        for w, sess in enumerate(writers):
            if open_ids[w]:
                sess.run("COMMIT;")
                committed.update(open_ids[w])
            sess.close()
    empty = 0
    while empty < 2:
        empty = empty + 1 if drain() == 0 else 0
    got_ids = [i for _, i in delivered]
    assert sorted(got_ids) == sorted(committed), "loss or duplication"
    assert not (set(got_ids) & aborted), "rolled-back rows delivered"
    seqs = [s for s, _ in delivered]
    assert seqs == list(range(1, len(seqs) + 1)), "seqs not dense/ordered"


# -- crash recovery ----------------------------------------------------------


def test_logical_replay_has_identical_seqs(pg, spark):
    """Crash between sink and advance(): a re-opened poller re-reads
    the same transactions with byte-stable seqs (the seq-named
    idempotent sink contract); after advance, numbering continues."""
    r, mgr = _fresh(pg, "logi_replay")
    r.sql("INSERT INTO notes VALUES (1, now(), 'a'), (2, now(), 'b');")
    p1 = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c")
    b1 = sorted((row.seq, row.id) for row in p1.read_batch(spark).collect())
    assert b1 == [(1, "1"), (2, "2")]
    # no advance — simulate SIGKILL. Fresh poller must replay same seqs
    p2 = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c")
    b2 = sorted((row.seq, row.id) for row in p2.read_batch(spark).collect())
    assert b2 == b1
    p2.advance()
    r.sql("INSERT INTO notes VALUES (3, now(), 'c');")
    b3 = [(row.seq, row.id) for row in p2.read_batch(spark).collect()]
    assert b3 == [(3, "3")]
    p2.advance()
    # restart after full advance: nothing replays, numbering persists
    p3 = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c")
    assert p3.last_seq == 3
    assert p3.read_batch(spark).count() == 0


def test_logical_partial_advance_crash_window(pg, spark):
    """The second crash window: offset rows written but the slot NOT
    advanced (kill between the two advance() steps). The re-peeked
    transactions sit at or below the stored LSN and must be renumbered
    backwards to their original seqs."""
    r, mgr = _fresh(pg, "logi_partial")
    r.sql("INSERT INTO notes VALUES (1, now(), 'a'), (2, now(), 'b');")
    p = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c")
    first = sorted((row.seq, row.id) for row in p.read_batch(spark).collect())
    # simulate the torn advance: write the offset rows, skip the slot
    lsn_text, lsn_big, end_seq = p._pending
    from pqstream_spark.sources.outbox_pg import PG_OFFSET_TABLE, _quote_lit
    r.sql(
        f"UPDATE {PG_OFFSET_TABLE} SET last_seq = {end_seq} "
        f"WHERE consumer = {_quote_lit(p._seq_key)};"
        f"UPDATE {PG_OFFSET_TABLE} SET last_seq = {lsn_big} "
        f"WHERE consumer = {_quote_lit(p._lsn_key)};"
    )
    r.sql("INSERT INTO notes VALUES (3, now(), 'c');")
    p2 = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c")
    rows = sorted((row.seq, row.id) for row in p2.read_batch(spark).collect())
    # replayed txns keep seqs 1-2; the new row continues at 3
    assert rows == first + [(3, "3")]
    p2.advance()
    assert p2.read_batch(spark).count() == 0


def test_logical_giant_txn_escalates_window(pg, spark):
    """One transaction larger than max_changes: the peek window
    escalates (transaction-atomic batches can never tear it) and the
    whole transaction arrives in one batch."""
    r, mgr = _fresh(pg, "logi_giant")
    r.sql("INSERT INTO notes SELECT g, now(), 'g' || g "
          "FROM generate_series(1, 500) g;")
    p = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c", max_changes=50)
    rows = p.read_batch(spark).collect()
    p.advance()
    assert len(rows) == 500
    assert sorted(row.seq for row in rows) == list(range(1, 501))


# -- walsender wire parity ----------------------------------------------------


def test_walsender_recvlogical_parity(pg, spark):
    """The same changes drained over the REAL replication protocol
    (pg_recvlogical --start --endpos, START_REPLICATION walsender)
    decode to the same text the SQL interface returns — multiset
    equality of parsed envelopes across both wires."""
    r, mgr = _fresh(pg, "logi_wire")
    # second slot for the walsender consumer (recvlogical confirms as
    # it streams; it must not move the poller's slot)
    r.scalar("SELECT pg_create_logical_replication_slot("
             "'pqstream_wire', 'test_decoding')")
    r.sql(
        "INSERT INTO notes VALUES (1, now(), 'alpha');"
        "UPDATE notes SET note = 'beta' WHERE id = 1;"
        "DELETE FROM notes WHERE id = 1;"
    )
    # flush barrier before capturing endpos: walsender streams only
    # flushed WAL, and this cluster runs synchronous_commit=off (the
    # poller's read_batch emits the same barrier itself)
    r.sql("SET synchronous_commit = on;"
          "SELECT pg_logical_emit_message(true, 'pqstream_sync', '');")
    endpos = r.scalar("SELECT pg_current_wal_lsn()::text")
    lines = recv_changes_walsender(
        pg.conninfo("logi_wire"), "pqstream_wire", endpos)
    wire = [w for l in lines for w in parse_change_line(l)]

    p = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c")
    sql_rows = p.read_batch(spark).collect()
    p.advance()
    sql_env = [
        (row.schema_name, row.table_name, row.op, row.id,
         row.payload_json, row.previous_json)
        for row in sorted(sql_rows, key=lambda x: x.seq)
    ]
    assert wire == sql_env
    r.sql("SELECT pg_drop_replication_slot('pqstream_wire');")


# -- lifecycle ---------------------------------------------------------------


def test_logical_install_remove_lifecycle(pg):
    r, mgr = _fresh(pg, "logi_lifecycle")
    # idempotent re-install
    assert mgr.install() == ["notes"]
    assert r.scalar(
        "SELECT relreplident FROM pg_class WHERE relname = 'notes'"
    ) == "f"  # FULL
    assert mgr.remove() == ["notes"]
    assert r.scalar(
        "SELECT count(*) FROM pg_replication_slots "
        "WHERE slot_name = 'pqstream_logical'"
    ) == "0"
    assert r.scalar(
        "SELECT relreplident FROM pg_class WHERE relname = 'notes'"
    ) == "d"  # DEFAULT restored


# -- daemon e2e ---------------------------------------------------------------


def test_daemon_transport_logical_once(pg, tmp_path):
    """`pqsd --transport logical --once`: first run installs the slot
    (a slot captures only changes committed AFTER its creation — prior
    data is the --bootstrap path), later runs drain to seq-named jsonl
    files with durable resume: only new events are appended, an idle
    run appends nothing, inapplicable durability flags fail loudly."""
    import glob
    import json as _json
    import os

    from pqstream_spark.__main__ import main
    from pqstream_spark.sources.outbox_pg import PsqlRunner

    pg.createdb("logi_daemon").sql(NOTES_DDL + ";")
    conninfo = pg.conninfo("logi_daemon")
    r = PsqlRunner(conninfo)

    out = str(tmp_path / "out")
    os.makedirs(out)
    argv = ["--connect", f"postgres:{conninfo}", "--tables", "notes",
            "--transport", "logical", "--slot", "pq_daemon",
            "--out", out, "--once"]

    def lines():
        got = []
        for f in sorted(glob.glob(out + "/*.jsonl")):
            with open(f) as fh:
                got.extend(_json.loads(l) for l in fh if l.strip())
        return got

    assert main(argv) == 0  # installs the slot; nothing to drain yet
    assert lines() == []

    r.sql("INSERT INTO notes VALUES (1, now(), 'one'), (2, now(), 'two');")
    assert main(argv) == 0
    first = lines()
    assert sorted(e["payload"]["id"] for e in first) == [1, 2]

    r.sql("UPDATE notes SET note = 'uno' WHERE id = 1;")
    assert main(argv) == 0
    second = lines()
    assert len(second) == 3  # only the update was appended

    assert main(argv) == 0  # idle run: nothing new
    assert len(lines()) == 3

    # inapplicable flags fail loudly
    assert main(argv + ["--compact"]) == 2
    assert main(argv + ["--replay-from", "0"]) == 2
    assert main(argv + ["--parallel-read", "2"]) == 2
    # txn parity: the logical transport is transaction-atomic by
    # construction (peek stops at commit boundaries), so the outbox
    # path's --txn-consistent flag is rejected as inapplicable
    assert main(argv + ["--txn-consistent"]) == 2


# -- engine-managed offsets: the pqstream_logical DataSource -------------------


def test_logical_datasource_stream_and_restart(pg, spark, tmp_path):
    """readStream.format('pqstream_logical'): live writes surface with
    engine-tracked offsets; a checkpoint restart resumes at the slot —
    writes that happened while the query was down arrive exactly once
    in the file sink."""
    from pqstream_spark.sources.logical_datasource import LogicalDataSource
    from pqstream_spark.sources.logical_pg import PgLogicalCaptureManager
    from pqstream_spark.sources.outbox_pg import PsqlRunner

    pg.createdb("logi_ds").sql(NOTES_DDL + ";")
    conninfo = pg.conninfo("logi_ds")
    r = PsqlRunner(conninfo)
    PgLogicalCaptureManager(r, slot="pq_ds", table_regexp="notes").install()
    spark.dataSource.register(LogicalDataSource)

    r.sql("INSERT INTO notes VALUES (1, now(), 'a'), (2, now(), 'b');")
    ckpt = str(tmp_path / "ckpt")

    def run_query():
        stream = (
            spark.readStream.format("pqstream_logical")
            .option("url", f"postgres:{conninfo}")
            .option("slot", "pq_ds")
            .option("tableRegexp", "notes")
            .load()
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = run_query()
    try:
        q.processAllAvailable()
        r.sql("UPDATE notes SET note = 'a2' WHERE id = 1;")
        q.processAllAvailable()
    finally:
        q.stop()

    r.sql("DELETE FROM notes WHERE id = 2;")  # while the query is down
    q = run_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(str(tmp_path / "out"))
    rows = sorted(out.collect(), key=lambda x: x.seq)
    assert [row.seq for row in rows] == [1, 2, 3, 4]
    assert [row.op for row in rows] == ["INSERT", "INSERT", "UPDATE", "DELETE"]
    assert rows[2].previous_json is not None  # REPLICA IDENTITY FULL


def test_logical_datasource_txn_aligned_batches(pg, spark, tmp_path):
    """Offsets are transaction boundaries: a 3-row transaction lands in
    ONE micro-batch even with maxChangesPerBatch=1 (the peek window
    completes transactions), so consumers never see a torn txn — the
    property the outbox DataSource offers only with `txnAligned`."""
    from pqstream_spark.sources.logical_datasource import LogicalDataSource
    from pqstream_spark.sources.logical_pg import PgLogicalCaptureManager
    from pqstream_spark.sources.outbox_pg import PsqlRunner

    pg.createdb("logi_ds_txn").sql(NOTES_DDL + ";")
    conninfo = pg.conninfo("logi_ds_txn")
    r = PsqlRunner(conninfo)
    PgLogicalCaptureManager(
        r, slot="pq_ds_txn", table_regexp="notes").install()
    spark.dataSource.register(LogicalDataSource)

    r.sql("BEGIN;\n"
          "INSERT INTO notes VALUES (1, now(), 'x');\n"
          "INSERT INTO notes VALUES (2, now(), 'y');\n"
          "INSERT INTO notes VALUES (3, now(), 'z');\n"
          "COMMIT;")
    r.sql("INSERT INTO notes VALUES (4, now(), 'w');")

    stream = (
        spark.readStream.format("pqstream_logical")
        .option("url", f"postgres:{conninfo}")
        .option("slot", "pq_ds_txn")
        .option("maxChangesPerBatch", "1")
        .load()
    )
    batches: list[list[int]] = []
    q = (
        stream.writeStream.foreachBatch(
            lambda df, ep: batches.append(sorted(r.seq for r in df.collect()))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    nonempty = [b for b in batches if b]
    assert sorted(s for b in nonempty for s in b) == [1, 2, 3, 4]
    # the 3-row txn is never split across batches
    first = next(b for b in nonempty if 1 in b)
    assert {1, 2, 3} <= set(first), f"txn torn across batches: {batches}"


def test_logical_lag_cli(pg, capsys):
    """`--lag --transport logical`: per-slot WAL backlog straight from
    pg_replication_slots; consuming shrinks wal_bytes_pending."""
    import json as _json

    from pqstream_spark.__main__ import main
    from pqstream_spark.sources.outbox_pg import PsqlRunner

    pg.createdb("logi_lag").sql(NOTES_DDL + ";")
    conninfo = pg.conninfo("logi_lag")
    r = PsqlRunner(conninfo)
    PgLogicalCaptureManager(r, slot="pq_lag", table_regexp="notes").install()
    r.sql("INSERT INTO notes SELECT g, now(), 'x' || g "
          "FROM generate_series(1, 50) g;")

    argv = ["--connect", f"postgres:{conninfo}",
            "--transport", "logical", "--slot", "pq_lag", "--lag"]
    assert main(argv) == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    slot_rows = [l for l in lines if l.get("slot") == "pq_lag"]
    assert len(slot_rows) == 1 and slot_rows[0]["wal_bytes_pending"] > 0
    assert slot_rows[0]["wal_status"] == "reserved"  # healthy slot
    assert lines[-1] == {"summary": True, "slots": 1, "unhealthy": 0}


def test_daemon_logical_sigkill_exactly_once(pg, tmp_path):
    """A real SIGKILL of the logical daemon mid-stream, restart on the
    same slot: the union of jsonl output deduped by seq equals exactly
    the committed rows — nothing lost (the slot only advances after
    the sink wrote), nothing double-counted (replay-stable seqs +
    seq-named idempotent files). The VERDICT's remaining 'done'
    criterion for the logical backend."""
    import glob
    import json as _json
    import os
    import subprocess
    import sys
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pg.createdb("logi_kill").sql(NOTES_DDL + ";")
    conninfo = pg.conninfo("logi_kill")
    from pqstream_spark.sources.outbox_pg import PsqlRunner
    r = PsqlRunner(conninfo)

    out = str(tmp_path / "out")
    os.makedirs(out)
    log_path = str(tmp_path / "daemon.log")
    argv = [sys.executable, "-m", "pqstream_spark",
            "--connect", f"postgres:{conninfo}", "--transport", "logical",
            "--slot", "pq_kill", "--tables", "notes", "--out", out,
            "--poll-interval", "0.2"]
    env = {**os.environ, "SPARK_GRAFT_CPUS": "8"}

    def lines():
        got = []
        for f in sorted(glob.glob(out + "/*.jsonl")):
            with open(f) as fh:
                got.extend(_json.loads(l) for l in fh if l.strip())
        return got

    def wait(pred, secs, what):
        end = time.time() + secs
        while time.time() < end:
            if pred():
                return
            time.sleep(0.25)
        raise AssertionError(f"timed out waiting for {what}")

    with open(log_path, "ab") as log:
        daemon = subprocess.Popen(argv, cwd=repo, env=env,
                                  stdout=log, stderr=log)
    try:
        # slot appears at daemon startup; only rows after it are captured
        wait(lambda: r.scalar(
            "SELECT count(*) FROM pg_replication_slots "
            "WHERE slot_name = 'pq_kill'") == "1", 120, "slot install")
        r.sql("INSERT INTO notes SELECT g, now(), 'k' || g "
              "FROM generate_series(1, 40) g;")
        wait(lambda: len(lines()) >= 40, 180, "first rows to drain")
        # more rows, then a hard kill while the poll loop is (likely)
        # mid-drain — no cleanup runs, the slot holds the position
        r.sql("INSERT INTO notes SELECT 100 + g, now(), 'k' || g "
              "FROM generate_series(1, 40) g;")
        time.sleep(0.4)
    finally:
        daemon.kill()  # SIGKILL
        daemon.wait(timeout=30)

    # post-kill drain in-process (round 15, suite-budget): recovery
    # state is the replication slot position in the DATABASE — a fresh
    # poller re-reads it; the subprocess added only a JVM boot. The
    # kill half above keeps the real daemon process.
    from pqstream_spark.__main__ import main as _main

    rc = _main(argv[3:] + ["--once"])
    assert rc == 0

    got = lines()
    # the wire line is reference-parity (no seq field); a replayed
    # batch re-renders byte-identical lines, so exactly-once EFFECT =
    # one distinct line per row id after set-dedup
    by_id: dict[int, set] = {}
    for e in got:
        by_id.setdefault(e["payload"]["id"], set()).add(
            _json.dumps(e, sort_keys=True))
    ids = sorted(by_id)
    assert ids == list(range(1, 41)) + list(range(101, 141)), (
        f"loss or phantom rows: {len(ids)} unique ids"
    )
    multi = {i: len(v) for i, v in by_id.items() if len(v) != 1}
    assert not multi, f"replay changed content for ids {multi}"


def test_logical_schema_evolution_mid_stream(pg, spark):
    """ALTER TABLE ADD COLUMN between polls (the r8 outbox parity pin,
    on the logical path): decoding continues, envelopes before the
    ALTER carry the old column set, envelopes after carry the new
    column — no restart, no re-install, same slot."""
    r, mgr = _fresh(pg, "logi_evolve")
    p = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c")
    r.sql("INSERT INTO notes VALUES (1, now(), 'before');")
    b1 = p.read_batch(spark).collect()
    p.advance()
    assert set(json.loads(b1[0].payload_json)) == {"id", "created_at", "note"}

    r.sql("ALTER TABLE notes ADD COLUMN rating int DEFAULT 5;"
          "INSERT INTO notes VALUES (2, now(), 'after', 9);"
          "UPDATE notes SET note = 'patched' WHERE id = 1;")
    b2 = sorted(p.read_batch(spark).collect(), key=lambda x: x.seq)
    p.advance()
    ins, upd = b2
    new_payload = json.loads(ins.payload_json)
    assert new_payload["rating"] == 9 and new_payload["note"] == "after"
    # the pre-ALTER row now has the default-backfilled column too
    assert json.loads(upd.payload_json)["rating"] == 5
    assert json.loads(upd.previous_json)["rating"] == 5
    assert [row.seq for row in b2] == [2, 3]


def test_logical_anchor_rows_never_stall_outbox_compaction(pg, spark):
    """Cross-transport retention: the logical poller's numbering
    anchors share pqstream_consumer_offset with the outbox transport.
    They are a different number space — an unsuffixed anchor row would
    sit in compact()'s MIN forever and stall outbox retention. Pinned:
    both transports on one database, outbox compaction advances on the
    outbox consumer alone."""
    from pqstream_spark.sources.outbox import OUTBOX_TABLE
    from pqstream_spark.sources.outbox_pg import PgOutboxPoller

    r, mgr = _fresh(pg, "logi_retention")
    PgCaptureManager(r, table_regexp="notes").install()
    r.sql("INSERT INTO notes VALUES (1, now(), 'a'), (2, now(), 'b');")

    # logical consumer far "behind" in its own numbering domain
    lg = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="lg")
    assert lg.read_batch(spark).count() == 2
    lg.advance()
    assert lg.last_seq == 2  # logical domain: tiny numbers

    ob = PgOutboxPoller.open_durable(r, consumer="ob", fence_wait=2.0)
    assert ob.read_batch(spark).count() == 2
    ob.advance()
    # the outbox consumer is fully caught up; the logical anchor rows
    # (seq=2, lsn=huge) must not hold the MIN down / up
    pruned = ob.compact()
    assert pruned == 2
    assert int(r.scalar(f"SELECT count(*) FROM {OUTBOX_TABLE}")) == 0


def test_daemon_logical_bootstrap_snapshot_plus_changelog(pg, tmp_path):
    """--bootstrap on the logical transport: pre-existing rows (which
    predate the slot and can never arrive via decoding) are emitted as
    a snapshot, then the changelog streams post-install writes; the
    documented at-least-once overlap stance means dedup by line, never
    loss. A second --bootstrap run is a no-op (bootstrap sentinel)."""
    import glob
    import json as _json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pg.createdb("logi_boot").sql(NOTES_DDL + ";")
    conninfo = pg.conninfo("logi_boot")
    from pqstream_spark.sources.outbox_pg import PsqlRunner
    r = PsqlRunner(conninfo)
    r.sql("INSERT INTO notes VALUES (1, now(), 'pre1'), (2, now(), 'pre2');")

    out = str(tmp_path / "out")
    os.makedirs(out)
    log_path = str(tmp_path / "daemon.log")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "8"}
    argv = [sys.executable, "-m", "pqstream_spark",
            "--connect", f"postgres:{conninfo}", "--transport", "logical",
            "--slot", "pq_boot", "--tables", "notes", "--out", out,
            "--bootstrap", "--once"]

    def run():
        from pqstream_spark.__main__ import main as _main

        return _main(argv[3:])

    def ids():
        got = set()
        for f in glob.glob(out + "/*.jsonl"):
            with open(f) as fh:
                for l in fh:
                    if l.strip():
                        got.add(_json.loads(l)["payload"]["id"])
        return got

    assert run() == 0
    assert ids() == {1, 2}, "pre-slot rows must arrive via the snapshot"

    r.sql("INSERT INTO notes VALUES (3, now(), 'live');")
    assert run() == 0  # bootstrap sentinel set: snapshot NOT re-taken
    assert ids() == {1, 2, 3}


def test_logical_partial_replay_window_escalates(pg, spark):
    """Review finding: a torn advance (offset rows written, slot not
    advanced) followed by a restart with a SMALLER peek window used to
    tail-number a prefix of the replay (seqs 1-40 renumbered 61-100 —
    silent corruption). The window must escalate until it covers the
    stored anchor LSN, reproducing the original seqs exactly."""
    r, mgr = _fresh(pg, "logi_pwin")
    r.sql(";\n".join(
        f"INSERT INTO notes VALUES ({i}, now(), 'w{i}')"
        for i in range(1, 31)) + ";")  # 30 single-statement txns
    p = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c")
    first = sorted((row.seq, row.id) for row in p.read_batch(spark).collect())
    assert first == [(i, str(i)) for i in range(1, 31)]
    # torn advance: offset rows land, slot stays back
    lsn_text, lsn_big, end_seq = p._pending
    from pqstream_spark.sources.outbox_pg import PG_OFFSET_TABLE, _quote_lit
    r.sql(
        f"UPDATE {PG_OFFSET_TABLE} SET last_seq = {end_seq} "
        f"WHERE consumer = {_quote_lit(p._seq_key)};"
        f"UPDATE {PG_OFFSET_TABLE} SET last_seq = {lsn_big} "
        f"WHERE consumer = {_quote_lit(p._lsn_key)};"
    )
    # restart with a window far smaller than the replay region
    p2 = PgLogicalPoller.open_durable(
        r, slot=mgr.slot, consumer="c", max_changes=5)
    replay = sorted(
        (row.seq, row.id) for row in p2.read_batch(spark).collect())
    assert replay == first, "replay renumbered under a small window"
    p2.advance()
    assert p2.read_batch(spark).count() == 0


def test_logical_multi_table_truncate(pg, spark):
    """TRUNCATE a, b decodes as ONE line naming both tables — each
    must surface as its own delete-all envelope (op TRUNCATE, idents
    only), or CDC materialization never clears either table."""
    r, mgr = _fresh(pg, "logi_mtrunc")
    r.sql("CREATE TABLE extras (id int, note text);")
    # re-install so the new table gets REPLICA IDENTITY + capture scope
    mgr.table_regexp = "notes|extras"
    mgr.install()
    p = PgLogicalPoller.open_durable(
        r, slot=mgr.slot, consumer="c", table_regexp="notes|extras")
    r.sql("INSERT INTO notes VALUES (1, now(), 'n');"
          "INSERT INTO extras VALUES (2, 'e');"
          "TRUNCATE notes, extras;")
    rows = sorted(p.read_batch(spark).collect(), key=lambda x: x.seq)
    p.advance()
    assert [(row.table_name, row.op) for row in rows] == [
        ("notes", "INSERT"), ("extras", "INSERT"),
        ("notes", "TRUNCATE"), ("extras", "TRUNCATE")]
    assert all(row.payload_json is None for row in rows[2:])


def test_logical_refusal_leaves_existing_capture_intact(tmp_path):
    """Review finding: `--transport logical` against a server with
    wal_level=replica (the stock default) used to remove the other
    transports' triggers BEFORE install failed — leaving the database
    with NO capture at all, silently losing every write until an
    operator intervened. The wal_level check must run before anything
    destructive: rc 2, outbox triggers still firing."""
    from pqstream_spark.__main__ import main
    from pqstream_spark.sources.outbox import OUTBOX_TABLE
    from pqstream_spark.sources.outbox_pg import PgCaptureManager

    srv = EphemeralPostgres.temp("pq_replica_")
    srv.initdb()
    srv.start(wal_level="replica")
    try:
        r = srv.createdb("replica_db")
        r.sql(NOTES_DDL + ";")
        PgCaptureManager(r, table_regexp="notes").install()
        rc = main(["--connect", f"postgres:{srv.conninfo('replica_db')}",
                   "--transport", "logical", "--tables", "notes",
                   "--out", str(tmp_path), "--once"])
        assert rc == 2
        # the outbox trigger must still capture
        r.sql("INSERT INTO notes VALUES (1, now(), 'still-captured');")
        got = r.scalar(f"SELECT count(*) FROM {OUTBOX_TABLE}")
        assert int(got) == 1, "existing capture was destroyed"
    finally:
        srv.destroy()


def test_logical_bootstrap_not_masked_by_outbox_marker(pg, tmp_path):
    """Review finding: the bootstrap sentinel was shared across
    transports, so an earlier outbox-transport bootstrap made
    `--transport logical --bootstrap` silently skip its snapshot —
    and pre-slot rows can NEVER arrive via decoding, a permanent gap.
    The logical path now keys its own sentinel."""
    import glob
    import json as _json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pg.createdb("logi_bootmask").sql(NOTES_DDL + ";")
    conninfo = pg.conninfo("logi_bootmask")
    from pqstream_spark.sources.outbox_pg import (
        PsqlRunner,
        pg_bootstrap_done,
        pg_mark_bootstrap_done,
    )
    r = PsqlRunner(conninfo)
    r.sql("INSERT INTO notes VALUES (1, now(), 'pre');")
    # simulate a prior OUTBOX-transport bootstrap (the legacy marker;
    # pg_bootstrap_done first — it creates the offset table)
    assert not pg_bootstrap_done(r)
    pg_mark_bootstrap_done(r)
    assert pg_bootstrap_done(r)

    out = str(tmp_path / "out")
    os.makedirs(out)
    from pqstream_spark.__main__ import main as _main

    rc = _main(
        ["--connect", f"postgres:{conninfo}", "--transport", "logical",
         "--slot", "pq_bootmask", "--tables", "notes", "--out", out,
         "--bootstrap", "--once"])
    assert rc == 0
    ids = set()
    for f in glob.glob(out + "/*.jsonl"):
        with open(f) as fh:
            ids.update(_json.loads(l)["payload"]["id"] for l in fh if l.strip())
    assert ids == {1}, "outbox marker masked the logical snapshot"


# -- unchanged-TOAST payload fidelity (round-10 lead fix, VERDICT r9 #1) -----


def _toast_text(tag: str, n: int = 8192) -> str:
    """Deterministic incompressible text > the 2 KB TOAST threshold
    (sha256 chain — no compressible structure), so the column is stored
    out-of-line even without STORAGE EXTERNAL; the tests force EXTERNAL
    anyway so the out-of-line condition never depends on compression
    ratios."""
    import hashlib

    out: list[str] = []
    seed = tag.encode()
    while sum(len(x) for x in out) < n:
        seed = hashlib.sha256(seed).digest()
        out.append(seed.hex())
    return "".join(out)[:n]


DOCS_DDL = ("CREATE TABLE docs (id int PRIMARY KEY, meta text, body text);"
            "ALTER TABLE docs ALTER COLUMN body SET STORAGE EXTERNAL;")


def test_unchanged_toast_matrix_test_decoding(pg, spark):
    """The LLM-pipeline shape: a documents table whose >2 KB body is
    TOASTed out-of-line. An UPDATE that does NOT touch the body used to
    deliver the literal string 'unchanged-toast-datum' as the column
    value (silent corruption); the fix backfills it from the same
    message's REPLICA-IDENTITY-FULL old tuple. Full matrix:
    INSERT / metadata-only UPDATE / body UPDATE / DELETE."""
    r = pg.createdb("logi_toast")
    r.sql(DOCS_DDL)
    mgr = PgLogicalCaptureManager(r, slot="pq_toast", table_regexp="docs")
    assert mgr.install() == ["docs"]
    body0 = _toast_text("v0")
    body1 = _toast_text("v1")
    r.sql(f"INSERT INTO docs VALUES (1, 'm0', '{body0}');"
          f"UPDATE docs SET meta = 'm1' WHERE id = 1;"       # body untouched
          f"UPDATE docs SET body = '{body1}' WHERE id = 1;"  # body changed
          f"DELETE FROM docs WHERE id = 1;")
    p = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c")
    rows = sorted(p.read_batch(spark).collect(), key=lambda x: x.seq)
    p.advance()
    ins, upd_meta, upd_body, dele = rows
    assert json.loads(ins.payload_json)["body"] == body0
    # the metadata-only UPDATE: payload == previous == original body
    pm = json.loads(upd_meta.payload_json)
    assert pm["meta"] == "m1"
    assert pm["body"] == body0, "unchanged-TOAST body corrupted in payload"
    assert json.loads(upd_meta.previous_json)["body"] == body0
    # the body UPDATE: payload carries the new value, previous the old
    assert json.loads(upd_body.payload_json)["body"] == body1
    assert json.loads(upd_body.previous_json)["body"] == body0
    # DELETE payload = full OLD row including the TOASTed column
    assert json.loads(dele.payload_json)["body"] == body1


def test_unchanged_toast_marker_string_collision(pg, spark):
    """A row whose GENUINE text value is the literal string
    'unchanged-toast-datum' must pass through untouched: the wire
    renders a real user string single-quoted, the toast marker never is
    — detection is by quoting, not by content."""
    r = pg.createdb("logi_toastlit")
    r.sql(NOTES_DDL + ";")
    mgr = PgLogicalCaptureManager(
        r, slot="pq_toastlit", table_regexp="notes")
    mgr.install()
    r.sql("INSERT INTO notes VALUES (1, now(), 'unchanged-toast-datum');"
          "UPDATE notes SET created_at = now() WHERE id = 1;"
          "UPDATE notes SET note = 'unchanged-toast-datum' WHERE id = 1;")
    p = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c")
    rows = sorted(p.read_batch(spark).collect(), key=lambda x: x.seq)
    p.advance()
    for row in rows:
        assert json.loads(row.payload_json)["note"] == (
            "unchanged-toast-datum"), "literal user string mangled"
    assert json.loads(rows[1].previous_json)["note"] == (
        "unchanged-toast-datum")


def test_unchanged_toast_non_full_identity_p3_fallback(pg, spark):
    """When REPLICA IDENTITY is not FULL (an operator reset it under a
    live slot) the old tuple lacks the unchanged column: the poller
    falls back to the P3 re-select (reference fallbackLookup,
    server.go:194-212) — current-value semantics. When even that fails
    (the row was deleted before the poll) the payload degrades to None
    (the S2 tier-2 shape, queries.go:41-47) — NEVER a plausible-looking
    wrong value."""
    r = pg.createdb("logi_toastnf")
    r.sql(DOCS_DDL)
    mgr = PgLogicalCaptureManager(r, slot="pq_toastnf", table_regexp="docs")
    mgr.install()
    r.sql("ALTER TABLE docs REPLICA IDENTITY DEFAULT;")
    body = _toast_text("nf")
    r.sql(f"INSERT INTO docs VALUES (1, 'm0', '{body}');"
          "UPDATE docs SET meta = 'm1' WHERE id = 1;")
    p = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c")
    rows = sorted(p.read_batch(spark).collect(), key=lambda x: x.seq)
    p.advance()
    upd = rows[1]
    assert upd.op == "UPDATE"
    # P3 re-select recovered the live row's body
    assert json.loads(upd.payload_json)["body"] == body
    assert "\x00" not in upd.payload_json

    # row gone before the poll: explicit degradation, id preserved
    r.sql("UPDATE docs SET meta = 'm2' WHERE id = 1;"
          "DELETE FROM docs WHERE id = 1;")
    rows = sorted(p.read_batch(spark).collect(), key=lambda x: x.seq)
    p.advance()
    upd2 = rows[0]
    assert upd2.op == "UPDATE" and upd2.id == "1"
    assert upd2.payload_json is None, (
        "unresolvable unchanged-TOAST must degrade, not guess")


def test_logical_lag_surfaces_wal_retention_pressure(capsys):
    """The abandoned-slot footgun (VERDICT r9 #3): a slot whose
    consumer stops polling retains WAL until the disk fills — unless
    max_slot_wal_keep_size caps it, at which point the slot goes
    'unreserved'/'lost' and its changes are unrecoverable. `--lag
    --transport logical` must surface wal_status/safe_wal_size and
    count unhealthy slots; driven live on a dedicated cluster with
    1 MiB WAL segments and max_slot_wal_keep_size=1MB."""
    import json as _json

    from pqstream_spark.__main__ import main

    srv = EphemeralPostgres.temp("pq_walkeep_")
    srv.initdb(extra="--wal-segsize=1")
    srv.start(extra_conf="-c max_slot_wal_keep_size=1MB")
    try:
        r = srv.createdb("keep")
        r.sql(NOTES_DDL + ";")
        mgr = PgLogicalCaptureManager(r, slot="pq_keep",
                                      table_regexp="notes")
        mgr.install()
        argv = ["--connect", f"postgres:{srv.conninfo('keep')}",
                "--transport", "logical", "--slot", "pq_keep", "--lag"]

        # healthy first: fresh slot, nothing pending beyond noise
        assert main(argv) == 0
        lines = [_json.loads(l)
                 for l in capsys.readouterr().out.splitlines()]
        (row,) = [l for l in lines if l.get("slot") == "pq_keep"]
        assert row["wal_status"] == "reserved"
        assert row["safe_wal_size"] is not None  # keep-size configured
        assert lines[-1]["unhealthy"] == 0

        # abandon the slot under ~5 MB of WAL, then let a checkpoint
        # apply the retention limit
        r.sql("INSERT INTO notes SELECT g, now(), repeat('x', 1000) "
              "FROM generate_series(1, 5000) g;")
        r.sql("SELECT pg_switch_wal();")
        r.sql("CHECKPOINT;")
        assert main(argv) == 0
        lines = [_json.loads(l)
                 for l in capsys.readouterr().out.splitlines()]
        (row,) = [l for l in lines if l.get("slot") == "pq_keep"]
        assert row["wal_status"] in ("unreserved", "lost"), row
        assert lines[-1]["unhealthy"] >= 1
    finally:
        srv.destroy()


def test_logical_datasource_idle_polls_bound_wal_retention(pg):
    """ADVICE r9: every latestOffset poll emits a synchronously-flushed
    barrier WAL record, but the slot only advanced in commit() — on an
    idle stream confirmed_flush_lsn froze while each trigger appended
    another barrier transaction: unbounded WAL retention and an
    ever-growing per-poll decode window. Fixed: a poll whose staged
    window holds only change-free boundaries advances the slot to the
    newest one directly. Pinned: across idle polls the slot's
    confirmed_flush_lsn keeps moving and the pending window stays
    within a couple of barrier records."""
    from pqstream_spark.sources.logical_datasource import LogicalStreamReader

    pg.createdb("logi_idle").sql(NOTES_DDL + ";")
    conninfo = pg.conninfo("logi_idle")
    from pqstream_spark.sources.outbox_pg import PsqlRunner
    r = PsqlRunner(conninfo)
    PgLogicalCaptureManager(r, slot="pq_idle", table_regexp="notes").install()

    reader = LogicalStreamReader({
        "url": f"postgres:{conninfo}", "slot": "pq_idle",
        "tableregexp": "notes",
    })
    # one real micro-batch first (report + commit), then go idle
    r.sql("INSERT INTO notes VALUES (1, now(), 'x');")
    start = reader.initialOffset()
    end = reader.latestOffset()
    assert end["seq"] == 1
    list(reader.read(reader.partitions(start, end)[0]))
    reader.commit(end)

    def pending() -> int:
        return int(r.scalar(
            "SELECT (pg_current_wal_insert_lsn() - confirmed_flush_lsn)"
            "::bigint FROM pg_replication_slots "
            "WHERE slot_name = 'pq_idle'"))

    flushed = []
    for _ in range(6):
        assert reader.latestOffset() == end  # idle: offset holds
        flushed.append(int(r.scalar(
            "SELECT (confirmed_flush_lsn - '0/0'::pg_lsn)::bigint "
            "FROM pg_replication_slots WHERE slot_name = 'pq_idle'")))
    # the slot keeps advancing across idle polls...
    assert flushed[-1] > flushed[0], "confirmed_flush_lsn frozen while idle"
    # ...and the unconfirmed window stays ~one barrier record, not
    # one-per-poll (each barrier txn is < ~300 bytes of WAL)
    assert pending() < 1500, f"idle WAL window grew: {pending()} bytes"

    # the stream still works after idle housekeeping
    r.sql("UPDATE notes SET note = 'y' WHERE id = 1;")
    end2 = reader.latestOffset()
    assert end2["seq"] == 2
    rows = list(reader.read(reader.partitions(end, end2)[0]))
    assert [row[4] for row in rows] == ["UPDATE"]
    reader.commit(end2)


# -- exactly-once logical bootstrap (round 10, VERDICT r9 #2) ----------------


def test_logical_bootstrap_exported_snapshot_disjoint(pg, spark):
    """The deterministic boundary pin: a write committed AFTER slot
    creation but BEFORE the snapshot read — exactly the old overlap
    window — must appear in the changelog ONLY. SlotSnapshotSession
    creates the slot over the walsender with an exported snapshot at
    its consistent point; pg_snapshot_batch anchored there sees exactly
    the pre-slot history, so snapshot ∪ changelog is a loss-free,
    duplicate-free partition (the old read-committed snapshot would
    return ids [1, 2, 3] here and id 3 would arrive twice)."""
    from pqstream_spark.sources.logical_pg import SlotSnapshotSession
    from pqstream_spark.sources.outbox_pg import pg_snapshot_batch

    r = pg.createdb("logi_exonce")
    r.sql(NOTES_DDL + ";")
    r.sql("INSERT INTO notes VALUES (1, now(), 'pre1'), (2, now(), 'pre2');")
    mgr = PgLogicalCaptureManager(r, slot="pq_exonce", table_regexp="notes")
    mgr.install(create_slot=False)  # identity FULL before the slot
    with SlotSnapshotSession(pg.conninfo("logi_exonce"), "pq_exonce") as ss:
        assert ss.snapshot_name and ss.consistent_point
        r.sql("INSERT INTO notes VALUES (3, now(), 'boundary');")
        snap = pg_snapshot_batch(r, spark, "notes",
                                 snapshot_name=ss.snapshot_name)
        snap_ids = sorted(json.loads(x.payload_json)["id"]
                          for x in snap.collect())
    assert snap_ids == [1, 2], "boundary write leaked into the snapshot"
    assert mgr.install() == ["notes"]  # idempotent; slot already exists
    p = PgLogicalPoller.open_durable(r, slot="pq_exonce", consumer="c")
    rows = p.read_batch(spark).collect()
    p.advance()
    chg_ids = sorted(json.loads(x.payload_json)["id"] for x in rows)
    assert chg_ids == [3], "changelog must carry exactly the post-slot writes"


def test_daemon_logical_bootstrap_continuous_writer_exactly_once(pg, tmp_path):
    """The VERDICT's done-criterion: writes flowing CONTINUOUSLY across
    the bootstrap boundary; the merged snapshot+changelog output is a
    loss-free, duplicate-free multiset over RAW lines (no set-dedup —
    the old overlap design would double ids committed between slot
    creation and the snapshot read)."""
    import glob
    import json as _json
    import os
    import subprocess
    import sys
    import threading
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pg.createdb("logi_contw").sql(NOTES_DDL + ";")
    conninfo = pg.conninfo("logi_contw")
    from pqstream_spark.sources.outbox_pg import PsqlRunner
    r = PsqlRunner(conninfo)
    r.sql("INSERT INTO notes VALUES (1, now(), 'pre1'), (2, now(), 'pre2');")

    stop_writer = threading.Event()
    written: list[int] = []

    def writer():
        # one psql session, one INSERT per txn, ~4ms apart — commits
        # keep landing through slot creation, snapshot and first drain
        proc = subprocess.Popen(
            ["psql", conninfo, "-X", "-q", "-v", "ON_ERROR_STOP=1",
             "-f", "-"],
            stdin=subprocess.PIPE, text=True, cwd="/tmp")
        i = 100
        while not stop_writer.is_set() and i < 2000:
            proc.stdin.write(
                f"INSERT INTO notes VALUES ({i}, now(), 'w{i}');\n")
            proc.stdin.flush()
            written.append(i)
            i += 1
            time.sleep(0.004)
        proc.stdin.close()
        proc.wait(timeout=30)

    out = str(tmp_path / "out")
    os.makedirs(out)
    t = threading.Thread(target=writer)
    t.start()
    try:
        from pqstream_spark.__main__ import main as _main

        rc = _main(
            ["--connect", f"postgres:{conninfo}",
             "--transport", "logical", "--slot", "pq_contw",
             "--tables", "notes", "--out", out,
             "--bootstrap", "--once"])
    finally:
        stop_writer.set()
        t.join(timeout=60)
    assert rc == 0

    counts: dict[int, int] = {}
    for f in glob.glob(out + "/*.jsonl"):
        with open(f) as fh:
            for l in fh:
                if l.strip():
                    i = _json.loads(l)["payload"]["id"]
                    counts[i] = counts.get(i, 0) + 1
    dup = {i: c for i, c in counts.items() if c != 1}
    assert not dup, f"duplicated across snapshot/changelog boundary: {dup}"
    got_w = sorted(i for i in counts if i >= 100)
    # single-session writer commits in order: delivered ids must be a
    # loss-free prefix of what was written
    assert got_w == written[:len(got_w)], "gap in the delivered prefix"
    assert counts.get(1) == 1 and counts.get(2) == 1
    assert len(got_w) >= 1, "no boundary-window writes delivered at all"


# -- giant-transaction spill drain (round 10, VERDICT r9 #4) -----------------


def test_giant_txn_4x_max_peek_drains_txn_atomic(pg, spark):
    """A transaction 4x max_peek drains in ONE txn-atomic batch through
    the plain peek path: pg_logical_slot_peek_changes never tears a
    transaction — upto_nchanges OVERSHOOTS to complete the transaction
    in which the limit was reached (pinned here: 800 changes against
    max_peek=200), so bulk loads do not kill the stream; the trailing
    separate txn waits for the next poll (the limit applies between
    transactions)."""
    r, mgr = _fresh(pg, "logi_giant4x")
    p = PgLogicalPoller.open_durable(
        r, slot=mgr.slot, consumer="c", max_changes=50, max_peek=200)
    r.sql("BEGIN;\n"
          "INSERT INTO notes SELECT g, now(), 'g' || g "
          "FROM generate_series(1, 800) g;\n"
          "COMMIT;")
    r.sql("INSERT INTO notes VALUES (9001, now(), 'after-giant');")
    batch = sorted(p.read_batch(spark).collect(), key=lambda x: x.seq)
    assert [row.seq for row in batch] == list(range(1, 801))
    assert [json.loads(row.payload_json)["id"] for row in batch] == (
        list(range(1, 801)))
    p.advance()
    nxt = p.read_batch(spark).collect()
    p.advance()
    assert [(row.seq, row.id) for row in nxt] == [(801, "9001")]


def test_spill_drain_repairs_uncoverable_replay_window(pg, spark, tmp_path):
    """The GiantTxnError case the peek path genuinely cannot handle: a
    torn advance whose replay region exceeds max_peek (the window must
    cover the stored anchor to renumber consistently). Without
    spill_dir: loud error. With it: the drain first repairs the torn
    slot forward to the anchor (everything at or below it was sunk and
    offset-anchored), then spools the post-anchor backlog through
    pg_recvlogical — fresh seqs continue from the anchor, nothing
    double-numbered, spool cleaned up after advance."""
    import os

    from pqstream_spark.sources.logical_pg import GiantTxnError

    r, mgr = _fresh(pg, "logi_spillrep")
    r.sql(";\n".join(
        f"INSERT INTO notes VALUES ({i}, now(), 'w{i}')"
        for i in range(1, 31)) + ";")  # 30 single-statement txns
    p = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c")
    first = sorted((row.seq, row.id) for row in p.read_batch(spark).collect())
    assert first == [(i, str(i)) for i in range(1, 31)]
    # torn advance: offset rows land, slot stays back
    lsn_text, lsn_big, end_seq = p._pending
    from pqstream_spark.sources.outbox_pg import PG_OFFSET_TABLE, _quote_lit
    r.sql(
        f"UPDATE {PG_OFFSET_TABLE} SET last_seq = {end_seq} "
        f"WHERE consumer = {_quote_lit(p._seq_key)};"
        f"UPDATE {PG_OFFSET_TABLE} SET last_seq = {lsn_big} "
        f"WHERE consumer = {_quote_lit(p._lsn_key)};"
    )
    r.sql("BEGIN;\n"
          "INSERT INTO notes SELECT 100 + g, now(), 'n' || g "
          "FROM generate_series(1, 300) g;\n"
          "COMMIT;")
    # restart with a window that cannot cover the 30-txn replay region
    kw = dict(slot=mgr.slot, consumer="c", max_changes=5, max_peek=20)
    p_nospill = PgLogicalPoller.open_durable(r, **kw)
    with pytest.raises(GiantTxnError):
        p_nospill.read_batch(spark)
    spool = str(tmp_path / "spool")
    p2 = PgLogicalPoller.open_durable(r, spill_dir=spool, **kw)
    rows = sorted(p2.read_batch(spark).collect(), key=lambda x: x.seq)
    # the replay region (seqs 1-30, already sunk + anchored) is NOT
    # re-delivered; the 300-row backlog continues at seq 31, one batch
    assert [row.seq for row in rows] == list(range(31, 331))
    assert [json.loads(x.payload_json)["id"] for x in rows] == (
        [100 + g for g in range(1, 301)])
    p2.advance()
    assert not os.path.isdir(os.path.join(spool, mgr.slot))
    # the stream continues on the normal peek path. Polled with a
    # bounded retry: right after pg_recvlogical detaches, a fresh
    # decoding context may briefly return an EMPTY peek while the
    # snapshot builder regains consistency (an in-progress transaction
    # at restart_lsn stalls decode) — the poller then correctly
    # returns an empty batch with _pending unset (nothing advanced,
    # nothing lost; the next poll delivers), which is the normal
    # polling contract every consumer here runs under. A genuinely
    # LOST row would never arrive, so the retry loses no detection
    # power — and the diag dump names the slot state if it fails.
    import time as _time

    r.sql("INSERT INTO notes VALUES (9001, now(), 'post');")
    deadline = _time.time() + 60
    nxt: list = []
    while not nxt and _time.time() < deadline:
        nxt = [(row.seq, row.id) for row in p2.read_batch(spark).collect()]
        p2.advance()
        if not nxt:
            _time.sleep(0.5)
    diag = None
    if nxt != [(331, "9001")]:
        diag = {
            "slot": r.query_csv(
                "SELECT slot_name, confirmed_flush_lsn, "
                "(confirmed_flush_lsn - '0/0'::pg_lsn)::bigint AS cfl, "
                "(pg_current_wal_lsn() - '0/0'::pg_lsn)::bigint AS cur "
                "FROM pg_replication_slots"),
            "anchor": (p2.last_seq, p2.last_lsn),
            "spool_left": (os.path.isdir(os.path.join(spool, mgr.slot))
                           and os.listdir(os.path.join(spool, mgr.slot))),
            "peek": r.query_csv(
                f"SELECT lsn, xid, left(data, 70) AS d FROM "
                f"pg_logical_slot_peek_changes('{mgr.slot}', NULL, 50, "
                "'include-timestamp', 'on')"),
        }
    assert nxt == [(331, "9001")], diag


def test_spill_spool_crash_windows(pg, spark, tmp_path):
    """Spool crash contract: (a) crash between sink and advance — a
    fresh poller reassembles the on-disk spool byte-identically
    (replay-stable seqs); (b) crash between the offset write and the
    spool cleanup — the consumed-check deletes the spool and the peek
    path continues with zero re-delivery and zero loss."""
    import os

    r, mgr = _fresh(pg, "logi_spillcr")
    spool = str(tmp_path / "spool")
    # build an uncoverable replay window like the repair test
    r.sql(";\n".join(
        f"INSERT INTO notes VALUES ({i}, now(), 'w{i}')"
        for i in range(1, 31)) + ";")
    p = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c")
    p.read_batch(spark).collect()
    lsn_text, lsn_big, end_seq = p._pending
    from pqstream_spark.sources.outbox_pg import PG_OFFSET_TABLE, _quote_lit
    r.sql(
        f"UPDATE {PG_OFFSET_TABLE} SET last_seq = {end_seq} "
        f"WHERE consumer = {_quote_lit(p._seq_key)};"
        f"UPDATE {PG_OFFSET_TABLE} SET last_seq = {lsn_big} "
        f"WHERE consumer = {_quote_lit(p._lsn_key)};"
    )
    r.sql("BEGIN;\n"
          "INSERT INTO notes SELECT 100 + g, now(), 'n' || g "
          "FROM generate_series(1, 300) g;\n"
          "COMMIT;")
    kw = dict(slot=mgr.slot, consumer="c", max_changes=5, max_peek=20,
              spill_dir=spool)
    p1 = PgLogicalPoller.open_durable(r, **kw)
    first = [(row.seq, row.id) for row in
             sorted(p1.read_batch(spark).collect(), key=lambda x: x.seq)]
    assert len(first) == 300 and first[0][0] == 31
    # (a) no advance — fresh poller re-reads the SPOOL byte-identically
    p2 = PgLogicalPoller.open_durable(r, **kw)
    replay = [(row.seq, row.id) for row in
              sorted(p2.read_batch(spark).collect(), key=lambda x: x.seq)]
    assert replay == first
    # (b) offset rows written, cleanup skipped (simulated crash window)
    lsn_text, lsn_big, end_seq = p2._pending
    r.sql(
        f"UPDATE {PG_OFFSET_TABLE} SET last_seq = {end_seq} "
        f"WHERE consumer = {_quote_lit(p2._seq_key)};"
        f"UPDATE {PG_OFFSET_TABLE} SET last_seq = {lsn_big} "
        f"WHERE consumer = {_quote_lit(p2._lsn_key)};"
    )
    assert os.path.isdir(os.path.join(spool, mgr.slot))
    r.sql("INSERT INTO notes VALUES (9001, now(), 'post');")
    p3 = PgLogicalPoller.open_durable(r, **kw)
    # drain loop: the tiny window first advances over the change-free
    # barrier-message txns the spill drains left behind
    rows: list = []
    for _ in range(5):
        rows += [(row.seq, row.id)
                 for row in p3.read_batch(spark).collect()]
        p3.advance()
        if rows:
            break
    assert rows == [(331, "9001")], f"spool re-delivered or lost: {rows}"
    assert not os.path.isdir(os.path.join(spool, mgr.slot))


def test_daemon_spill_dir_flag(pg, tmp_path):
    """`--spill-dir` flag surface: rejected on the outbox transport
    and the notify transport; accepted on the logical transport for
    BOTH plugins (round 11: pgoutput gained its own binary spool)."""
    import os

    from pqstream_spark.__main__ import main

    pg.createdb("logi_spilld").sql(NOTES_DDL + ";")
    conninfo = pg.conninfo("logi_spilld")

    out = str(tmp_path / "out")
    os.makedirs(out)
    spool = str(tmp_path / "spool")
    base = ["--connect", f"postgres:{conninfo}", "--tables", "notes",
            "--out", out, "--once"]
    assert main(base + ["--spill-dir", spool]) == 2  # outbox transport
    assert main(base + ["--transport", "notify",
                        "--spill-dir", spool]) == 2
    assert main(base + ["--transport", "logical", "--plugin", "pgoutput",
                        "--slot", "sp_po", "--spill-dir", spool]) == 0
    argv = base + ["--transport", "logical", "--slot", "sp_td",
                   "--spill-dir", spool]
    assert main(argv) == 0  # install + idle drain


def test_filter_change_guard_on_unconfirmed_window(pg, spark):
    """ADVICE r9: the replay-stable numbering counts only post-filter
    changes, so reopening a consumer with a DIFFERENT tableRegexp while
    an unconfirmed window exists would silently renumber the replay.
    The filter hash is anchored next to the (seq, LSN) rows: a mismatch
    under an unconfirmed window fails loudly; with everything confirmed
    the filter may change freely."""
    from pqstream_spark.sources.outbox_pg import PsqlError

    r, mgr = _fresh(pg, "logi_filter")
    r.sql("CREATE TABLE extras (id int PRIMARY KEY, note text);")
    mgr.table_regexp = "notes|extras"
    mgr.install()
    r.sql("INSERT INTO notes VALUES (1, now(), 'n');"
          "INSERT INTO extras VALUES (2, 'e');")
    p = PgLogicalPoller.open_durable(
        r, slot=mgr.slot, consumer="c", table_regexp="notes|extras")
    assert p.read_batch(spark).count() == 2
    # torn advance (anchor rows written, slot not advanced): the
    # numbered-but-unconfirmed window would REPLAY on the next open —
    # under a different filter it renumbers silently, so the reopen
    # must fail loudly; the original filter still works
    lsn_text, lsn_big, end_seq = p._pending
    from pqstream_spark.sources.outbox_pg import PG_OFFSET_TABLE, _quote_lit
    r.sql(
        f"UPDATE {PG_OFFSET_TABLE} SET last_seq = {end_seq} "
        f"WHERE consumer = {_quote_lit(p._seq_key)};"
        f"UPDATE {PG_OFFSET_TABLE} SET last_seq = {lsn_big} "
        f"WHERE consumer = {_quote_lit(p._lsn_key)};"
    )
    with pytest.raises(PsqlError, match="tableRegexp changed"):
        PgLogicalPoller.open_durable(
            r, slot=mgr.slot, consumer="c", table_regexp="notes")
    p2 = PgLogicalPoller.open_durable(
        r, slot=mgr.slot, consumer="c", table_regexp="notes|extras")
    assert p2.read_batch(spark).count() == 2
    p2.advance()
    # fully confirmed: the filter change is accepted and re-anchored
    p3 = PgLogicalPoller.open_durable(
        r, slot=mgr.slot, consumer="c", table_regexp="notes")
    r.sql("INSERT INTO notes VALUES (3, now(), 'n2');"
          "INSERT INTO extras VALUES (4, 'e2');")
    rows = p3.read_batch(spark).collect()
    p3.advance()
    assert [(row.seq, row.table_name) for row in rows] == [(3, "notes")]


def test_logical_datasource_spilldir_option(pg, spark, tmp_path):
    """`option("spillDir", ...)` on pqstream_logical: a torn-anchor
    replay window wider than maxPeek — which would kill the query with
    GiantTxnError — drains through the spool instead; spool batches
    ride the NORMAL commit path (advance_to's GREATEST guard absorbs
    the already-advanced slot) and the spool cleans up."""
    import os

    from pqstream_spark.sources.logical_datasource import LogicalStreamReader
    from pqstream_spark.sources.logical_pg import GiantTxnError
    from pqstream_spark.sources.outbox_pg import (
        PG_OFFSET_TABLE,
        PsqlRunner,
        _quote_lit,
    )

    pg.createdb("logi_dsspill").sql(NOTES_DDL + ";")
    conninfo = pg.conninfo("logi_dsspill")
    r = PsqlRunner(conninfo)
    PgLogicalCaptureManager(
        r, slot="pq_dsspill", table_regexp="notes").install()
    # torn-anchor setup: 30 numbered txns, offset rows written, slot back
    r.sql(";\n".join(
        f"INSERT INTO notes VALUES ({i}, now(), 'w{i}')"
        for i in range(1, 31)) + ";")
    p = PgLogicalPoller.open_durable(r, slot="pq_dsspill", consumer="seed",
                                     table_regexp="notes")
    p.read_batch(spark).collect()
    lsn_text, lsn_big, end_seq = p._pending
    r.sql(
        f"UPDATE {PG_OFFSET_TABLE} SET last_seq = {end_seq} "
        f"WHERE consumer = {_quote_lit(p._seq_key)};"
        f"UPDATE {PG_OFFSET_TABLE} SET last_seq = {lsn_big} "
        f"WHERE consumer = {_quote_lit(p._lsn_key)};"
    )
    r.sql("INSERT INTO notes VALUES (9001, now(), 'post');")

    opts = {"url": f"postgres:{conninfo}", "slot": "pq_dsspill",
            "consumer": "seed", "tableregexp": "notes",
            "maxchangesperbatch": "5", "maxpeek": "20"}
    with pytest.raises(GiantTxnError):
        LogicalStreamReader(dict(opts)).latestOffset()
    spool = str(tmp_path / "spool")
    reader = LogicalStreamReader({**opts, "spilldir": spool})
    start = reader.initialOffset()
    end = reader.latestOffset()
    assert end["seq"] == 31  # the post-anchor row, fresh seq
    rows = [row for part in reader.partitions(start, end)
            for row in reader.read(part)]
    assert [(row[0], row[5]) for row in rows] == [(31, "9001")]
    reader.commit(end)
    # next trigger: consumed-check cleans the spool, stream is live
    assert reader.latestOffset() == end
    assert not os.path.isdir(os.path.join(spool, "pq_dsspill"))
    r.sql("INSERT INTO notes VALUES (9002, now(), 'live');")
    end2 = reader.latestOffset()
    assert end2["seq"] == 32


# -- round 11: ADVICE r10 fixes ---------------------------------------------


def test_iter_logical_records_quote_parity():
    """Unit pin of the multi-line reassembly (ADVICE r10 high):
    test_decoding doubles single quotes but does NOT escape newlines,
    so quote PARITY is the unambiguous record-continuation signal. A
    continuation line that looks exactly like `COMMIT 42` (or an empty
    line) must stay inside the value."""
    from pqstream_spark.sources.logical_pg import iter_logical_records

    physical = [
        "BEGIN 700",
        "table public.notes: INSERT: id[integer]:1 note[text]:'line1",
        "COMMIT 42",
        "",
        "tail''quoted'",
        "COMMIT 700 (at 2021-01-01 00:00:00+00)",
        "table public.notes: INSERT: id[integer]:2 note[text]:'plain'",
    ]
    records = list(iter_logical_records(physical))
    assert records == [
        "BEGIN 700",
        "table public.notes: INSERT: id[integer]:1 note[text]:'line1\n"
        "COMMIT 42\n\ntail''quoted'",
        "COMMIT 700 (at 2021-01-01 00:00:00+00)",
        "table public.notes: INSERT: id[integer]:2 note[text]:'plain'",
    ]
    # the reassembled record parses to the exact multi-line value
    (_, _, _, _, payload, _), = parse_change_line(records[1])
    assert json.loads(payload)["note"] == "line1\nCOMMIT 42\n\ntail'quoted"
    # torn tail (crash mid-value): yielded as-is, parser's no-COMMIT
    # txn-drop handles it downstream
    assert list(iter_logical_records(["x[text]:'open", "still open"])) == [
        "x[text]:'open\nstill open"]


def test_spool_multiline_values_survive(pg, spark, tmp_path):
    """Live regression for the spool newline corruption (ADVICE r10
    high): a giant transaction whose text values contain newlines —
    including a line that looks like a bare `COMMIT <n>` and an empty
    line — drains through pg_recvlogical + the spool byte-exactly.
    Before the fix the values were truncated at the first newline, the
    continuation lines vanished, and the fake COMMIT line falsely
    closed the transaction (dropping the rest of it)."""
    r, mgr = _fresh(pg, "logi_ml")
    p = PgLogicalPoller.open_durable(
        r, slot=mgr.slot, consumer="c", max_changes=50, max_peek=100,
        spill_dir=str(tmp_path / "spool"))
    # one 300-change txn (> max_peek forces the spool drain), every
    # value multi-line with adversarial continuation lines
    r.sql("BEGIN;\n"
          "INSERT INTO notes SELECT g, now(), "
          "'v' || g || E'\\nCOMMIT 42\\n\\ntail' || g "
          "FROM generate_series(1, 300) g;\n"
          "COMMIT;")
    rows = sorted(p.read_batch(spark).collect(), key=lambda x: x.seq)
    p.advance()
    assert [row.seq for row in rows] == list(range(1, 301))
    for g, row in enumerate(rows, start=1):
        assert json.loads(row.payload_json)["note"] == (
            f"v{g}\nCOMMIT 42\n\ntail{g}"), f"row {g} corrupted"
    # stream continues cleanly past the spool
    r.sql("INSERT INTO notes VALUES (9001, now(), 'post');")
    nxt = [(row.seq, row.id) for row in p.read_batch(spark).collect()]
    p.advance()
    assert nxt == [(301, "9001")]


def test_spool_fully_filtered_resumes_peek(pg, spark, tmp_path):
    """ADVICE r10 medium: a spooled giant transaction that is ENTIRELY
    on filtered-out tables (n_total == 0) must advance the slot past
    the window, clean the spool, and resume the peek path — without
    the fix the spool was never cleaned and a consumer that never
    calls advance() (the DataSource) re-read the empty spool forever,
    permanently stalling the stream."""
    import os

    from pqstream_spark.sources.outbox_pg import PG_OFFSET_TABLE, _quote_lit

    r, mgr = _fresh(pg, "logi_filtspool")
    r.sql("CREATE TABLE other (id int PRIMARY KEY, note text);")
    spool = str(tmp_path / "spool")
    # torn-anchor setup (the GiantTxnError trigger, as in the repair
    # test): 30 numbered notes txns, offset rows written, slot back
    r.sql(";\n".join(
        f"INSERT INTO notes VALUES ({i}, now(), 'w{i}')"
        for i in range(1, 31)) + ";")
    p0 = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c",
                                      table_regexp="notes")
    p0.read_batch(spark).collect()
    lsn_text, lsn_big, end_seq = p0._pending
    r.sql(
        f"UPDATE {PG_OFFSET_TABLE} SET last_seq = {end_seq} "
        f"WHERE consumer = {_quote_lit(p0._seq_key)};"
        f"UPDATE {PG_OFFSET_TABLE} SET last_seq = {lsn_big} "
        f"WHERE consumer = {_quote_lit(p0._lsn_key)};"
    )
    # post-anchor backlog ENTIRELY on the filtered table
    r.sql("BEGIN;\n"
          "INSERT INTO other SELECT g, 'o' || g "
          "FROM generate_series(1, 300) g;\n"
          "COMMIT;")
    p = PgLogicalPoller.open_durable(
        r, slot=mgr.slot, consumer="c", table_regexp="notes",
        max_changes=5, max_peek=20, spill_dir=spool)
    # the spool drains, turns out fully filtered (n_total == 0): the
    # slot must advance past it, the spool must be CLEANED, and the
    # peek path must resume — all inside one read_rows call, with NO
    # advance() in between (the DataSource-shaped contract)
    rows, _ = p.read_rows()
    assert rows == []
    assert not os.path.isdir(os.path.join(spool, mgr.slot)), (
        "fully-filtered spool was never cleaned — the stream is stalled")
    # the stream is live: a new notes row arrives on the peek path
    # (drain loop: the tiny max_changes=5 window may first pass over
    # change-free txns — spool barriers, autovacuum — one poll each)
    r.sql("INSERT INTO notes VALUES (9001, now(), 'real');")
    rows2: list = []
    for _ in range(8):
        got2, _ = p.read_rows()
        rows2 += got2
        p.advance()
        if rows2:
            break
    assert [(row[0], row[5]) for row in rows2] == [(31, "9001")]


def test_toast_p3_resolution_schema_qualified(pg, spark):
    """ADVICE r10 medium / VERDICT #1: the unchanged-TOAST P3 re-select
    must be schema-qualified. Setup: the captured table lives in schema
    `s1` with REPLICA IDENTITY DEFAULT (non-public tables are exactly
    the ones install() never set FULL on), and a SAME-NAMED table with
    the SAME id exists earlier in search_path (`public.docs`) carrying
    a different body. The backfill must come from s1.docs — before the
    fix the unqualified lookup spliced public.docs's body in: a
    plausible-looking wrong value, the outcome the resolution contract
    explicitly forbids."""
    r = pg.createdb("logi_toastsch")
    # shadow FIRST (its writes predate the slot, so they never decode)
    r.sql("CREATE TABLE docs (id int PRIMARY KEY, meta text, body text);")
    shadow_body = _toast_text("shadow")
    r.sql(f"INSERT INTO docs VALUES (1, 'shadow', '{shadow_body}');")
    r.sql("CREATE SCHEMA s1;"
          "CREATE TABLE s1.docs (id int PRIMARY KEY, meta text, body text);"
          "ALTER TABLE s1.docs ALTER COLUMN body SET STORAGE EXTERNAL;")
    mgr = PgLogicalCaptureManager(r, slot="pq_toastsch",
                                  table_regexp="docs")
    mgr.install()  # discovers only public.docs; s1.docs stays DEFAULT
    real_body = _toast_text("real")
    r.sql(f"INSERT INTO s1.docs VALUES (1, 'm0', '{real_body}');"
          "UPDATE s1.docs SET meta = 'm1' WHERE id = 1;")
    p = PgLogicalPoller.open_durable(r, slot=mgr.slot, consumer="c",
                                     table_regexp="docs")
    rows = sorted(p.read_batch(spark).collect(), key=lambda x: x.seq)
    p.advance()
    upd = rows[-1]
    assert (upd.op, upd.schema_name, upd.table_name) == (
        "UPDATE", "s1", "docs")
    body = json.loads(upd.payload_json)["body"]
    assert body != shadow_body, (
        "P3 backfill leaked the shadowing public table's value")
    assert body == real_body


def test_slot_create_command_version_gate():
    """ADVICE r10 low: PG15+ takes the option-list walsender grammar
    (SNAPSHOT 'export'); PG10-14 need the keyword form EXPORT_SNAPSHOT
    — the new grammar raises a syntax error there and crashes the
    exactly-once bootstrap."""
    from pqstream_spark.sources.logical_pg import SlotSnapshotSession

    new = SlotSnapshotSession.create_slot_command("s", "test_decoding",
                                                  150000)
    assert "(SNAPSHOT 'export')" in new and "EXPORT_SNAPSHOT" not in new
    old = SlotSnapshotSession.create_slot_command("s", "test_decoding",
                                                  140007)
    assert old.rstrip(";").endswith("EXPORT_SNAPSHOT")
    assert "SNAPSHOT '" not in old


# -- round 11: continuous executor-side spool ingest (VERDICT r10 #2) -------


def test_spool_mode_parity_with_peek_path(pg, spark, tmp_path):
    """Two slots over the same writes: the continuous spool-ingest
    batch (pg_recvlogical → segments → executor mapInPandas parse) is
    ROW-IDENTICAL to the peek path's batch — same seqs, same commit
    timestamps, same JSON renderings (multi-line values, UPDATEs with
    previous, DELETEs included)."""
    r = pg.createdb("logi_spoolpar")
    r.sql(NOTES_DDL + ";")
    m1 = PgLogicalCaptureManager(r, slot="pq_sp_peek",
                                 table_regexp="notes")
    m1.install()
    m2 = PgLogicalCaptureManager(r, slot="pq_sp_spool",
                                 table_regexp="notes")
    m2.install()
    r.sql("INSERT INTO notes SELECT g, timestamp '2021-05-06 07:08:09', "
          "'v' || g || E'\\nml''x' FROM generate_series(1, 500) g;"
          "UPDATE notes SET note = note || '+' WHERE id <= 100;"
          "DELETE FROM notes WHERE id = 7;")
    p1 = PgLogicalPoller.open_durable(r, slot="pq_sp_peek", consumer="c",
                                      table_regexp="notes")
    peek_rows = sorted(tuple(x) for x in p1.read_batch(spark).collect())
    p1.advance()
    p2 = PgLogicalPoller.open_durable(
        r, slot="pq_sp_spool", consumer="c", table_regexp="notes",
        spill_dir=str(tmp_path / "spool"))
    df, n = p2.read_batch_spool_distributed(spark)
    spool_rows = sorted(tuple(x) for x in df.collect())
    assert n == len(peek_rows) == 601
    assert spool_rows == peek_rows

    # crash window (a): no advance — a FRESH poller re-parses the same
    # spool files into byte-identical rows
    p2b = PgLogicalPoller.open_durable(
        r, slot="pq_sp_spool", consumer="c", table_regexp="notes",
        spill_dir=str(tmp_path / "spool"))
    df_b, n_b = p2b.read_batch_spool_distributed(spark)
    assert sorted(tuple(x) for x in df_b.collect()) == spool_rows
    p2b.advance()
    import os

    assert not os.path.isdir(p2b._spool_dir())
    # idle poll: empty batch, no churn, slot housekeeping done
    df_i, n_i = p2b.read_batch_spool_distributed(spark)
    assert n_i == 0 and df_i.count() == 0
    # the stream continues with fresh seqs
    r.sql("INSERT INTO notes VALUES (9001, now(), 'post');")
    df_n, n_n = p2b.read_batch_spool_distributed(spark)
    assert [(x.seq, x.id) for x in df_n.collect()] == [(602, "9001")]
    p2b.advance()


def test_daemon_spool_mode_sigkill_exactly_once(pg, tmp_path):
    """The SIGKILL exactly-once e2e, in continuous spool-ingest mode
    (--spool-mode --spill-dir): union of the jsonl output deduped by
    id equals exactly the committed rows across a hard kill + restart
    — the spool files are the durable copy of everything the slot
    released, and replay re-parses them into identical output."""
    import glob
    import json as _json
    import os
    import subprocess
    import sys
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pg.createdb("logi_spkill").sql(NOTES_DDL + ";")
    conninfo = pg.conninfo("logi_spkill")
    from pqstream_spark.sources.outbox_pg import PsqlRunner
    r = PsqlRunner(conninfo)

    out = str(tmp_path / "out")
    os.makedirs(out)
    spool = str(tmp_path / "spool")
    log_path = str(tmp_path / "daemon.log")
    argv = [sys.executable, "-m", "pqstream_spark",
            "--connect", f"postgres:{conninfo}", "--transport", "logical",
            "--slot", "pq_spkill", "--tables", "notes", "--out", out,
            "--spill-dir", spool, "--spool-mode",
            "--poll-interval", "0.2"]
    env = {**os.environ, "SPARK_GRAFT_CPUS": "8"}

    def lines():
        got = []
        for f in sorted(glob.glob(out + "/*.jsonl")):
            with open(f) as fh:
                got.extend(_json.loads(l) for l in fh if l.strip())
        return got

    def wait(pred, secs, what):
        end = time.time() + secs
        while time.time() < end:
            if pred():
                return
            time.sleep(0.25)
        raise AssertionError(f"timed out waiting for {what}")

    with open(log_path, "ab") as log:
        daemon = subprocess.Popen(argv, cwd=repo, env=env,
                                  stdout=log, stderr=log)
    try:
        wait(lambda: r.scalar(
            "SELECT count(*) FROM pg_replication_slots "
            "WHERE slot_name = 'pq_spkill'") == "1", 120, "slot install")
        r.sql("INSERT INTO notes SELECT g, now(), 'k' || g "
              "FROM generate_series(1, 40) g;")
        wait(lambda: len(lines()) >= 40, 180, "first rows to drain")
        r.sql("INSERT INTO notes SELECT 100 + g, now(), 'k' || g "
              "FROM generate_series(1, 40) g;")
        time.sleep(0.4)
    finally:
        daemon.kill()  # SIGKILL
        daemon.wait(timeout=30)

    # post-kill drain in-process (round 15, suite-budget): recovery
    # state is the replication slot position in the DATABASE — a fresh
    # poller re-reads it; the subprocess added only a JVM boot. The
    # kill half above keeps the real daemon process.
    from pqstream_spark.__main__ import main as _main

    rc = _main(argv[3:] + ["--once"])
    assert rc == 0

    got = lines()
    by_id: dict[int, set] = {}
    for e in got:
        by_id.setdefault(e["payload"]["id"], set()).add(
            _json.dumps(e, sort_keys=True))
    ids = sorted(by_id)
    assert ids == list(range(1, 41)) + list(range(101, 141)), (
        f"loss or phantom rows: {len(ids)} unique ids"
    )
    multi = {i: len(v) for i, v in by_id.items() if len(v) != 1}
    assert not multi, f"replay changed content for ids {multi}"


def test_spool_mode_flag_validation(pg, tmp_path):
    """--spool-mode flag surface: rejected without --spill-dir, on the
    outbox transport, and on notify; accepted on BOTH logical plugins
    (round 11: pgoutput gained its own binary spool)."""
    import os

    from pqstream_spark.__main__ import main

    pg.createdb("logi_spflag").sql(NOTES_DDL + ";")
    conninfo = pg.conninfo("logi_spflag")
    out = str(tmp_path / "out")
    os.makedirs(out)
    spool = str(tmp_path / "spool")
    base = ["--connect", f"postgres:{conninfo}", "--tables", "notes",
            "--out", out, "--once"]
    assert main(base + ["--spool-mode", "--spill-dir", spool]) == 2
    assert main(base + ["--transport", "notify", "--spool-mode"]) == 2
    assert main(base + ["--transport", "logical", "--plugin", "pgoutput",
                        "--slot", "spf_po", "--spool-mode",
                        "--spill-dir", spool]) == 0
    assert main(base + ["--transport", "logical", "--slot", "spf_td",
                        "--spool-mode"]) == 2  # no --spill-dir
    argv = base + ["--transport", "logical", "--slot", "spf_ok",
                   "--spill-dir", spool, "--spool-mode"]
    assert main(argv) == 0  # install + one idle spool poll


def test_rebootstrap_recovers_lost_slot_end_to_end(pg, tmp_path, spark):
    """Slot-loss recovery (round 11, VERDICT r10 #6): a slot
    invalidated by max_slot_wal_keep_size pressure (wal_status='lost')
    strands its consumer — the WAL is gone. `--rebootstrap` drops the
    dead slot, re-creates it over the walsender with an exported
    snapshot, re-emits the snapshot and resumes the changelog: the
    recovered output's final state is the loss-free multiset INCLUDING
    rows whose changelog entries were destroyed with the WAL."""
    import glob
    import json as _json
    import os

    from pqstream_spark.__main__ import main

    srv = EphemeralPostgres.temp("pq_rebs_")
    srv.initdb(extra="--wal-segsize=1")
    srv.start(extra_conf="-c max_slot_wal_keep_size=1MB")
    try:
        r = srv.createdb("keep")
        r.sql(NOTES_DDL + ";"
              "CREATE TABLE filler (id int, pad text);")
        # slot exists BEFORE any write, so the healthy run drains the
        # changelog (a slot only decodes WAL after its creation)
        PgLogicalCaptureManager(
            r, slot="pq_rebs", table_regexp="notes").install()
        out = str(tmp_path / "out")
        os.makedirs(out)
        argv = ["--connect", f"postgres:{srv.conninfo('keep')}",
                "--transport", "logical", "--slot", "pq_rebs",
                "--tables", "notes", "--out", out, "--once"]

        def state():
            """Current notes state from the jsonl output: last op per
            id wins within (negative-seq snapshot, then changelog
            epochs in filename order)."""
            rows = {}
            for f in sorted(glob.glob(out + "/*.jsonl")):
                with open(f) as fh:
                    for line in fh:
                        e = _json.loads(line)
                        rows[e["payload"]["id"]] = e["op"]
            return {i for i, op in rows.items() if op != "DELETE"}

        # healthy run: --rebootstrap is a NO-OP on a live slot
        r.sql("INSERT INTO notes SELECT g, now(), 'a' || g "
              "FROM generate_series(1, 5) g;")
        assert main(argv + ["--rebootstrap"]) == 0
        assert state() == set(range(1, 6))
        assert r.scalar(
            "SELECT count(*) FROM pg_replication_slots "
            "WHERE slot_name = 'pq_rebs'") == "1"

        # rows the slot will LOSE with the WAL, then retention pressure
        # on the unfiltered filler table until the slot is invalidated
        r.sql("INSERT INTO notes SELECT g, now(), 'b' || g "
              "FROM generate_series(6, 10) g;")
        for _ in range(12):
            r.sql("INSERT INTO filler SELECT g, repeat('x', 1000) "
                  "FROM generate_series(1, 2000) g;"
                  "SELECT pg_switch_wal();"
                  "CHECKPOINT;")
            if r.scalar(
                "SELECT wal_status FROM pg_replication_slots "
                "WHERE slot_name = 'pq_rebs'"
            ) == "lost":
                break
        assert r.scalar(
            "SELECT wal_status FROM pg_replication_slots "
            "WHERE slot_name = 'pq_rebs'") == "lost"

        # recovery: drop dead slot -> exported-snapshot slot ->
        # snapshot (contains ids 1-10, the 'lost' 6-10 included) ->
        # changelog resumes
        assert main(argv + ["--rebootstrap"]) == 0
        assert state() == set(range(1, 11)), state()
        snap_files = glob.glob(out + "/batch--*")
        assert snap_files, "snapshot was not re-emitted"

        # the recovered stream is live: post-recovery writes drain
        r.sql("INSERT INTO notes VALUES (11, now(), 'post');"
              "DELETE FROM notes WHERE id = 1;")
        assert main(argv) == 0
        assert state() == set(range(2, 12)), state()
    finally:
        srv.destroy()


def test_logical_datasource_bootstrap(pg, spark, tmp_path):
    """Round 13 (VERDICT r12 #3): `option("bootstrap", true)` on the
    single-slot DataSource — a populated database with NO capture
    installed streams its initial state as negative-seq INSERTs via an
    exported-snapshot slot (exactly-once switchover), then live
    changes; restart on the same checkpoint re-delivers nothing."""
    from pqstream_spark.sources.logical_datasource import LogicalDataSource
    from pqstream_spark.sources.outbox_pg import PsqlRunner

    pg.createdb("logi_boot").sql(
        NOTES_DDL + ";"
        "INSERT INTO notes (created_at, note) VALUES (now(), 'pre-a'),"
        " (now(), 'pre-b'), (now(), 'pre-c');")
    conninfo = pg.conninfo("logi_boot")
    r = PsqlRunner(conninfo)
    spark.dataSource.register(LogicalDataSource)
    ckpt, out = str(tmp_path / "bckpt"), str(tmp_path / "bout")
    spool = str(tmp_path / "bspool")

    def run_query():
        return (
            spark.readStream.format("pqstream_logical")
            .option("url", f"postgres:{conninfo}")
            .option("slot", "pq_boot")
            .option("tableRegexp", "notes")
            .option("bootstrap", "true")
            .option("spillDir", spool)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start())

    q = run_query()
    try:
        q.processAllAvailable()
        r.sql("INSERT INTO notes (created_at, note) VALUES (now(), 'live');"
              "UPDATE notes SET note = 'pre-a2' WHERE id = 1;")
        q.processAllAvailable()
    finally:
        q.stop()
    r.sql("DELETE FROM notes WHERE id = 2;")  # while the query is down
    q = run_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = sorted(spark.read.parquet(out).select(
        "seq", "op", "id", "payload_json", "previous_json").collect(),
        key=lambda x: x.seq)
    assert [x.seq for x in rows] == [-3, -2, -1, 1, 2, 3]
    assert [x.op for x in rows] == ["INSERT"] * 4 + ["UPDATE", "DELETE"]
    import json as _json

    snap_notes = sorted(_json.loads(x.payload_json)["note"]
                        for x in rows[:3])
    assert snap_notes == ["pre-a", "pre-b", "pre-c"]
    assert _json.loads(rows[3].payload_json)["note"] == "live"
    # the consumed snapshot spool was retired on commit, leaving the
    # consumption tombstone (distinguishes 'consumed' from 'lost')
    snap_d = os.path.join(spool, "pq_boot", "snapshot")
    assert not os.path.exists(os.path.join(snap_d, "rows.jsonl"))
    assert os.path.exists(os.path.join(snap_d, "retired"))
    # the exported-snapshot switchover left REPLICA IDENTITY working:
    # the UPDATE carries its previous image
    assert rows[4].previous_json is not None


def test_snapshot_spool_not_retired_by_non_owner(pg, tmp_path):
    """ADVICE r14 medium: a bootstrap run that crashed PRE-delivery
    leaves a pending spool; a later query constructed WITHOUT option
    bootstrap (fresh checkpoint, start offsets >= 0) commits
    non-negative offsets — it must NOT retire the spool and write a
    'consumed' tombstone for a snapshot it never delivered, or the
    next bootstrap=true run silently skips the entire initial state."""
    from pqstream_spark.sources.logical_datasource import LogicalStreamReader

    pg.createdb("boot_owner").sql(
        NOTES_DDL + ";"
        "INSERT INTO notes (created_at, note) VALUES (now(), 'pre-a'),"
        " (now(), 'pre-b');")
    conninfo = pg.conninfo("boot_owner")
    spool = str(tmp_path / "ospool")
    opts = {"url": f"postgres:{conninfo}", "slot": "pq_boot_owner",
            "tableregexp": "notes", "spilldir": spool}

    # bootstrap run dumps the spool, then "crashes" before delivering
    # anything (no partitions, no commit)
    boot = LogicalStreamReader({**opts, "bootstrap": "true"})
    assert boot.initialOffset() == {"seq": -2}
    snap_d = os.path.join(spool, "pq_boot_owner", "snapshot")
    assert os.path.exists(os.path.join(snap_d, "rows.jsonl"))

    # restart WITHOUT bootstrap on a fresh checkpoint: never plans the
    # snapshot, commits a non-negative offset — the pending spool must
    # survive untombstoned
    plain = LogicalStreamReader(opts)
    assert plain.initialOffset() == {"seq": 0}
    plain.commit({"seq": 0})
    assert os.path.exists(os.path.join(snap_d, "rows.jsonl")), (
        "non-owner commit retired a pending bootstrap spool")
    assert not os.path.exists(os.path.join(snap_d, "retired"))

    # the initial state is still deliverable: a bootstrap=true reader
    # picks the spool up (sentinel already set — no re-dump needed)
    boot2 = LogicalStreamReader({**opts, "bootstrap": "true"})
    assert boot2.initialOffset() == {"seq": -2}
    parts = boot2.partitions({"seq": -2}, {"seq": 0})
    rows = [r for p in parts for r in boot2.read(p)]
    assert sorted(json.loads(r[6])["note"] for r in rows) == [
        "pre-a", "pre-b"]
    # ... and the OWNER's post-snapshot commit does retire it
    boot2.commit({"seq": 0})
    assert not os.path.exists(os.path.join(snap_d, "rows.jsonl"))
    assert os.path.exists(os.path.join(snap_d, "retired"))


def test_single_slot_pgoutput_delegates_to_spool_path(pg, tmp_path,
                                                      monkeypatch):
    """Round 14 (VERDICT r13 #3): the shard-less `pqstream_logical`
    surface with plugin=pgoutput + spillDir rides the sharded
    spool+sidecar machinery (shards=1, EXACT slot/publication names) —
    executor-side parse, driver never walks spool bytes (the stubbed
    light scan proves the sidecar path carries it), and a legacy
    single-slot {"seq": n} checkpoint offset maps to shard 0."""
    from pqstream_spark.sources.logical_datasource import LogicalDataSource
    from pqstream_spark.sources.pgoutput_pg import PgOutputCaptureManager, PgOutputPoller
    from pqstream_spark.sources.sharded_datasource import (
        ShardedLogicalStreamReader,
    )

    r = pg.createdb("uni_ds")
    r.sql(NOTES_DDL + ";")
    PgOutputCaptureManager(
        r, slot="po_uni", publication="pub_uni",
        table_regexp="notes").install()
    r.sql("INSERT INTO notes (created_at, note) VALUES (now(), 'a'),"
          " (now(), 'b'), (now(), 'c');")
    opts = {"url": f"postgres:{pg.conninfo('uni_ds')}",
            "plugin": "pgoutput", "slot": "po_uni",
            "publication": "pub_uni", "consumer": "uni",
            "spilldir": str(tmp_path / "uspool")}

    def _boom(self, seg_dir):
        raise AssertionError(
            "driver walked spool bytes on the single-slot surface")

    monkeypatch.setattr(PgOutputPoller, "_spool_scan_light", _boom)
    reader = LogicalDataSource(options=opts).streamReader(None)
    assert isinstance(reader, ShardedLogicalStreamReader), (
        "single-slot pgoutput+spillDir did not delegate to the "
        "spool path")
    start = reader.initialOffset()
    assert start == {"0": 0}
    end = reader.latestOffset()
    rows = [row for part in reader.partitions(start, end)
            for row in reader.read(part)]
    assert sorted(json.loads(x[6])["note"] for x in rows) == [
        "a", "b", "c"]
    assert [x[0] for x in rows] == [1, 2, 3]  # n_shards=1 == local seqs
    reader.commit(end)

    # legacy {"seq": n} offsets (a pre-round-14 single-slot
    # checkpoint) normalize to shard 0 on replay AND commit
    r.sql("INSERT INTO notes (created_at, note) VALUES (now(), 'd');")
    end2 = reader.latestOffset()
    rows2 = [row for part in reader.partitions({"seq": 3}, end2)
             for row in reader.read(part)]
    assert [json.loads(x[6])["note"] for x in rows2] == ["d"]
    reader.commit({"seq": int(end2["0"])})


def test_single_slot_snapshot_rate_limit(pg, tmp_path):
    """ADVICE r14 low #3: single-slot bootstrap consumes the snapshot
    as BOUNDED micro-batches under maxChangesPerBatch, with durable
    mid-snapshot progress (consumed.json) so a restarted engine's
    first latestOffset resumes from the anchor instead of re-planning
    committed snapshot rows."""
    from pqstream_spark.sources.logical_datasource import LogicalStreamReader

    pg.createdb("chunk_boot").sql(
        NOTES_DDL + ";"
        "INSERT INTO notes (created_at, note) "
        "SELECT now(), 'pre-' || g FROM generate_series(1, 5) g;")
    spool = str(tmp_path / "cspool")
    opts = {"url": f"postgres:{pg.conninfo('chunk_boot')}",
            "slot": "pq_chunk_boot", "tableregexp": "notes",
            "spilldir": spool, "bootstrap": "true",
            "maxchangesperbatch": "2"}

    reader = LogicalStreamReader(opts)
    assert reader.initialOffset() == {"seq": -5}
    assert reader.latestOffset() == {"seq": -3}  # first bounded chunk
    rows = [r2 for p in reader.partitions({"seq": -5}, {"seq": -3})
            for r2 in reader.read(p)]
    assert len(rows) == 2
    reader.commit({"seq": -3})
    snap_d = os.path.join(spool, "pq_chunk_boot", "snapshot")
    assert os.path.exists(os.path.join(snap_d, "consumed.json"))
    assert reader.latestOffset() == {"seq": -1}

    # restart mid-snapshot: the FIRST engine call is latestOffset —
    # it must resume from the durable anchor, not the snapshot start
    reader2 = LogicalStreamReader(opts)
    off = reader2.latestOffset()
    assert off == {"seq": -1}
    rows = [r2 for p in reader2.partitions({"seq": -3}, {"seq": -1})
            for r2 in reader2.read(p)]
    assert len(rows) == 2
    reader2.commit({"seq": -1})
    off = reader2.latestOffset()
    assert off["seq"] >= 0  # final chunk crosses into the changelog
    rows = [r2 for p in reader2.partitions({"seq": -1}, off)
            for r2 in reader2.read(p)]
    assert len([x for x in rows if x[0] < 0]) == 1  # last snapshot row
    reader2.commit(off)
    assert not os.path.exists(os.path.join(snap_d, "rows.jsonl"))
    assert os.path.exists(os.path.join(snap_d, "retired"))
