"""Live-PostgreSQL integration tests for the capture path (S1/S4/S5)
— the reference's own test topology (`server_test.go:98-136`: throwaway
database per case, scripted INSERT/UPDATE on a `notes` table) executed
against a real server with the engine's golden-pinned DDL.

Skips ONLY when the PostgreSQL server binaries are absent; the
transport gap-watch (test_transport_probe.test_postgres_binaries_probe)
asserts these tests cannot skip while the binaries exist, so the
capability can never again sit unused (it did for rounds 4-6).

JSON-type-rendering divergences between the sqlite re-creation and live
PG, pinned in test_pg_json_type_rendering:
- numerics: PG renders NUMERIC with declared scale ("12.50"), sqlite
  renders REAL shortest-round-trip (12.5);
- timestamps: PG json renders ISO-8601 with 'T'; sqlite stores/echoes
  the inserted text verbatim;
- both render compact, column-ordered objects (PG json via to_json —
  NOT jsonb, which reorders keys), so envelope byte-parity holds where
  the VALUES are rendered identically (text/int/null columns).
The engine normalizes both through from_json(MAP_SS) into
map<string,string>, so downstream transforms see one shape.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from pqstream_spark.sources.outbox_pg import (
    EphemeralPostgres,
    NOTIFY_TRIGGER_FUNCTION_SQL,
    PgCaptureManager,
    PgOutboxPoller,
    capture_notifications,
    install_notify_trigger_sql,
    pg_available,
)

PG_AVAILABLE = pg_available()
pytestmark = pytest.mark.skipif(
    not PG_AVAILABLE, reason="PostgreSQL server binaries not installed"
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# reference test fixtures (server_test.go:26-30)
NOTES_DDL = "CREATE TABLE notes (id serial, created_at timestamp, note text)"


@pytest.fixture(scope="module")
def pg():
    # EphemeralPostgres.temp(): pytest tmp dirs sit under root-0700
    # ancestors the demoted server process cannot traverse
    srv = EphemeralPostgres.temp()
    srv.initdb()
    srv.start()
    yield srv
    srv.destroy()


def _fresh_db(pg, name):
    r = pg.createdb(name)
    r.sql(NOTES_DDL + ";")
    return r


# -- trigger semantics on live PG ----------------------------------------


def test_trigger_capture_reference_semantics(pg):
    """queries.go:17-30 executed for real: payload is NEW for
    INSERT/UPDATE and OLD for DELETE, previous exists only for UPDATE,
    id is the text of the payload's id field; rendering is compact and
    column-ordered (row_to_json parity — json, not jsonb)."""
    r = _fresh_db(pg, "t_semantics")
    assert PgCaptureManager(r, table_regexp="notes").install() == ["notes"]
    r.sql(
        "INSERT INTO notes VALUES (default, '2020-01-02T03:04:05', 'hello');"
        "UPDATE notes SET note = 'world' WHERE id = 1;"
        "DELETE FROM notes WHERE id = 1;"
    )
    rows = r.query_csv(
        "SELECT op, id, payload::text AS p, previous::text AS prev "
        "FROM pqstream_outbox ORDER BY seq"
    )
    ins, upd, dele = rows
    assert ins["op"] == "INSERT" and ins["id"] == "1"
    assert ins["p"] == (
        '{"id":1,"created_at":"2020-01-02T03:04:05","note":"hello"}'
    )
    assert ins["prev"] is None
    assert upd["op"] == "UPDATE"
    assert '"note":"world"' in upd["p"]
    assert upd["prev"] == ins["p"], "UPDATE.previous must be the OLD row"
    assert dele["op"] == "DELETE"
    assert dele["p"] == upd["p"], "DELETE.payload must be the OLD row"
    assert dele["prev"] is None, "previous only exists for UPDATE"


def test_remove_then_install_lifecycle(pg):
    """pqsd startup parity (cmd/pqsd/main.go:95-102): remove-then-
    install is idempotent; removed triggers stop capturing; install
    with zero matching tables errors (server.go:136-139)."""
    r = _fresh_db(pg, "t_lifecycle")
    cap = PgCaptureManager(r, table_regexp="notes")
    cap.remove()  # nothing installed yet — must not fail
    cap.install()
    cap.install()  # reinstall over existing triggers — idempotent
    r.sql("INSERT INTO notes VALUES (default, default, 'a');")
    cap.remove()
    r.sql("INSERT INTO notes VALUES (default, default, 'b');")
    n = r.scalar("SELECT count(*) FROM pqstream_outbox")
    assert n == "1", "write after remove() must not be captured"
    with pytest.raises(RuntimeError, match="no tables match"):
        PgCaptureManager(r, table_regexp="nope_.*").install()


def test_pg_json_type_rendering(pg):
    """Pin live-PG's row_to_json type renderings (the divergences vs
    the sqlite backend documented in the module docstring): NUMERIC
    keeps declared scale, float is shortest-round-trip, timestamp is
    ISO-8601 with 'T', SQL NULL is json null, quotes are escaped."""
    r = pg.createdb("t_rendering")
    r.sql(
        "CREATE TABLE typed (id serial, amount numeric(10,2), "
        "flt double precision, happened timestamp, note text);"
    )
    PgCaptureManager(r, table_regexp="typed").install()
    r.sql(
        "INSERT INTO typed VALUES "
        "(default, 12.50, 0.1, '2021-06-01T12:00:00', 'he said \"hi\"');"
        "INSERT INTO typed VALUES (default, NULL, NULL, NULL, NULL);"
    )
    rows = r.query_csv(
        "SELECT payload::text AS p FROM pqstream_outbox ORDER BY seq"
    )
    assert rows[0]["p"] == (
        '{"id":1,"amount":12.50,"flt":0.1,'
        '"happened":"2021-06-01T12:00:00","note":"he said \\"hi\\""}'
    )
    assert rows[1]["p"] == (
        '{"id":2,"amount":null,"flt":null,"happened":null,"note":null}'
    )
    # normalization: the engine's MAP_SS parse accepts both backends'
    # renderings — typed values become strings, null stays SQL NULL
    payload = json.loads(rows[0]["p"])
    assert payload["amount"] == 12.5  # JSON numeric, scale is text-level


# -- poller / durable offsets --------------------------------------------


def test_poller_durable_offsets_and_replay(pg, spark):
    """LocalOutboxPoller contract on live PG: bounded batches, offset
    persisted on advance() (re-open resumes), rewind() replays,
    compact() prunes below the all-consumer low-water mark."""
    r = _fresh_db(pg, "t_poller")
    PgCaptureManager(r, table_regexp="notes").install()
    r.sql(
        "INSERT INTO notes SELECT g, now(), 'n' || g "
        "FROM generate_series(1, 25) g;"
    )
    p = PgOutboxPoller.open_durable(r, consumer="c1", max_rows=10)
    b1 = p.read_batch(spark).collect()
    assert [row.seq for row in b1] == list(range(1, 11))
    assert p.advance() == 10
    # a second consumer tails independently
    p2 = PgOutboxPoller.open_durable(r, consumer="c2", max_rows=100)
    assert len(p2.read_batch(spark).collect()) == 25
    p2.advance()
    # re-open c1: durable offset resumed from the database
    p1b = PgOutboxPoller.open_durable(r, consumer="c1", max_rows=100)
    assert p1b.last_seq == 10
    rest = p1b.read_batch(spark).collect()
    assert [row.seq for row in rest] == list(range(11, 26))
    p1b.advance()
    # rewind replays
    p1b.rewind(20)
    assert [row.seq for row in p1b.read_batch(spark).collect()] == list(
        range(21, 26)
    )
    p1b.advance()
    # compact prunes only below MIN(all consumer offsets) = 25
    assert p1b.compact() == 25
    assert r.scalar("SELECT count(*) FROM pqstream_outbox") == "0"
    # envelope fields survive the Spark round trip
    assert b1[0].payload_json.startswith('{"id":1,')
    assert b1[0].op == "INSERT" and b1[0].schema_name == "public"


# -- daemon e2e + crash recovery -----------------------------------------


def _spawn_daemon(args, log_path):
    env = {**os.environ, "SPARK_GRAFT_CPUS": "8"}
    log = open(log_path, "ab")
    return subprocess.Popen(
        [sys.executable, "-m", "pqstream_spark", *args],
        cwd=REPO, env=env, stdout=log, stderr=log,
    )


def _run_once(args, log_path, timeout=300.0):
    # In-process (round 15, VERDICT r14 #1 — suite must fit the verify
    # budget): a --once drain is synchronous and its durability
    # property lives in the DATABASE offset row, which a fresh
    # PgOutboxPoller re-reads per invocation — process isolation adds
    # nothing a fresh poller object doesn't, and each subprocess paid a
    # ~7-12 s JVM boot. Same in-process pattern as test_cli/
    # test_logical_pg. SIGKILL tests keep real processes
    # (_spawn_daemon).
    import contextlib
    import io

    from pqstream_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf), contextlib.redirect_stderr(buf):
        rc = main([*args, "--once"])
    with open(log_path, "ab") as log:
        log.write(buf.getvalue().encode())
    return rc


def _out_lines(out_dir):
    lines = []
    if not os.path.isdir(out_dir):
        return lines
    for name in sorted(os.listdir(out_dir)):
        if name.endswith(".jsonl"):
            with open(os.path.join(out_dir, name)) as f:
                lines += [l.strip() for l in f if l.strip()]
    return lines


def _wait(predicate, deadline, what):
    end = time.time() + deadline
    while time.time() < end:
        if predicate():
            return
        time.sleep(0.25)
    raise AssertionError(f"timed out waiting for {what}")


def test_daemon_golden_multiset_e2e(pg, tmp_path):
    """The daemon against live Postgres, batch mode: scripted
    INSERT+UPDATE writes (the reference's basic_insert_and_update case,
    server_test.go:169-180) drain into jsonl whose multiset matches the
    golden expectation exactly — ops, ids, payload and merge-patch
    changes."""
    r = _fresh_db(pg, "t_daemon")
    out = str(tmp_path / "out")
    log = str(tmp_path / "daemon.log")
    os.makedirs(out)
    conninfo = pg.conninfo("t_daemon")

    rc = _run_once(  # install triggers + drain empty outbox
        ["--connect", f"postgres:{conninfo}", "--tables", "notes",
         "--out", out], log
    )
    assert rc == 0
    for i in range(1, 11):
        r.sql(
            f"INSERT INTO notes VALUES (default, default, 'note {i}');"
        )
    r.sql("UPDATE notes SET note = 'updated note' WHERE id = 1;")
    rc = _run_once(
        ["--connect", f"postgres:{conninfo}", "--tables", "notes",
         "--out", out], log
    )
    assert rc == 0
    events = [json.loads(l) for l in _out_lines(out)]
    inserts = [e for e in events if e["op"] == "INSERT"]
    updates = [e for e in events if e["op"] == "UPDATE"]
    assert sorted(int(e["id"]) for e in inserts) == list(range(1, 11))
    assert len(updates) == 1
    upd = updates[0]
    assert upd["payload"]["note"] == "updated note"
    # merge patch NEW→OLD (P2): only the changed field appears
    assert upd["changes"] == {"note": "note 1"}
    assert all(e["table"] == "notes" and e["schema"] == "public" for e in events)


def test_daemon_sigkill_crash_recovery(pg, tmp_path):
    """SIGKILL the live-PG daemon mid-stream, restart on the same
    database: the durable consumer offset resumes; after seq-dedup
    every captured write appears exactly once and replayed events
    render byte-identically (at-least-once transport + idempotent
    sink = exactly-once effect) — the recovery story the reference's
    fire-and-forget NOTIFY cannot express (server.go:249-315)."""
    r = _fresh_db(pg, "t_crash")
    out = str(tmp_path / "out")
    log = str(tmp_path / "daemon.log")
    os.makedirs(out)
    conninfo = pg.conninfo("t_crash")
    r.sql(
        "INSERT INTO notes SELECT g, now(), 'pre' || g "
        "FROM generate_series(1, 40) g;"
    )
    # note: rows written BEFORE install are not captured (trigger
    # semantics) — install first via a quick --once, then write
    rc = _run_once(
        ["--connect", f"postgres:{conninfo}", "--tables", "notes",
         "--out", out], log
    )
    assert rc == 0
    r.sql(
        "INSERT INTO notes SELECT g, now(), 'n' || g "
        "FROM generate_series(101, 140) g;"
    )
    daemon = _spawn_daemon(
        ["--connect", f"postgres:{conninfo}", "--tables", "notes",
         "--out", out, "--poll-interval", "0.3"], log
    )
    try:
        _wait(lambda: len(_out_lines(out)) >= 40, 180,
              "first 40 captured rows to drain")
        r.sql(
            "INSERT INTO notes SELECT g, now(), 'n' || g "
            "FROM generate_series(141, 180) g;"
        )
        time.sleep(0.4)
    finally:
        daemon.kill()  # SIGKILL — no cleanup runs
        daemon.wait(timeout=30)

    rc = _run_once(
        ["--connect", f"postgres:{conninfo}", "--tables", "notes",
         "--out", out], log
    )
    assert rc == 0
    events = [json.loads(l) for l in _out_lines(out)]
    ids = [int(e["id"]) for e in events if e["op"] == "INSERT"]
    want = set(range(101, 181))
    assert set(ids) == want, f"lost writes: {sorted(want - set(ids))}"
    by_id = {}
    for e in events:
        if e["op"] == "INSERT":
            by_id.setdefault(int(e["id"]), set()).add(
                json.dumps(e, sort_keys=True)
            )
    diverging = {i for i, renders in by_id.items() if len(renders) > 1}
    assert not diverging, f"replay re-rendered differently: {diverging}"


def test_daemon_bootstrap_snapshot_then_stream(pg, tmp_path):
    """--bootstrap on the PG backend: rows that existed BEFORE capture
    was installed are emitted once as synthetic INSERT events (negative
    seqs — the CDC bootstrap the reference's NOTIFY-only design cannot
    express), then the changelog takes over; a second run does not
    re-snapshot."""
    r = _fresh_db(pg, "t_bootstrap")
    conninfo = pg.conninfo("t_bootstrap")
    out = str(tmp_path / "out")
    log = str(tmp_path / "daemon.log")
    os.makedirs(out)
    r.sql(
        "INSERT INTO notes SELECT g, now(), 'pre' || g "
        "FROM generate_series(1, 15) g;"
    )
    rc = _run_once(
        ["--connect", f"postgres:{conninfo}", "--tables", "notes",
         "--out", out, "--bootstrap"], log
    )
    assert rc == 0
    # snapshot rows carry negative seqs, which land in `batch--*.jsonl`
    # files (the wire format itself omits seq — reference byte-parity)
    snap_files = [f for f in os.listdir(out) if f.startswith("batch--")]
    assert snap_files, "bootstrap must write a negative-seq snapshot file"
    events = [json.loads(l) for l in _out_lines(out)]
    ids = sorted(int(e["id"]) for e in events if e["op"] == "INSERT")
    assert ids == list(range(1, 16)), "snapshot must cover pre-capture rows"

    # post-install writes stream normally; re-running --bootstrap does
    # not re-snapshot (sentinel row) and drains only the changelog
    r.sql("INSERT INTO notes VALUES (100, now(), 'live');")
    rc = _run_once(
        ["--connect", f"postgres:{conninfo}", "--tables", "notes",
         "--out", out, "--bootstrap"], log
    )
    assert rc == 0
    assert sorted(
        f for f in os.listdir(out) if f.startswith("batch--")
    ) == sorted(snap_files), "re-run must not rewrite or grow the snapshot"
    events = [json.loads(l) for l in _out_lines(out)]
    ids = sorted(int(e["id"]) for e in events if e["op"] == "INSERT")
    assert ids == list(range(1, 16)) + [100], (
        "changelog events append after the snapshot, exactly once"
    )


def test_distributed_read_matches_poller(pg, spark):
    """read_batch_distributed — one mapInPandas task per row-balanced
    sub-range, each running outbox_rows over its own psql session —
    must be row-identical to the driver-side read_batch over the same
    fenced window: across uneven splits (5 ranges, and 64 ranges for
    44 rows), with NULL `previous` (INSERTs) and populated `previous`
    (UPDATEs), for the whole table and an interior window; an empty
    window and one past the end of the data read nothing."""
    r = _fresh_db(pg, "t_dist")
    PgCaptureManager(r, table_regexp="notes").install()
    r.sql(
        "INSERT INTO notes SELECT g, now(), 'd' || g "
        "FROM generate_series(1, 37) g;"
        "UPDATE notes SET note = note || '!' WHERE id % 5 = 0;"
    )
    n = 37 + 7  # 37 inserts + 7 updates
    for last_seq, max_rows in ((5, 17), (0, 1000)):
        want_df = PgOutboxPoller(r, max_rows=max_rows,
                                 last_seq=last_seq).read_batch(spark)
        want = sorted(want_df.collect())
        assert len(want) == min(n - last_seq, max_rows)
        for parts in (5, 64):
            got_df = PgOutboxPoller(
                r, max_rows=max_rows, last_seq=last_seq,
            ).read_batch_distributed(spark, num_partitions=parts)
            assert got_df.schema == want_df.schema
            got = sorted(got_df.collect())  # seqs are unique
            assert got == want  # every row, every column
    # the whole-table read: update rows carry previous_json, inserts NULL
    ups = [row for row in got if row.op == "UPDATE"]
    assert len(ups) == 7 and all(u.previous_json for u in ups)
    assert not [row for row in got
                if row.op == "INSERT" and row.previous_json is not None]
    # a window past the end of the data and an empty window
    for last_seq, max_rows in ((n, 50), (5, 0)):
        p = PgOutboxPoller(r, max_rows=max_rows, last_seq=last_seq)
        assert p.read_batch_distributed(spark, num_partitions=3).count() == 0
        assert p.advance() == last_seq


def test_poller_distributed_batch_contract(pg, spark):
    """read_batch_distributed honors the bounded-batch + durable-offset
    contract: same rows as read_batch, advance() persists the true
    high-water mark (from the one scalar MAX round trip), and the next
    batch resumes past it."""
    r = _fresh_db(pg, "t_dist_poller")
    PgCaptureManager(r, table_regexp="notes").install()
    r.sql(
        "INSERT INTO notes SELECT g, now(), 'p' || g "
        "FROM generate_series(1, 23) g;"
    )
    p = PgOutboxPoller.open_durable(r, consumer="dc", max_rows=10)
    b1 = p.read_batch_distributed(spark, num_partitions=4)
    assert sorted(row.seq for row in b1.collect()) == list(range(1, 11))
    assert p.advance() == 10
    # durable: a re-open resumes from the distributed batch's mark
    p2 = PgOutboxPoller.open_durable(r, consumer="dc", max_rows=100)
    assert p2.last_seq == 10
    b2 = p2.read_batch_distributed(spark, num_partitions=4)
    assert sorted(row.seq for row in b2.collect()) == list(range(11, 24))
    assert p2.advance() == 23
    # drained: empty distributed batch, advance is a no-op
    assert p2.read_batch_distributed(spark).count() == 0
    assert p2.advance() == 23


def test_daemon_parallel_read_e2e(pg, tmp_path):
    """--parallel-read N: the daemon drains through executor-side psql
    sub-range reads and produces the same event multiset the serial
    transport does — and the flag is rejected off the postgres outbox
    backend."""
    import json

    r = _fresh_db(pg, "t_daemon_par")
    out = str(tmp_path / "out")
    log = str(tmp_path / "daemon.log")
    os.makedirs(out)
    conninfo = pg.conninfo("t_daemon_par")

    rc = _run_once(
        ["--connect", f"postgres:{conninfo}", "--tables", "notes",
         "--out", out, "--parallel-read", "4"], log
    )
    assert rc == 0
    r.sql(
        "INSERT INTO notes SELECT g, now(), 'par ' || g "
        "FROM generate_series(1, 12) g;"
        "UPDATE notes SET note = 'redone' WHERE id = 3;"
    )
    rc = _run_once(
        ["--connect", f"postgres:{conninfo}", "--tables", "notes",
         "--out", out, "--parallel-read", "4"], log
    )
    assert rc == 0
    events = [json.loads(l) for l in _out_lines(out)]
    assert sorted(int(e["id"]) for e in events if e["op"] == "INSERT") == list(
        range(1, 13)
    )
    upd = [e for e in events if e["op"] == "UPDATE"]
    assert len(upd) == 1 and upd[0]["changes"] == {"note": "par 3"}

    from pqstream_spark.__main__ import main as daemon_main

    assert daemon_main(["--connect", "sqlite:/tmp/x.db",
                        "--parallel-read", "4", "--once"]) == 2
    assert daemon_main(["--connect", f"postgres:{conninfo}",
                        "--transport", "notify",
                        "--parallel-read", "4", "--once"]) == 2


# -- TRUNCATE capture (round-8 ask #3) ------------------------------------


def test_truncate_capture_outbox(pg):
    """The dead quadrant of the reference's wire contract made live:
    Operation.TRUNCATE=4 exists in its proto (pqstream.proto:23) but
    its row-level trigger can never fire it (queries.go:58-60). The
    statement-level trigger emits ONE envelope per truncated table —
    op=TRUNCATE, id/payload/previous all NULL — ordered by seq against
    the row events around it."""
    r = _fresh_db(pg, "t_truncate")
    PgCaptureManager(r, table_regexp="notes").install()
    r.sql(
        "INSERT INTO notes VALUES (default, default, 'a');"
        "INSERT INTO notes VALUES (default, default, 'b');"
        "TRUNCATE notes;"
        "INSERT INTO notes VALUES (default, default, 'after');"
    )
    rows = r.query_csv(
        "SELECT op, id, payload::text AS p, previous::text AS prev "
        "FROM pqstream_outbox ORDER BY seq"
    )
    assert [x["op"] for x in rows] == ["INSERT", "INSERT", "TRUNCATE", "INSERT"]
    tr = rows[2]
    assert tr["id"] is None and tr["p"] is None and tr["prev"] is None
    # one statement-level envelope even for multi-row truncations
    # (both rows died, one event); remove() drops the truncate trigger
    PgCaptureManager(r, table_regexp="notes").remove()
    r.sql("TRUNCATE notes;")
    n = r.scalar("SELECT count(*) FROM pqstream_outbox WHERE op = 'TRUNCATE'")
    assert n == "1", "truncate after remove() must not be captured"


def test_truncate_daemon_wire_and_materialize(pg, tmp_path, spark):
    """e2e: TRUNCATE arrives on the wire with op=TRUNCATE, and the CDC
    batch fold treats it as delete-all for the table."""
    from pqstream_spark.operators.materialize import materialize_current_state
    from pqstream_spark.sources.outbox_pg import PgOutboxPoller

    r = _fresh_db(pg, "t_trunc_wire")
    out = str(tmp_path / "out")
    log = str(tmp_path / "daemon.log")
    os.makedirs(out)
    conninfo = pg.conninfo("t_trunc_wire")
    rc = _run_once(
        ["--connect", f"postgres:{conninfo}", "--tables", "notes",
         "--out", out], log
    )
    assert rc == 0
    r.sql(
        "INSERT INTO notes VALUES (1, default, 'x');"
        "INSERT INTO notes VALUES (2, default, 'y');"
        "TRUNCATE notes;"
        "INSERT INTO notes VALUES (3, default, 'z');"
    )
    rc = _run_once(
        ["--connect", f"postgres:{conninfo}", "--tables", "notes",
         "--out", out], log
    )
    assert rc == 0
    events = [json.loads(l) for l in _out_lines(out)]
    ops = [e["op"] for e in events]
    assert ops == ["INSERT", "INSERT", "TRUNCATE", "INSERT"]
    tr = events[2]
    assert tr["table"] == "notes" and tr["schema"] == "public"
    assert tr.get("id") in (None, "") and tr.get("payload") is None

    # materialization folds the same changelog to delete-all + re-insert
    p = PgOutboxPoller(r)
    chg = p.read_batch(spark)
    cur = materialize_current_state(chg).collect()
    assert [(row.table_name, row.id) for row in cur] == [("notes", "3")]


def test_legacy_outbox_op_check_migrated(pg):
    """An outbox created by the round-7 DDL (no TRUNCATE in the op
    CHECK) is migrated in place by install(); a legacy JSONB outbox is
    REJECTED loudly (ADVICE r7: silent jsonb would defeat row_to_json
    byte-parity and evade the golden pins)."""
    r = pg.createdb("t_legacy")
    r.sql(NOTES_DDL + ";")
    # round-7 shape: unnamed inline CHECK without TRUNCATE
    r.sql(
        "CREATE TABLE pqstream_outbox ("
        "  seq BIGSERIAL PRIMARY KEY, ts TIMESTAMPTZ NOT NULL DEFAULT now(),"
        "  schema_name TEXT NOT NULL, table_name TEXT NOT NULL,"
        "  op TEXT NOT NULL CHECK (op IN ('INSERT', 'UPDATE', 'DELETE')),"
        "  id TEXT, payload JSON, previous JSON);"
    )
    PgCaptureManager(r, table_regexp="notes").install()
    r.sql("INSERT INTO notes VALUES (default, default, 'a'); TRUNCATE notes;")
    ops = [x["op"] for x in r.query_csv(
        "SELECT op FROM pqstream_outbox ORDER BY seq")]
    assert ops == ["INSERT", "TRUNCATE"], (
        f"legacy CHECK not migrated: {ops}"
    )

    r2 = pg.createdb("t_legacy_jsonb")
    r2.sql(NOTES_DDL + ";")
    r2.sql(
        "CREATE TABLE pqstream_outbox ("
        "  seq BIGSERIAL PRIMARY KEY, ts TIMESTAMPTZ NOT NULL DEFAULT now(),"
        "  schema_name TEXT NOT NULL, table_name TEXT NOT NULL,"
        "  op TEXT NOT NULL, id TEXT, payload JSONB, previous JSONB);"
    )
    with pytest.raises(RuntimeError, match="jsonb"):
        PgCaptureManager(r2, table_regexp="notes").install()


def test_truncate_on_notify_wire(pg):
    """--transport notify parity: TRUNCATE emits the tier-2-shaped
    envelope (op + idents + null id, nothing row-scoped) on the NOTIFY
    channel, in commit order with the row events around it."""
    from pqstream_spark.sources.outbox_pg import PgNotifyCaptureManager

    r = _fresh_db(pg, "t_trunc_notify")
    PgNotifyCaptureManager(r, table_regexp="notes").install()
    payloads = capture_notifications(
        r,
        "INSERT INTO notes VALUES (default, default, 'x');\n"
        "TRUNCATE notes;",
    )
    assert len(payloads) == 2
    env = json.loads(payloads[1])
    assert env == {
        "schema": "public", "table": "notes", "op": "TRUNCATE", "id": None,
    }


# -- concurrent-writer fence (round-8 lead fix) ---------------------------


class TxnSession:
    """One interactive psql session holding a transaction open — the
    concurrent-writer harness: BIGSERIAL seqs are claimed by nextval
    INSIDE the writing transaction, so an open session that has
    inserted but not committed holds a seq BELOW ones later writers
    commit. `run` blocks until the statements executed (echo marker)."""

    def __init__(self, conninfo: str) -> None:
        import shutil

        cmd = ["psql", conninfo, "-X", "-q"]
        if shutil.which("stdbuf"):
            cmd = ["stdbuf", "-oL", "-eL"] + cmd
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, cwd="/tmp",
        )
        self._mark = 0

    def run(self, script: str) -> None:
        self._mark += 1
        marker = f"__mark_{self._mark}__"
        self.proc.stdin.write(f"{script}\n\\echo {marker}\n")
        self.proc.stdin.flush()
        for line in self.proc.stdout:
            if marker in line:
                return
        raise AssertionError(f"psql session died before {script!r} completed")

    def close(self) -> None:
        try:
            self.proc.stdin.close()
        except (BrokenPipeError, ValueError):
            pass
        self.proc.wait(timeout=10)


def _interleaved_skip_scenario(pg, spark, dbname, read):
    """The exact loss scenario from VERDICT r7 What's-wrong #1: writer A
    claims seq N inside an open transaction, writer B commits seq N+1,
    the poller polls (must NOT advance past N), A commits, the next
    poll must deliver BOTH rows exactly once."""
    r = _fresh_db(pg, dbname)
    PgCaptureManager(r, table_regexp="notes").install()
    a = TxnSession(pg.conninfo(dbname))
    try:
        a.run("BEGIN;\nINSERT INTO notes VALUES (default, default, 'from A');")
        r.sql("INSERT INTO notes VALUES (default, default, 'from B');")
        p = PgOutboxPoller.open_durable(r, consumer="c", fence_wait=0.3)
        b1 = read(p, spark).collect()
        # the fence must hold the batch below A's claimed seq: nothing
        # is deliverable yet (B's seq 2 sits above in-flight seq 1)
        assert b1 == [], [row.seq for row in b1]
        assert p.advance() == 0, "watermark must not pass an open txn's seq"
        a.run("COMMIT;")
        b2 = read(p, spark).collect()
        assert sorted(row.seq for row in b2) == [1, 2], (
            f"lost/duplicated rows: {[row.seq for row in b2]}"
        )
        by_seq = {row.seq: row for row in b2}
        assert "from A" in by_seq[1].payload_json
        assert "from B" in by_seq[2].payload_json
        assert p.advance() == 2
        # and nothing replays after advance
        assert read(p, spark).collect() == []
    finally:
        a.close()


def test_fence_no_skip_serial(pg, spark):
    _interleaved_skip_scenario(
        pg, spark, "t_fence_serial", lambda p, s: p.read_batch(s)
    )


def test_fence_no_skip_distributed(pg, spark):
    _interleaved_skip_scenario(
        pg, spark, "t_fence_dist",
        lambda p, s: p.read_batch_distributed(s, num_partitions=3),
    )


def test_fence_advances_past_abort_gaps(pg, spark):
    """A ROLLBACK burns its claimed seq forever; the fence must treat
    the gap as final (finished transaction) and advance past it rather
    than stall waiting for a row that can never appear."""
    r = _fresh_db(pg, "t_fence_abort")
    PgCaptureManager(r, table_regexp="notes").install()
    a = TxnSession(pg.conninfo("t_fence_abort"))
    try:
        a.run("BEGIN;\nINSERT INTO notes VALUES (default, default, 'doomed');")
        r.sql("INSERT INTO notes VALUES (default, default, 'kept');")
        a.run("ROLLBACK;")
    finally:
        a.close()
    p = PgOutboxPoller.open_durable(r, consumer="c", fence_wait=2.0)
    rows = p.read_batch(spark).collect()
    assert [row.seq for row in rows] == [2], "only the committed row exists"
    assert p.advance() == 2, "watermark passes the aborted seq-1 gap"
    assert p.read_batch(spark).collect() == []


def test_balanced_bounds_skewed_seq_space(pg, spark):
    """Round-8 ask #5: after compaction / setval the seq space is
    sparse and lopsided; quantile-planned sub-ranges must still spread
    rows within 2x of each other where equal seq-value slices would
    pile nearly everything on one reader."""
    from pqstream_spark.sources.outbox_pg import (
        OUTBOX_SEQ_SEQUENCE,
        pg_plan_balanced_bounds,
    )

    r = _fresh_db(pg, "t_balance")
    PgCaptureManager(r, table_regexp="notes").install()
    # 8 rows at low seqs, then a huge gap (post-compaction shape), then
    # 8 rows at high seqs
    r.sql(
        "INSERT INTO notes SELECT g, now(), 'lo' || g "
        "FROM generate_series(1, 8) g;"
        f"SELECT setval('{OUTBOX_SEQ_SEQUENCE}', 100000);"
        "INSERT INTO notes SELECT g, now(), 'hi' || g "
        "FROM generate_series(101, 108) g;"
    )
    bounds = pg_plan_balanced_bounds(r, 0, 200_000, 4)
    counts = [
        int(r.scalar(
            f"SELECT count(*) FROM pqstream_outbox "
            f"WHERE seq > {lo} AND seq <= {hi}"
        ))
        for lo, hi in bounds
    ]
    assert sum(counts) == 16
    assert max(counts) <= 2 * min(counts), (
        f"skewed split {counts} from bounds {bounds}"
    )
    # ranges are contiguous and disjoint
    for (_, h1), (l2, _) in zip(bounds, bounds[1:]):
        assert h1 == l2
    # the fenced distributed batch over the same skew delivers all rows
    # (max_rows sized past the setval jump — the bounded-batch cap is
    # a seq-window cap, so a sparse space needs a wider window)
    p = PgOutboxPoller.open_durable(
        r, consumer="c", max_rows=500_000, fence_wait=2.0
    )
    got = p.read_batch_distributed(spark, num_partitions=4)
    assert got.count() == 16
    assert p.advance() >= 100_008


@pytest.mark.parametrize("read_path", ["serial", "distributed"])
def test_fence_randomized_multi_writer_stress(pg, spark, read_path):
    """Randomized interleaving stress for the fence: four writer
    sessions repeatedly BEGIN / INSERT / hold / COMMIT in shuffled
    order while a fenced poller drains continuously with a small
    fence_wait. Every committed row must be delivered exactly once;
    rolled-back rows never appear. (Deterministic seed — the
    interleaving is reproducible.) This test is why the fence is
    keyed on an assigned-xid bound: the original snapshot-xmax fence
    passed every deterministic interleaving (a later commit always
    pushed xmax past the open writer) and lost rows ONLY here. Runs
    against both the serial and the quantile-partitioned distributed
    read — the paths share the fence but not the read plumbing."""
    import random

    rng = random.Random(0xC0FFEE)
    r = _fresh_db(pg, f"t_fence_stress_{read_path}")
    PgCaptureManager(r, table_regexp="notes").install()
    writers = [TxnSession(pg.conninfo(f"t_fence_stress_{read_path}"))
               for _ in range(4)]
    p = PgOutboxPoller.open_durable(r, consumer="c", max_rows=10_000,
                                    fence_wait=0.2)
    delivered: list[int] = []
    committed: set[int] = set()
    aborted: set[int] = set()
    next_id = 0
    open_ids: dict[int, list[int]] = {i: [] for i in range(4)}

    def drain() -> int:
        if read_path == "distributed":
            rows = p.read_batch_distributed(spark, num_partitions=3).collect()
        else:
            rows = p.read_batch(spark).collect()
        delivered.extend(row.seq for row in rows)
        p.advance()
        return len(rows)

    try:
        for step in range(60):
            w = rng.randrange(4)
            action = rng.random()
            sess = writers[w]
            if not open_ids[w] and action < 0.6:
                # start a txn with 1-2 inserts, leave it open. Writer 3
                # writes DIRECTLY into the outbox: its transaction's
                # FIRST write is the outbox INSERT itself, so the seq
                # claim happens in the default-evaluation window where
                # a bare nextval would leave the claimer xid-less —
                # the path pqstream_claim_seq() exists to make safe
                # (the other writers exercise the trigger path, whose
                # xid is assigned by the notes heap write first)
                sess.run("BEGIN;")
                for _ in range(rng.randrange(1, 3)):
                    next_id += 1
                    if w == 3:
                        sess.run(
                            "INSERT INTO pqstream_outbox "
                            "(schema_name, table_name, op, id, payload) "
                            "VALUES ('public', 'notes', 'INSERT', "
                            f"'{next_id}', json_build_object("
                            f"'id', {next_id}, 'note', 'w{w}'));"
                        )
                    else:
                        sess.run(f"INSERT INTO notes VALUES "
                                 f"({next_id}, default, 'w{w}');")
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
    # final drains until two consecutive empty batches (all fences
    # drained, nothing left)
    empty = 0
    while empty < 2:
        empty = empty + 1 if drain() == 0 else 0
    # authoritative check: re-read everything from seq 0 and compare
    p2 = PgOutboxPoller.open_durable(r, consumer="audit", max_rows=100_000,
                                     fence_wait=2.0)
    all_rows = p2.read_batch(spark).collect()
    assert sorted(int(row.id) for row in all_rows) == sorted(committed), (
        "outbox content mismatch"
    )
    # delivery: exactly once per committed row, zero aborted leaks
    assert len(delivered) == len(set(delivered)), "duplicate delivery"
    seq_by_id = {int(row.id): row.seq for row in all_rows}
    want_seqs = sorted(seq_by_id[i] for i in committed)
    assert sorted(delivered) == want_seqs, (
        f"lost: {set(want_seqs) - set(delivered)}, "
        f"extra: {set(delivered) - set(want_seqs)}"
    )
    assert not (aborted & set(seq_by_id)), "rolled-back row captured"


def test_capture_survives_schema_evolution(pg):
    """Parity property the reference gets from row_to_json and this
    engine must keep: ALTER TABLE ADD COLUMN mid-stream — WITHOUT
    reinstalling triggers — makes subsequent envelopes carry the new
    column (and DROP COLUMN removes it). The PL/pgSQL to_json(NEW)
    serializes whatever the row looks like at fire time; no trigger
    lifecycle required (unlike the sqlite backend's enumerated
    json_object columns, which document needing reinstall)."""
    r = _fresh_db(pg, "t_schema_evo")
    PgCaptureManager(r, table_regexp="notes").install()
    r.sql("INSERT INTO notes VALUES (1, default, 'before');")
    r.sql("ALTER TABLE notes ADD COLUMN tag text DEFAULT 'fresh';")
    r.sql("INSERT INTO notes VALUES (2, default, 'after');")
    r.sql("ALTER TABLE notes DROP COLUMN note;")
    r.sql("INSERT INTO notes (id) VALUES (3);")
    rows = r.query_csv(
        "SELECT payload::text AS p FROM pqstream_outbox ORDER BY seq"
    )
    import json as _json

    p1, p2, p3 = (_json.loads(x["p"]) for x in rows)
    assert "tag" not in p1 and p1["note"] == "before"
    assert p2["tag"] == "fresh" and p2["note"] == "after"
    assert "note" not in p3 and p3["tag"] == "fresh"


def test_daemon_golden_multiset_with_concurrent_writer(pg, tmp_path):
    """The golden-multiset daemon e2e rerun with a concurrent writer
    mixed in (round-8 done-criterion for the fence): a transaction that
    holds a low seq open across several daemon polls while other
    writers commit must still be delivered exactly once, never skipped
    by the durable watermark."""
    r = _fresh_db(pg, "t_daemon_conc")
    out = str(tmp_path / "out")
    log = str(tmp_path / "daemon.log")
    os.makedirs(out)
    conninfo = pg.conninfo("t_daemon_conc")

    rc = _run_once(
        ["--connect", f"postgres:{conninfo}", "--tables", "notes",
         "--out", out], log
    )
    assert rc == 0
    daemon = _spawn_daemon(
        ["--connect", f"postgres:{conninfo}", "--tables", "notes",
         "--out", out, "--poll-interval", "0.3"], log
    )
    a = TxnSession(conninfo)
    try:
        for i in range(1, 6):
            r.sql(f"INSERT INTO notes VALUES ({i}, default, 'pre {i}');")
        _wait(lambda: len(_out_lines(out)) >= 5, 180,
              "serial rows to drain")
        # A claims the next seq and stalls across poll cycles
        a.run("BEGIN;\nINSERT INTO notes VALUES (100, default, 'held');")
        for i in range(6, 11):
            r.sql(f"INSERT INTO notes VALUES ({i}, default, 'mid {i}');")
        time.sleep(1.2)  # several daemon polls while A is open
        a.run("COMMIT;")
        _wait(lambda: len(_out_lines(out)) >= 11, 180,
              "held + mid rows to drain after A commits")
    finally:
        a.close()
        daemon.kill()
        daemon.wait(timeout=30)
    events = [json.loads(l) for l in _out_lines(out)]
    ids = sorted(int(e["id"]) for e in events if e["op"] == "INSERT")
    assert ids == list(range(1, 11)) + [100], (
        f"multiset mismatch (lost or duplicated): {ids}"
    )


def test_parallel_read_zero_rejected():
    """Review fix: --parallel-read 0 must exit 2, not silently fall
    back to the serial driver-side read."""
    from pqstream_spark.__main__ import main as daemon_main

    assert daemon_main(["--connect", "postgres:host=/nope",
                        "--parallel-read", "0", "--once"]) == 2


def test_claim_seq_forces_xid_assignment_before_claim(pg):
    """Fence soundness for DIRECT outbox INSERTs: the seq DEFAULT is
    pqstream_claim_seq(), which assigns the writer's xid BEFORE
    claiming the seq — so a claim visible in last_value always belongs
    to an already-assigned (hence below any later fence bound) xid.
    The negative control shows why the function exists: a bare nextval
    claims a seq while the transaction still has NO xid."""
    r = _fresh_db(pg, "claim_xid")
    PgCaptureManager(r, table_regexp="notes").install()
    conninfo = pg.conninfo("claim_xid")

    def _one_txn(sql: str) -> list[str]:
        # multi-statement -c = one simple-query message = one implicit
        # transaction: exactly the first-write-of-txn window under test
        out = subprocess.run(
            ["psql", conninfo, "-X", "-q", "-t", "-A", "-c", sql],
            capture_output=True, text=True, cwd="/tmp",
        )
        assert out.returncode == 0, out.stderr
        return [l.strip() for l in out.stdout.splitlines() if l.strip()]

    default = _one_txn(
        "SELECT column_default FROM information_schema.columns "
        "WHERE table_schema = 'public' AND table_name = 'pqstream_outbox' "
        "AND column_name = 'seq'"
    )
    assert any("pqstream_claim_seq" in d for d in default), default

    got = _one_txn(
        "SELECT pqstream_claim_seq() > 0; "
        "SELECT pg_current_xact_id_if_assigned() IS NOT NULL;"
    )
    assert got == ["t", "t"], f"claim did not force xid assignment: {got}"

    # negative control: bare nextval leaves the claimer xid-less —
    # the exact window the claim function closes
    got = _one_txn(
        "SELECT nextval('pqstream_outbox_seq_seq') > 0; "
        "SELECT pg_current_xact_id_if_assigned() IS NOT NULL;"
    )
    assert got == ["t", "f"], (
        f"expected bare nextval to leave the xid unassigned: {got}"
    )

    # the default actually drives direct INSERTs (and the trigger path
    # keeps working through the same sequence): both claim ascending
    # seqs from one counter
    r.sql("INSERT INTO pqstream_outbox (schema_name, table_name, op) "
          "VALUES ('public', 'notes', 'INSERT');")
    r.sql("INSERT INTO notes VALUES (default, default, 'via-trigger');")
    rows = r.query_csv(
        "SELECT seq, table_name FROM pqstream_outbox ORDER BY seq")
    assert len(rows) == 2 and int(rows[0]["seq"]) < int(rows[1]["seq"])


def test_txn_split_across_polls_reassembled(pg, spark):
    """A 3-row transaction whose seqs straddle a fenced batch ceiling
    is never torn: with txn_consistent the poller pulls each fenced
    ceiling back to a transaction boundary (txn_ceiling). The
    interleave: A claims seq 1, B claims seq 2 and commits, the first
    poll's fence captures ceiling 2 while A is open; A claims 3-4 and
    commits, a NEW open writer C (claims 5) pins the next fresh fence
    so only ceiling 2 becomes final — and 2 tears A (rows 3-4 sit
    above it), so that poll emits nothing, B's self-contained row
    included. Once C commits, one poll emits seqs 1-5 with A whole.
    An oversized transaction beats max_rows=1 on both read paths."""
    r = _fresh_db(pg, "t_txn_split")
    PgCaptureManager(r, table_regexp="notes").install()
    p = PgOutboxPoller.open_durable(r, consumer="c", fence_wait=0.0,
                                    txn_consistent=True)

    a = TxnSession(pg.conninfo("t_txn_split"))
    c = TxnSession(pg.conninfo("t_txn_split"))
    try:
        a.run("BEGIN;")
        a.run("INSERT INTO notes VALUES (1, default, 'a1');")   # seq 1
        r.sql("INSERT INTO notes VALUES (2, default, 'b');")    # seq 2, commits
        # poll 1: fence captures ceiling 2, A open -> empty batch
        assert p.read_batch(spark).count() == 0
        p.advance()
        a.run("INSERT INTO notes VALUES (3, default, 'a2');")   # seq 3
        a.run("INSERT INTO notes VALUES (4, default, 'a3');")   # seq 4
        a.run("COMMIT;")
        c.run("BEGIN;")
        c.run("INSERT INTO notes VALUES (5, default, 'c1');")   # seq 5
        # poll 2: the old fence (ceiling 2) drains while C pins the
        # fresh one, but boundary 2 would tear A -> pulled back to 0
        assert p.read_batch(spark).count() == 0
        assert p.advance() == 0
        assert p._fence.safe_seq() == 2, "setup failed to straddle A"
        c.run("COMMIT;")
        # poll 3: A's transaction WHOLE (1,3,4) together with B and C
        rows = p.read_batch(spark).collect()
        assert sorted(row.seq for row in rows) == [1, 2, 3, 4, 5]
        assert p.advance() == 5
        assert p.read_batch(spark).count() == 0
    finally:
        a.close()
        c.close()

    # oversized transaction vs the rate cap: max_rows=1 caps the
    # ceiling at seq 2, which would tear the 3-row txn (seqs 2-4); the
    # smallest-boundary escape reads it in one batch instead
    for path in ("serial", "distributed"):
        db = f"t_txn_big_{path}"
        r2 = _fresh_db(pg, db)
        PgCaptureManager(r2, table_regexp="notes").install()
        big = PgOutboxPoller.open_durable(r2, consumer="big", max_rows=1,
                                          txn_consistent=True)

        def read():
            if path == "serial":
                return big.read_batch(spark).collect()
            return big.read_batch_distributed(spark, 2).collect()

        r2.sql("INSERT INTO notes VALUES (6, default, 'solo');")   # seq 1
        assert [row.seq for row in read()] == [1]
        assert big.advance() == 1
        r2.sql("BEGIN;\n"
               "INSERT INTO notes VALUES (7, default, 'x');\n"
               "INSERT INTO notes VALUES (8, default, 'y');\n"
               "INSERT INTO notes VALUES (9, default, 'z');\n"
               "COMMIT;")
        assert sorted(row.seq for row in read()) == [2, 3, 4], (
            f"{path}: txn atomicity beats the cap")
        assert big.advance() == 4


def test_daemon_txn_consistent_all_or_nothing(pg, tmp_path):
    """`--txn-consistent` pulls each poll's fenced ceiling back to a
    transaction boundary — a transaction straddling a fenced ceiling (the
    library-test interleave: A claims seq 1, B commits seq 2, poll
    fences at 2 while A is open, A commits 3-4, C pins the next
    ceiling) lands in the jsonl sink ALL-OR-NOTHING: one batch file
    carries A's rows 1, 3, 4 together, never a torn prefix."""
    import glob
    import json as _json
    import os
    import threading
    import time

    from pqstream_spark.__main__ import _run_postgres, build_parser

    r = _fresh_db(pg, "t_txn_daemon")
    conninfo = pg.conninfo("t_txn_daemon")
    out = str(tmp_path / "out")
    os.makedirs(out)
    args = build_parser().parse_args(
        ["--connect", f"postgres:{conninfo}", "--tables", "notes",
         "--out", out, "--txn-consistent", "--poll-interval", "0.2",
         "--fence-wait", "0"])
    stop = threading.Event()

    def by_file():
        got = {}
        for f in sorted(glob.glob(out + "/*.jsonl")):
            with open(f) as fh:
                ids = [_json.loads(l)["payload"]["id"]
                       for l in fh if l.strip()]
            if ids:
                got[os.path.basename(f)] = ids
        return got

    def all_ids():
        return sorted(i for ids in by_file().values() for i in ids)

    def wait(pred, secs, what):
        end = time.time() + secs
        while time.time() < end:
            if pred():
                return
            time.sleep(0.2)
        raise AssertionError(f"timed out waiting for {what}: {by_file()}")

    a = TxnSession(conninfo)
    c = TxnSession(conninfo)
    t = threading.Thread(target=_run_postgres, args=(args, stop))
    try:
        # daemon first: writers must start AFTER the capture triggers
        # exist (an open writer would even block CREATE TRIGGER)
        t.start()
        wait(lambda: r.scalar(
            "SELECT count(*) FROM pg_trigger "
            "WHERE tgname = 'pqstream_outbox_trigger'") == "1", 60,
            "trigger install")
        # wait past the Spark session boot until the poll loop is LIVE
        # (every poll persists the offset row, even idle ones) — the
        # intermediate ceiling-2 emission below needs fence rounds to
        # run while only A is open, i.e. polls must be ticking before
        # the writers start
        from pqstream_spark.sources.outbox_pg import PG_OFFSET_TABLE
        wait(lambda: r.scalar(
            f"SELECT count(*) FROM pg_tables WHERE tablename = "
            f"'{PG_OFFSET_TABLE}'") == "1"
            and r.scalar(
                f"SELECT count(*) FROM {PG_OFFSET_TABLE} "
                "WHERE consumer = 'daemon'") == "1", 120,
            "poll loop start")
        time.sleep(1.2)  # several fence rounds with nothing open
        a.run("BEGIN;")
        a.run("INSERT INTO notes VALUES (1, default, 'a1');")   # seq 1
        r.sql("INSERT INTO notes VALUES (2, default, 'b');")    # seq 2
        time.sleep(1.2)  # several polls: fence below A's open claim
        assert all_ids() == [], "rows emitted while A still open"
        # C claims seq 3 BEFORE A's tail rows (4, 5): while C stays
        # open no fence round can prove past 2, so A's transaction is
        # guaranteed split — row 1 under the ceiling, rows 4-5 above it
        c.run("BEGIN;")
        c.run("INSERT INTO notes VALUES (9, default, 'c1');")   # seq 3
        a.run("INSERT INTO notes VALUES (4, default, 'a2');")   # seq 4
        a.run("INSERT INTO notes VALUES (5, default, 'a3');")   # seq 5
        a.run("COMMIT;")
        # While C pins the fence, whether anything emits depends on
        # whether a fence round landed inside the A-open window (poll
        # cadence); what must hold REGARDLESS: A's rows {1,4,5} never
        # appear as a proper subset — row 1 sits under any provable
        # ceiling while 4-5 sit above it, so a torn assembler would
        # emit exactly {1} here (round 9's flush-on-empty did).
        deadline = time.time() + 20
        while time.time() < deadline:
            a_rows = {i for ids in by_file().values()
                      for i in ids if i in (1, 4, 5)}
            assert a_rows in (set(), {1, 4, 5}), (
                f"A's txn emitted torn while C pins: {by_file()}")
            if a_rows:
                break
            time.sleep(0.5)
        c.run("COMMIT;")
        wait(lambda: all_ids() == [1, 2, 4, 5, 9], 120, "full drain")
        # the all-or-nothing pin: A's three rows share ONE batch file
        homes = {fn for fn, ids in by_file().items()
                 if set(ids) & {1, 4, 5}}
        assert len(homes) == 1, f"A's txn torn across files: {by_file()}"
    finally:
        stop.set()
        t.join(timeout=60)
        a.close()
        c.close()
    assert not t.is_alive()


def test_daemon_txn_consistent_parallel_read_once(pg, tmp_path):
    """`--txn-consistent` composes with `--parallel-read`: the
    transaction-boundary rule only moves the fenced ceiling, so the
    partitioned read of (offset, ceiling] holds each transaction whole
    — a multi-row transaction drained by `--once` lands in one batch
    file. (A straddled ceiling cannot be staged under `--once`: an
    open writer blocks the daemon's trigger install.)"""
    import glob

    r = _fresh_db(pg, "t_txn_par")
    out = str(tmp_path / "out")
    log = str(tmp_path / "daemon.log")
    os.makedirs(out)
    argv = ["--connect", f"postgres:{pg.conninfo('t_txn_par')}",
            "--tables", "notes", "--out", out,
            "--txn-consistent", "--parallel-read", "2"]
    assert _run_once(argv, log) == 0  # installs capture
    # the flag reached the poller: its xid index exists
    assert r.scalar("SELECT count(*) FROM pg_indexes "
                    "WHERE indexname = 'pqstream_outbox_xid_idx'") == "1"
    r.sql("INSERT INTO notes VALUES (1, default, 'solo');")
    r.sql("BEGIN;\n"
          "INSERT INTO notes VALUES (2, default, 'x');\n"
          "INSERT INTO notes VALUES (3, default, 'y');\n"
          "INSERT INTO notes VALUES (4, default, 'z');\n"
          "COMMIT;")
    assert _run_once(argv, log) == 0
    homes = {}
    for f in glob.glob(out + "/*.jsonl"):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    homes[json.loads(line)["payload"]["id"]] = f
    assert sorted(homes) == [1, 2, 3, 4]
    assert len({homes[i] for i in (2, 3, 4)}) == 1, homes


def test_datasource_txn_aligned_offsets_never_tear(pg, spark):
    """`option('txnAligned', 'true')` on pqstream_outbox: reported
    offsets are pulled back to transaction boundaries, so a micro-batch
    is all-or-nothing per writer transaction (the logical DataSource's
    inherent property, now on the outbox path). A spans seqs {1,3,4}
    with B's seq 2 inside the span — every offset in {1,2,3} would
    tear A and must never be reported; an oversized transaction beats
    the rate cap via the smallest-boundary escape."""
    from pqstream_spark.sources.outbox_datasource import OutboxStreamReader

    r = _fresh_db(pg, "t_txn_ds")
    PgCaptureManager(r, table_regexp="notes").install()
    conninfo = pg.conninfo("t_txn_ds")
    reader = OutboxStreamReader({
        "url": f"postgres:{conninfo}", "consumer": "txnal",
        "txnaligned": "true", "fencewait": "0",
    })
    offsets = []

    def poll():
        o = int(reader.latestOffset()["seq"])
        offsets.append(o)
        return o

    a = TxnSession(conninfo)
    c = TxnSession(conninfo)
    try:
        a.run("BEGIN;")
        a.run("INSERT INTO notes VALUES (1, default, 'a1');")   # seq 1
        r.sql("INSERT INTO notes VALUES (2, default, 'b');")    # seq 2
        poll()  # fence below A's claim
        a.run("INSERT INTO notes VALUES (3, default, 'a2');")
        a.run("INSERT INTO notes VALUES (4, default, 'a3');")
        a.run("COMMIT;")
        c.run("BEGIN;")
        c.run("INSERT INTO notes VALUES (5, default, 'c1');")   # pins fence
        # even if the fence proves ceiling 2 here, boundary 2 tears A
        # (rows 3,4 above it) — the aligned report must hold back
        poll()
        c.run("COMMIT;")
    finally:
        a.close()
        c.close()
    import time
    deadline = time.time() + 30
    while poll() < 5 and time.time() < deadline:
        time.sleep(0.3)
    torn = [o for o in offsets if o in (1, 2, 3)]
    assert not torn, f"txn-tearing offsets reported: {offsets}"
    assert offsets[-1] == 5

    # oversized transaction vs the rate cap: after priming the reader
    # at seq 1, maxRowsPerBatch=1 caps the next report at seq 2 — which
    # would tear the 3-row txn (seqs 2-4); the smallest-boundary escape
    # must report 4 instead (txn atomicity beats the cap)
    r2 = _fresh_db(pg, "t_txn_ds2")
    PgCaptureManager(r2, table_regexp="notes").install()
    big = OutboxStreamReader({
        "url": f"postgres:{pg.conninfo('t_txn_ds2')}", "consumer": "txnal2",
        "txnaligned": "true", "fencewait": "2", "maxrowsperbatch": "1",
    })
    r2.sql("INSERT INTO notes VALUES (6, default, 'solo');")   # seq 1
    assert int(big.latestOffset()["seq"]) == 1
    r2.sql("BEGIN;\n"
           "INSERT INTO notes VALUES (7, default, 'x');\n"
           "INSERT INTO notes VALUES (8, default, 'y');\n"
           "INSERT INTO notes VALUES (9, default, 'z');\n"
           "COMMIT;")
    assert int(big.latestOffset()["seq"]) == 4, "txn atomicity beats the cap"

    # sqlite backend: loud rejection (no xid column to align on)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="txnAligned"):
        OutboxStreamReader({"url": "sqlite:/tmp/nope.db",
                            "txnaligned": "true"})
