"""CLI daemon entry point (`python -m pqstream_spark`) — flag surface
parity with the reference daemon (/root/reference/cmd/pqsd/main.go:
30-42) over both backends."""

from __future__ import annotations

import json
import os
import sqlite3

import pytest

from pqstream_spark.__main__ import build_parser, main


def test_parser_flag_surface():
    p = build_parser()
    args = p.parse_args(
        ["--connect", "sqlite:/tmp/x.db", "--tables", "notes",
         "--redactions", "{}", "--out", "-", "--remove", "--once"]
    )
    assert args.connect == "sqlite:/tmp/x.db"
    assert args.tables == "notes"
    assert args.remove and args.once


def test_cli_sqlite_backend_end_to_end(spark, tmp_path, capsys):
    # capture was installed by an earlier daemon run; the writes landed
    # in the outbox while no reader ran — the CLI drains them on start
    # (outbox persistence is exactly what upgrades the reference's
    # lossy NOTIFY to at-least-once)
    from pqstream_spark.sources.outbox_local import LocalCaptureManager

    db_path = str(tmp_path / "app.db")
    conn = sqlite3.connect(db_path)
    conn.execute("CREATE TABLE notes (id INTEGER PRIMARY KEY, note TEXT, secret TEXT)")
    LocalCaptureManager(conn, table_regexp="notes").install()
    conn.execute("INSERT INTO notes VALUES (1, 'hello', 'hunter2')")
    conn.execute("UPDATE notes SET note = 'world' WHERE id = 1")
    conn.commit()
    conn.close()

    redactions = json.dumps({"main": {"notes": ["secret"]}})
    rc = main(
        ["--connect", f"sqlite:{db_path}", "--tables", "notes",
         "--redactions", redactions, "--out", "-", "--once"]
    )
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    events = [json.loads(l) for l in lines]
    assert [e["op"] for e in events] == ["INSERT", "UPDATE"]
    upd = events[1]
    assert upd["payload"]["note"] == "world"
    assert upd["changes"] == {"note": "hello"}  # RFC-7386 NEW->OLD
    assert "secret" not in upd["payload"], "redaction must apply in the CLI path"


def test_cli_once_restores_signal_handlers(spark, tmp_path):
    """main() installs SIGINT/SIGTERM graceful-stop handlers; an
    in-process --once drain must hand the host's own handlers back."""
    import signal

    db_path = str(tmp_path / "app.db")
    conn = sqlite3.connect(db_path)
    conn.execute("CREATE TABLE notes (id INTEGER PRIMARY KEY)")
    conn.commit()
    conn.close()

    def host_handler(*_):
        pass

    sigs = (signal.SIGINT, signal.SIGTERM)
    saved = {s: signal.signal(s, host_handler) for s in sigs}
    try:
        rc = main(["--connect", f"sqlite:{db_path}", "--tables", "notes",
                   "--out", "-", "--once"])
        after = {s: signal.getsignal(s) for s in sigs}
    finally:
        for s, h in saved.items():
            signal.signal(s, h)
    assert rc == 0
    assert after == {s: host_handler for s in sigs}


def test_cli_remove_exits_without_capture(tmp_path):
    db_path = str(tmp_path / "app.db")
    conn = sqlite3.connect(db_path)
    conn.execute("CREATE TABLE notes (id INTEGER PRIMARY KEY)")
    conn.commit()
    conn.close()
    rc = main(["--connect", f"sqlite:{db_path}", "--remove"])
    assert rc == 0
    conn = sqlite3.connect(db_path)
    conn.execute("INSERT INTO notes VALUES (1)")
    conn.commit()
    # --remove never installed anything: no outbox table exists
    with pytest.raises(sqlite3.OperationalError):
        conn.execute("SELECT COUNT(*) FROM pqstream_outbox")
    conn.close()


def test_cli_changelog_dir_backend(spark, tmp_path):
    # stage a small events-shaped parquet dir, drain it via --once
    src = str(tmp_path / "src")
    os.makedirs(src)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    stage = str(tmp_path / "stage")
    ev.orderBy("event_id").limit(50).coalesce(1).write.mode("overwrite").parquet(stage)
    import shutil

    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(stage, part), os.path.join(src, "b1.parquet"))

    out = str(tmp_path / "out")
    rc = main(["--connect", src, "--tables", "notes|users", "--out", out, "--once"])
    assert rc == 0
    batches = [f for f in os.listdir(out) if f.endswith(".jsonl")]
    assert batches
    events = []
    for b in batches:
        with open(os.path.join(out, b)) as f:
            events += [json.loads(l) for l in f if l.strip()]
    assert events
    # wire format renders the envelope as schema/table/op/id (K1 parity)
    assert {e["table"] for e in events} <= {"notes", "users"}


def test_cli_bad_connect_is_an_error(tmp_path):
    assert main(["--connect", str(tmp_path / "nope"), "--once"]) == 2


def test_cli_sigint_drains_inflight_batch(spark, tmp_path):
    """Graceful stop must drain work already visible to the source
    before stopping (reference gives shutdown a 10 s budget,
    cmd/pqsd/main.go:113-118): a file dropped just before the stop
    signal still lands complete in the jsonl output."""
    import shutil
    import threading

    from pqstream_spark.__main__ import _run_changelog_dir

    src = str(tmp_path / "src")
    os.makedirs(src)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    stage = str(tmp_path / "stage")
    ev.orderBy("event_id").limit(100).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]

    def events_out(out):
        n = 0
        for b in os.listdir(out):
            if b.endswith(".jsonl"):
                with open(os.path.join(out, b)) as f:
                    n += sum(1 for l in f if l.strip())
        return n

    out = str(tmp_path / "out")
    os.makedirs(out)
    args = build_parser().parse_args(["--connect", src, "--out", out])
    stop = threading.Event()
    t = threading.Thread(target=_run_changelog_dir, args=(args, stop))

    shutil.copy(os.path.join(stage, part), os.path.join(src, "b1.parquet"))
    t.start()
    deadline = 60.0
    import time

    while events_out(out) < 100 and deadline > 0:
        time.sleep(0.25)
        deadline -= 0.25
    assert events_out(out) == 100, "first batch never drained"
    # drop a second file and signal stop IMMEDIATELY: the drain pass
    # must still flush it before the daemon exits
    shutil.copy(os.path.join(stage, part), os.path.join(src, "b2.parquet"))
    stop.set()
    t.join(timeout=120)
    assert not t.is_alive()
    assert events_out(out) == 200


def test_cli_listen_http_serves_wire(spark, tmp_path):
    """--listen-http on the directory backend serves the Listen wire:
    a client subscribed over HTTP receives handled events as NDJSON."""
    import http.client
    import shutil
    import threading
    import time

    import pqstream_spark.__main__ as cli

    src = str(tmp_path / "wsrc")
    out = str(tmp_path / "wout")
    os.makedirs(src)
    os.makedirs(out)
    args = build_parser().parse_args(
        ["--connect", src, "--out", out, "--listen-http", "0"]
    )
    stop = threading.Event()
    t = threading.Thread(target=cli._run_changelog_dir, args=(args, stop))
    t.start()
    deadline = time.time() + 60
    while cli._ACTIVE_WIRE is None and time.time() < deadline:
        time.sleep(0.2)
    assert cli._ACTIVE_WIRE is not None, "wire server never started"
    host, port = cli._ACTIVE_WIRE.server_address[:2]

    got = {}

    def client():
        conn = http.client.HTTPConnection(host, port, timeout=90)
        conn.request("GET", "/listen?tables=users")
        resp = conn.getresponse()
        line = resp.fp.readline()
        got["status"], got["line"] = resp.status, line.decode().strip()
        conn.close()

    ct = threading.Thread(target=client, daemon=True)
    ct.start()
    time.sleep(1.0)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    stage = str(tmp_path / "wstage")
    ev.orderBy("event_id").limit(60).coalesce(1).write.mode("overwrite").parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(stage, part), os.path.join(src, "b1.parquet"))
    ct.join(timeout=120)
    stop.set()
    t.join(timeout=120)
    assert not ct.is_alive() and not t.is_alive()
    assert got["status"] == 200
    assert json.loads(got["line"])["table"] == "users"


@pytest.mark.parametrize("connect, flag", [
    ("dir", ["--replay-from", "0"]),
    ("sqlite", ["--listen-http", "0"]),
    ("postgres", ["--listen-http", "0"]),
    ("sqlite", ["--checkpoint", "cp"]),
    ("postgres", ["--checkpoint", "cp"]),
    ("sqlite", ["--txn-consistent"]),
    ("dir", ["--bootstrap"]),
    ("dir", ["--compact"]),
    ("dir", ["--consumer", "a"]),
], ids=lambda v: v if isinstance(v, str) else v[0].lstrip("-"))
def test_cli_rejects_inapplicable_flag(tmp_path, capsys, connect, flag):
    """A flag the selected backend would silently ignore exits 2 and
    names the flag — before any database, trigger or file is touched."""
    db_path = tmp_path / "app.db"
    os.makedirs(tmp_path / "d")
    source = {"dir": str(tmp_path / "d"), "sqlite": f"sqlite:{db_path}",
              "postgres": "postgres:host=/nonexistent dbname=x"}[connect]
    out = tmp_path / "out"
    rc = main(["--connect", source, "--out", str(out), "--once", *flag])
    assert rc == 2
    assert flag[0] in capsys.readouterr().err
    assert not db_path.exists() and not out.exists()


def test_flag_table_covers_every_optional_flag():
    """Every flag that is off by default (None or False) has an entry
    in the applicability table, so none can be silently ignored."""
    import pqstream_spark.__main__ as cli

    for action in build_parser()._actions:
        if not action.option_strings or action.required:
            continue  # --help, and --connect (always read)
        if action.default is None or action.default is False:
            assert action.option_strings[0] in cli._FLAGS, action.option_strings


def test_cli_bootstrap_snapshot_then_stream(spark, tmp_path):
    """--bootstrap emits pre-capture rows as synthetic INSERTs before
    the changelog (the CDC bootstrap the reference's NOTIFY-only
    design cannot express), exactly once across restarts."""
    from pqstream_spark.sources.outbox_local import LocalCaptureManager

    db_path = str(tmp_path / "boot.db")
    out = str(tmp_path / "bout")
    os.makedirs(out)
    conn = sqlite3.connect(db_path)
    conn.execute("CREATE TABLE notes (id INTEGER PRIMARY KEY, note TEXT)")
    # rows that exist BEFORE capture: invisible to triggers
    for i in range(1, 4):
        conn.execute("INSERT INTO notes VALUES (?, ?)", (i, f"old{i}"))
    conn.commit()
    LocalCaptureManager(conn, table_regexp="notes").install()
    conn.execute("INSERT INTO notes VALUES (4, 'new4')")  # captured
    conn.commit()
    conn.close()

    def all_events(d):
        evs = []
        for f in sorted(os.listdir(d)):
            if f.endswith(".jsonl"):
                with open(os.path.join(d, f)) as fh:
                    evs += [json.loads(l) for l in fh if l.strip()]
        return evs

    base = ["--connect", f"sqlite:{db_path}", "--tables", "notes",
            "--out", out, "--once", "--bootstrap"]
    assert main(base) == 0
    events = all_events(out)
    ids = [e["id"] for e in events if e["op"] == "INSERT"]
    # row 4 is in BOTH the table (snapshot) and the outbox (captured
    # insert) — the switchover must deliver it exactly once: the
    # snapshot covers it and the changelog resumes past it
    assert sorted(ids) == ["1", "2", "3", "4"], ids

    # post-bootstrap writes flow through the changelog as usual
    conn = sqlite3.connect(db_path)
    conn.execute("INSERT INTO notes VALUES (5, 'new5')")
    conn.commit()
    conn.close()
    assert main(base) == 0
    ids2 = [e["id"] for e in all_events(out) if e["op"] == "INSERT"]
    assert sorted(ids2) == ["1", "2", "3", "4", "5"], (
        "bootstrap must not re-run; changelog must continue"
    )


def test_cli_compact_prunes_consumed_outbox(tmp_path):
    """--compact deletes outbox rows below every consumer's durable
    offset — the retention knob for the otherwise append-only outbox."""
    from pqstream_spark.sources.outbox_local import LocalCaptureManager

    db_path = str(tmp_path / "cmp.db")
    out = str(tmp_path / "cout")
    os.makedirs(out)
    conn = sqlite3.connect(db_path)
    conn.execute("CREATE TABLE notes (id INTEGER PRIMARY KEY)")
    LocalCaptureManager(conn, table_regexp="notes").install()
    for i in range(1, 6):
        conn.execute("INSERT INTO notes VALUES (?)", (i,))
    conn.commit()

    rc = main(["--connect", f"sqlite:{db_path}", "--tables", "notes",
               "--out", out, "--once", "--compact"])
    assert rc == 0
    n = conn.execute("SELECT COUNT(*) FROM pqstream_outbox").fetchone()[0]
    assert n == 0, f"consumed outbox rows not pruned: {n}"
    conn.close()


def test_cli_independent_consumers_share_outbox(spark, tmp_path):
    """Two consumers with different --consumer names tail the same
    outbox independently (outbox-level fan-out), and --compact prunes
    only below the slowest consumer's offset."""
    from pqstream_spark.sources.outbox_local import LocalCaptureManager

    db_path = str(tmp_path / "mc.db")
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    os.makedirs(out_a)
    os.makedirs(out_b)
    conn = sqlite3.connect(db_path)
    conn.execute("CREATE TABLE notes (id INTEGER PRIMARY KEY)")
    LocalCaptureManager(conn, table_regexp="notes").install()
    conn.commit()

    def drained(d):
        evs = []
        for f in sorted(os.listdir(d)):
            if f.endswith(".jsonl"):
                with open(os.path.join(d, f)) as fh:
                    evs += [json.loads(l)["id"] for l in fh if l.strip()]
        return sorted(evs)

    base = ["--connect", f"sqlite:{db_path}", "--tables", "notes", "--once"]
    # register B first, before any writes (a consumer is protected
    # from first CONNECT, Kafka-style retention — attaching after
    # compaction would not be)
    assert main([*base, "--out", out_b, "--consumer", "b"]) == 0
    first_b = drained(out_b)
    assert first_b == []
    for i in range(1, 6):
        conn.execute("INSERT INTO notes VALUES (?)", (i,))
    conn.commit()
    # consumer A drains; compaction must NOT prune (B is behind)
    assert main([*base, "--out", out_a, "--consumer", "a", "--compact"]) == 0
    n = conn.execute("SELECT COUNT(*) FROM pqstream_outbox").fetchone()[0]
    assert n == 5 - len(first_b), "compacted rows consumer b never saw"
    # consumer B catches up independently; now compaction empties
    assert main([*base, "--out", out_b, "--consumer", "b", "--compact"]) == 0
    assert drained(out_b) == drained(out_a) == ["1", "2", "3", "4", "5"]
    n = conn.execute("SELECT COUNT(*) FROM pqstream_outbox").fetchone()[0]
    assert n == 0, "all consumers done: outbox should compact to empty"
    conn.close()


def test_cli_lag_reports_per_consumer_backlog(tmp_path, capsys):
    """--lag: per-consumer backlog JSON without attaching a consumer —
    kinds separate delivery offsets (compaction-relevant) from the
    bootstrap sentinel and stream-reader report floors."""
    from pqstream_spark.sources.outbox_local import (
        LOCAL_OFFSET_TABLE,
        LocalCaptureManager,
    )

    db_path = str(tmp_path / "app.db")
    conn = sqlite3.connect(db_path)
    conn.execute("CREATE TABLE notes (id INTEGER PRIMARY KEY, note TEXT)")
    LocalCaptureManager(conn, table_regexp="notes").install()
    for i in range(5):
        conn.execute(f"INSERT INTO notes VALUES ({i}, 'n{i}')")
    conn.execute(
        f"CREATE TABLE IF NOT EXISTS {LOCAL_OFFSET_TABLE} ("
        "consumer TEXT PRIMARY KEY, last_seq INTEGER NOT NULL)"
    )
    conn.executemany(
        f"INSERT INTO {LOCAL_OFFSET_TABLE} VALUES (?, ?)",
        [("worker", 2), ("daemon#bootstrap", 5), ("ds#reportfloor", 5)],
    )
    conn.commit()
    conn.close()

    rc = main(["--connect", f"sqlite:{db_path}", "--lag"])
    assert rc == 0
    lines = [json.loads(l) for l in
             capsys.readouterr().out.splitlines() if l.strip()]
    by = {l["consumer"]: l for l in lines if "consumer" in l}
    assert by["worker"] == {"consumer": "worker", "kind": "consumer",
                            "last_seq": 2, "max_seq": 5, "lag": 3}
    assert by["daemon#bootstrap"]["kind"] == "bootstrap"
    assert by["ds#reportfloor"]["kind"] == "reportfloor"
    summary = [l for l in lines if l.get("summary")][0]
    assert summary == {"summary": True, "max_seq": 5, "consumers": 1}

    # directory / notify backends have no offsets to measure
    assert main(["--connect", str(tmp_path), "--lag"]) == 2
    assert main(["--connect", "postgres:dbname=x", "--transport",
                 "notify", "--lag"]) == 2
