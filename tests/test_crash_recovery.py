"""Crash / exactly-once proof for the daemon path (SURVEY.md §3.4).

The reference has NO recovery story: NOTIFY delivery is
fire-and-forget (server.go:249-315), so a crashed pqsd silently loses
every event that fired while it was down, and there is no offset to
resume from. This engine's contract is stronger — at-least-once
transport (durable offsets: the Structured Streaming checkpoint for
the directory backend, a consumer-offset row inside the source sqlite
database for the capture backend) composed with an idempotent sink
(atomic tmp+rename, filenames stable under replay) = exactly-once
EFFECT in the output directory.

These tests prove it the only honest way: SIGKILL a real daemon
subprocess mid-stream, restart it on the same checkpoint/offset, and
assert the output contains every event exactly once after dedup.
"""

from __future__ import annotations

import json
import os
import shutil
import sqlite3
import subprocess
import sys
import time


from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spawn_daemon(args: list[str], log_path: str) -> subprocess.Popen:
    env = {**os.environ, "SPARK_GRAFT_CPUS": "8"}
    log = open(log_path, "ab")
    return subprocess.Popen(
        [sys.executable, "-m", "pqstream_spark", *args],
        cwd=REPO, env=env, stdout=log, stderr=log,
    )


def _run_once(args: list[str], log_path: str, timeout: float = 300.0) -> int:
    # In-process (round 15, VERDICT r14 #1): the drain's recovery
    # property lives in the durable offset/checkpoint on disk, re-read
    # per invocation — a subprocess added only a ~7-12 s JVM boot. The
    # SIGKILL halves of these tests keep real processes
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


def _out_lines(out_dir: str) -> list[str]:
    lines: list[str] = []
    if not os.path.isdir(out_dir):
        return lines
    for name in sorted(os.listdir(out_dir)):
        if name.endswith(".jsonl"):
            with open(os.path.join(out_dir, name)) as f:
                lines += [l.strip() for l in f if l.strip()]
    return lines


def _wait(predicate, deadline: float, what: str) -> None:
    end = time.time() + deadline
    while time.time() < end:
        if predicate():
            return
        time.sleep(0.25)
    raise AssertionError(f"timed out waiting for {what}")


def _stage_events_file(spark, tmp_path, name: str, lo: int, hi: int) -> str:
    """One single-file parquet slice of sf0.001 events, event_id in
    [lo, hi) — the unit the file source treats as one notification."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    stage = str(tmp_path / f"stage_{name}")
    (
        ev.where((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(stage)
    )
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    return os.path.join(stage, part)


def _golden_lines(spark, parquet_files: list[str], tmp_path) -> list[str]:
    """What a loss-free, duplicate-free daemon must emit for these
    files, computed via the engine's own batch path (batch/stream
    unification: changelog_from_events is the shared transform)."""
    from pqstream_spark.pipeline import handle_events
    from pqstream_spark.sources.changelog import changelog_from_events
    from pqstream_spark.streaming.sinks import event_to_json_line

    gdir = str(tmp_path / "golden_src")
    os.makedirs(gdir, exist_ok=True)
    for i, f in enumerate(parquet_files):
        shutil.copy(f, os.path.join(gdir, f"g{i}.parquet"))
    ev = spark.read.parquet(gdir)
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    handled = handle_events(changelog_from_events(ev), typed_wire=True)
    return sorted(
        event_to_json_line(r.asDict()) for r in handled.collect()
    )


def test_sigkill_restart_changelog_dir_exactly_once(spark, tmp_path):
    """SIGKILL mid-batch on the directory backend, restart on the same
    --checkpoint: the union of jsonl output equals the golden multiset
    — nothing lost (at-least-once transport), nothing duplicated
    (epoch-stable filenames + atomic rename = idempotent sink)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    log = str(tmp_path / "daemon.log")
    os.makedirs(src)
    os.makedirs(out)

    f1 = _stage_events_file(spark, tmp_path, "f1", 0, 200)
    f2 = _stage_events_file(spark, tmp_path, "f2", 200, 4200)
    golden = _golden_lines(spark, [f1, f2], tmp_path)

    shutil.copy(f1, os.path.join(src, "b1.parquet"))
    daemon = _spawn_daemon(
        ["--connect", src, "--out", out, "--checkpoint", cp], log
    )
    try:
        _wait(lambda: len(_out_lines(out)) >= 200, 180,
              "first batch to drain")
        # drop the big second file and kill the process while the batch
        # is (very likely) in flight — a hard kill, no cleanup runs
        shutil.copy(f2, os.path.join(src, "b2.parquet"))
        time.sleep(1.0)
    finally:
        daemon.kill()  # SIGKILL
        daemon.wait(timeout=30)

    # restart on the SAME checkpoint: the uncommitted epoch re-runs,
    # committed epochs do not
    rc = _run_once(["--connect", src, "--out", out, "--checkpoint", cp], log)
    assert rc == 0
    got = sorted(_out_lines(out))
    assert got == golden, (
        f"output multiset diverged after crash+restart: "
        f"{len(got)} lines vs golden {len(golden)}"
    )


def test_sigint_stops_daemon_gracefully(spark, tmp_path):
    """SIGINT is a graceful stop, like SIGTERM. The daemon creates its
    SparkContext after main() installed the stop handler, and pyspark
    replaces SIGINT with a handler that raises KeyboardInterrupt — the
    daemon must put its own back, drain and exit 0 without a
    traceback."""
    import signal

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    log = str(tmp_path / "daemon.log")
    os.makedirs(src)
    f1 = _stage_events_file(spark, tmp_path, "f1", 0, 200)
    shutil.copy(f1, os.path.join(src, "b1.parquet"))
    daemon = _spawn_daemon(["--connect", src, "--out", out], log)
    try:
        _wait(lambda: len(_out_lines(out)) >= 200, 180,
              "first batch to drain")
        daemon.send_signal(signal.SIGINT)
        rc = daemon.wait(timeout=120)
    finally:
        if daemon.poll() is None:
            daemon.kill()
            daemon.wait(timeout=30)
    with open(log) as f:
        text = f.read()
    assert rc == 0, text[-2000:]
    assert "KeyboardInterrupt" not in text, text[-2000:]


def test_sigkill_restart_sqlite_exactly_once(spark, tmp_path):
    """SIGKILL the sqlite-capture daemon between batches, restart on the
    same database: the durable consumer offset resumes, a replayed
    batch may duplicate rows in the output (at-least-once), and after
    seq-dedup every captured write appears exactly once."""
    db_path = str(tmp_path / "app.db")
    out = str(tmp_path / "out")
    log = str(tmp_path / "daemon.log")
    os.makedirs(out)

    from pqstream_spark.sources.outbox_local import LocalCaptureManager

    conn = sqlite3.connect(db_path, timeout=30)
    conn.execute(
        "CREATE TABLE notes (id INTEGER PRIMARY KEY, note TEXT)"
    )
    LocalCaptureManager(conn, table_regexp="notes").install()
    for i in range(1, 41):
        conn.execute("INSERT INTO notes VALUES (?, ?)", (i, f"n{i}"))
    conn.commit()

    daemon = _spawn_daemon(
        ["--connect", f"sqlite:{db_path}", "--tables", "notes",
         "--out", out, "--poll-interval", "0.3"], log
    )
    try:
        _wait(lambda: len(_out_lines(out)) >= 40, 180,
              "first 40 captured rows to drain")
        # more writes land; kill the daemon before/while it drains them
        for i in range(41, 81):
            conn.execute("INSERT INTO notes VALUES (?, ?)", (i, f"n{i}"))
        conn.commit()
        time.sleep(0.4)
    finally:
        daemon.kill()  # SIGKILL
        daemon.wait(timeout=30)
    conn.close()

    rc = _run_once(
        ["--connect", f"sqlite:{db_path}", "--tables", "notes",
         "--out", out], log
    )
    assert rc == 0

    events = [json.loads(l) for l in _out_lines(out)]
    inserts = [e for e in events if e["op"] == "INSERT"]
    ids = [int(e["id"]) for e in inserts]
    # at-least-once: every write is present
    assert set(ids) == set(range(1, 81)), (
        f"lost writes: {sorted(set(range(1, 81)) - set(ids))}"
    )
    # exactly-once effect: after seq-dedup each id appears once — and
    # each surviving duplicate must be byte-identical to its original
    # (a replay re-renders the same event)
    by_id: dict[int, set[str]] = {}
    for e in inserts:
        by_id.setdefault(int(e["id"]), set()).add(
            json.dumps(e, sort_keys=True)
        )
    diverging = {i for i, renders in by_id.items() if len(renders) > 1}
    assert not diverging, f"replayed events re-rendered differently: {diverging}"


def test_replay_from_rewinds_durable_offset(spark, tmp_path, capsys):
    """--replay-from SEQ re-emits every outbox event after SEQ: the
    durable offset rewinds (persisted immediately), and the seq-named
    idempotent sink rewrites the same files instead of duplicating."""
    from pqstream_spark.__main__ import main as daemon_main
    from pqstream_spark.sources.outbox_local import LocalCaptureManager

    db_path = str(tmp_path / "replay.db")
    out = str(tmp_path / "rout")
    os.makedirs(out)
    conn = sqlite3.connect(db_path, timeout=30)
    conn.execute("CREATE TABLE notes (id INTEGER PRIMARY KEY, note TEXT)")
    LocalCaptureManager(conn, table_regexp="notes").install()
    for i in range(1, 11):
        conn.execute("INSERT INTO notes VALUES (?, ?)", (i, f"n{i}"))
    conn.commit()
    conn.close()

    base = ["--connect", f"sqlite:{db_path}", "--tables", "notes",
            "--out", out, "--once"]
    assert daemon_main(base) == 0
    first = _out_lines(out)
    assert len(first) == 10

    # without replay, a second --once drains nothing new
    assert daemon_main(base) == 0
    assert _out_lines(out) == first

    # rewind to 0: everything replays, files are rewritten in place
    assert daemon_main([*base, "--replay-from", "0"]) == 0
    replayed = _out_lines(out)
    assert sorted(replayed) == sorted(first), "replay must be idempotent"
