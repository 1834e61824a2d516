"""Workload `outbox_pg`: the Postgres outbox daemon under a backlog and
then an open loop.

The daemon runs as `python -m pqstream_spark --connect postgres:...
--transport outbox --out DIR --redactions ...` against an ephemeral
PostgreSQL cluster. This process is the load generator; it talks to
Postgres through `psql` only.

- Setup: launch, wait for the capture triggers, commit one sentinel
  row; `setup_s` ends at the mtime of the file that delivers it.
- Backlog: BACKLOG_ROUNDS rounds, each one transaction of INSERTs
  plus UPDATEs committed right after the previous delivery. A round's
  rate is its events / (its last delivery - its commit);
  `throughput_per_s` is the median round after the first, which pays
  the JIT and code-generation warm-up of the first large batch. Committing right after a
  poll fixes the point of the poll cycle the commit lands in, which
  would otherwise add up to one poll interval of jitter.
- Open loop: RATE single-row autocommit changes per second over one
  psql session, mixed INSERT/UPDATE/DELETE. INSERT and UPDATE rows
  carry their due time in `due_us`; DELETE payloads are the old row,
  so every event is keyed by (table, op, id, rev) and timed from the
  generator's own log. Delivery time is the mtime of the
  jsonl_seq_writer file holding the event: the writer finishes the
  file, then renames it.
"""

from __future__ import annotations

import json
import os
import random
import shlex
import statistics
import subprocess
import tempfile
import time

from .common import BenchError, Budget, Daemon, RunDir, log, peak_rss_mb
from .scoring import Tally, latencies, percentile, tally

RATE = 50  # open-loop changes per second
BACKLOG_ROUNDS = 3  # the first warms the daemon and is not scored
BACKLOG_NOTES = 8_000  # per round, plus 4_000 users and 3_000 updates
BACKLOG_USERS = 4_000
REDACTIONS = {"public": {"users": ["password", "email"]}}
REDACTED = set(REDACTIONS["public"]["users"])

NOTES_COLS = ("id", "rev", "note", "due_us")
USERS_COLS = ("id", "rev", "first_name", "last_name", "password", "email",
              "due_us")
SCHEMA_SQL = """
CREATE TABLE notes (id int PRIMARY KEY, rev int NOT NULL, note text,
                    due_us bigint NOT NULL);
CREATE TABLE users (id int PRIMARY KEY, rev int NOT NULL, first_name text,
                    last_name text, password text, email text,
                    due_us bigint NOT NULL);
"""


def _lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(int(v))


def wire_payload(table: str, row: dict) -> dict:
    """The payload a subscriber sees for `row`. The redacted table's
    payload is re-rendered from a string map after the scrub, so its
    values arrive as JSON strings; the other tables keep JSON types."""
    if table != "users":
        return dict(row)
    return {k: str(v) for k, v in row.items() if k not in REDACTED}


def wire_changes(table: str, old: dict, new: dict) -> dict:
    """Merge patch carried by an UPDATE: the OLD value of each changed
    field, computed after redaction."""
    a, b = wire_payload(table, old), wire_payload(table, new)
    return {k: a[k] for k in a if b.get(k) != a[k]}


class Model:
    """The generator's copy of both tables and the log of every change
    it committed, as the event each change must produce."""

    def __init__(self) -> None:
        self.rows: dict[str, dict[int, dict]] = {"notes": {}, "users": {}}
        self.expected: dict[tuple, dict] = {}
        self.due: dict[tuple, float] = {}

    def insert(self, table: str, row: dict, due: float | None = None) -> tuple:
        self.rows[table][row["id"]] = row
        return self._log(table, "INSERT", row, None, due)

    def update(self, table: str, new: dict, due: float | None = None) -> tuple:
        old = self.rows[table][new["id"]]
        self.rows[table][new["id"]] = new
        return self._log(table, "UPDATE", new, old, due)

    def delete(self, table: str, rid: int, due: float | None = None) -> tuple:
        old = self.rows[table].pop(rid)
        return self._log(table, "DELETE", old, None, due)

    def _log(self, table, op, row, old, due) -> tuple:
        key = (table, op, str(row["id"]), row["rev"])
        ev = {"schema": "public", "table": table, "op": op,
              "id": str(row["id"]), "payload": wire_payload(table, row)}
        if op == "UPDATE":
            ev["changes"] = wire_changes(table, old, row)
        self.expected[key] = ev
        if due is not None:
            self.due[key] = due
        return key


def event_key(ev: dict) -> tuple:
    """(table, op, id, rev) of a delivered event: rev is in every
    payload (DELETE's is the old row's)."""
    return (ev.get("table"), ev.get("op"), ev.get("id"),
            int(ev.get("payload", {}).get("rev", -1)))


class Deliveries:
    """Incremental reader of the daemon's `batch-LO-HI.jsonl` files."""

    def __init__(self, out_dir: str) -> None:
        self.out_dir = out_dir
        self.files: dict[str, float] = {}  # name -> mtime
        self.events: list[tuple[dict, float]] = []  # (event, delivered at)

    def scan(self) -> int:
        for name in sorted(os.listdir(self.out_dir)):
            if not name.endswith(".jsonl") or name in self.files:
                continue
            path = os.path.join(self.out_dir, name)
            at = os.stat(path).st_mtime_ns / 1e9
            self.files[name] = at
            with open(path) as f:
                for line in f:
                    self.events.append((json.loads(line), at))
        return len(self.events)

    def wait_count(self, n: int, budget: Budget, daemon: Daemon, what: str) -> None:
        def enough():
            daemon.alive()
            return self.scan() >= n

        budget.wait(enough, what)


class PgCluster:
    """An EphemeralPostgres cluster inside the run directory. Postgres
    refuses to run as root; under root the server runs as `nobody`,
    which may not be able to reach the checkout (or its socket path
    may be too long), and then the cluster lives in a private /tmp
    directory that `destroy` removes."""

    def __init__(self, run: RunDir) -> None:
        from pqstream_spark.sources.outbox_pg import EphemeralPostgres

        base = os.path.join(run.path, "pg")
        if not self._usable(base):
            base = tempfile.mkdtemp(prefix="perfbench_pg_", dir="/tmp")
        self.pg = EphemeralPostgres(base)
        self.pg.initdb()
        self.pg.start()
        self.runner = self.pg.createdb("bench")

    @staticmethod
    def _usable(base: str) -> bool:
        if len(os.path.join(base, "sock", ".s.PGSQL.5432")) > 100:
            return False
        if os.geteuid() != 0:
            return True
        probe = subprocess.run(
            ["su", "nobody", "-s", "/bin/sh", "-c",
             f"cd {shlex.quote(os.path.dirname(base))}"],
            capture_output=True, cwd="/")
        return probe.returncode == 0

    def destroy(self) -> None:
        self.pg.destroy()


def run(args, traced: bool, budget: Budget) -> dict:
    rng = random.Random(args.seed)
    run_dir = RunDir("outbox_pg")
    cluster = daemon = None
    result: dict = {"attempted": 1, "failed": 1, "correct": False,
                    "metrics": {}, "info": {}}
    try:
        log("outbox_pg: starting Postgres")
        cluster = PgCluster(run_dir)
        log("outbox_pg: Postgres up, launching the daemon")
        db = cluster.runner
        db.sql(SCHEMA_SQL)
        out_dir = run_dir.sub("out")
        model = Model()
        daemon = Daemon(run_dir, [
            "--connect", "postgres:" + db.conninfo, "--transport", "outbox",
            "--out", out_dir, "--redactions", json.dumps(REDACTIONS),
        ], traced)
        got = Deliveries(out_dir)
        phases: dict[str, tuple[float, float]] = {}

        rounds = []
        for r in range(BACKLOG_ROUNDS):
            before = len(model.expected)
            script = _backlog_sql(args.seed, r, model)
            rounds.append((script, len(model.expected) - before))

        # -- setup: launch until the sentinel is delivered -------------
        daemon.wait_for_log("capturing", budget)
        sentinel = {"id": 0, "rev": 0, "note": f"sentinel-{args.seed}",
                    "due_us": 0}
        db.sql(_insert_sql("notes", sentinel))
        model.insert("notes", sentinel)
        got.wait_count(1, budget, daemon, "the sentinel event")
        setup_s = got.events[0][1] - daemon.launched_at
        log(f"outbox_pg: set up in {setup_s:.2f}s")

        # -- backlog: each round is committed right after a delivery, so
        # the commit lands at the same point of the poll cycle every time
        rates = []
        delivered = 1
        backlog_start = time.time()
        for script, n in rounds:
            db.sql(script)
            committed_at = time.time()
            delivered += n
            got.wait_count(delivered, budget, daemon, "a backlog round to drain")
            rates.append(n / (max(at for _, at in got.events) - committed_at))
        phases["backlog"] = (backlog_start, time.time())
        log(f"outbox_pg: backlog rounds at {[round(r) for r in rates]}/s")
        n_backlog = delivered - 1

        # -- open loop ----------------------------------------------------
        before = len(model.expected)
        lateness = _open_loop(db.conninfo, model, rng, args.seconds, run_dir)
        open_start = min(model.due.values())
        n_open = len(model.expected) - before
        got.wait_count(before + n_open, budget, daemon, "the open loop to drain")
        drained_at = max(at for _, at in got.events)
        open_lat = latencies(model.due, [(event_key(e), at)
                                         for e, at in got.events])
        phases["open_loop"] = (open_start, time.time())
        lag = _capture_lag(db)
        log("outbox_pg: open loop drained, stopping the daemon")

        rss = peak_rss_mb(daemon.tree_pids())
        rc = daemon.stop()
        spans = daemon.spans() if traced else None
        log(f"outbox_pg: daemon exited rc={rc}, checking outputs")
        got.scan()

        t: Tally = tally(model.expected,
                         [(event_key(e), e) for e, _ in got.events])
        redaction_leaks = sum(
            1 for e, _ in got.events if e.get("table") == "users"
            and REDACTED & (set(e.get("payload", {}))
                            | set(e.get("changes", {}))))
        order_errors = _per_row_order_errors(got.events)
        failed = t.failed + redaction_leaks + order_errors + lateness["failed"]
        result.update(
            attempted=t.expected + lateness["failed"],
            failed=failed,
            correct=(failed == 0 and lag == 0 and rc == 0
                     and (not traced or spans is not None)),
            metrics={
                "setup_s": setup_s,
                "throughput_per_s": statistics.median(rates[1:]),
                "latency_p50_s": percentile(open_lat, 50),
                "latency_p90_s": percentile(open_lat, 90),
                "peak_rss_mb": rss,
            },
            info={
                "tally": t.__dict__, "redaction_leaks": redaction_leaks,
                "order_errors": order_errors, "daemon_rc": rc,
                "backlog_events": n_backlog, "backlog_rates": rates,
                "open_loop_events": n_open,
                "open_loop_samples": len(open_lat),
                "open_loop_batches": len({at for e, at in got.events
                                          if event_key(e) in model.due}),
                "generator_lateness_p50_s": lateness["p50"],
                "generator_lateness_max_s": lateness["max"],
                "drain_after_last_due_s": drained_at - max(model.due.values()),
                "capture_lag_at_end": lag,
            },
            phases=phases,
            spans=spans,
        )
    except RuntimeError as e:  # BenchError, or psql / the cluster failed
        log(f"outbox_pg: {e}")
        result["info"]["error"] = str(e)
    finally:
        if daemon is not None:
            daemon.stop()
        if cluster is not None:
            cluster.destroy()
        run_dir.remove()
        log("outbox_pg: torn down")
    return result


def _insert_sql(table: str, row: dict) -> str:
    cols = NOTES_COLS if table == "notes" else USERS_COLS
    return (f"INSERT INTO {table} ({', '.join(cols)}) VALUES "
            f"({', '.join(_lit(row[c]) for c in cols)})")


def _backlog_sql(seed: int, r: int, model: Model) -> str:
    """Round `r` of the backlog, one transaction: server-side generated
    INSERTs into both tables plus UPDATEs of a seed-chosen quarter of
    the new rows. The model mirrors every expression."""
    nn, nu = BACKLOG_NOTES, BACKLOG_USERS
    n0, u0 = 1000 + r * nn, 1000 + r * nu
    pick = (seed + r) % 4
    for i in range(n0, n0 + nn):
        model.insert("notes", {"id": i, "rev": 0, "note": f"b{seed}-{i}",
                               "due_us": 0})
    for i in range(u0, u0 + nu):
        model.insert("users", {
            "id": i, "rev": 0, "first_name": f"f{i}", "last_name": f"l{i}",
            "password": f"pw{i}", "email": f"u{i}@example.com", "due_us": 0})
    for i in range(n0, n0 + nn):
        if (i * 7919) % 4 == pick:
            row = dict(model.rows["notes"][i], rev=1)
            row["note"] += "+"
            model.update("notes", row)
    for i in range(u0, u0 + nu):
        if (i * 7919) % 4 == pick:
            row = dict(model.rows["users"][i], rev=1)
            row["last_name"] += "+"
            row["password"] += "+"
            model.update("users", row)
    return f"""
BEGIN;
INSERT INTO notes (id, rev, note, due_us)
  SELECT g, 0, 'b{seed}-' || g, 0 FROM generate_series({n0}, {n0 + nn - 1}) g;
INSERT INTO users (id, rev, first_name, last_name, password, email, due_us)
  SELECT g, 0, 'f' || g, 'l' || g, 'pw' || g, 'u' || g || '@example.com', 0
  FROM generate_series({u0}, {u0 + nu - 1}) g;
UPDATE notes SET rev = 1, note = note || '+'
  WHERE id BETWEEN {n0} AND {n0 + nn - 1} AND (id * 7919) % 4 = {pick};
UPDATE users SET rev = 1, last_name = last_name || '+',
  password = password || '+'
  WHERE id BETWEEN {u0} AND {u0 + nu - 1} AND (id * 7919) % 4 = {pick};
COMMIT;
"""


def _open_loop(conninfo: str, model: Model, rng: random.Random,
               seconds: float, run_dir: RunDir) -> dict:
    """Send RATE changes per second on a fixed schedule over one
    autocommit psql session. Returns the generator's lateness."""
    err = open(os.path.join(run_dir.path, "open_loop_psql.err"), "w")
    psql = subprocess.Popen(
        ["psql", conninfo, "-X", "-q", "-v", "ON_ERROR_STOP=1"],
        stdin=subprocess.PIPE, stdout=subprocess.DEVNULL, stderr=err,
        text=True, cwd=run_dir.path)
    live = {t: sorted(model.rows[t]) for t in ("notes", "users")}
    next_id = 100_000
    late: list[float] = []
    failed = 0
    n = int(seconds * RATE)
    t0 = time.time() + 0.2
    try:
        for i in range(n):
            due = t0 + i / RATE
            due_us = int(due * 1e6)
            table = rng.choice(("notes", "users"))
            roll = rng.random()
            ids = live[table]
            if roll < 0.4 or len(ids) < 10:
                rid, next_id = next_id, next_id + 1
                if table == "notes":
                    row = {"id": rid, "rev": 0, "note": f"o{rid}",
                           "due_us": due_us}
                else:
                    row = {"id": rid, "rev": 0, "first_name": f"of{rid}",
                           "last_name": f"ol{rid}", "password": f"op{rid}",
                           "email": f"o{rid}@example.com", "due_us": due_us}
                sql = _insert_sql(table, row)
                apply = lambda: model.insert(table, row, due)  # noqa: E731
                ids.append(rid)
            elif roll < 0.8:
                rid = rng.choice(ids)
                row = dict(model.rows[table][rid])
                row["rev"] += 1
                row["due_us"] = due_us
                if table == "notes":
                    row["note"] = f"{row['note']}~{row['rev']}"
                    sets = f"note = {_lit(row['note'])}"
                else:
                    row["first_name"] = f"{row['first_name']}~{row['rev']}"
                    row["email"] = f"r{row['rev']}.{row['email']}"
                    sets = (f"first_name = {_lit(row['first_name'])}, "
                            f"email = {_lit(row['email'])}")
                sql = (f"UPDATE {table} SET rev = {row['rev']}, {sets}, "
                       f"due_us = {due_us} WHERE id = {rid}")
                apply = lambda: model.update(table, row, due)  # noqa: E731
            else:
                k = rng.randrange(len(ids))
                ids[k], ids[-1] = ids[-1], ids[k]
                rid = ids.pop()
                sql = f"DELETE FROM {table} WHERE id = {rid}"
                apply = lambda: model.delete(table, rid, due)  # noqa: E731
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            try:
                psql.stdin.write(sql + ";\n")
                psql.stdin.flush()
            except (BrokenPipeError, OSError):
                failed += 1
                continue
            late.append(time.time() - due)
            apply()
        psql.stdin.close()
        rc = psql.wait(15)
    finally:
        if psql.poll() is None:
            psql.kill()
            psql.wait()
        err.close()
    if rc != 0:
        raise BenchError(f"open-loop psql session failed rc={rc}")
    return {"p50": percentile(late, 50), "max": max(late), "failed": failed}


def _capture_lag(db) -> int:
    """Outbox rows the daemon's durable offset has not passed."""
    return int(db.scalar(
        "SELECT COALESCE(MAX(seq), 0) - (SELECT last_seq FROM "
        "pqstream_consumer_offset WHERE consumer = 'daemon') "
        "FROM pqstream_outbox"))


def _per_row_order_errors(events) -> int:
    """Events of one row delivered out of commit order (rev going
    backwards, or a change after the row's DELETE)."""
    last: dict[tuple, tuple[int, bool]] = {}
    bad = 0
    for e, _ in events:
        k = (e.get("table"), e.get("id"))
        rev = int(e.get("payload", {}).get("rev", -1))
        prev = last.get(k)
        if prev is not None and (rev < prev[0] or prev[1]):
            bad += 1
        last[k] = (rev, e.get("op") == "DELETE")
    return bad
