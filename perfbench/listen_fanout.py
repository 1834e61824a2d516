"""Workload `listen_fanout`: the directory-backend daemon fanning one
changelog out to three Listen subscribers and its jsonl sink.

The daemon runs as `python -m pqstream_spark --connect CHANGELOG_DIR
--listen-http 0 --out DIR`. This process is the load generator: it
writes events-shaped parquet (the `events` test table's schema, see
streaming/source.py; generated from the seed, `event_id` from 1)
into a staging directory and renames each file into the changelog
directory when it is due. Three `/listen?with_seq=1` subscribers with
the table patterns below read on their own threads; a delivery is
timed at the subscriber's `readline`.

- Setup: launch, connect the subscribers, drop a one-event file;
  `setup_s` ends when the `.*` subscriber reads it.
- Backlog: BACKLOG_ROUNDS rounds of one file of BACKLOG events each,
  dropped once the previous round is delivered. A round's rate is
  BACKLOG / (its last delivery to any subscriber or the jsonl sink -
  its file drop); `throughput_per_s` is the median round after the
  first, which pays the warm-up of the first large batch.
- Open loop: RATE events per second in files of FILE_S seconds; each
  event is due when its file is due to be renamed in.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import re
import socket
import statistics
import threading
import time
from decimal import Decimal

from .common import BenchError, Budget, Daemon, RunDir, log, peak_rss_mb
from .scoring import Tally, latencies, out_of_order, percentile, tally

RATE = 200  # open-loop events per second
FILE_S = 0.25  # seconds of events per open-loop file
BACKLOG_ROUNDS = 4  # the first warms the daemon and is not scored
BACKLOG = 6_000  # events per round
SUBSCRIBERS = {"all": ".*", "users": "^users$", "notes_orders": "^(notes|orders)$"}
TABLES = ("users", "notes", "orders")  # user_id % 3, sources/changelog.py
OPS = {"signup": "INSERT", "purchase": "INSERT", "click": "UPDATE",
       "view": "UPDATE", "error": "DELETE"}
EVENT_TYPES = tuple(OPS)


def make_events(rng: random.Random, first_seq: int, n: int) -> list[dict]:
    """`n` events-table rows with event_id first_seq.. ."""
    rows = []
    for seq in range(first_seq, first_seq + n):
        rows.append({
            "event_id": seq,
            "user_id": rng.randrange(2000),
            "event_type": rng.choice(EVENT_TYPES),
            "cents": rng.randrange(100, 20000),
            "k": rng.randrange(100),
        })
    return rows


def write_parquet(rows: list[dict], path: str) -> None:
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = datetime.datetime(2024, 1, 1)
    table = pa.table({
        "event_id": pa.array([r["event_id"] for r in rows], pa.int64()),
        "ts": pa.array([base + datetime.timedelta(seconds=r["event_id"])
                        for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r["user_id"] for r in rows], pa.int64()),
        "event_type": pa.array([r["event_type"] for r in rows], pa.string()),
        "value": pa.array([r["cents"] / 100 for r in rows], pa.float64()),
        "props": pa.array([json.dumps({"k": r["k"]}) for r in rows], pa.string()),
    })
    pq.write_table(table, path)


def expected_event(r: dict) -> dict:
    """The Listen line for one events row, by the changelog mapping of
    sources/changelog.py: payload {id, note, val}; an UPDATE's changes
    hold the previous note when k % 3 != 0 and the previous val
    (val + 1.00) when k % 2 == 0."""
    uid, k = str(r["user_id"]), r["k"]
    val = Decimal(r["cents"]) / 100
    ev = {"schema": "public", "table": TABLES[r["user_id"] % 3],
          "op": OPS[r["event_type"]], "id": uid,
          "payload": {"id": uid, "note": f"note-{k}", "val": f"{val:.2f}"}}
    if ev["op"] == "UPDATE":
        changes = {}
        if k % 3 != 0:
            changes["note"] = f"note-{k + 1}"
        if k % 2 == 0:
            changes["val"] = f"{val + 1:.2f}"
        ev["changes"] = changes
    return ev


class Subscriber(threading.Thread):
    """One `/listen?tables=PATTERN&with_seq=1` client. Records each
    line with the time `readline` returned it."""

    def __init__(self, host: str, port: int, label: str, pattern: str):
        super().__init__(daemon=True, name=f"sub-{label}")
        self.label = label
        self.regex = re.compile(pattern)
        self.lines: list[tuple[float, bytes]] = []
        self.sock = socket.create_connection((host, port), timeout=30)
        q = f"/listen?tables={pattern}&with_seq=1".replace(" ", "%20")
        self.sock.sendall(f"GET {q} HTTP/1.1\r\nHost: {host}\r\n\r\n".encode())
        self.sock.settimeout(None)
        self.f = self.sock.makefile("rb")
        status = self.f.readline()
        if b" 200 " not in status:
            raise BenchError(f"subscriber {label}: {status!r}")
        while self.f.readline() not in (b"\r\n", b"\n", b""):
            pass

    def run(self) -> None:
        try:
            for line in self.f:
                self.lines.append((time.time(), line))
        except (OSError, ValueError):
            pass

    def close(self) -> None:
        try:
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.join(10)
        self.f.close()
        self.sock.close()

    def seq_lines(self) -> list[tuple[int, float, bytes]]:
        """(seq, read at, line without the seq field)."""
        out = []
        for at, raw in self.lines:
            m = re.match(rb'\{"seq":(\d+),', raw)
            if m is None:
                out.append((-1, at, raw.rstrip(b"\n")))
            else:
                out.append((int(m.group(1)), at,
                            b"{" + raw[m.end():].rstrip(b"\n")))
        return out


def _stats(host: str, port: int) -> dict:
    conn = http.client.HTTPConnection(host, port, timeout=10)
    try:
        conn.request("GET", "/stats")
        return json.loads(conn.getresponse().read())
    finally:
        conn.close()


class JsonlSink:
    """Incremental reader of the daemon's `batch-EPOCH.jsonl` files:
    its lines in epoch order, and the newest file's mtime."""

    def __init__(self, out_dir: str) -> None:
        self.out_dir = out_dir
        self.files: dict[str, tuple[float, list[bytes]]] = {}

    def scan(self) -> int:
        for name in os.listdir(self.out_dir):
            if (name.startswith("batch-") and name.endswith(".jsonl")
                    and name not in self.files):
                path = os.path.join(self.out_dir, name)
                with open(path, "rb") as f:
                    lines = [line.rstrip(b"\n") for line in f]
                self.files[name] = (os.stat(path).st_mtime_ns / 1e9, lines)
        return sum(len(lines) for _, lines in self.files.values())

    def lines(self) -> list[bytes]:
        return [line for name in sorted(self.files)
                for line in self.files[name][1]]

    def newest(self) -> float:
        return max(at for at, _ in self.files.values())


def run(args, traced: bool, budget: Budget) -> dict:
    rng = random.Random(args.seed)
    run_dir = RunDir("listen_fanout")
    daemon = None
    subs: list[Subscriber] = []
    result: dict = {"attempted": 1, "failed": 1, "correct": False,
                    "metrics": {}, "info": {}}
    try:
        changelog, staging = run_dir.sub("changelog"), run_dir.sub("staging")
        out_dir = run_dir.sub("out")
        events: dict[int, dict] = {}
        due: dict[int, float] = {}
        phases: dict[str, tuple[float, float]] = {}
        stats: dict[str, dict] = {}
        n_files = 0
        sink = JsonlSink(out_dir)
        expected_n = dict.fromkeys(SUBSCRIBERS, 0)

        def stage(rows: list[dict]) -> str:
            nonlocal n_files
            n_files += 1
            path = os.path.join(staging, f"part-{n_files:06d}.parquet")
            write_parquet(rows, path)
            for r in rows:
                events[r["event_id"]] = r
                for sub in subs:
                    if sub.regex.search(TABLES[r["user_id"] % 3]):
                        expected_n[sub.label] += 1
            return path

        def drop(path: str) -> None:
            os.rename(path, os.path.join(changelog, os.path.basename(path)))

        def received(sub: Subscriber) -> int:
            return len(sub.lines)

        def wait_drained(what: str) -> None:
            def done():
                daemon.alive()
                return (all(received(s) >= expected_n[s.label] for s in subs)
                        and sink.scan() >= len(events))

            budget.wait(done, what)

        log("listen_fanout: launching the daemon")
        daemon = Daemon(run_dir, ["--connect", changelog, "--listen-http", "0",
                                  "--out", out_dir], traced)
        line = daemon.wait_for_log("Listen wire serving on", budget)
        host, port = re.search(r"http://([\d.]+):(\d+)/", line).groups()
        port = int(port)
        sub_names: dict[str, str] = {}
        for label, pattern in SUBSCRIBERS.items():
            before = set(_stats(host, port)["subscribers"])
            sub = Subscriber(host, port, label, pattern)
            sub.start()
            subs.append(sub)
            new = budget.wait(
                lambda: set(_stats(host, port)["subscribers"]) - before,
                f"subscriber {label} to register")
            sub_names[label] = new.pop()

        # -- setup: the first event reaches the `.*` subscriber ----------
        sentinel = make_events(rng, 1, 1)
        sentinel[0]["user_id"] -= sentinel[0]["user_id"] % 3  # a users row
        drop(stage(sentinel))

        def first() -> bool:
            daemon.alive()
            return received(subs[0]) >= 1

        budget.wait(first, "the sentinel event")
        setup_s = subs[0].lines[0][0] - daemon.launched_at
        log(f"listen_fanout: set up in {setup_s:.2f}s")
        wait_drained("the sentinel to reach every sink")

        # -- backlog: rounds of one large file each -----------------------
        stats["setup"] = _stats(host, port)
        rates = []
        seq = 2
        backlog_start = time.time()
        for _ in range(BACKLOG_ROUNDS):
            path = stage(make_events(rng, seq, BACKLOG))
            seq += BACKLOG
            dropped_at = time.time()
            drop(path)
            wait_drained("a backlog round to drain")
            last = max(max(at for at, _ in s.lines) for s in subs)
            rates.append(BACKLOG / (max(last, sink.newest()) - dropped_at))
        phases["backlog"] = (backlog_start, time.time())
        log(f"listen_fanout: backlog rounds at {[round(r) for r in rates]}/s")
        stats["backlog"] = _stats(host, port)

        # -- open loop ----------------------------------------------------
        per_file = int(RATE * FILE_S)
        files = []
        for _ in range(int(args.seconds / FILE_S)):
            rows = make_events(rng, seq, per_file)
            seq += per_file
            files.append((stage(rows), [r["event_id"] for r in rows]))
        t0 = time.time() + 0.2
        late = []
        for i, (path, seqs) in enumerate(files):
            when = t0 + i * FILE_S
            wait = when - time.time()
            if wait > 0:
                time.sleep(wait)
            drop(path)
            late.append(time.time() - when)
            for s in seqs:
                due[s] = when
        phase_start = t0
        wait_drained("the open loop to drain")
        deliveries = [(s, at) for sub in subs for s, at, _ in sub.seq_lines()]
        open_lat = latencies(due, deliveries)
        drained_at = max(at for s, at in deliveries if s in due)
        phases["open_loop"] = (phase_start, time.time())
        stats["open_loop"] = _stats(host, port)
        backlog_at_end = len(events) - stats["open_loop"]["dispatched"]

        log("listen_fanout: open loop drained, stopping the daemon")
        rss = peak_rss_mb(daemon.tree_pids())
        rc = daemon.stop()
        spans = daemon.spans() if traced else None
        for s in subs:
            s.close()
        log(f"listen_fanout: daemon exited rc={rc}, checking outputs")

        # -- correctness --------------------------------------------------
        order = sorted(events)
        want = {s: expected_event(events[s]) for s in order}
        sink.scan()
        jsonl = sink.lines()
        t_sink = tally({i: want[s] for i, s in enumerate(order)},
                       [(i, _loads(l)) for i, l in enumerate(jsonl)])
        line_of = dict(zip(order, jsonl)) if len(jsonl) == len(order) else {}
        t_subs = Tally()
        mismatched = 0
        per_sub = {}
        for sub in subs:
            got = sub.seq_lines()
            exp = {s: want[s] for s in order
                   if sub.regex.search(want[s]["table"])}
            t = tally(exp, [(s, _loads(l)) for s, _, l in got])
            t.out_of_order = out_of_order([s for s, _, _ in got])
            bad = sum(1 for s, _, l in got if line_of.get(s) != l)
            per_sub[sub.label] = {**t.__dict__, "not_byte_equal": bad}
            t_subs += t
            mismatched += bad
        failed = t_sink.failed + t_subs.failed + mismatched
        result.update(
            attempted=t_sink.expected + t_subs.expected,
            failed=failed,
            correct=(failed == 0 and backlog_at_end == 0 and rc == 0
                     and (not traced or spans is not None)),
            metrics={
                "setup_s": setup_s,
                "throughput_per_s": statistics.median(rates[1:]),
                "latency_p50_s": percentile(open_lat, 50),
                "latency_p90_s": percentile(open_lat, 90),
                "peak_rss_mb": rss,
            },
            info={
                "sink": t_sink.__dict__, "subscribers": per_sub,
                "daemon_rc": rc, "backlog_rates": rates,
                "open_loop_events": len(due),
                "open_loop_samples": len(open_lat),
                "generator_lateness_p50_s": percentile(late, 50),
                "generator_lateness_max_s": max(late),
                "drain_after_last_due_s": drained_at - max(due.values()),
                "backlog_at_end": backlog_at_end,
            },
            phases=phases,
            spans=spans,
            stats=stats,
            sub_names=sub_names,
            sub_bytes={s.label: [(at, len(l)) for at, l in s.lines]
                       for s in subs},
        )
    except (RuntimeError, OSError) as e:  # BenchError, or the wire failed
        log(f"listen_fanout: {e}")
        result["info"]["error"] = str(e)
    finally:
        if daemon is not None:
            daemon.stop()
        for s in subs:
            s.close()
        run_dir.remove()
        log("listen_fanout: torn down")
    return result


def _loads(line: bytes):
    try:
        return json.loads(line)
    except ValueError:
        return None
