"""Per-layer metrics of a traced run, from the launcher's spans.

Every name in `metric_names()` is reported for every workload; a layer the
workload does not drive reads 0 (the Postgres layers under
`listen_fanout`, the streaming-query layers under `outbox_pg`).
Daemon metrics are per phase: a span belongs to the phase in which it
ends, a trigger to the phase in which it starts.
"""

from __future__ import annotations

from .common import E2E_UNITS

PHASES = ("backlog", "open_loop")
QUERIES = ("pqstream_dispatcher", "daemon")
SUBSCRIBERS = ("all", "users", "notes_orders")
TRIGGER_PHASES = {  # metric -> durationMs key
    "trigger_s": "triggerExecution",
    "add_batch_s": "addBatch",
    "latest_offset_s": "latestOffset",
    "query_planning_s": "queryPlanning",
    "wal_commit_s": "walCommit",
}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("bytes"):
        return "B"
    return "count"


def metric_names() -> dict[str, str]:
    """Every per-layer metric, in BENCHMARK.json order, with its unit."""
    names = ["session.get_spark_s", "outbox_pg.install_s"]
    for p in PHASES:
        names += [f"{p}.outbox_pg.{m}" for m in (
            "polls", "empty_poll_ratio", "rows_read", "read_batch_s",
            "create_df_s", "fence_s", "psql_calls", "psql_s", "advance_s")]
        names += [f"{p}.pipeline.handle_events_s",
                  f"{p}.streaming.sinks.write_s", f"{p}.streaming.sinks.rows",
                  f"{p}.streaming.sinks.bytes", f"{p}.daemon.idle_s"]
        for q in QUERIES:
            names += [f"{p}.streaming.source.{q}.triggers"]
            names += [f"{p}.streaming.source.{q}.{m}" for m in TRIGGER_PHASES]
        names += [f"{p}.streaming.subscribe.dispatched"]
        for s in SUBSCRIBERS:
            names += [f"{p}.wire_http.{s}.{m}"
                      for m in ("delivered", "dropped", "bytes")]
    out = {n: _unit(n) for n in names}
    out.update({f"overhead.{m}": u for m, u in E2E_UNITS.items()})
    return out


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def idle_s(spans: list[dict], a: float, b: float) -> float:
    """Wall time of [a, b] on the poll loop's thread outside every
    top-level span."""
    loop = [s for s in spans if s["name"] == "outbox_pg.read_batch"]
    if not loop:
        return 0.0
    thread = loop[0]["thread"]
    busy = sorted((max(s["start"], a), min(s["end"], b)) for s in spans
                  if s.get("thread") == thread and s.get("parent") is None
                  and s["end"] > a and s["start"] < b)
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in busy:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (b - a) - covered


def _phase_metrics(spans, p, a, b, traced) -> dict[str, float]:
    ended = [s for s in spans if s["name"] != "streaming.trigger"
             and a <= s["end"] <= b]

    def named(n):
        return [s for s in ended if s["name"] == n]

    polls = named("outbox_pg.read_batch")
    rows = [s.get("rows", 0) for s in polls]
    writes = named("streaming.sinks.write")
    v = {
        f"{p}.outbox_pg.polls": len(polls),
        f"{p}.outbox_pg.empty_poll_ratio":
            (sum(1 for r in rows if r == 0) / len(polls)) if polls else 0.0,
        f"{p}.outbox_pg.rows_read": sum(rows),
        f"{p}.outbox_pg.read_batch_s": _dur(polls),
        f"{p}.outbox_pg.create_df_s": _dur(
            s for s in named("spark.createDataFrame")
            if s["parent"] == "outbox_pg.read_batch"),
        f"{p}.outbox_pg.fence_s": _dur(named("outbox_pg.fence")),
        f"{p}.outbox_pg.psql_calls": len(named("outbox_pg.psql")),
        f"{p}.outbox_pg.psql_s": _dur(named("outbox_pg.psql")),
        f"{p}.outbox_pg.advance_s": _dur(named("outbox_pg.advance")),
        f"{p}.pipeline.handle_events_s": _dur(named("pipeline.handle_events")),
        f"{p}.streaming.sinks.write_s": _dur(writes),
        f"{p}.streaming.sinks.rows": sum(s.get("rows", 0) for s in writes),
        f"{p}.streaming.sinks.bytes": sum(s.get("bytes", 0) for s in writes),
        f"{p}.daemon.idle_s": idle_s(spans, a, b),
    }
    for q in QUERIES:
        trig = [s for s in spans if s["name"] == "streaming.trigger"
                and s["query"] == q and a <= s["start"] <= b]
        v[f"{p}.streaming.source.{q}.triggers"] = len(trig)
        for m, key in TRIGGER_PHASES.items():
            v[f"{p}.streaming.source.{q}.{m}"] = sum(
                s["durationMs"].get(key, 0) for s in trig) / 1000.0
    stats = traced.get("stats", {})
    prev = {"backlog": "setup", "open_loop": "backlog"}[p]
    if stats.get(p) and stats.get(prev):
        now, before = stats[p], stats[prev]
        v[f"{p}.streaming.subscribe.dispatched"] = (
            now["dispatched"] - before["dispatched"])
        for label, name in traced["sub_names"].items():
            n, o = now["subscribers"][name], before["subscribers"][name]
            v[f"{p}.wire_http.{label}.delivered"] = n["delivered"] - o["delivered"]
            v[f"{p}.wire_http.{label}.dropped"] = n["dropped"] - o["dropped"]
            v[f"{p}.wire_http.{label}.bytes"] = sum(
                size for at, size in traced["sub_bytes"][label] if a <= at <= b)
    return v


def layer_metrics(traced: dict) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced workload run's result."""
    spans = traced.get("spans") or []
    units = metric_names()
    values = {n: 0.0 for n in units}
    values["session.get_spark_s"] = _dur(
        s for s in spans if s["name"] == "session.get_spark")
    values["outbox_pg.install_s"] = _dur(
        s for s in spans if s["name"] == "outbox_pg.install")
    for p, (a, b) in traced.get("phases", {}).items():
        values.update(_phase_metrics(spans, p, a, b, traced))
    return {n: (values[n], units[n]) for n in units}
