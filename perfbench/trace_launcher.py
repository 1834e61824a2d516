"""Run the pqstream_spark daemon with spans around each layer's public
entry points.

    python perfbench/trace_launcher.py --spans OUT.json -- DAEMON_ARGS...

The launcher replaces `python -m pqstream_spark DAEMON_ARGS` in the
same process topology: it wraps the entry points listed in `install`,
then calls `pqstream_spark.__main__.main(DAEMON_ARGS)`. Each wrapper
calls straight through and re-raises whatever the call raises; it
records the span's name, start, end, thread, enclosing span and
counts. For the directory backend a StreamingQueryListener records
each trigger's durationMs phases. Spans stay in memory and are
written once, when the daemon returns.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            st = self._stack()
            span = {"name": name, "start": time.time(),
                    "thread": threading.get_ident(),
                    "parent": st[-1]["name"] if st else None}
            st.append(span)
            try:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(span, args, out)
                return out
            finally:
                span["end"] = time.time()
                st.pop()
                self.spans.append(span)

        return traced

    def count(self, name: str, key: str, n: int) -> None:
        """Add `n` to `key` of the innermost open `name` span of this
        thread, if there is one."""
        for span in reversed(self._stack()):
            if span["name"] == name:
                span[key] = span.get(key, 0) + n
                return

    def wrap_factory(self, name: str, factory):
        """Wrap each writer a sink factory returns."""

        @functools.wraps(factory)
        def make(*args, **kwargs):
            return self.wrap(name, factory(*args, **kwargs))

        return make


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _progress_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = dict(p.durationMs)
            start = _epoch(p.timestamp)
            tracer.spans.append({
                "name": "streaming.trigger", "query": p.name,
                "start": start,
                "end": start + d.get("triggerExecution", 0) / 1000.0,
                "rows": p.numInputRows, "durationMs": d,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def install(tracer: Tracer, streaming: bool) -> None:
    from pyspark.sql import SparkSession

    from pqstream_spark import pipeline, session
    from pqstream_spark.sources import outbox_pg
    # wire_http binds the line renderer at import; importing it before
    # the sinks patch keeps Listen's per-row rendering unwrapped, so
    # only the jsonl sink's rows are counted
    from pqstream_spark.streaming import sinks, wire_http  # noqa: F401

    def listen(span, args, spark):
        if streaming and not getattr(spark, "_perfbench_listener", False):
            spark.streams.addListener(_progress_listener(tracer))
            spark._perfbench_listener = True

    session.get_spark = tracer.wrap("session.get_spark", session.get_spark,
                                    on_result=listen)
    pipeline.handle_events = tracer.wrap("pipeline.handle_events",
                                         pipeline.handle_events)
    cls = outbox_pg.PgOutboxPoller
    outbox_pg.PgCaptureManager.install = tracer.wrap(
        "outbox_pg.install", outbox_pg.PgCaptureManager.install)
    cls.read_batch = tracer.wrap("outbox_pg.read_batch", cls.read_batch)
    cls.advance = tracer.wrap("outbox_pg.advance", cls.advance)
    outbox_pg.PgSeqFence.safe_seq = tracer.wrap(
        "outbox_pg.fence", outbox_pg.PgSeqFence.safe_seq)
    for m in ("sql", "query_csv", "query_lines"):
        setattr(outbox_pg.PsqlRunner, m,
                tracer.wrap("outbox_pg.psql", getattr(outbox_pg.PsqlRunner, m)))

    def batch_rows(span, args, df):
        data = args[1] if len(args) > 1 else None
        if isinstance(data, list):
            span["rows"] = len(data)
            tracer.count("outbox_pg.read_batch", "rows", len(data))

    SparkSession.createDataFrame = tracer.wrap(
        "spark.createDataFrame", SparkSession.createDataFrame,
        on_result=batch_rows)

    render = sinks.event_to_json_line

    def counted_render(*args, **kwargs):
        line = render(*args, **kwargs)
        tracer.count("streaming.sinks.write", "rows", 1)
        tracer.count("streaming.sinks.write", "bytes", len(line) + 1)
        return line

    sinks.event_to_json_line = counted_render
    for factory in ("jsonl_seq_writer", "jsonl_dir_writer"):
        setattr(sinks, factory, tracer.wrap_factory(
            "streaming.sinks.write", getattr(sinks, factory)))


def main(argv: list[str]) -> int:
    if "--" not in argv or argv[:1] != ["--spans"]:
        print("usage: trace_launcher.py --spans OUT.json -- DAEMON_ARGS...",
              file=sys.stderr)
        return 2
    out = argv[1]
    daemon_argv = argv[argv.index("--") + 1:]
    connect = daemon_argv[daemon_argv.index("--connect") + 1]
    tracer = Tracer()
    install(tracer, streaming=os.path.isdir(connect))
    from pqstream_spark.__main__ import main as daemon_main

    try:
        return daemon_main(daemon_argv)
    finally:
        tmp = out + ".tmp"
        with open(tmp, "w") as f:
            json.dump(tracer.spans, f)
        os.replace(tmp, out)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
