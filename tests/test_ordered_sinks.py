"""The one ordered sink hop (streaming/sinks.seq_ordered_rows) and the
driver-side typed patch render.

- Every foreachBatch site delivers a multi-partition batch in strictly
  increasing seq order: the jsonl writers, the callback and STOMP
  sinks, `--out -` and the Dispatcher's loop.
- handle_events(typed_wire=True) + event_to_json_line render the same
  bytes the UDF-computed `changes_json` rendered: nested patches,
  JSON number/null types, and the map fallback on unparseable JSON.
- The typed wire plan carries no Python UDF node, so the daemon starts
  no Python worker for it.
"""

from __future__ import annotations

import glob
import json
import os
import sqlite3

import pytest
from pyspark.sql import functions as F

from pqstream_spark.model import RAW_EVENT_SCHEMA
from pqstream_spark.operators.merge_patch import merge_patch_json
from pqstream_spark.pipeline import handle_events
from pqstream_spark.streaming import sinks
from pqstream_spark.streaming.subscribe import Dispatcher

N = 400
PARTS = 4


@pytest.fixture(scope="module")
def shuffled_batch(spark):
    """N events over PARTS partitions. spark.range hands each partition
    a contiguous id block; seq = (id % PARTS) * (N // PARTS) + id // PARTS
    spreads every block across the whole seq range, so partition order
    and in-partition order both disagree with seq order."""
    per = N // PARTS
    df = spark.range(0, N, 1, PARTS).select(
        ((F.col("id") % PARTS) * per + F.floor(F.col("id") / PARTS))
        .cast("long").alias("seq"),
    ).select(
        "seq",
        F.lit("public").alias("schema_name"),
        F.element_at(
            F.array(F.lit("users"), F.lit("notes"), F.lit("orders")),
            (F.col("seq") % 3 + 1).cast("int"),
        ).alias("table_name"),
        F.lit("INSERT").alias("op"),
        F.col("seq").cast("string").alias("id"),
        F.format_string('{"n":%d}', F.col("seq")).alias("payload_json"),
    )
    assert df.rdd.getNumPartitions() >= PARTS
    first = [r["seq"] for r in df.limit(5).collect()]
    assert first != sorted(first)  # the input really is out of order
    return df


def _ids(lines) -> list[int]:
    return [int(json.loads(line)["id"]) for line in lines]


def _assert_strictly_increasing(seqs: list[int]) -> None:
    assert len(seqs) == N
    assert all(a < b for a, b in zip(seqs, seqs[1:])), seqs[:12]


def test_jsonl_dir_writer_orders_by_seq(shuffled_batch, tmp_path):
    sinks.jsonl_dir_writer(str(tmp_path))(shuffled_batch, 0)
    with open(tmp_path / "batch-00000000.jsonl") as f:
        _assert_strictly_increasing(_ids(f))


def test_jsonl_seq_writer_orders_by_seq(shuffled_batch, tmp_path):
    sinks.jsonl_seq_writer(str(tmp_path))(shuffled_batch, 0)
    (path,) = glob.glob(str(tmp_path / "batch-*.jsonl"))
    assert os.path.basename(path) == f"batch-{0:012d}-{N - 1:012d}.jsonl"
    with open(path) as f:
        _assert_strictly_increasing(_ids(f))


def test_callback_sink_orders_by_seq(shuffled_batch):
    seen: list[int] = []
    sinks.callback_sink(lambda d: (seen.append(d["seq"]), True)[1])(
        shuffled_batch, 0)
    _assert_strictly_increasing(seen)


def test_stomp_forwarder_orders_by_seq(shuffled_batch):
    class FakeClient:
        def __init__(self):
            self.sent = []

        def send(self, destination, body):
            self.sent.append((destination, body))

    client = FakeClient()
    sinks.StompForwarder("/queue/events", client=client).foreach_batch()(
        shuffled_batch, 0)
    assert {d for d, _ in client.sent} == {"/queue/events"}
    _assert_strictly_increasing(_ids(b for _, b in client.sent))


def test_print_batch_orders_by_seq(shuffled_batch, capsys):
    from pqstream_spark.__main__ import _print_batch

    _print_batch(shuffled_batch, 0)
    _assert_strictly_increasing(_ids(capsys.readouterr().out.splitlines()))


def test_dispatcher_batch_orders_by_seq(shuffled_batch):
    seen: list[int] = []
    disp = Dispatcher(shuffled_batch)
    disp.subscribe("all", ".*", lambda row: (seen.append(row["seq"]), True)[1])
    disp.dispatch_batch(shuffled_batch, 0)
    _assert_strictly_increasing(seen)
    assert disp.dispatched == N


def _raw(spark, rows):
    return spark.createDataFrame(
        [(seq, None, "public", "t", op, str(seq), p, q, pj, qj)
         for seq, op, p, q, pj, qj in rows],
        RAW_EVENT_SCHEMA,
    )


def test_typed_wire_render_on_driver(spark):
    """An UPDATE's `changes` is the recursive patch payload→previous,
    computed while rendering; a broken previous_json falls back to the
    JVM map patch, as the reference emits the event unpatched."""
    raw = _raw(spark, [
        # nested object, number and null types, a deleted key
        (1, "UPDATE", {"id": "1"}, {"id": "1"},
         '{"id":1,"o":{"x":1,"y":2},"n":null,"f":1.5,"gone":"x"}',
         '{"id":1,"o":{"x":1,"y":3},"n":5,"f":2}'),
        # unparseable previous_json → the map `changes`
        (2, "UPDATE", {"note": "new"}, {"note": "old"},
         '{"note":"new"}', "{broken"),
        # both sides NULL → {}
        (3, "UPDATE", None, None, None, None),
        (4, "INSERT", {"a": "1"}, None, '{"a":1}', None),
    ])
    handled = handle_events(raw, typed_wire=True)
    lines = [sinks.event_to_json_line(d)
             for d in sinks.seq_ordered_rows(handled)]
    head = '{"schema":"public","table":"t",'
    assert lines == [
        head + '"op":"UPDATE","id":"1","payload":{"f":1.5,"gone":"x","id":1,'
        '"n":null,"o":{"x":1,"y":2}},"changes":{"f":2,"gone":null,"n":5,'
        '"o":{"y":3}}}',
        head + '"op":"UPDATE","id":"2","payload":{"note":"new"},'
        '"changes":{"note":"old"}}',
        head + '"op":"UPDATE","id":"3","changes":{}}',
        head + '"op":"INSERT","id":"4","payload":{"a":1}}',
    ]


def _python_eval_nodes(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [n for n in ("ArrowEvalPython", "BatchEvalPython") if n in plan]


def test_typed_wire_plan_has_no_python_udf(spark):
    from pqstream_spark.sources.changelog import build_changelog
    from pqstream_spark.sources.outbox_local import (
        LocalCaptureManager,
        LocalOutboxPoller,
        raw_events_from_outbox,
    )

    conn = sqlite3.connect(":memory:")
    conn.execute("CREATE TABLE notes (id INTEGER PRIMARY KEY, note TEXT)")
    LocalCaptureManager(conn).install()
    conn.execute("INSERT INTO notes VALUES (1, 'a')")
    conn.execute("UPDATE notes SET note = 'b' WHERE id = 1")
    conn.commit()
    outbox = raw_events_from_outbox(LocalOutboxPoller(conn).read_batch(spark))
    conn.close()

    for raw in (build_changelog(spark, "/root/testdata/sf0.001"), outbox):
        handled = handle_events(raw, typed_wire=True)
        assert _python_eval_nodes(handled) == []
        # the probe sees a Python UDF when one is in the plan
        probe = handle_events(raw, typed_wire=False).withColumn(
            "p", merge_patch_json(F.col("payload_json"), F.col("payload_json")))
        assert _python_eval_nodes(probe) == ["ArrowEvalPython"]
