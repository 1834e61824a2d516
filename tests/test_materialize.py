"""CDC materialization: batch fold + applyInPandasWithState streaming
fold (operators/materialize.py)."""

from __future__ import annotations

import json
import os
import shutil

from pqstream_spark.operators.materialize import (
    materialize_current_state,
    materialize_current_state_stream,
)
from pqstream_spark.sources.changelog import build_changelog
from pqstream_spark.streaming.source import stream_changelog

SF_DIR = "/root/testdata/sf0.001"


def test_batch_materialize_latest_wins(spark):
    cur = materialize_current_state(build_changelog(spark, SF_DIR))
    rows = cur.collect()
    # one row per live (table, id)
    assert len(rows) == len({(r["table_name"], r["id"]) for r in rows})
    assert all(r["op"] != "DELETE" for r in rows)
    # spot-check: the materialized seq is the max non-stale seq for its key
    chg = build_changelog(spark, SF_DIR).collect()
    by_key: dict = {}
    for e in sorted(chg, key=lambda e: e["seq"]):
        by_key[(e["table_name"], e["id"])] = e
    expected_live = {
        k: e["seq"] for k, e in by_key.items() if e["op"] != "DELETE"
    }
    got = {(r["table_name"], r["id"]): r["seq"] for r in rows}
    assert got == expected_live


def test_batch_materialize_truncate_is_delete_all(spark):
    """Round-8 ask #3: a statement-level TRUNCATE event (id NULL)
    removes every row of its table whose latest event precedes it;
    rows re-inserted after the TRUNCATE survive; other tables are
    untouched."""
    rows = [
        # table a: two rows, then TRUNCATE at seq 5, then one re-insert
        ("a", "1", 1, "INSERT", '{"id":1}'),
        ("a", "2", 2, "INSERT", '{"id":2}'),
        ("a", "2", 3, "UPDATE", '{"id":2,"v":9}'),
        ("a", None, 5, "TRUNCATE", None),
        ("a", "3", 7, "INSERT", '{"id":3}'),
        # table b: untouched by a's truncate
        ("b", "1", 4, "INSERT", '{"id":1}'),
        # table c: truncated with nothing after
        ("c", "9", 6, "INSERT", '{"id":9}'),
        ("c", None, 8, "TRUNCATE", None),
    ]
    chg = spark.createDataFrame(
        rows, "table_name string, id string, seq long, op string, "
        "payload_json string"
    )
    got = {
        (r["table_name"], r["id"]): r["seq"]
        for r in materialize_current_state(chg).collect()
    }
    assert got == {("a", "3"): 7, ("b", "1"): 4}, got
    # and a changelog with no TRUNCATE is unaffected by the fold's
    # truncate join (the certified-oracle-entry invariant)
    no_trunc = chg.filter("op <> 'TRUNCATE'")
    got2 = {
        (r["table_name"], r["id"]): r["seq"]
        for r in materialize_current_state(no_trunc).collect()
    }
    assert got2 == {
        ("a", "1"): 1, ("a", "2"): 3, ("a", "3"): 7,
        ("b", "1"): 4, ("c", "9"): 6,
    }


def test_stream_delete_tombstone_blocks_replay(spark, tmp_path):
    """At-least-once replay: a pre-DELETE event redelivered in a LATER
    micro-batch must not resurrect the deleted row — the state keeps a
    (seq, DELETE, NULL) tombstone whose seq high-water rejects the
    replayed older event (ADVICE r1: state.remove() lost the guard)."""
    import pandas as pd

    src = str(tmp_path / "src")
    os.makedirs(src)
    ns = 1_700_000_000 * 10**9  # event-time base, nanos (file schema)

    def write_events(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, part), os.path.join(src, name + ".parquet"))

    insert = (10, ns, 5, "signup", 1.0, '{"k": 1}')
    delete = (20, ns + 10**9, 5, "churn", 1.0, '{"k": 2}')
    write_events("b1", [insert, delete])

    out = materialize_current_state_stream(stream_changelog(spark, src))
    q = (
        out.writeStream.format("memory")
        .queryName("mat_tomb")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2 redelivers the pre-DELETE insert (older seq)
        write_events("b2", [insert])
        q.processAllAvailable()
        rows = sorted(
            spark.sql("select * from mat_tomb").collect(), key=lambda r: r["seq"]
        )
    finally:
        q.stop()

    # every emission for the key after the DELETE is still the tombstone
    last = rows[-1]
    assert last["op"] == "DELETE" and last["payload_json"] is None
    assert last["seq"] == 20, "replayed seq=10 must not win over the tombstone"


def test_stream_truncate_emits_table_tombstone(spark, tmp_path):
    """Keyed streaming state cannot delete-all across keys, so a
    TRUNCATE event flows through as its own (table, NULL) key and the
    fold emits a TABLE-level tombstone row (op='TRUNCATE', id NULL,
    payload NULL) for the sink to apply — the documented division of
    labor with the batch fold's in-engine delete-all."""
    from datetime import datetime

    src = str(tmp_path / "src")
    os.makedirs(src)
    ts = datetime(2024, 1, 1)
    rows = [
        ("a", "1", 1, ts, "INSERT", '{"id":1}'),
        ("a", None, 5, ts, "TRUNCATE", None),
        # a NULL-id ROW event newer than the truncate: without the
        # is_trunc key discriminator it would share the truncate's
        # (a, NULL) key and swallow the tombstone (review finding)
        ("a", None, 7, ts, "INSERT", '{"x":1}'),
    ]
    schema = ("table_name string, id string, seq long, ts timestamp, "
              "op string, payload_json string")
    stage = str(tmp_path / "stage")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite").parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(stage, part), os.path.join(src, "b1.parquet"))

    chg = spark.readStream.schema(schema).parquet(src)
    q = (
        materialize_current_state_stream(chg)
        .writeStream.format("memory")
        .queryName("mat_trunc")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        rows_out = spark.sql("select * from mat_trunc").collect()
    finally:
        q.stop()
    by_key = {(r["table_name"], r["id"], r["op"]): r for r in rows_out}
    tomb = by_key[("a", None, "TRUNCATE")]
    assert tomb["payload_json"] is None and tomb["seq"] == 5
    # the NULL-id row event folds under ITS OWN key — it must not have
    # swallowed the tombstone (nor vice versa)
    assert by_key[("a", None, "INSERT")]["seq"] == 7
    # the row key's own emission is untouched (per-key state)
    assert by_key[("a", "1", "INSERT")]["seq"] == 1


def test_stream_materialize_two_batches(spark, tmp_path):
    """File 1 then file 2 arriving later: state carries across
    micro-batches; DELETE emits a tombstone and clears state."""
    src = str(tmp_path / "src")
    os.makedirs(src)

    def write_batch(df, name):
        stage = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, part), os.path.join(src, name + ".parquet"))

    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    write_batch(ev.orderBy("event_id").limit(200), "b1")

    out = materialize_current_state_stream(stream_changelog(spark, src))
    q = (
        out.writeStream.format("memory")
        .queryName("mat_state")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            (r["table_name"], r["id"]): r
            for r in spark.sql("select * from mat_state").collect()
        }
        # batch 2: the remaining events (later seqs for the same keys)
        write_batch(ev.orderBy("event_id").offset(200).limit(300), "b2")
        q.processAllAvailable()
        all_rows = spark.sql("select * from mat_state").collect()
    finally:
        q.stop()

    # update-mode memory sink appends each batch's emissions; the final
    # state per key is the last emission
    final: dict = {}
    for r in all_rows:
        k = (r["table_name"], r["id"])
        if k not in final or r["seq"] >= final[k]["seq"]:
            final[k] = r

    # oracle: batch fold over the same 500 events
    full = spark.createDataFrame(ev.orderBy("event_id").limit(500).collect())
    from pqstream_spark.sources.changelog import changelog_from_events

    chg = changelog_from_events(full).collect()
    by_key: dict = {}
    for e in sorted(chg, key=lambda e: e["seq"]):
        by_key[(e["table_name"], e["id"])] = e

    for k, e in by_key.items():
        assert k in final, f"missing key {k}"
        got = final[k]
        assert got["seq"] == e["seq"]
        if e["op"] == "DELETE":
            assert got["op"] == "DELETE" and got["payload_json"] is None
        else:
            assert json.loads(got["payload_json"]) == json.loads(e["payload_json"])

    # state actually carried across batches: some key updated in batch 2
    # must supersede its batch-1 value
    superseded = [
        k for k in final
        if k in first and final[k]["seq"] > first[k]["seq"]
    ]
    assert superseded, "no key was updated across micro-batches"
