"""Structured Streaming layer: batch/stream unification, subscription
manager lifecycle, sinks, stateful ops. Uses the file source (a
directory of parquet files = the notification stream) + memory sink +
processAllAvailable() for synchronous micro-batch tests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pqstream_spark.pipeline import handle_events
from pqstream_spark.sources.changelog import build_changelog
from pqstream_spark.sources.tables import load_table
from pqstream_spark.streaming.source import stream_changelog, stream_events
from pqstream_spark.streaming.subscribe import SubscriptionManager
from pqstream_spark.streaming.sinks import jsonl_dir_writer, callback_sink
from pqstream_spark.streaming.stateful import (
    session_windows,
    stream_dedup,
    windowed_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """events.parquet split into 3 files in a monitored directory,
    raw (long-nanos ts) as the file source expects."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    raw = spark.read.parquet(f"{SF}/events.parquet")
    raw.repartition(3).write.mode("overwrite").parquet(d)
    return d


def drain(q):
    q.processAllAvailable()
    q.stop()


def test_stream_matches_batch(spark, events_dir):
    """The same handle_events pipeline over readStream produces exactly
    the batch result — the batch/stream unification invariant."""
    stream_ev = handle_events(stream_changelog(spark, events_dir))
    q = (
        stream_ev.writeStream.format("memory")
        .queryName("unified")
        .outputMode("append")
        .start()
    )
    drain(q)
    # to_json: set ops can't compare MAP columns directly
    got = spark.sql(
        "SELECT seq, op, payload_json, to_json(changes) AS changes_json FROM unified"
    )
    want = handle_events(build_changelog(spark, SF)).select(
        "seq", "op", "payload_json", F.to_json("changes").alias("changes_json")
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_subscription_manager_fanout_and_isolation(spark, events_dir):
    mgr = SubscriptionManager(lambda: stream_changelog(spark, events_dir))
    q_users = mgr.listen("sub_users", "^users$")
    q_all = mgr.listen("sub_all", ".*")
    try:
        q_users.processAllAvailable()
        q_all.processAllAvailable()
        n_users = spark.sql("SELECT count(*) c FROM sub_users").first()["c"]
        n_all = spark.sql("SELECT count(*) c FROM sub_all").first()["c"]
        batch = build_changelog(spark, SF)
        assert n_users == batch.filter("table_name = 'users'").count()
        assert n_all == batch.count()
        assert n_users < n_all
        # dynamic unsubscribe leaves the other subscriber alive (F1)
        mgr.stop("sub_users")
        assert mgr.active() == ["sub_all"]
    finally:
        mgr.stop_all()
    assert mgr.active() == []


def test_bad_regexp_rejected_before_start(spark, events_dir):
    mgr = SubscriptionManager(lambda: stream_changelog(spark, events_dir))
    with pytest.raises(Exception):
        mgr.listen("bad", "([unclosed")
    assert mgr.active() == []


def test_jsonl_sink_seq_ordered(spark, events_dir, tmp_path):
    out = str(tmp_path / "jsonl")
    ev = handle_events(stream_changelog(spark, events_dir))
    q = ev.writeStream.foreachBatch(jsonl_dir_writer(out)).start()
    drain(q)
    lines = []
    for fn in sorted(os.listdir(out)):
        with open(os.path.join(out, fn)) as f:
            lines.extend(json.loads(line) for line in f)
    assert len(lines) == build_changelog(spark, SF).count()
    first = lines[0]
    assert set(first) >= {"schema", "table", "op", "id"}
    upd = next(line for line in lines if line["op"] == "UPDATE")
    assert "payload" in upd


def test_callback_sink(spark, events_dir):
    got: list[dict] = []
    ev = handle_events(stream_changelog(spark, events_dir))
    q = ev.writeStream.foreachBatch(
        callback_sink(lambda row: (got.append(row), True)[1])
    ).start()
    drain(q)
    assert len(got) == build_changelog(spark, SF).count()
    seqs = [r["seq"] for r in got]
    assert seqs == sorted(seqs)  # seq order within the batch


def test_windowed_counts_match_batch(spark, events_dir):
    stream = windowed_counts(stream_events(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("win")
        .outputMode("append")
        .start()
    )
    drain(q)
    got = spark.sql("SELECT * FROM win")
    want = (
        load_table(spark, SF, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # append mode emits only watermark-closed windows; every emitted
    # window must match the batch truth
    g = {(r["window_start"], r["event_type"]): r["n"] for r in got.collect()}
    w = {(r["window_start"], r["event_type"]): r["n"] for r in want.collect()}
    assert g
    for k, v in g.items():
        assert w[k] == v


def test_stream_dedup(spark, tmp_path):
    d = str(tmp_path / "dup_events")
    raw = spark.read.parquet(f"{SF}/events.parquet")
    raw.coalesce(1).write.mode("overwrite").parquet(d)
    # replay the same rows again (at-least-once) as a second file
    raw.coalesce(1).write.mode("append").parquet(d)
    deduped = stream_dedup(stream_changelog(spark, d), keys=("seq",))
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup")
        .outputMode("append")
        .start()
    )
    drain(q)
    n = spark.sql("SELECT count(*) c FROM dedup").first()["c"]
    assert n == raw.count()  # duplicates dropped


def test_session_windows_stream(spark, events_dir):
    sess = session_windows(stream_events(spark, events_dir))
    q = (
        sess.writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .start()
    )
    drain(q)
    got = spark.sql("SELECT * FROM sess")
    assert got.count() > 0
    # append mode only emits sessions closed by the final watermark —
    # the per-user tail sessions stay in state, so emitted totals are
    # slightly below the event count, never above
    total = load_table(spark, SF, "events").count()
    emitted = got.agg(F.sum("n_events")).first()[0]
    assert 0.9 * total <= emitted <= total
    # every emitted session respects the 30-minute gap definition
    assert got.filter("session_end < session_start").count() == 0


def test_dispatcher_single_query_fanout(spark, tmp_path):
    """One StreamingQuery, N subscribers: regexp filtering per
    subscriber, False-return unsubscription, registration live across
    micro-batches (reference topology, server.go:249-267)."""
    import os
    import shutil

    from pqstream_spark.streaming.source import stream_changelog
    from pqstream_spark.streaming.subscribe import Dispatcher

    src = str(tmp_path / "disp_src")
    os.makedirs(src)

    def write_batch(df, name):
        stage = str(tmp_path / ("dstage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, part), os.path.join(src, name + ".parquet"))

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    write_batch(ev.orderBy("event_id").limit(150), "b1")

    seen_all, seen_orders, seen_limited = [], [], []
    disp = Dispatcher(stream_changelog(spark, src))
    disp.subscribe("all", ".*", lambda row: (seen_all.append(row["seq"]), True)[1])
    disp.subscribe("orders", "^orders$",
                   lambda row: (seen_orders.append(row["table_name"]), True)[1])
    disp.subscribe("limited", ".*",
                   lambda row: (seen_limited.append(row["seq"]), len(seen_limited) < 10)[1])
    q = disp.start()
    try:
        q.processAllAvailable()
        n1 = len(seen_all)
        assert n1 == 150
        assert set(seen_orders) == {"orders"} and 0 < len(seen_orders) < 150
        # 'limited' returned False at its 10th event -> unsubscribed
        assert len(seen_limited) == 10
        assert disp.subscribers() == ["all", "orders"]

        write_batch(ev.orderBy("event_id").offset(150).limit(100), "b2")
        q.processAllAvailable()
        assert len(seen_all) == 250
        assert len(seen_limited) == 10  # stayed unsubscribed
        # events arrive in seq order within and across batches
        assert seen_all == sorted(seen_all)
    finally:
        disp.stop()


def test_checkpoint_restart_no_loss_no_dupes(spark, tmp_path):
    """The delivery upgrade over the reference (at-most-once NOTIFY,
    events lost while disconnected, server.go:98-103): stop the query,
    let data arrive while DOWN, restart from the checkpoint -> the new
    data is delivered exactly once, nothing lost, nothing replayed."""
    import json
    import os
    import shutil

    from pqstream_spark.streaming.sinks import jsonl_dir_writer
    from pqstream_spark.streaming.source import stream_changelog

    src = str(tmp_path / "cp_src")
    out_dir = str(tmp_path / "cp_out")
    ckpt = str(tmp_path / "cp_ckpt")
    os.makedirs(src)

    def write_batch(df, name):
        stage = str(tmp_path / ("cpstage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, part), os.path.join(src, name + ".parquet"))

    def start():
        return (
            stream_changelog(spark, src)
            .writeStream.foreachBatch(jsonl_dir_writer(out_dir))
            .option("checkpointLocation", ckpt)
            .start()
        )

    def delivered_seqs():
        seqs = []
        for f in sorted(os.listdir(out_dir)):
            with open(os.path.join(out_dir, f)) as fh:
                for line in fh:
                    seqs.append(json.loads(line)["id"])  # id stable per event
        return seqs

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    write_batch(ev.orderBy("event_id").limit(200), "b1")
    q = start()
    q.processAllAvailable()
    q.stop()
    n1 = sum(1 for f in os.listdir(out_dir)
             for _ in open(os.path.join(out_dir, f)))
    assert n1 == 200

    # data arrives while the engine is DOWN (the reference loses these)
    write_batch(ev.orderBy("event_id").offset(200).limit(300), "b2")

    q = start()  # restart from checkpoint
    q.processAllAvailable()
    q.stop()
    total = sum(1 for f in os.listdir(out_dir)
                for _ in open(os.path.join(out_dir, f)))
    assert total == 500  # 300 new delivered once; 200 old NOT replayed


def test_watermark_drops_late_data(spark, tmp_path):
    """Events older than (max ts − watermark) arriving in a later
    micro-batch are dropped from append-mode windowed aggregation —
    bounded state is the 100 TB requirement."""
    import os
    import shutil
    from datetime import datetime, timedelta

    from pqstream_spark.streaming.source import stream_events
    from pqstream_spark.streaming.stateful import windowed_counts

    src = str(tmp_path / "wm_src")
    os.makedirs(src)
    base = datetime(2024, 6, 1, 0, 0, 0)

    def us(dt):
        return int(dt.timestamp() * 1_000_000) * 1000  # ns like events.parquet

    def write_batch(rows, name):
        stage = str(tmp_path / ("wmstage_" + name))
        df = spark.createDataFrame(
            rows, "event_id long, ts long, user_id long, event_type string, value double, props string"
        )
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, part), os.path.join(src, name + ".parquet"))

    # batch 1: hours 0..11 (one event each) -> watermark = 11:00 - 2h = 9:00
    write_batch(
        [(i, us(base + timedelta(hours=i)), 1, "click", 1.0, "{}") for i in range(12)],
        "b1",
    )
    out = windowed_counts(
        stream_events(spark, src), window="1 hour", watermark="2 hours"
    )
    q = (
        out.writeStream.format("memory").queryName("wm_sink")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one LATE event at hour 1 (far behind the 9:00
        # watermark -> dropped) and one at hour 12 (on time)
        write_batch(
            [(100, us(base + timedelta(hours=1, minutes=30)), 1, "click", 1.0, "{}"),
             (101, us(base + timedelta(hours=12)), 1, "click", 1.0, "{}")],
            "b2",
        )
        q.processAllAvailable()
        rows = {
            r["window_start"].hour: r["n"]
            for r in spark.sql("select * from wm_sink").collect()
        }
    finally:
        q.stop()
    # hour-1 window was emitted when the watermark passed it, with n=1:
    # the late replay did NOT bump it to 2
    assert rows.get(1) == 1
    # windows up to the final watermark (10:00) are closed and emitted
    assert all(rows[h] == 1 for h in rows)
    assert max(rows) >= 9


def test_max_files_per_trigger_bounds_batches(spark, tmp_path):
    """Rate limiting: maxFilesPerTrigger=1 must process N files in N
    micro-batches — bounded batches replace the reference's unbuffered-
    channel backpressure (server.go:291) with flow control that cannot
    stall upstream."""
    import os
    import shutil

    from pqstream_spark.streaming.source import stream_changelog

    src = str(tmp_path / "rate_src")
    os.makedirs(src)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    for i in range(4):
        stage = str(tmp_path / f"rstage{i}")
        ev.orderBy("event_id").offset(i * 50).limit(50).coalesce(1) \
          .write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, part), os.path.join(src, f"f{i}.parquet"))

    batch_sizes = []
    q = (
        stream_changelog(spark, src, max_files_per_trigger=1)
        .writeStream.foreachBatch(
            lambda df, epoch: batch_sizes.append(df.count())
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(batch_sizes) == 200
    assert len(batch_sizes) >= 4          # one file per trigger
    assert all(s <= 50 for s in batch_sizes)


def test_upsert_sink_maintains_materialized_aggregate(spark, tmp_path):
    """update-mode windowed counts + upsert sink across two micro-
    batches == one batch groupBy over all the data (a streaming-
    maintained materialized view)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from pqstream_spark.streaming.sinks import upsert_parquet_sink
    from pqstream_spark.streaming.source import stream_events
    from pqstream_spark.streaming.stateful import windowed_counts
    from pqstream_spark.sources.tables import normalize_events_ts

    src = str(tmp_path / "up_src")
    view = str(tmp_path / "agg_view")
    os.makedirs(src)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    def write_batch(df, name):
        stage = str(tmp_path / ("upstage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, part), os.path.join(src, name + ".parquet"))

    write_batch(ev.orderBy("event_id").limit(400), "b1")
    q = (
        windowed_counts(stream_events(spark, src), window="1 hour", watermark="10 days")
        .writeStream.foreachBatch(
            upsert_parquet_sink(view, keys=["window_start", "event_type"])
        )
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch(ev.orderBy("event_id").offset(400).limit(600), "b2")
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["window_start"], r["event_type"]): (r["n"], round(r["sum_value"] or 0, 2))
        for r in spark.read.parquet(view).collect()
    }
    exp = {
        (r["window_start"], r["event_type"]): (r["n"], round(r["sum_value"] or 0, 2))
        for r in normalize_events_ts(ev.limit(1000))
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .collect()
    }
    assert got == exp


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Stream-stream join (clicks ⋈ purchases by user within 1h,
    watermarked both sides) over a finite input == the same join in
    batch. The range bound + watermark keeps join state finite — the
    operator the as-of/range batch joins become on a live stream."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from pqstream_spark.streaming.source import stream_events
    from pqstream_spark.streaming.stateful import stream_stream_join
    from pqstream_spark.sources.tables import normalize_events_ts

    src = str(tmp_path / "ssj_src")
    os.makedirs(src)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    stage = str(tmp_path / "ssj_stage")
    ev.coalesce(1).write.mode("overwrite").parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(stage, part), os.path.join(src, "all.parquet"))

    def sides(frame):
        clicks = frame.filter("event_type = 'click'").select(
            F.col("event_id").alias("c_id"), "user_id", F.col("ts").alias("c_ts")
        )
        purch = frame.filter("event_type = 'purchase'").select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        return clicks, purch

    sc, sp = sides(stream_events(spark, src))
    joined = stream_stream_join(
        sc, sp.withColumnRenamed("p_user_id", "user_id"),
        key="user_id", left_ts="c_ts", right_ts="p_ts", within="1 hour",
    ).select("c_id", "p_id")
    q = (
        joined.writeStream.format("memory").queryName("ssj_sink")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got = {(r["c_id"], r["p_id"]) for r in spark.sql("select * from ssj_sink").collect()}
    finally:
        q.stop()

    bc, bp = sides(
        normalize_events_ts(spark.read.parquet(os.path.join(src, "all.parquet")))
    )
    exp = {
        (r["c_id"], r["p_id"])
        for r in bc.join(
            bp,
            (bc.user_id == bp.p_user_id)
            & (bp.p_ts >= F.expr("c_ts - INTERVAL 1 HOUR"))
            & (bp.p_ts <= bc.c_ts),
        ).select("c_id", "p_id").collect()
    }
    assert got == exp and len(got) > 0


def test_upsert_sink_rewrites_only_touched_buckets(spark, tmp_path):
    """Scale property of the kbucket layout: a micro-batch rewrites
    ONLY the hash buckets its keys fall in — untouched partitions'
    files are byte-identical (same inode set, same mtime), so per-batch
    cost tracks batch key-spread, not table size."""
    import os

    from pqstream_spark.streaming.sinks import upsert_parquet_sink

    out = str(tmp_path / "table")
    write = upsert_parquet_sink(out, keys=["k"], n_buckets=8)

    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(64)], "k int, v string"
    )
    write(base, 0)
    buckets = sorted(d for d in os.listdir(out) if d.startswith("kbucket="))
    assert len(buckets) > 1, "spread over multiple buckets"

    def snapshot():
        return {
            d: {
                f: os.stat(os.path.join(out, d, f)).st_mtime_ns
                for f in os.listdir(os.path.join(out, d))
                if not f.startswith(".")
            }
            for d in buckets
        }

    before = snapshot()
    # one-key batch: exactly one bucket should change
    write(spark.createDataFrame([(3, "v3-new")], "k int, v string"), 1)
    after = snapshot()

    changed = [d for d in buckets if before[d] != after.get(d)]
    assert len(changed) == 1, f"expected 1 rewritten bucket, got {changed}"

    # merged contents are still correct
    rows = {r["k"]: r["v"] for r in spark.read.parquet(out).collect()}
    assert rows[3] == "v3-new" and len(rows) == 64


def test_dispatcher_multipartition_batch_stays_seq_ordered(spark, tmp_path):
    """The ordered sink hop (streaming/sinks.seq_ordered_rows) must
    preserve the global seq order across a MULTI-partition micro-batch:
    the batch is sorted into one partition whose rows stream to the
    driver — the reference's single-goroutine total order
    (server.go:258-281), with everything upstream still parallel."""
    import os

    from pqstream_spark.streaming.source import stream_changelog
    from pqstream_spark.streaming.subscribe import Dispatcher

    src = str(tmp_path / "mp_src")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # one micro-batch of 16 files => a 16-partition batch DataFrame,
    # written in shuffled order so file order != seq order
    ev.orderBy(F.hash("event_id")).limit(400).repartition(16).write.parquet(src)

    seen = []
    disp = Dispatcher(stream_changelog(spark, src))
    disp.subscribe("all", ".*", lambda row: (seen.append(row["seq"]), True)[1])
    q = disp.start()
    try:
        q.processAllAvailable()
    finally:
        disp.stop()

    assert len(seen) == 400
    assert seen == sorted(seen), "global seq order must survive multi-partition batches"


@pytest.mark.parametrize("era", ["nanos_long", "timestamp_us"])
def test_stream_events_both_ts_eras(spark, tmp_path, era):
    """The driver's events.parquet has shipped with ts as
    TIMESTAMP(NANOS) (surfaced long under nanosAsLong) and as plain
    timestamp[us] (surfaced TIMESTAMP_NTZ). Write one fixture of each
    physical type and assert stream_events surfaces identical
    session-zone TIMESTAMP values for both."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / f"era_{era}")
    os.makedirs(src)
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    stamps = [base + datetime.timedelta(seconds=i) for i in range(3)]
    if era == "nanos_long":
        ts_arr = pa.array(
            [int(s.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e9)
             for s in stamps],
            type=pa.timestamp("ns"),
        )
    else:
        ts_arr = pa.array(stamps, type=pa.timestamp("us"))
    tbl = pa.table({
        "event_id": pa.array([1, 2, 3], type=pa.int64()),
        "ts": ts_arr,
        "user_id": pa.array([7, 7, 8], type=pa.int64()),
        "event_type": pa.array(["click"] * 3),
        "value": pa.array([1.0, 2.0, 3.0]),
        "props": pa.array(["{}"] * 3),
    })
    pq.write_table(tbl, os.path.join(src, "b1.parquet"))

    q = (
        stream_events(spark, src)
        .writeStream.format("memory").queryName(f"era_sink_{era}")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            f"select event_id, ts from era_sink_{era} order by event_id"
        ).collect()
    finally:
        q.stop()
    assert [r["ts"] for r in rows] == stamps
    # batch loader agrees with the stream surface
    from pqstream_spark.sources.tables import normalize_events_ts

    batch = normalize_events_ts(spark.read.parquet(src))
    assert dict(batch.dtypes)["ts"] == "timestamp"
    assert [r["ts"] for r in batch.orderBy("event_id").collect()] == stamps


def test_stream_events_starts_on_empty_dir(spark, tmp_path):
    """A stream must start on an empty directory — the listener is
    always up before events flow (reference server.go:98-109). Files
    appearing after start are picked up on the next micro-batch."""
    import shutil

    src = str(tmp_path / "empty_start")
    os.makedirs(src)
    q = (
        stream_events(spark, src)
        .writeStream.format("memory").queryName("empty_start_sink")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("select * from empty_start_sink").count() == 0
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        stage = str(tmp_path / "stage_es")
        ev.limit(50).coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, part), os.path.join(src, "b1.parquet"))
        q.processAllAvailable()
        assert spark.sql("select * from empty_start_sink").count() == 50
    finally:
        q.stop()


def test_ingest_dedup_against_corpus(spark, tmp_path):
    """Stream-static LSH: incoming docs are flagged against the corpus
    band index with ZERO streaming state (narrow per-row signatures on
    the stream side, stream-static equi-join). The flags must agree
    with the batch formulation over the same data."""
    from pqstream_spark.queries.llm import minhash_bands_narrow, _minhash_signatures
    from pqstream_spark.sources.tables import load_table
    from pqstream_spark.streaming.stateful import dedup_against_corpus_stream

    corpus = load_table(spark, SF, "documents").selectExpr("doc_id", "text")
    # incoming docs: near-copies of some corpus docs (ids offset) plus
    # brand-new synthetic text that matches nothing
    incoming = corpus.limit(20).selectExpr(
        "doc_id + 900000 AS doc_id",
        "substring(text, 1, greatest(length(text) - 7, 1)) AS text",
    ).unionAll(
        spark.range(3).selectExpr(
            "id + 990000 AS doc_id",
            "concat('zzqy unique gibberish ', id, ' totally novel text "
            "pattern with no corpus overlap whatsoever') AS text",
        )
    )
    inc_dir = str(tmp_path / "incoming")
    incoming.coalesce(1).write.mode("overwrite").parquet(inc_dir)

    stream = (
        spark.readStream.schema(incoming.schema).parquet(inc_dir)
    )
    flagged = dedup_against_corpus_stream(stream, corpus)
    q = (
        flagged.writeStream.format("memory").queryName("ingest_dedup")
        .outputMode("append").start()
    )
    drain(q)
    got = {
        (r["doc_id"], r["corpus_doc_id"])
        for r in spark.sql(
            "SELECT DISTINCT doc_id, corpus_doc_id FROM ingest_dedup"
        ).collect()
    }
    # batch reference: same join, batch frames both sides
    def bands(sig, alias):
        return sig.selectExpr(
            f"doc_id AS {alias}",
            "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band_idx, bucket)",
        )

    expected = {
        (r["doc_id"], r["corpus_doc_id"])
        for r in bands(minhash_bands_narrow(incoming), "doc_id")
        .join(bands(_minhash_signatures(corpus), "corpus_doc_id"),
              ["band_idx", "bucket"])
        .where("doc_id <> corpus_doc_id")
        .select("doc_id", "corpus_doc_id").distinct().collect()
    }
    assert got == expected and got, "stream flags must equal batch flags"
    # near-copies overwhelmingly flag their origin (a copy may also
    # match other similar docs; a rare one may lose all 4 bands to the
    # truncation); novel docs never flag anything
    matches: dict[int, set[int]] = {}
    for a, b in got:
        matches.setdefault(a - 900000, set()).add(b)
    hit_origin = sum(1 for o, bs in matches.items() if o in bs)
    assert hit_origin >= 15, f"only {hit_origin}/20 near-copies flagged origin"
    assert not any(a >= 90000 for a in matches), "novel docs falsely flagged"


def test_curate_ingest_gate(spark, tmp_path):
    """The streaming door of the pipeline: incoming docs are annotated,
    scored by the SAME classifier head as batch curation, and near-dup
    gated against the corpus band index — per micro-batch, zero
    streaming state. Near-copies of corpus docs are rejected as dups;
    novel garbage is rejected by the classifier; novel quality text is
    admitted."""
    from pqstream_spark.sources.tables import load_table
    from pqstream_spark.streaming.stateful import curate_ingest

    corpus = load_table(spark, SF, "documents").selectExpr("doc_id", "text")
    incoming = (
        # near-copies of 10 corpus docs -> near_dup
        corpus.where("doc_id < 10").selectExpr(
            "doc_id + 900000 AS doc_id", "'en' AS lang",
            "substring(text, 1, greatest(length(text) - 7, 1)) AS text",
        )
        # novel quality text: stopword-rich, alpha-pure, long -> admitted
        .unionAll(spark.range(3).selectExpr(
            "id + 990000 AS doc_id", "'en' AS lang",
            "concat('qwxv zebra ', id, ' ', repeat('the a and of is ', 40))"
            " AS text",
        ))
        # novel garbage: no alpha, no stopwords, short -> clf-rejected
        .unionAll(spark.range(2).selectExpr(
            "id + 995000 AS doc_id", "'en' AS lang",
            "concat('#### ', id, ' 1234 %%%% !!!!') AS text",
        ))
    )
    inc_dir = str(tmp_path / "gate_in")
    incoming.coalesce(1).write.mode("overwrite").parquet(inc_dir)

    got: dict = {}

    def emit(df, epoch):
        rows = df.collect()
        got.setdefault("rows", []).extend(rows)

    stream = spark.readStream.schema(incoming.schema).parquet(inc_dir)
    q = curate_ingest(stream, corpus, emit)
    drain(q)
    rows = {r["doc_id"]: r for r in got["rows"]}
    assert len(rows) == 15, "every incoming doc is annotated and scored"
    near_dups = {d for d, r in rows.items() if r["near_dup"]}
    admitted = {d for d, r in rows.items() if r["admitted"]}
    assert near_dups and near_dups <= {900000 + d for d in range(10)}, near_dups
    assert len(near_dups) >= 5, "most truncated near-copies must band-match"

    assert admitted == {990000, 990001, 990002}, admitted
    for d in (995000, 995001):
        assert not rows[d]["clf_keep"], "garbage must fail the classifier"
    # annotations came through the same projection as text_annotations
    assert rows[990000]["predicted_lang"] == "en"
    assert rows[990000]["n_tokens"] > 100


def test_curate_ingest_semantic_dedup_gate(spark, tmp_path):
    """Round 12 (VERDICT r11 #5): a PARAPHRASE-level duplicate — a
    corpus doc's exact words in a different order — sails through the
    band gate (MinHash over order-sensitive shingles) but must fail the
    SemDeDup quantized-cosine gate (bag-of-tokens embedding: reordered
    words give the IDENTICAL vector, cos = 1 ≥ τ). Novel quality text
    still passes both. Without semantic_dedup the paraphrase is
    admitted — the gap this flag closes."""
    from pqstream_spark.sources.tables import load_table
    from pqstream_spark.streaming.stateful import curate_ingest

    corpus = load_table(spark, SF, "documents").selectExpr("doc_id", "text")
    # deterministic word-shuffle paraphrases of 5 corpus docs: sort the
    # words (a different order whenever the doc isn't already sorted)
    para = corpus.where("doc_id < 5").selectExpr(
        "doc_id + 900000 AS doc_id", "'en' AS lang",
        "array_join(array_sort(split(text, ' ')), ' ') AS text",
    )
    novel = spark.range(2).selectExpr(
        "id + 990000 AS doc_id", "'en' AS lang",
        "concat('qwxv zebra ', id, ' ', repeat('the a and of is ', 40))"
        " AS text",
    )
    incoming = para.unionAll(novel)
    inc_dir = str(tmp_path / "sem_gate_in")
    incoming.coalesce(1).write.mode("overwrite").parquet(inc_dir)

    def run(semantic: bool) -> dict:
        got: list = []
        stream = spark.readStream.schema(incoming.schema).parquet(inc_dir)
        q = curate_ingest(stream, corpus,
                          lambda df, ep: got.extend(df.collect()),
                          semantic_dedup=semantic)
        drain(q)
        return {r["doc_id"]: r for r in got}

    rows = run(semantic=True)
    assert len(rows) == 7
    paras = [rows[900000 + d] for d in range(5)]
    # the band gate misses at least some paraphrases (order-sensitive
    # shingles differ), but the semantic gate catches ALL of them
    assert all(r["sem_dup"] for r in paras)
    assert not any(r["admitted"] for r in paras)
    band_missed = [r for r in paras if not r["near_dup"]]
    assert band_missed, (
        "every paraphrase band-matched — the fixture no longer "
        "demonstrates the gap the semantic gate closes")
    # novel quality text passes both gates
    for d in (990000, 990001):
        assert rows[d]["admitted"] and not rows[d]["sem_dup"]

    # without the flag, the band-missed paraphrases are ADMITTED —
    # the documented gap
    rows0 = run(semantic=False)
    assert "sem_dup" not in rows0[990000].asDict()
    missed_ids = {r["doc_id"] for r in band_missed}
    assert all(rows0[d]["admitted"] for d in missed_ids
               if rows0[d]["clf_keep"])


def test_ts_dtype_memo_key_sees_inplace_part_rewrite(tmp_path):
    """Round-15 fix (ADVICE r14 medium): the _peek_ts_dtype memo key
    for a DIRECTORY must change when an existing part-file is
    rewritten in place or a new file lands in a nested partition
    subdirectory — the top-level stat alone misses both."""
    import os
    import time as _t

    from pqstream_spark.streaming.source import _stat_signature

    d = tmp_path / "outbox"
    sub = d / "day=2031-01-01"
    sub.mkdir(parents=True)
    part = sub / "part-000.parquet"
    part.write_bytes(b"x" * 16)
    k1 = _stat_signature(str(d))
    assert k1 is not None
    st = os.stat(d)

    # in-place rewrite of the SAME part-file: same name, same size,
    # top-level dir mtime unchanged — only the recursive max mtime moves
    _t.sleep(0.01)
    part.write_bytes(b"y" * 16)
    # pin the top-level dir's mtime to its original value, so only the
    # part-file's recursive mtime can make k2 differ from k1
    os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))
    k2 = _stat_signature(str(d))
    assert k2 != k1, "in-place part rewrite must change the memo key"

    # new file inside the existing SUBdirectory (top-level dir entry
    # list unchanged)
    (sub / "part-001.parquet").write_bytes(b"z" * 16)
    k3 = _stat_signature(str(d))
    assert k3 != k2, "nested part addition must change the memo key"

    # single FILE path keeps the plain (mtime, size) signature
    kf = _stat_signature(str(part))
    assert kf is not None and len(kf) == 3


def test_stream_drain_restores_conf_when_start_fails(spark, monkeypatch):
    """The drain scopes AQE parallelism-first coalescing on; a
    writeStream.start() that raises must still leave the session conf
    as it found it."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from pqstream_spark.queries.streaming_q import _run_to_completion
    from pqstream_spark.session import scoped_conf

    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"

    def _fail(self, *a, **k):
        raise RuntimeError("start failed")

    monkeypatch.setattr(DataStreamWriter, "start", _fail)
    df = spark.readStream.format("rate").load()
    with scoped_conf(spark, {key: "false"}):
        with pytest.raises(RuntimeError, match="start failed"):
            _run_to_completion(df, "append")
        assert spark.conf.get(key) == "false"
