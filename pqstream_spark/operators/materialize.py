"""CDC materialization: changelog → current table state.

The reference only *streams* changes (`/root/reference/server.go:
249-315`); any consumer that wants current state must fold the stream
itself. This operator does that fold in the engine — the capability a
user switching from the reference most often rebuilds by hand:

    INSERT/UPDATE → row exists with the latest payload
    DELETE        → row absent

Batch form: one window (`row_number` over seq DESC per key) — a single
shuffle on the key, no driver-side state. At 100 TB this partitions by
(table, id) and scales linearly; with a date-partitioned changelog,
compaction runs per partition and merges with the previous snapshot
(classic incremental-materialization shape).

Streaming form: applyInPandasWithState keeps {key → (seq, payload)} in
the state store, emitting the new current row per key per micro-batch
— bounded state (one row per live key), exactly the operator Spark's
built-ins lack (dropDuplicates keeps the FIRST seen, we need the
LATEST by seq with DELETE tombstones).

Transaction-consistent mode (round 9): a multi-row transaction whose
seqs straddle a fenced batch ceiling arrives split across polls —
folding each poll independently exposes a torn intermediate state (the
reference's per-row NOTIFY has the same property, so plain mode is
parity). For all-or-nothing folds, compose with the envelope's writer
xid: feed `PgOutboxPoller.read_batch_txn` batches through
`sources.outbox_pg.TxnAssembler` (exact per-txn completion, sound by the
fence's own finality proof) and fold the assembler's output — each
emitted batch contains only WHOLE transactions. The logical transport
needs none of this: its batches are transaction-atomic by
construction.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

CURRENT_STATE_SCHEMA = (
    "table_name string, id string, seq long, op string, payload_json string"
)


def materialize_current_state(changelog: DataFrame) -> DataFrame:
    """Batch fold: latest event per (table, id); DELETE removes the row;
    TRUNCATE (statement-level, id NULL — sources/outbox.py round 8)
    removes EVERY row of its table whose latest event precedes it.

    Plan shape: ONE shuffle total. TRUNCATE rows ride the same window
    as the row events with an `is_trunc` discriminator in the
    partition key (so a null-id row event can never shadow a truncate,
    or vice versa); both downstream branches — the per-table truncate
    watermark (≤1 row per table, broadcast) and the surviving rows —
    fold from the SAME window output, whose shuffle Spark reuses
    (ReuseExchange), instead of re-scanning the changelog for the
    truncate aggregate (measured 2.3x entry cost at sf0.1 with the
    two-scan form)."""
    is_trunc = (F.col("op") == "TRUNCATE").alias("is_trunc")
    w = Window.partitionBy("table_name", "id", "is_trunc").orderBy(
        F.col("seq").desc()
    )
    folded = (
        changelog.withColumn("is_trunc", is_trunc)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    trunc = (
        folded.filter(F.col("is_trunc"))
        .groupBy("table_name")
        .agg(F.max("seq").alias("truncated_at"))
    )
    return (
        folded.filter(~F.col("is_trunc") & (F.col("op") != "DELETE"))
        .join(F.broadcast(trunc), "table_name", "left")
        .filter(
            F.col("truncated_at").isNull()
            | (F.col("seq") > F.col("truncated_at"))
        )
        .select("table_name", "id", "seq", "op", "payload_json")
    )


def materialize_current_state_stream(
    changelog: DataFrame,
    tombstone_ttl_ms: int = 24 * 3600 * 1000,
    watermark_delay: str = "7 days",
) -> DataFrame:
    """Streaming fold with explicit state: one state entry per live key.

    Emits the key's current row after each micro-batch that touches it
    (update-mode semantics); a DELETE emits a tombstone row with
    op='DELETE', payload NULL — so a downstream sink can apply removals
    too.

    TRUNCATE: state here is strictly per-key, and a statement-level
    TRUNCATE event (id NULL) cannot reach into other keys' state from
    inside a keyed stateful operator. It flows through under its own
    key — the grouping key carries an `is_trunc` discriminator (the
    batch fold's trick), so a ROW event with a NULL id can never
    shadow a truncate or vice versa — and emits a TABLE-level
    tombstone row (op='TRUNCATE', id NULL, payload NULL) that a
    downstream sink applies as delete-all; the tombstone expires on
    the same event-time timeout as DELETE tombstones. The per-id
    state entries of a truncated table are NOT cleared (per-key state
    cannot be; they behave like live rows until their ids are deleted
    or re-inserted — a truncate-and-fresh-ids workload should
    reconstruct state via the batch fold instead, which IS the
    state-reconstruction path and applies delete-all in-engine).

    DELETE keeps a TOMBSTONE in state (seq, 'DELETE', NULL) rather than
    removing the entry: under the engine's at-least-once delivery
    (sources/outbox.py replays from the checkpoint high-water mark), a
    replayed pre-DELETE event arriving in a later micro-batch would find
    no state, pass the `seq <= high-water` replay guard, and resurrect
    the deleted row. The tombstone preserves the seq high-water across
    the replay horizon and expires via an EVENT-TIME state timeout: it
    fires once the watermark passes `delete_ts + tombstone_ttl_ms`, so
    the horizon is measured in stream time (replays deliver OLD event
    times, which is exactly what the watermark bounds) and an idle
    query schedules no timer-driven empty micro-batches — a
    processing-time timer would re-trigger the query forever, burning
    cluster time and making `processAllAvailable` unusable. State stays
    bounded at one row per live-or-recently-deleted key; live rows
    never time out (a stale timer from a deleted-then-reinserted key is
    ignored when it fires)."""

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            seq, op, payload = state.get if state.exists else (-1, None, None)
            if op in ("DELETE", "TRUNCATE"):
                # tombstone outlived the replay horizon — safe to forget
                state.remove()
            # else: stale timer from a key deleted then re-inserted;
            # the live row stays (timers fire once, nothing to clear)
            return
        table_name, id_ = key[0], key[1]  # key[2] is the is_trunc flag
        if state.exists:
            seq, op, payload = state.get
        else:
            seq, op, payload = -1, None, None
        ts_ms = -1
        for pdf in pdfs:
            pdf = pdf.sort_values("seq")
            for row in pdf.itertuples(index=False):
                if row.seq <= seq:
                    continue  # replayed / out-of-order older event
                seq = int(row.seq)
                op = row.op
                payload = (None if row.op in ("DELETE", "TRUNCATE")
                           else row.payload_json)
                ts_ms = int(pd.Timestamp(row.ts).value // 1_000_000)
        state.update((seq, op, payload))
        if op in ("DELETE", "TRUNCATE") and ts_ms >= 0:
            # the engine requires the timer to sit beyond the watermark
            state.setTimeoutTimestamp(
                max(ts_ms + tombstone_ttl_ms, state.getCurrentWatermarkMs() + 1)
            )
        yield pd.DataFrame(
            {
                "table_name": [table_name],
                "id": [id_],
                "seq": [seq],
                "op": [op],
                "payload_json": [payload],
            }
        )

    return (
        changelog.withWatermark("ts", watermark_delay)
        .select(
            "table_name", "id", "seq", "ts", "op", "payload_json",
            (F.col("op") == "TRUNCATE").alias("is_trunc"),
        )
        .groupBy("table_name", "id", "is_trunc")
        .applyInPandasWithState(
            fold,
            outputStructType=CURRENT_STATE_SCHEMA,
            stateStructType="seq long, op string, payload_json string",
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
