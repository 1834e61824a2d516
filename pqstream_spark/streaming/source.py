"""Streaming sources (SURVEY.md §2 S1/S5, §7 M1).

The reference ingests `pg_notify` notifications over a persistent
connection with reconnect/keepalive (`/root/reference/server.go:98-109,
258-281`) and loses events while disconnected (at-most-once). Our
engine upgrades that to at-least-once replay: the capture side writes
an append-only outbox ordered by `seq` (see sources/outbox.py), and
Structured Streaming's checkpoint tracks the read position — restart
resumes, nothing is lost.

For local testing the outbox is a directory of parquet files (the file
source IS the micro-batch driver loop: new files = new notifications);
swap `readStream.parquet` for the JDBC outbox poller or a Kafka topic
in production without touching the downstream pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.changelog import changelog_from_events

# schema of the driver's events.parquet, as the file source needs it
# declared up front. The ts column has shipped in two physical forms
# across driver rounds — TIMESTAMP(NANOS) (read as long nanos under
# nanosAsLong) and plain timestamp[us] (read as TIMESTAMP_NTZ) — so the
# schema is built per-path from a footer peek (metadata-only, no scan).
def _events_file_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


# Kept for callers that construct nanos-era fixture files explicitly.
EVENTS_FILE_SCHEMA = _events_file_schema(T.LongType())


# stat-signature → surfaced ts dtype: the footer peek is a driver
# metadata job paid on EVERY stream/batch source construction; the
# dtype is a property of the files, so it memoizes on a stat signature
# (round 14). For a single FILE the signature is (mtime_ns, size) — a
# rewrite changes it and misses. For a DIRECTORY the top-level stat
# only changes on direct-child add/remove/rename (ADVICE r14): an
# in-place part-file rewrite, or files landing inside a partition
# subdirectory, would leave it unchanged — so the directory signature
# additionally folds in a recursive (part-file count, max mtime_ns)
# over *.parquet. The same walk's part-file count answers whether a
# footer exists to read at all. It stats every part-file on every call,
# memo hit or not: O(files).
# A fresh process starts empty. Never holds data, only a dtype string.
_TS_DTYPE_MEMO: dict[tuple, str] = {}


def _scan_parquet(path: str) -> tuple[bool, tuple | None]:
    """One walk over `path`: (is there a parquet footer to read, memo
    key). The key is file → (path, mtime_ns, size); directory → the same
    plus a recursive (count, max mtime_ns) over part-files, so in-place
    rewrites and nested additions change it. A part-file that vanishes
    mid-walk (racing writer) yields key None: read, but don't memoize."""
    import os

    try:
        st = os.stat(path)
    except OSError:
        return False, None
    key: tuple = (path, st.st_mtime_ns, st.st_size)
    if not os.path.isdir(path):
        return os.path.isfile(path), key
    n, mx = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                n += 1
                try:
                    m = os.stat(os.path.join(root, f)).st_mtime_ns
                except OSError:
                    return True, None  # racing writer: don't memoize
                mx = max(mx, m)
    return n > 0, (*key, n, mx)


def _stat_signature(path: str) -> tuple | None:
    """The memo key alone (see _scan_parquet)."""
    return _scan_parquet(path)[1]


def _peek_ts_dtype(spark: SparkSession, path: str) -> str:
    """Surfaced dtype of `ts` for parquet at `path`, or the current-era
    default ("timestamp_ntz") when no parquet footer exists to read yet
    (empty or not-yet-created directory)."""
    has_parquet, key = _scan_parquet(path)
    if not has_parquet:
        import logging

        # Surfacing the assumption at runtime: if bigint(nanos)-era files
        # land in this directory later, the stream will read ts with the
        # wrong declared type for the lifetime of the query.
        logging.getLogger(__name__).warning(
            "no parquet footer at %s yet; assuming current-era ts dtype "
            "timestamp_ntz (outbox directories must be era-homogeneous)",
            path,
        )
        return "timestamp_ntz"
    if key is not None and key in _TS_DTYPE_MEMO:
        return _TS_DTYPE_MEMO[key]
    try:
        dtype = dict(spark.read.parquet(path).dtypes).get(
            "ts", "timestamp_ntz")
    except Exception:  # racing writers / partial files: use the era default
        return "timestamp_ntz"
    if key is not None:
        if len(_TS_DTYPE_MEMO) > 64:
            _TS_DTYPE_MEMO.clear()
        _TS_DTYPE_MEMO[key] = dtype
    return dtype


def _ts_type_for(ts_dtype: str) -> T.DataType:
    if ts_dtype == "bigint":
        return T.LongType()
    if ts_dtype == "timestamp_ntz":
        return T.TimestampNTZType()
    return T.TimestampType()


def _normalize_ts(ev: DataFrame, ts_dtype: str) -> DataFrame:
    """Normalize to a session-zone TIMESTAMP (UTC session pinned by
    ensure_engine_confs), matching sources/tables.load_table."""
    if ts_dtype == "bigint":
        return ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return ev.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_events(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over an events-shaped parquet directory (or a single
    parquet file — the file source requires a directory basePath, so a
    file path becomes parent-dir + pathGlobFilter)."""
    import os

    from ..session import ensure_engine_confs

    ensure_engine_confs(spark)
    # Footer-only batch read to learn ts's surfaced type for this path —
    # but ONLY when parquet files already exist there. A stream is
    # normally started BEFORE events flow (the reference always has the
    # listener up first, server.go:98-109), so an empty / not-yet-
    # populated directory must start cleanly: fall back to the declared
    # schema of the current data era (timestamp_ntz). Era assumption:
    # an outbox directory is era-homogeneous — files appearing later are
    # read with the type sniffed (or defaulted) at stream creation.
    ts_dtype = _peek_ts_dtype(spark, path)
    reader = spark.readStream.schema(_events_file_schema(_ts_type_for(ts_dtype)))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return _normalize_ts(reader.parquet(path), ts_dtype)


def batch_events(spark: SparkSession, path: str) -> DataFrame:
    """Batch twin of stream_events — the same schema sniff and ts
    normalization over the same directory, via spark.read. This is the
    replay/history scan behind `/listen?from_seq=N`: a seq predicate on
    the result pushes down to parquet row-group min/max, so resuming
    near the tail reads only trailing files, not the whole retained
    changelog."""
    import os

    from ..session import ensure_engine_confs

    ensure_engine_confs(spark)
    ts_dtype = _peek_ts_dtype(spark, path)
    schema = _events_file_schema(_ts_type_for(ts_dtype))
    if not os.path.exists(path):  # nothing retained yet: empty frame
        return _normalize_ts(spark.createDataFrame([], schema), ts_dtype)
    reader = spark.read.schema(schema)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return _normalize_ts(reader.parquet(path), ts_dtype)


def batch_changelog(spark: SparkSession, path: str) -> DataFrame:
    """Bounded RawEvent frame over a changelog directory — what a
    late-joining wire subscriber replays before going live."""
    return changelog_from_events(batch_events(spark, path))


def stream_changelog(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming RawEvent frame — the unbounded analog of
    sources/changelog.build_changelog, same transform, same schema."""
    return changelog_from_events(
        stream_events(spark, path, max_files_per_trigger)
    )
