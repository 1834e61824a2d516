"""SparkSession factory for the pqstream-spark engine.

One place to set the configs that matter for both local testing
(local[N], one JVM) and a real cluster (1000 executors, ~100 TB):

- AQE on: runtime re-planning (partition coalescing, skew-join split,
  broadcast demotion/promotion) is the single highest-leverage knob at
  scale and costs nothing locally.
- shuffle.partitions sized to cores locally; on a cluster AQE's
  coalescePartitions makes the static number mostly irrelevant as long
  as the initial value is high enough.
- UTC session timezone so results compare bit-for-bit with the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled: every pandas UDF / mapInPandas path is Arrow-batched.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# confs the engine REQUIRES and that are runtime-settable — applied
# defensively to any externally-provided session (the driver passes its
# own SparkSession to the query catalog; without nanosAsLong every
# events.parquet read throws PARQUET_TYPE_ILLEGAL, and a non-UTC
# session TZ breaks timestamp parity with the DuckDB oracle)
RUNTIME_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
}


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs the engine needs to a session we
    did not create. Idempotent and cheap; called from every loader."""
    for k, v in RUNTIME_REQUIRED_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf missing in future versions
            pass
    return spark


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set runtime confs for the body of a `with` block, then restore
    each key's previous value (or unset it if it had none) — also when
    the body raises. Every set happens inside the restoring scope, so
    a failure part-way through leaves the session as it was. The confs
    are session-wide: not safe against concurrent queries on the same
    session."""
    prev: dict[str, str | None] = {}
    try:
        for k, v in confs.items():
            prev[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def _fast_local_dir() -> str | None:
    """Shuffle/spill directory for LOCAL sessions: prefer tmpfs.

    local[N] writes every shuffle file, localCheckpoint block and spill
    through `spark.local.dir`; on a throttled VM disk (measured as low
    as ~65 MB/s here) that turns shuffle-heavy queries I/O-bound while
    leaving narrow CPU-bound scans untouched — a 3× swing that has
    nothing to do with the plans. tmpfs makes those writes RAM-speed.
    Guarded: only when /dev/shm reports ≥32 GB free (the working sets
    at bench SFs are a few GB at most), overridable with
    SPARK_GRAFT_LOCAL_DIR. Cluster deployments are unaffected — there
    the cluster manager owns spark.local.dir (DEPLOY.md)."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    shm = "/dev/shm"
    try:
        st = os.statvfs(shm)
        if st.f_bavail * st.f_frsize >= 32 * 1024**3:
            d = os.path.join(shm, "pqstream_spark_local")
            os.makedirs(d, exist_ok=True)
            return d
    except OSError:
        pass
    return None


def get_spark(
    app_name: str = "pqstream_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size-first AQE coalescing (round 15, guide §2.2 "let AQE
        # coalesce small partitions"): the default parallelismFirst=
        # true pins post-shuffle partition count at defaultParallelism
        # even when each partition holds a few KB — measured root cause
        # of dedup_pairwise_scores running 2× SLOWER at 32 cores than
        # at 8 (the entry crosses ~50 exchanges; 32 tiny partitions
        # each = pure scheduling/fetch overhead; same-session A/B at
        # local[32], sf0.1: 16.7 s → 7.2-7.9 s with size-first, equal
        # to the 8-core time). Scale-adaptive by construction: AQE
        # coalesces toward advisoryPartitionSizeInBytes, so partitions
        # carrying real bytes (the 100 TB case) are never collapsed —
        # only the tiny ones are. The known hazard is compute-dense
        # stages whose per-byte cost is extreme (bytes-based coalescing
        # can serialize them); the catalog's such stages (GEMM cells,
        # minhash signatures) were re-measured per entry with this on
        # (OPTIMIZATION_r15.md). Deployments can revert with
        # SPARK_GRAFT_COALESCE_PARALLELISM_FIRST=true.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "true"
            if os.environ.get("SPARK_GRAFT_COALESCE_PARALLELISM_FIRST", "")
            .strip().lower() in ("1", "true", "yes", "on")
            else "false",
        )
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # events.parquet stores TIMESTAMP(NANOS) which Spark rejects by
        # default; read as long and convert in the loader (micro-aligned
        # in the testdata, so no precision loss vs the DuckDB oracle)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Constraint propagation OFF by default (round 14, guide §7.3
        # "planning time itself can become the bottleneck"): the LLM
        # union entries carry thousands-of-node expression trees (64-
        # term static dot sums, ~128-term PQ encoders, 9-branch unions)
        # and InferFiltersFromConstraints is quadratic-ish in tree
        # width — measured on this host: sim_ann_lsh_quantized build
        # (analysis + localCheckpoint toRdd planning) 4.0 s → 1.9 s,
        # with identical results (the rule only ADDS inferred
        # predicates; every pushed filter the plans rely on is written
        # explicitly — test_plans pins l_shipdate/l_quantity pushdown
        # stays green). Driver-side planning cost is scale-independent,
        # so this is a cluster win too; deployments whose ad-hoc
        # queries rely on transitive predicate inference can flip it
        # back with SPARK_GRAFT_CONSTRAINT_PROP=true.
        # env normalized to a strict true/false (ADVICE r14: a value
        # like "1" would otherwise fail at session build)
        .config(
            "spark.sql.constraintPropagation.enabled",
            "true"
            if os.environ.get("SPARK_GRAFT_CONSTRAINT_PROP", "false")
            .strip().lower() in ("1", "true", "yes", "on")
            else "false",
        )
    )
    local_dir = _fast_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
