"""Beyond-reference LLM-data-pipeline operators (SURVEY.md §7 M5):
deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
cosine), similarity search (brute-force + cluster-pruned ANN), and text
analysis (language-ID, quality, token counting, fingerprinting).

All are expressed with JVM-side built-ins (higher-order array
functions, window functions, hash-partitioned self-joins) — no Python
UDFs in any hot path. MinHash signatures use lexicographic min of
md5(seed || shingle) so the Spark and DuckDB formulations are
bit-identical (both engines ship the same md5).

Scale notes (the 100 TB story):
- MinHash LSH: the band-bucket self-join is the scale path — candidate
  generation is a shuffle on the bucket key, never an O(n²) cross join.
  Bucket width is capped (LSH_BUCKET_CAP, counted before any list is
  collected): buckets wider than the cap are boilerplate/templates, not
  near-dups worth O(k²) pairing, and an uncapped collect would OOM.
- Brute-force cosine is the *baseline*; the ANN variant prunes
  candidates to the query's cluster (label = a precomputed IVF cell),
  turning the scan into a partition-pruned fraction of the corpus.
- Everything per-doc (simhash, fingerprints, quality) is a narrow map —
  embarrassingly parallel, whole-stage-codegen'd.

The synthetic corpus for dup queries = documents ∪ deterministic
near-copies (truncated tail) ∪ exact copies, so results are non-trivial
at every SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import scoped_conf
from ..sources.tables import register_views


# --- builder-scoped AQE gate (round 15, guide §7.3 / §5) ---------------
#
# Under AQE, DataFrame.localCheckpoint(eager=False) is NOT lazy about
# upstream shuffles: `queryExecution.toRdd` goes through
# AdaptiveSparkPlanExec.getFinalPhysicalPlan(), which materializes
# every intermediate shuffle stage SYNCHRONOUSLY before handing back
# the RDD. A builder that stacks N "lazy" checkpointed views therefore
# runs N chains of map stages as serial driver-blocking mini-jobs at
# build time (measured on dedup_pairwise_scores at sf0.1: build 5.5-
# 9.5 s with AQE on vs 2.0 s scoped off, entry total 14.8-19.6 s vs
# 9.3-10.1 s in the same session). Scoping AQE OFF while the builder
# constructs its checkpoints makes toRdd pure planning: the stage work
# folds into the single timed action, where independent subtrees
# overlap across the task slots instead of serializing build-side.
#
# The RESULT query is unaffected: only spark.sql() ANALYSIS happens
# inside the scope; the outer query's physical plan (and its AQE
# re-optimization) is decided at action time, after the conf is
# restored. What the checkpointed SUBTREES give up is AQE partition
# coalescing / skew-join splitting inside themselves — acceptable for
# these bounded derived relations (their heavy fan-out is explicitly
# chunk-managed).
#
# NOT thread-safe vs concurrent queries on the same session (the conf
# is session-wide): the catalog builders run on the caller's thread
# only, which is how bench.py and the driver invoke them.

def _no_aqe_during_build(spark: SparkSession):
    return scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"})


def _aqe_scoped_builder(fn):
    """Decorator form of `_no_aqe_during_build` for catalog builders
    (spark, sf_dir) -> DataFrame that stack lazy localCheckpoints."""
    import functools

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        with _no_aqe_during_build(spark):
            return fn(spark, sf_dir)

    return wrapper


def _sql(sql: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(sql)

    return run


# --- shared text-normalization fragments, per engine -------------------------

# Spark regexp_replace replaces all matches; DuckDB needs the 'g' flag.
TOK_SPARK = (
    "filter(split(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' '), x -> x <> '')"
)
TOK_DUCK = (
    "list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),"
    " x -> x <> '')"
)

SHINGLE_SPARK = (
    "CASE WHEN size(tok) >= 3 THEN transform(sequence(1, size(tok) - 2),"
    " i -> concat_ws(' ', element_at(tok, i), element_at(tok, i + 1), element_at(tok, i + 2)))"
    " ELSE CAST(array() AS ARRAY<STRING>) END"
)
SHINGLE_DUCK = (
    "CASE WHEN len(tok) >= 3 THEN list_transform(range(1, len(tok) - 1),"
    " i -> tok[i] || ' ' || tok[i + 1] || ' ' || tok[i + 2])"
    " ELSE CAST([] AS VARCHAR[]) END"
)

# near-copy corpus: original ∪ tail-truncated copy (near-dup, +100000)
CORPUS_CTE = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         substring(text, 1, greatest(length(text) - 7, 1)) AS text
  FROM documents
)
"""

# exact-copy corpus for exact dedup (+200000)
EXACT_CORPUS_CTE = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents
)
"""


# --- dedup: exact (hash groupBy) ----------------------------------------------

SQL_DEDUP_EXACT = f"""
WITH {EXACT_CORPUS_CTE.strip()}
SELECT md5(text) AS text_hash,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS keeper_doc_id
FROM corpus
GROUP BY md5(text)
"""


# --- dedup: MinHash + LSH candidate pairs --------------------------------------

# A band bucket wider than this is a boilerplate/template cluster, not a
# near-dup candidate set: at 100 TB one 10⁶-member bucket would OOM the
# collect_list AND explode O(k²) candidate pairs. Widths are counted
# BEFORE any list is collected (count-aggregate, map-side partial), so
# the cap also bounds executor memory, not just pair count.
LSH_BUCKET_CAP = 50


def _minhash_sql(tok_expr: str, shingle_expr: str, array_min: str) -> str:
    # One md5 per shingle; hash function j is hex slice [4j+1, 4j+4] of
    # that digest ("one-permutation" MinHash: each 16-bit slice induces
    # its own ordering of the shingle set, so the 8 mins are ~independent
    # at 1/8th the hash cost of md5(seed || shingle) per seed).
    tmap = "transform" if array_min == "array_min" else "list_transform"
    mins = ", ".join(
        f"{array_min}({tmap}(ms, m -> substring(m, {4 * j + 1}, 4))) AS h{j}"
        for j in range(8)
    )
    bands = ", ".join(
        f"h{2 * b} || h{2 * b + 1} AS b{b}" for b in range(4)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, b{b} AS bucket FROM bands" for b in range(4)
    )
    return f"""
WITH {CORPUS_CTE.strip()},
toks AS (SELECT doc_id, {tok_expr} AS tok FROM corpus),
sh_t AS (SELECT doc_id, {shingle_expr} AS sh FROM toks),
ms_t AS (SELECT doc_id, {tmap}(sh, s -> md5(s)) AS ms FROM sh_t),
mh AS (SELECT doc_id, {mins} FROM ms_t),
bands AS (SELECT doc_id, {bands} FROM mh),
eb AS ({band_union}),
ebc AS (SELECT doc_id, band_idx, bucket,
        COUNT(*) OVER (PARTITION BY band_idx, bucket) AS bw FROM eb)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM ebc a JOIN ebc b
  ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE a.bw <= {LSH_BUCKET_CAP}
"""


SQL_MINHASH_DUCK = _minhash_sql(TOK_DUCK, SHINGLE_DUCK, "list_min")


def _minhash_signatures(corpus: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, b0..b3) LSH band keys.

    Explodes shingles and takes the 8 slice-mins as plain aggregates:
    unlike nested array_min(transform(...)) lambdas (interpreted, no
    codegen), a hash aggregate with min() is whole-stage-codegen'd and
    partially aggregated map-side — the shuffle carries ≤ 1 row per
    (doc, partition), not the shingle set."""
    from pyspark.sql import functions as F

    return (
        corpus.selectExpr("doc_id", f"{TOK_SPARK} AS tok")
        .selectExpr("doc_id", f"explode({SHINGLE_SPARK}) AS s")
        .selectExpr("doc_id", "md5(s) AS m")
        .groupBy("doc_id")
        .agg(
            *[
                F.expr(
                    # fixed-length lowercase hex orders identically to
                    # its numeric value, so min over the parsed BIGINT
                    # equals min over the hex slice — but a fixed-width
                    # LongType min runs in codegen'd HashAggregate
                    # instead of ObjectHashAggregate over strings
                    f"min(cast(conv(substring(m, {4 * j + 1}, 4), 16, 10)"
                    " AS BIGINT))"
                ).alias(f"h{j}")
                for j in range(8)
            ]
        )
        .selectExpr(
            # band key as one BIGINT (h·2¹⁶ + h) — same bucketing as the
            # hex-string concat, narrower shuffle key
            "doc_id",
            *[f"h{2 * b} * 65536 + h{2 * b + 1} AS b{b}" for b in range(4)],
        )
    )


def minhash_bands_narrow(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-row MinHash band keys — the NARROW formulation (array_min
    over the in-row hash array, no aggregation). Slower per row than
    _minhash_signatures' codegen'd hash aggregate, but usable where a
    groupBy is not: on a STREAMING frame a per-doc aggregate would be
    unbounded state, while this is a stateless projection. Produces
    bit-identical band keys (fixed-length lowercase hex orders like
    its numeric value, so min-then-conv == conv-then-min — the same
    identity the oracle certifies for dedup_minhash_lsh)."""
    hs = [
        f"cast(conv(array_min(transform(ms, m -> substring(m, {4 * j + 1},"
        f" 4))), 16, 10) AS BIGINT) AS h{j}"
        for j in range(8)
    ]
    return (
        df.selectExpr(id_col, f"{TOK_SPARK} AS tok")
        .selectExpr(id_col, f"transform({SHINGLE_SPARK}, s -> md5(s)) AS ms")
        .where("size(ms) > 0")
        .selectExpr(id_col, *hs)
        .selectExpr(
            id_col,
            *[f"h{2 * b} * 65536 + h{2 * b + 1} AS b{b}" for b in range(4)],
        )
    )


def band_pairs(sig: DataFrame, bucket_cap: int | None = LSH_BUCKET_CAP) -> DataFrame:
    """(doc_id, b0..b3) band keys → distinct candidate pairs
    (doc_a < doc_b), generated inside a groupBy(bucket) — one shuffle on
    the bucket key, never an O(n²) cross join.

    Bucket widths are counted FIRST (count-only aggregate, map-side
    partial combine) and buckets outside [2, bucket_cap] are dropped
    before any doc-id list is collected; the join back to the exploded
    band rows and the collect_list groupBy hash-partition on the same
    (band_idx, bucket) key, so the width filter costs no extra exchange
    of the wide data and every collected list is ≤ bucket_cap entries.
    bucket_cap=None disables the cap (testing only — never at scale)."""
    from pyspark.sql import functions as F

    eb = sig.select(
        "doc_id",
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct({b} AS band_idx, b{b} AS bucket)" for b in range(4)
                )
                + ")"
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band_idx", "bb.bucket")
    eb = eb.filter(F.col("bucket").isNotNull())
    widths = eb.groupBy("band_idx", "bucket").agg(F.count(F.lit(1)).alias("bw"))
    widths = widths.filter(F.col("bw") >= 2)
    if bucket_cap is not None:
        widths = widths.filter(F.col("bw") <= bucket_cap)
    return (
        eb.join(widths.select("band_idx", "bucket"), ["band_idx", "bucket"])
        .groupBy("band_idx", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) ->"
                    " transform(slice(ids, i + 2, size(ids)), b ->"
                    " struct(a AS doc_a, b AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def _near_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = register_views(spark, sf_dir)["documents"]
    return docs.selectExpr("doc_id", "text").unionAll(
        docs.selectExpr(
            "doc_id + 100000 AS doc_id",
            "substring(text, 1, greatest(length(text) - 7, 1)) AS text",
        )
    )


def q_minhash_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs, single-pass.

    Spark CTEs are inlined, so a self-join formulation would recompute
    the md5-heavy signature pipeline once per join side per band. This
    version computes signatures ONCE (see _minhash_signatures) and
    generates pairs inside a width-capped groupBy(bucket) (band_pairs) —
    one shuffle on the bucket key, which is exactly the LSH scale path
    at 100 TB."""
    return band_pairs(_minhash_signatures(_near_dup_corpus(spark, sf_dir)))


# --- dedup: cluster resolution (connected components over candidate pairs) ------

# Below this many edges the per-round label/neighbor-min frames are
# hinted broadcast: localCheckpoint yields LogicalRDDs with UNKNOWN
# size stats, so AQE never auto-broadcasts them and every round pays
# two shuffle joins of tiny frames (measured ~2.1 s of the 3.9 s
# dedup_pipeline_corpus entry at sf0.1). Above it, the hints vanish
# and the rounds stay shuffle joins — the only correct shape when the
# label frame itself is beyond executor memory.
PROPAGATE_BROADCAST_EDGES = 2_000_000


def propagate_min_labels(pairs: DataFrame, max_rounds: int = 10) -> DataFrame:
    """Connected components over (doc_a, doc_b) pairs via iterative
    min-label propagation: each doc's label converges to the min doc_id
    reachable, in O(graph diameter) rounds of one shuffle each — the
    scale path for transitive closure (no driver-side union-find, no
    recursion depth tied to cluster size). Near-dup clusters are
    star/clique-shaped (diameter ≤ a few hops), so the default round
    budget converges with slack; a pathological chain longer than
    max_rounds hops would exit unconverged, which is WARNED about
    rather than silently returned (the large-star/small-star variant
    would make the round count O(log diameter) if such graphs ever
    appear). Returns (doc_id, label).

    Round shape (this is the per-round cost EVERYTHING above pays, so
    it is kept minimal): one edges→labels join, then
    union(labels, propagated) → min per doc_id — a single exchange and
    NO second join: the old labels frame rides the union instead of
    being left-joined back, so every node survives and the per-round
    broadcast build count drops from two to one (on a cluster that is
    one driver collect+rebroadcast per round saved; on a slow host the
    fixed broadcast/checkpoint cost per round is the whole game).
    Fixed point is detected with an exact monotone invariant: labels
    only ever decrease under min-propagation, so SUM(label) (exact
    DECIMAL(38,0), no float drift, no BIGINT overflow at any node
    count) is strictly decreasing until the fixed point — one 1-row
    aggregate per round on the just-checkpointed frame, no _changed
    scan, no extra join. localCheckpoint cuts the growing lineage."""
    import warnings

    from pyspark.sql import functions as F

    edges = pairs.unionAll(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    # materialize once: every round re-reads the edge list, and without
    # this the (possibly expensive) pair-generation upstream re-executes
    # per round — O(rounds × candidate-generation) instead of O(1).
    # (Pre-partitioning by the join key before the checkpoint would be
    # pointless: LogicalRDD drops partitioning info, so each round's
    # join re-shuffles the narrow edge list regardless.)
    # LAZY checkpoints throughout (round 14, guide §5): every frame
    # here is immediately consumed by a 1-row driver aggregate (the
    # count / the convergence sum), so eager=False folds the
    # materialization into that aggregate's job — one driver-blocking
    # job per round instead of two, same materialized blocks.
    edges = edges.localCheckpoint(eager=False)
    # this count materializes the checkpoint AND buys the broadcast
    # decision below (the LogicalRDD has no size stats, so AQE cannot
    # make it for us; the label frame is bounded by the node count
    # ≤ 2·edges)
    small_graph = edges.count() <= PROPAGATE_BROADCAST_EDGES
    _maybe_b = F.broadcast if small_graph else (lambda df: df)
    nodes = edges.select(F.col("doc_a").alias("doc_id")).distinct()
    labels = nodes.withColumn("label", F.col("doc_id")).localCheckpoint(
        eager=False
    )
    _sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    prev_sum = labels.agg(_sum).collect()[0][0]
    converged = False
    for _ in range(max_rounds):
        propagated = (
            edges.join(_maybe_b(labels), edges.doc_b == labels.doc_id)
            .select(edges.doc_a.alias("doc_id"), "label")
        )
        labels = (
            labels.unionAll(propagated)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(_sum).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        warnings.warn(
            f"propagate_min_labels exhausted max_rounds={max_rounds} with "
            "labels still changing — cluster assignments may be split; "
            "raise max_rounds (graph diameter exceeds the budget)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node connects its strictly-larger
    neighbors to the minimum of its closed neighborhood."""
    from pyspark.sql import functions as F

    nbrs = edges.unionAll(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    mins = nbrs.groupBy("doc_a").agg(
        F.least(F.min("doc_b"), F.first("doc_a")).alias("m")
    )
    return (
        nbrs.join(mins, "doc_a")
        .filter(F.col("doc_b") > F.col("doc_a"))
        .select(F.col("doc_b").alias("doc_a"), F.col("m").alias("doc_b"))
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient edges larger→smaller; every node
    connects its smaller-or-equal neighbors (and itself) to the minimum."""
    from pyspark.sql import functions as F

    directed = edges.select(
        F.greatest("doc_a", "doc_b").alias("doc_a"),
        F.least("doc_a", "doc_b").alias("doc_b"),
    ).filter(F.col("doc_a") != F.col("doc_b"))
    mins = directed.groupBy("doc_a").agg(F.min("doc_b").alias("m"))
    return (
        directed.join(mins, "doc_a")
        .select(F.col("doc_b").alias("doc_a"), F.col("m").alias("doc_b"))
        .unionAll(mins.select(F.col("doc_a"), F.col("m").alias("doc_b")))
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )


def connected_components_star(pairs: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond"): the proven round bound for this alternation is O(log² n),
    with O(log n) observed in practice — either way independent of
    graph diameter, the scale path when clusters are NOT shallow stars
    (long duplicate chains, transitive template drift). Each round is
    two groupBy+join shuffles on the node key; no driver-side state, no
    lineage growth (localCheckpoint per round). At convergence the edge
    set is a forest of stars (node → component minimum). Returns
    (doc_id, label) for every node that appears in `pairs`; singleton
    docs (no pairs) are absent, matching propagate_min_labels.

    If the round budget is exhausted before the edge set reaches a
    fixed point, a RuntimeWarning is raised (labels may still be split
    across sub-clusters) — same safety contract as
    propagate_min_labels.

    Prefer propagate_min_labels for near-dup graphs (diameter ≤ a few
    hops — fewer shuffles/round); prefer this when the diameter is
    unknown or adversarial. Both return identical labels."""
    import warnings

    from pyspark.sql import functions as F

    # checkpoint the PAIRS once (lazily) and derive both nodes and
    # edges from it: previously nodes and edges each materialized their
    # own checkpoint directly over `pairs`, so the (possibly expensive)
    # candidate-generation upstream executed TWICE — once per eager
    # checkpoint job (round 14, guide §2.4: don't compute things twice).
    # Lazy round checkpoints fold each round's materialization into its
    # convergence-signature aggregate — one driver-blocking job per
    # round instead of two.
    pairs = pairs.localCheckpoint(eager=False)
    nodes = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    edges = pairs.filter(F.col("doc_a") != F.col("doc_b"))
    prev_sig = None
    converged = False
    for _ in range(max_rounds):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        # convergence = edge multiset fixed point; count + order-free
        # hash-sum is one aggregation over the checkpointed frame (no
        # exceptAll shuffle). A 64-bit hash collision between rounds
        # would exit EARLY on a not-yet-stable forest (~2⁻⁶⁴ per round,
        # and only if the count also matches); accepted odds — the
        # alternative exact check is an exceptAll shuffle per round.
        sig = edges.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("doc_a", "doc_b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        warnings.warn(
            f"connected_components_star exhausted max_rounds={max_rounds} "
            "before the edge set reached a fixed point — component labels "
            "may be split; raise max_rounds",
            RuntimeWarning,
            stacklevel=2,
        )
    # converged edges are (node, component_min) stars; roots carry no
    # out-edge, so label = min over incident edges, else self
    labels = (
        nodes.join(edges, nodes.doc_id == edges.doc_a, "left")
        .groupBy("doc_id")
        .agg(F.coalesce(F.min("doc_b"), F.first("doc_id")).alias("label"))
    )
    return labels


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs → duplicate clusters → keeper per doc.

    Uses the diameter-independent star-contraction components so the
    DuckDB oracle certifies the scale-path algorithm, not just the
    shallow-graph label propagation (which the dedup pipeline uses)."""
    from pyspark.sql import functions as F

    pairs = q_minhash_spark(spark, sf_dir)  # (doc_a, doc_b), doc_a < doc_b
    labels = connected_components_star(pairs)
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_keeper"),
        (F.col("doc_id") == F.col("label")).alias("is_keeper"),
    )


def _cluster_oracle_sql(pairs_sql: str) -> str:
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
reach (doc_id, r) AS (
  SELECT doc_a AS doc_id, doc_a AS r FROM edges
  UNION
  SELECT e.doc_a AS doc_id, reach.r
  FROM edges e JOIN reach ON reach.doc_id = e.doc_b
)
SELECT doc_id, MIN(r) AS cluster_keeper, doc_id = MIN(r) AS is_keeper
FROM reach GROUP BY doc_id
"""


# --- dedup: full pipeline (LSH candidates → Jaccard verify → clusters → corpus) -

def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete training-data dedup pipeline in one query:

        corpus → MinHash-LSH candidates → exact 3-gram Jaccard
        verification (≥ 0.5) → connected components → keep one doc per
        cluster + every unclustered doc

    This is the composition a 100 TB pretraining pipeline actually
    runs: LSH bounds candidate generation to one bucket-key shuffle,
    exact Jaccard runs only on candidates (corpus/256-ish pairs, never
    O(n²)), components converge in log-diameter label rounds.
    Returns (doc_id, cluster_keeper, kept)."""
    docs = register_views(spark, sf_dir)["documents"]
    corpus = docs.selectExpr("doc_id", "text").unionAll(
        docs.selectExpr(
            "doc_id + 100000 AS doc_id",
            "substring(text, 1, greatest(length(text) - 7, 1)) AS text",
        )
    )
    return dedup_corpus(corpus)


def dedup_corpus(corpus: DataFrame) -> DataFrame:
    """LSH → Jaccard-verify → connected components → keeper over an
    ARBITRARY (doc_id, text) frame — the reusable core of
    `dedup_pipeline_corpus` (whose synthetic near-copy corpus exists so
    the oracle has non-trivial clusters at every SF). The curate CLI
    runs this over user data. Returns (doc_id, cluster_keeper, kept)."""
    with _no_aqe_during_build(corpus.sparkSession):
        return _dedup_corpus_impl(corpus)


def _dedup_corpus_impl(corpus: DataFrame) -> DataFrame:
    """Body of `dedup_corpus`, run under the builder AQE scope (round
    15): the lazy sh_raw checkpoint and every CC round's checkpoint +
    convergence aggregate execute as ONE job each instead of paying an
    extra synchronous AQE stage-materialization wait per toRdd. The
    CC-round joins keep their explicit broadcast hints (the static
    planner honors them); what the rounds give up is AQE skew-splitting
    of the Jaccard-verify join, whose skew is already bounded by
    LSH_BUCKET_CAP."""
    from pyspark.sql import functions as F

    # tokenize+shingle ONCE, materialized; both the MinHash signature
    # and the Jaccard verification derive from this frame (running
    # q_minhash_spark separately would re-tokenize the whole corpus;
    # measured here: dropping the checkpoint in favor of ReuseExchange
    # sharing regresses 4.5 s → 166 s at sf0.1 — AQE does not reuse the
    # repartition subtree across the four consumers, and the verify
    # joins degrade to driver-side broadcasts of the shingle frame).
    # The repartition(doc_id) before the checkpoint balances the
    # materialized partitions across executors regardless of the
    # upstream file layout — the three downstream consumers then read
    # evenly-sized partitions.
    # lazy (round 14): the first consumer is propagate_min_labels'
    # edge-materializing count, which folds this materialization into
    # its own job instead of paying a separate driver-blocking job at
    # build time; the LogicalRDD barrier against CollapseProject
    # re-inlining is identical either way.
    sh_raw = (
        corpus.selectExpr("doc_id", f"{TOK_SPARK} AS tok")
        .selectExpr("doc_id", f"{SHINGLE_SPARK} AS sh")
        .repartition("doc_id")
        .localCheckpoint(eager=False)
    )
    sig = (
        sh_raw.selectExpr("doc_id", "explode(sh) AS s")
        .selectExpr("doc_id", "md5(s) AS m")
        .groupBy("doc_id")
        .agg(
            *[
                F.expr(
                    # fixed-length lowercase hex orders identically to
                    # its numeric value, so min over the parsed BIGINT
                    # equals min over the hex slice — but a fixed-width
                    # LongType min runs in codegen'd HashAggregate
                    # instead of ObjectHashAggregate over strings
                    f"min(cast(conv(substring(m, {4 * j + 1}, 4), 16, 10)"
                    " AS BIGINT))"
                ).alias(f"h{j}")
                for j in range(8)
            ]
        )
        .selectExpr(
            # band key as one BIGINT (h·2¹⁶ + h) — same bucketing as the
            # hex-string concat, narrower shuffle key
            "doc_id",
            *[f"h{2 * b} * 65536 + h{2 * b + 1} AS b{b}" for b in range(4)],
        )
    )
    cand = band_pairs(sig)
    shingles = sh_raw.selectExpr("doc_id", "array_distinct(sh) AS sh")
    a = shingles.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = shingles.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_int", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_int")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_int")),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    labels = propagate_min_labels(verified)
    # the final join needs only doc_id from the corpus — project it off
    # the already-materialized checkpoint instead of re-scanning and
    # re-deriving the synthetic corpus union
    base = sh_raw.select("doc_id")
    return (
        base.join(labels, base.doc_id == labels.doc_id, "left")
        .select(
            base.doc_id,
            F.col("label").alias("cluster_keeper"),
            (F.col("label").isNull() | (F.col("label") == base.doc_id)).alias(
                "kept"
            ),
        )
    )


def _pipeline_oracle_sql() -> str:
    mins = ", ".join(
        f"list_min(list_transform(ms, m -> substring(m, {4 * j + 1}, 4))) AS h{j}"
        for j in range(8)
    )
    bands = ", ".join(f"h{2 * b} || h{2 * b + 1} AS b{b}" for b in range(4))
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, b{b} AS bucket FROM mbands"
        for b in range(4)
    )
    return f"""
WITH RECURSIVE {CORPUS_CTE.strip()},
mtoks AS (SELECT doc_id, {TOK_DUCK} AS tok FROM corpus),
msh AS (SELECT doc_id, {SHINGLE_DUCK} AS sh FROM mtoks),
mms AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS ms FROM msh),
mmh AS (SELECT doc_id, {mins} FROM mms),
mbands AS (SELECT doc_id, {bands} FROM mmh),
meb AS ({band_union}),
mebc AS (SELECT doc_id, band_idx, bucket,
         COUNT(*) OVER (PARTITION BY band_idx, bucket) AS bw FROM meb),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM mebc a JOIN mebc b
    ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  WHERE a.bw <= {LSH_BUCKET_CAP}
),
jsh AS (SELECT doc_id, list_distinct(sh) AS sh FROM msh),
verified AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN jsh a ON a.doc_id = c.doc_a
  JOIN jsh b ON b.doc_id = c.doc_b
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
),
edges AS (
  SELECT doc_a, doc_b FROM verified
  UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM verified
),
reach (doc_id, r) AS (
  SELECT doc_a AS doc_id, doc_a AS r FROM edges
  UNION
  SELECT e.doc_a AS doc_id, reach.r FROM edges e JOIN reach ON reach.doc_id = e.doc_b
),
labels AS (SELECT doc_id, MIN(r) AS label FROM reach GROUP BY doc_id)
SELECT c.doc_id, l.label AS cluster_keeper,
       (l.label IS NULL OR l.label = c.doc_id) AS kept
FROM corpus c LEFT JOIN labels l ON c.doc_id = l.doc_id
"""


# --- dedup: n-gram Jaccard on original↔near-copy pairs --------------------------

def _jaccard_sql(tok_expr: str, shingle_expr: str, spark: bool) -> str:
    distinct = "array_distinct" if spark else "list_distinct"
    intersect = "array_intersect" if spark else "list_intersect"
    size = "size" if spark else "len"
    return f"""
WITH {CORPUS_CTE.strip()},
toks AS (SELECT doc_id, {tok_expr} AS tok FROM corpus),
sh_t AS (SELECT doc_id, {distinct}({shingle_expr}) AS sh FROM toks),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
  FROM sh_t a JOIN sh_t b ON b.doc_id = a.doc_id + 100000
)
SELECT doc_a, doc_b,
  CASE WHEN {size}(sh_a) + {size}(sh_b) - {size}({intersect}(sh_a, sh_b)) = 0 THEN NULL
       ELSE round(CAST({size}({intersect}(sh_a, sh_b)) AS DOUBLE)
            / ({size}(sh_a) + {size}(sh_b) - {size}({intersect}(sh_a, sh_b))), 6)
  END AS jaccard
FROM pairs
"""


# --- SimHash fingerprint expression ----------------------------------------------
# 64-bit simhash over distinct tokens; bit i comes from bit (3 - i%4) of
# hex nibble i//4 of md5(token). Output as a 64-char bitstring so both
# engines render identically. Used as a column of text_annotations and
# the simhash pairing branch of dedup_pairwise_scores.
#
# Cost shape: the expression takes an array of PRE-COMPUTED token
# hashes ({dtokh}), built once per doc with a single transform — the
# naive inlining of md5(t) inside the per-bit fold hashes every token
# 64 times (the bit loop is the hot path: 64 × |tokens| folds/doc).


def _hash_tokens_expr(dtok: str, spark: bool) -> str:
    """Array of md5 hex digests for a token array, computed once."""
    if spark:
        return f"transform({dtok}, t -> md5(t))"
    return f"list_transform({dtok}, t -> md5(t))"


def _simhash_expr(dtokh: str, spark: bool) -> str:
    if spark:
        return f"""concat_ws('', transform(sequence(0, 63), i ->
    CASE WHEN aggregate({dtokh}, 0, (acc, h) -> acc +
      CASE WHEN (shiftright(instr('0123456789abcdef', substring(h, (i div 4) + 1, 1)) - 1,
                 3 - (i % 4)) & 1) = 1 THEN 1 ELSE -1 END) > 0
    THEN '1' ELSE '0' END))"""
    return f"""array_to_string(list_transform(range(0, 64), i ->
    CASE WHEN COALESCE(list_sum(list_transform({dtokh}, h ->
      CASE WHEN (((strpos('0123456789abcdef', substring(h, (i // 4) + 1, 1)) - 1)
                 >> (3 - (i % 4))) & 1) = 1 THEN 1 ELSE -1 END)), 0) > 0
    THEN '1' ELSE '0' END), '')"""


# --- embedding cosine: all pairwise stages use per-row L2 normalization
# (_norm_vec_expr) + a per-pair dot fold (_dot6_expr) — see below.


# All-pairs-within-label is O(w²) per label; beyond this width the label
# is routed to hyperplane-LSH bucketing (same discipline as
# LSH_BUCKET_CAP for shingle buckets). 256 keeps every testdata SF on
# the exact path (max observed label width: 218 at sf0.1) while a
# production mega-label (millions of vectors) pairs only within its
# 8-bit hyperplane bucket — candidate sets shrink ~256×.
NN_LABEL_CAP = 256


def _norm2_expr(spark: bool) -> str:
    """Squared L2 norm of `embedding` — also the zero-vector guard:
    every pairing CTE filters `norm2 > 0` BEFORE normalizing, because a
    zero vector has no defined cosine to anything and ANSI-mode Spark
    raises DIVIDE_BY_ZERO on the normalization (same discipline as the
    quantized path's `scale > 0`)."""
    if spark:
        return ("aggregate(embedding, CAST(0.0 AS DOUBLE), "
                "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))")
    return ("list_sum(list_transform(embedding, "
            "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))")


def _norm_vec_expr(spark: bool) -> str:
    """L2-normalized copy of `embedding`, computed ONCE per row. Every
    pairwise stage then evaluates a single dot-product fold per pair
    instead of dot + two norms — the discipline any production vector
    scan uses (norms are a row property, not a pair property). Callers
    must have filtered `_norm2_expr > 0` first."""
    if spark:
        return f"transform(embedding, x -> CAST(x AS DOUBLE) / sqrt({_norm2_expr(True)}))"
    return f"list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt({_norm2_expr(False)}))"


def _dot6_expr(a: str, b: str, spark: bool) -> str:
    """round(a·b, 6) — both dialects fold products in index order, so
    the rounded value is bit-comparable between Spark and DuckDB."""
    if spark:
        return (f"round(aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
                f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 6)")
    return (f"round(list_sum(list_transform(range(1, len({a}) + 1), "
            f"i -> {a}[i] * {b}[i])), 6)")


def _nn_label_sql(spark: bool, base: str | None = None) -> str:
    """Per-vector nearest neighbour within its label cluster (embedding
    near-dup detection: flag if cosine >= 0.8).

    Labels up to NN_LABEL_CAP vectors wide get the exact all-pairs NN.
    Wider labels are routed to the random-hyperplane-LSH path: pairing
    equi-joins on (label, bucket) — the bucket is IN the shuffle key, so
    a mega-label never enumerates w² pairs — and the NN is the nearest
    same-bucket neighbour (approximate by construction; a vector whose
    bucket is a singleton within its label yields no row). Width is
    counted FIRST on a grouped aggregate (|labels| rows, broadcast), the
    same count-before-pair discipline as LSH_BUCKET_CAP.

    The pair term is cost-shaped for the O(pairs) hot loop: vectors are
    L2-normalized ONCE per row (O(rows)), so each pair evaluates a
    single dot-product fold instead of dot + two norms — 3× less
    higher-order-function work where it multiplies. Both dialects fold
    the products in index order, so the rounded cosine is
    bit-comparable."""
    sig = _hyperplane_sig_spark() if spark else _hyperplane_sig_duck()
    nv = _norm_vec_expr(spark)
    n2 = _norm2_expr(spark)
    dot = _dot6_expr("a.nv", "b.nv", spark)
    if base:
        # Spark side (round 14): `base` is a MATERIALIZED
        # (vec_id, label, nv, bucket) view — sg was previously inlined
        # into BOTH join sides, computing normalize+hyperplane
        # signature twice per corpus pass. (A static 64-term dot here
        # was tried and REVERTED: library callers and tests shadow
        # `embeddings` with other dims, and the fold is dim-agnostic.)
        head = (f"WITH sg AS (SELECT vec_id, label, nv, bucket "
                f"FROM {base}),\n"
                "lw AS (SELECT label, COUNT(*) AS w FROM sg "
                "GROUP BY label),")
    else:
        head = f"""WITH nz AS (SELECT vec_id, label, embedding FROM embeddings WHERE {n2} > 0),
lw AS (SELECT label, COUNT(*) AS w FROM nz GROUP BY label),
sg AS (SELECT vec_id, label, {nv} AS nv, {sig} AS bucket FROM nz),"""
    return f"""
{head}
pairs AS (
  SELECT a.vec_id, b.vec_id AS nn_vec_id, a.label, {dot} AS cos
  FROM sg a JOIN lw ON lw.label = a.label AND lw.w <= {NN_LABEL_CAP}
  JOIN sg b ON a.label = b.label AND a.vec_id <> b.vec_id
  UNION ALL
  SELECT a.vec_id, b.vec_id AS nn_vec_id, a.label, {dot} AS cos
  FROM sg a JOIN lw ON lw.label = a.label AND lw.w > {NN_LABEL_CAP}
  JOIN sg b ON a.label = b.label AND a.bucket = b.bucket
           AND a.vec_id <> b.vec_id
)
SELECT vec_id, label, nn_vec_id, cos AS nn_cos, cos >= 0.8 AS near_dup
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_vec_id) rn
      FROM pairs)
WHERE rn = 1
"""


def _topk_sql(spark: bool, cluster_pruned: bool, base: str | None = None) -> str:
    extra = "AND q.label = c.label" if cluster_pruned else ""
    nv = _norm_vec_expr(spark)
    n2 = _norm2_expr(spark)
    dot = _dot6_expr("q.nv", "c.nv", spark)
    nsg = (f"nsg AS (SELECT vec_id, label, nv FROM {base})" if base else
           f"nsg AS (SELECT vec_id, label, {nv} AS nv FROM embeddings WHERE {n2} > 0)")
    return f"""
WITH {nsg},
q AS (SELECT vec_id AS q_id, nv, label FROM nsg WHERE vec_id < 10),
s AS (
  SELECT q.q_id, c.vec_id AS c_id, {dot} AS cos
  FROM q JOIN nsg c ON q.q_id <> c.vec_id {extra}
)
SELECT q_id, c_id, cos, rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) rn FROM s)
WHERE rn <= 5
"""


# --- similarity: random-hyperplane LSH (sign-bit bucketing) -------------------------
# The 100 TB ANN path that needs no precomputed labels: 8 deterministic
# integer-valued hyperplanes (component (j,i) = ((j*73 + i*37) % 19) - 9,
# exact in IEEE double in both engines), sign-bit signature per vector,
# candidates = same 8-bit bucket, exact cosine re-rank inside the bucket.
# One shuffle on the bucket key; candidate sets are corpus/256 on average.

def _hyperplane_sig_spark() -> str:
    bits = []
    for j in range(8):
        dot = (
            f"aggregate(transform(sequence(1, size(embedding)), i -> "
            f"CAST(element_at(embedding, i) AS DOUBLE) * "
            f"CAST(({j} * 73 + (i - 1) * 37) % 19 - 9 AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


def _hyperplane_sig_duck() -> str:
    bits = []
    for j in range(8):
        dot = (
            f"list_sum(list_transform(range(1, len(embedding) + 1), i -> "
            f"CAST(embedding[i] AS DOUBLE) * "
            f"CAST(({j} * 73 + (i - 1) * 37) % 19 - 9 AS DOUBLE)))"
        )
        bits.append(f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END")
    return "(" + " || ".join(bits) + ")"


def _lsh_hyperplane_sql(spark: bool) -> str:
    sig = _hyperplane_sig_spark() if spark else _hyperplane_sig_duck()
    nv = _norm_vec_expr(spark)
    n2 = _norm2_expr(spark)
    dot = _dot6_expr("q.nv", "c.nv", spark)
    return f"""
WITH sig AS (SELECT vec_id, {nv} AS nv, {sig} AS bucket FROM embeddings
             WHERE {n2} > 0)
SELECT q_id, c_id, cos, rn FROM (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, {dot} AS cos,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           {dot} DESC, c.vec_id) AS rn
  FROM sig q JOIN sig c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
) ranked WHERE rn <= 3
"""


# --- similarity: int8-quantized search ---------------------------------------------
# Per-vector symmetric quantization (scale = max|v|, q = round(v/scale·127)):
# 4× memory reduction and integer dot products — the storage/compute
# format a 100 TB vector corpus actually scans. Ranking by integer qdot
# is exact in both engines (no FP accumulation at all).

def _quant_topk_sql(spark: bool) -> str:
    if spark:
        scale = "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
        qv = ("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / scale * 127, 0) AS INT))")
        qdot = ("aggregate(zip_with(q.qv, c.qv, (x, y) -> CAST(x AS BIGINT) * y), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    else:
        scale = "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
        qv = ("list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / scale * 127, 0) AS INTEGER))")
        qdot = ("list_sum(list_transform(range(1, len(q.qv) + 1), "
                "i -> CAST(q.qv[i] AS BIGINT) * c.qv[i]))")
    return f"""
WITH scaled AS (SELECT vec_id, embedding, {scale} AS scale FROM embeddings),
q8 AS (SELECT vec_id, {qv} AS qv FROM scaled WHERE scale > 0)
SELECT q_id, c_id, qdot, rn FROM (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, {qdot} AS qdot,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {qdot} DESC, c.vec_id) AS rn
  FROM q8 q JOIN q8 c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
) ranked WHERE rn <= 5
"""


# --- similarity: PQ/ADC certification branch ---------------------------------------
# The round-5 PQ module (functions/pq.py — Jégou 2011) was pytest-only;
# this branch runs its encode → 4-bit pack → per-query LUT → nibble-
# lookup ADC machinery through BOTH engines with the formula-derived
# demo_books (data-independent, so identical literals inline into Spark
# and the DuckDB oracle; trained books flow through the same
# expressions with different constants). Scores are exact integers —
# any drift in packing, shifting, or lookup order breaks the hash.


def _pq_adc_sql(spark: bool, base: str | None = None) -> str:
    """`base` (Spark side): a materialized (vec_id, qv) view — the
    CollapseProject barrier; the encode expression references qv in
    ~128 static terms and, left as lineage, Catalyst re-inlines the
    normalize+quantize chain into every one (measured 4.0 s vs sub-
    second at sf0.1). DuckDB runs the self-contained one-statement
    form."""
    from ..functions.pq import (
        demo_books,
        pq_adc_score_expr,
        pq_encode_hof_expr,
        pq_lut_hof_expr,
    )

    books = demo_books()
    n2 = _norm2_expr(spark)
    nv = _norm_vec_expr(spark)
    tmap = "transform" if spark else "list_transform"
    qv = f"{tmap}({nv}, x -> CAST(round(x * 127, 0) AS BIGINT))"
    prefix = ("" if base else
              f"pqb AS (SELECT vec_id, {qv} AS qv FROM embeddings "
              f"WHERE {n2} > 0),\n")
    rel = base or "pqb"
    score = pq_adc_score_expr(len(books), "q.luts", "c.code", spark)
    return f"""
WITH {prefix}codes AS (SELECT vec_id, {pq_encode_hof_expr(books, spark)} AS code FROM {rel}),
q AS (SELECT vec_id AS q_id, {pq_lut_hof_expr(books, spark)} AS luts
      FROM {rel} WHERE vec_id < 10),
adc_scored AS (
  SELECT q.q_id, c.vec_id AS c_id, CAST({score} AS DOUBLE) AS score
  FROM q JOIN codes c ON q.q_id <> c.vec_id
)
SELECT q_id, c_id, score, rn FROM (
  SELECT q_id, c_id, score,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY score DESC, c_id) AS rn
  FROM adc_scored
) ranked WHERE rn <= 5
"""


# --- similarity: residual PQ/ADC (IVFADC) certification branch ---------------------
# Round-7's residual IVF-PQ (functions/pq.py pq_encode_ivf /
# ivfpq_search(residual=True) — Jégou 2011 §III) run through BOTH
# engines: coarse cell = integer-dot argmax against a formula-derived
# demo codebook, codes quantize the RESIDUAL qv − centroid(cell) with
# demo_books, and each pair's score is the exact decomposition
# dot(q, centroid(cell_c)) + Σ_m LUT[m][code_m]. All integers — any
# drift in assignment ties, residual arithmetic, packing, or the
# coarse offset breaks the hash.


def _coarse_lit(cb: list[list[int]], spark: bool) -> str:
    arr = "array" if spark else "list_value"
    suf = "L" if spark else ""
    return f"{arr}(" + ", ".join(
        f"{arr}(" + ", ".join(f"{int(v)}{suf}" for v in cv) + ")"
        for cv in cb
    ) + ")"


def _residual_rel_sql(spark: bool, rel: str) -> str:
    """The residual relation (vec_id, cell, qv = qv − centroid(cell))
    over a (vec_id, qv) relation `rel` — one SELECT chain shared by
    the one-statement oracle form and the Spark side's materialized
    view (q_sim_ann checkpoints it: the cell argmax would otherwise
    re-inline into every one of the encoder's per-subspace
    references — the CollapseProject tax, measured ~+2 s at sf0.1)."""
    from ..functions.pq import demo_coarse_codebook

    coarse = demo_coarse_codebook()
    cb = _coarse_lit(coarse, spark)
    p = _ivf_parts(spark)
    if spark:
        # static-sum ds (whole-stage codegen over the materialized qv
        # column — K×dim literal terms, the assign_ivf_cells small-K
        # discipline): the HOF fold here is ~K·dim interpreted lambda
        # evals PER ROW and measured ~1 s at sf0.1 just to build the
        # checkpoint. The oracle keeps the HOF form — the values are
        # exact integers either way.
        # get() not [i]: the demo codebook is a FIXED dim (unlike the
        # trained-IVF path, whose centroids inherit the corpus dim), so
        # a shorter vector would raise INVALID_ARRAY_INDEX under ANSI.
        # get() → NULL → coalesce 0 reproduces DuckDB's out-of-bounds
        # list semantics (missing components contribute nothing).
        sums = []
        for cv in coarse:
            terms = [f"coalesce(get(qv, {i}), CAST(0 AS BIGINT)) * {int(c)}"
                     for i, c in enumerate(cv) if int(c) != 0]
            sums.append("(" + " + ".join(terms) + ")" if terms
                        else "CAST(0 AS BIGINT)")
        ds = "array(" + ", ".join(sums) + ")"
        # slice the centroid to the vector's length so the residual
        # keeps size(qv) — DuckDB's HOF form iterates len(qv) exactly
        rv = (f"zip_with(qv, slice(element_at({cb}, cell), 1, "
              f"size(qv)), (x, c) -> x - c)")
    else:
        ds = p["ds"]("qv", cb)
        rv = (f"list_transform(range(1, len(qv) + 1), "
              f"i -> qv[i] - {cb}[cell][i])")
    return f"""
SELECT vec_id, cell, {rv} AS qv FROM (
  SELECT vec_id, qv, CAST({p['argmax']} AS INT) AS cell FROM (
    SELECT vec_id, qv, {ds} AS ds FROM {rel}
  ) cds
) cell_assigned
"""


def _pq_adc_residual_sql(spark: bool, base: str | None = None,
                         resid_base: str | None = None) -> str:
    """`base`/`resid_base` (Spark side): materialized (vec_id, qv) and
    (vec_id, cell, qv=residual) views — the quantize chain and the
    cell-argmax+residual chain each materialize once, and every
    downstream static/HOF expression references plain columns."""
    from ..functions.pq import (
        demo_books,
        demo_coarse_codebook,
        pq_adc_residual_score_expr,
        pq_encode_hof_expr,
        pq_residual_lut_hof_expr,
    )

    books = demo_books()
    n2 = _norm2_expr(spark)
    nv = _norm_vec_expr(spark)
    tmap = "transform" if spark else "list_transform"
    qv = f"{tmap}({nv}, x -> CAST(round(x * 127, 0) AS BIGINT))"
    prefix = ("" if base else
              f"pqb AS (SELECT vec_id, {qv} AS qv FROM embeddings "
              f"WHERE {n2} > 0),\n")
    rel = base or "pqb"
    resid = resid_base or f"({_residual_rel_sql(spark, rel).strip()})"
    # the coarse term folds INTO the per-query lookup table
    # (pq_residual_lut_hof_expr: T[m][cell][c] = q_m·(centroid_m +
    # book_c) — Jégou 2011 §III's per-cell distance tables), so a pair
    # costs M triple lookups with no per-pair fold and no offset join
    score = pq_adc_residual_score_expr(
        len(books), "q.luts", "c.cell", "c.code", spark)
    return f"""
WITH {prefix}rcodes AS (SELECT vec_id, cell,
       {pq_encode_hof_expr(books, spark)} AS code FROM {resid} resid),
q AS (SELECT vec_id AS q_id,
      {pq_residual_lut_hof_expr(books, demo_coarse_codebook(), spark)} AS luts
      FROM {rel} WHERE vec_id < 10),
adc_scored AS (
  SELECT q.q_id, c.vec_id AS c_id, CAST({score} AS DOUBLE) AS score
  FROM q JOIN rcodes c ON q.q_id <> c.vec_id
)
SELECT q_id, c_id, score, rn FROM (
  SELECT q_id, c_id, score,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY score DESC, c_id) AS rn
  FROM adc_scored
) ranked WHERE rn <= 5
"""


# --- similarity: hashing-trick embedding certification branch ----------------------
# functions/embeddings.embed_documents as SQL both engines run: md5-
# nibble bucket/sign hashing (shared expression builders, so library
# and branch cannot drift), term-frequency aggregation, and cosine via
# the sparse inverted-index dot product — the formulation that scales
# (Σ_bucket va·vb over a bucket equi-join; dense arrays never
# materialize). Top-3 per query doc over the near-dup corpus: each
# original's planted near-copy must surface, so the branch certifies
# the embedding VALUES, not just the plumbing.


def _embed_bk_sql(spark: bool) -> str:
    """The shared sparse-embedding relation: (doc_id, bucket, v) over
    the near-dup corpus — one explode + md5 + one (doc_id, bucket)
    map-side-combined aggregate."""
    from ..functions.embeddings import md5_bucket_sql, md5_sign_sql

    tok = TOK_SPARK if spark else TOK_DUCK
    ex = ("SELECT doc_id, t FROM toks LATERAL VIEW explode(tok) x AS t"
          if spark else "SELECT doc_id, unnest(tok) AS t FROM toks")
    return f"""
WITH {CORPUS_CTE.strip()},
toks AS (SELECT doc_id, {tok} AS tok FROM corpus),
ex AS ({ex}),
hh AS (SELECT doc_id, md5(t) AS h FROM ex),
sg AS (SELECT doc_id, {md5_bucket_sql('h', spark=spark)} AS bucket,
              {md5_sign_sql('h', spark)} AS sgn FROM hh)
SELECT doc_id, bucket, SUM(sgn) AS v FROM sg GROUP BY doc_id, bucket
"""


def _embed_hash_sql(spark: bool, bk: str | None = None) -> str:
    """`bk` (Spark side): a materialized view of `_embed_bk_sql` — the
    relation is read three times (norms + both join sides) and Spark
    inlines CTEs, so the un-materialized form re-runs the explode+md5
    chain 3× (measured 2.7 s vs ~1 s at sf0.1)."""
    prefix = (f"bk AS (SELECT doc_id, bucket, v FROM {bk}),\n" if bk
              else f"bk AS ({_embed_bk_sql(spark).strip()}),\n")
    # Spark side: BROADCAST the query side (round 15, guide §3.1) —
    # it is pre-filtered to doc_id < 10 (a bounded handful of rows),
    # but it reads from a localCheckpoint LogicalRDD whose size stats
    # are UNKNOWN, so the planner never auto-broadcasts and both sides
    # pay a bucket-key shuffle; under size-first AQE coalescing that
    # tiny-byte exchange collapses to one partition and serializes the
    # dot-product aggregate (measured: the embed_hash branch-minus-
    # shared 1.26 s → 2.89 s). The hint flips the join to build on the
    # broadcast query side; it does not remove an exchange — the
    # before/after plan dumps (plans/r15/sim_ann_lsh_quantized_*.txt)
    # both carry 38 Exchange nodes.
    bhint = "/*+ BROADCAST(a) */ " if spark else ""
    return f"""
WITH {prefix}nrm AS (SELECT doc_id, SUM(v * v) AS n2 FROM bk GROUP BY doc_id),
dots AS (
  SELECT {bhint}a.doc_id AS q_id, b.doc_id AS c_id, SUM(a.v * b.v) AS dot
  FROM bk a JOIN bk b ON a.bucket = b.bucket AND b.doc_id <> a.doc_id
  WHERE a.doc_id < 10
  GROUP BY a.doc_id, b.doc_id
),
eh_scored AS (
  SELECT d.q_id, d.c_id,
         round(CAST(d.dot AS DOUBLE)
               / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6)
           AS score
  FROM dots d
  JOIN nrm na ON na.doc_id = d.q_id
  JOIN nrm nb ON nb.doc_id = d.c_id
  WHERE na.n2 > 0 AND nb.n2 > 0
)
SELECT q_id, c_id, score, rn FROM (
  SELECT q_id, c_id, score,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY score DESC, c_id) AS rn
  FROM eh_scored
) ranked WHERE rn <= 3
"""


# --- text analysis -----------------------------------------------------------------

STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist"],
    "en": ["the", "a", "and", "of", "is"],
    "es": ["el", "los", "y", "es", "una"],
    "fr": ["le", "la", "et", "les", "est"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}


# --- text annotations: language-ID + quality + token counts + fingerprints ------
# + simhash, in ONE narrow scan of documents (every column is a per-doc
# map over the same token array — the per-document half of a curation
# pass; at 100 TB this is one codegen'd projection, no shuffle at all).


def _bpe_frozen(spark: bool) -> str:
    """REAL BPE token count under the frozen released merge table
    (functions/bpe.FROZEN_MERGES) as pure SQL both engines run — the
    round-6 certification of functions/bpe.py: the boundary-safe
    replace-chain is pinned equal to the Arrow-batched Python
    segmenter by test, and this column pins it against the DuckDB
    oracle every round (bpe_ish_tokens above stays the regex
    approximation for comparison)."""
    from ..functions.bpe import FROZEN_MERGES, bpe_count_sql

    return bpe_count_sql(FROZEN_MERGES, spark)


def _pii_hits(spark: bool) -> str:
    """PII match count (functions/pii.py) — oracle-certified every
    round because the pattern set is deliberately Java-regex/RE2
    portable; `curate --scrub-pii` applies the matching replacement
    chain to the corpus it writes."""
    from ..functions.pii import pii_count_expr

    return pii_count_expr(spark)


# chr(1)-joined bigram strings over the shared tokenizer, BOS context
# first. Outer CASE: a WHERE size(tok) > 0 upstream does NOT guarantee
# evaluation order after optimization (Spark may evaluate an inferred
# Generate predicate first), so the expression itself must be total on
# empty arrays under ANSI.
LM_BIGRAMS_SPARK = (
    "CASE WHEN size(tok) >= 1 THEN "
    "concat(array(concat('<s>', chr(1), element_at(tok, 1))), "
    "CASE WHEN size(tok) >= 2 THEN transform(sequence(2, size(tok)), "
    "i -> concat(element_at(tok, i - 1), chr(1), element_at(tok, i))) "
    "ELSE CAST(array() AS ARRAY<STRING>) END) "
    "ELSE CAST(array() AS ARRAY<STRING>) END"
)


def _lm_ctes(spark: bool) -> str:
    """In-corpus bigram LM CTE block (both dialects), appended to the
    annotations query: CCNet's core quality signal (Wenzek et al. 2020
    §4.2 scores documents by LM perplexity; KenLM's n-gram model,
    Heafield 2011, is the public reference family). Here the LM is
    trained on the corpus being scored — add-one (Laplace) smoothed
    bigrams over the shared tokenizer with a BOS context — so a
    document's score measures how typical its token transitions are of
    the corpus; boilerplate and gibberish land in the high-perplexity
    tail exactly as in CCNet's head/middle/tail split.

    Engine-exactness: every count is an integer; each bigram's cost
    ln(c_prefix + V) − ln(c_bigram + 1) is rounded to integer
    MICRO-NATS before any summation (the curation classifier's
    micro-unit discipline — float sums would be order-sensitive across
    partitions), so per-doc totals are exact BIGINTs in both engines.

    Scale: one explode + two hash aggregations (per-doc bigram counts,
    corpus bigram counts) + one shuffle join on the bigram key + one
    vocab-keyed join — the standard distribute-the-LM-table shape; the
    unigram/vocab relations are vocab-sized and broadcastable."""
    size = "size" if spark else "len"
    if spark:
        bg = LM_BIGRAMS_SPARK
        ex = "SELECT doc_id, b FROM lmdocs LATERAL VIEW explode(bg) x AS b"
        tokex = "SELECT t FROM toks LATERAL VIEW explode(tok) x AS t"
    else:
        bg = (
            "list_prepend('<s>' || chr(1) || tok[1], "
            "list_transform(range(2, len(tok) + 1), "
            "i -> tok[i - 1] || chr(1) || tok[i]))"
        )
        ex = "SELECT doc_id, unnest(bg) AS b FROM lmdocs"
        tokex = "SELECT unnest(tok) AS t FROM toks"
    return f"""
lmdocs AS (SELECT doc_id, {bg} AS bg FROM toks WHERE {size}(tok) > 0),
lmex AS ({ex}),
lmexc AS (SELECT doc_id, b, COUNT(*) AS n FROM lmex GROUP BY doc_id, b),
lmbgc AS (SELECT b, CAST(SUM(n) AS BIGINT) AS c FROM lmexc GROUP BY b),
lmuni AS (SELECT t AS w, COUNT(*) AS c FROM ({tokex}) tst GROUP BY t
          UNION ALL SELECT '<s>', COUNT(*) FROM lmdocs),
lmvocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM lmuni WHERE w <> '<s>'),
lmscored AS (
  SELECT e.doc_id, e.n,
         CAST(round((ln(u.c + v.v) - ln(g.c + 1)) * 1000000) AS BIGINT) AS mcost
  FROM lmexc e
  JOIN lmbgc g ON e.b = g.b
  JOIN lmuni u ON u.w = split_part(e.b, chr(1), 1)
  CROSS JOIN lmvocab v
),
lm AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS lm_bigrams,
              CAST(SUM(n * mcost) AS BIGINT) AS total_mnats
       FROM lmscored GROUP BY doc_id)
"""


def _annotations_sql(spark: bool, src: str = "documents",
                     lm: bool = True, toks_rel: str | None = None) -> str:
    """Per-document quality/fingerprint annotations. `lm=False` drops
    the corpus-bigram-LM columns — the streaming ingest gate uses it
    (an LM trained on a 10-doc microbatch is noise; the gate stays a
    narrow per-batch projection). `toks_rel` (Spark side): a
    materialized (doc_id, lang, text, tok) view — with the LM CTEs the
    tokenizer relation is referenced three times (signals, bigrams,
    unigrams) and CTE inlining would re-scan and re-tokenize the corpus
    per reference; `q_annotations` checkpoints it once, the
    stage-the-tokens step every production pipeline runs before
    n-gram statistics."""
    tok_expr = TOK_SPARK if spark else TOK_DUCK
    shingle = SHINGLE_SPARK if spark else SHINGLE_DUCK
    size = "size" if spark else "len"
    flt = "filter" if spark else "list_filter"
    distinct = "array_distinct" if spark else "list_distinct"
    hashed = _hash_tokens_expr(f"{distinct}(tok)", spark)
    tmap = "transform" if spark else "list_transform"
    amin = "array_min" if spark else "list_min"
    join = "concat_ws(' ', tok)" if spark else "array_to_string(tok, ' ')"
    agg_len = (
        "aggregate(tok, 0, (acc, t) -> acc + length(t))"
        if spark
        else "COALESCE(list_sum(list_transform(tok, t -> length(t))), 0)"
    )
    alpha = (
        "length(regexp_replace(lower(text), '[^a-z]', ''))"
        if spark
        else "length(regexp_replace(lower(text), '[^a-z]', '', 'g'))"
    )
    bpe = (
        "regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')"
        if spark
        else "len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))"
    )
    stop = f"{size}({flt}(tok, t -> t IN ('the', 'a', 'and', 'of', 'is')))"
    # Gopher-style repetition/format signals (Rae et al. 2021 §A1.1):
    # duplicate-line fraction, bullet-start / ellipsis-end line
    # fractions, symbol-to-word ratio — all per-row array math over the
    # line split, no shuffle.
    lines = "split(text, chr(10))" if spark else "string_split(text, chr(10))"
    sym = (
        "regexp_count(text, '[#…]')"
        if spark
        else "len(regexp_extract_all(text, '[#…]'))"
    )
    scores = ", ".join(
        f"{size}({flt}(tok, t -> t IN ({', '.join(repr(w) for w in ws)}))) AS s_{lang}"
        for lang, ws in STOPWORDS.items()
    )
    langs = sorted(STOPWORDS)  # alphabetical tie-break priority
    pred_cases = " ".join(
        "WHEN "
        + " AND ".join(f"s_{lang} >= s_{other}" for other in langs if other != lang)
        + f" THEN '{lang}'"
        for lang in langs[:-1]
    )
    idiv = "DIV" if spark else "//"
    toks_src = (f"SELECT doc_id, lang, text, tok FROM {toks_rel}"
                if toks_rel else
                f"SELECT doc_id, lang, text, {tok_expr} AS tok FROM {src}")
    lm_block = f",\n{_lm_ctes(spark).strip()}" if lm else ""
    lm_cols = (f""",
  COALESCE(lm.lm_bigrams, CAST(0 AS BIGINT)) AS lm_bigrams,
  CASE WHEN lm.lm_bigrams IS NULL THEN NULL
       ELSE CAST(lm.total_mnats {idiv} lm.lm_bigrams AS BIGINT)
  END AS lm_avg_cost_mnats,
  CASE WHEN lm.lm_bigrams IS NULL THEN NULL
       ELSE round(exp(CAST(lm.total_mnats AS DOUBLE) / lm.lm_bigrams
            / 1000000), 2)
  END AS lm_ppl""" if lm else "")
    tail = ("FROM pre LEFT JOIN lm ON pre.doc_id = lm.doc_id" if lm
            else "FROM pre")
    return f"""
WITH toks AS ({toks_src}),
pre AS (SELECT doc_id, lang, text, tok, {shingle} AS sh, {lines} AS ln,
        {hashed} AS dtokh, {scores} FROM toks){lm_block}
SELECT pre.doc_id, lang AS actual_lang,
  CASE {pred_cases} ELSE '{langs[-1]}' END AS predicted_lang,
  s_de, s_en, s_es, s_fr, s_zh,
  length(text) AS n_chars,
  {size}(tok) AS n_tokens,
  CASE WHEN {size}(tok) = 0 THEN NULL
       ELSE round(CAST({agg_len} AS DOUBLE) / {size}(tok), 6) END AS avg_token_len,
  CASE WHEN length(text) = 0 THEN 0.0
       ELSE round(CAST({alpha} AS DOUBLE) / length(text), 6) END AS alpha_ratio,
  CASE WHEN {size}(tok) = 0 THEN NULL
       ELSE round(CAST({stop} AS DOUBLE) / {size}(tok), 6) END AS stopword_ratio,
  CASE WHEN {size}(ln) = 0 THEN NULL
       ELSE round(1.0 - CAST({size}({distinct}(ln)) AS DOUBLE) / {size}(ln), 6)
  END AS dup_line_frac,
  CASE WHEN {size}(sh) = 0 THEN NULL
       ELSE round(1.0 - CAST({size}({distinct}(sh)) AS DOUBLE) / {size}(sh), 6)
  END AS dup_3gram_frac,
  CASE WHEN {size}(ln) = 0 THEN NULL
       ELSE round(CAST({size}({flt}(ln, l -> trim(l) LIKE '-%'
            OR trim(l) LIKE '*%')) AS DOUBLE) / {size}(ln), 6)
  END AS bullet_line_frac,
  CASE WHEN {size}(ln) = 0 THEN NULL
       ELSE round(CAST({size}({flt}(ln, l -> l LIKE '%...')) AS DOUBLE)
            / {size}(ln), 6)
  END AS ellipsis_line_frac,
  CASE WHEN {size}(tok) = 0 THEN NULL
       ELSE round(CAST({sym} AS DOUBLE) / {size}(tok), 6) END AS symbol_word_ratio,
  CASE WHEN {size}(tok) = 0 THEN 0.0
       ELSE round(0.5 * CAST({stop} AS DOUBLE) / {size}(tok)
            + 0.5 * least(CAST({size}(tok) AS DOUBLE) / 100.0, 1.0), 6)
  END AS quality_score,
  {bpe} AS bpe_ish_tokens,
  {_bpe_frozen(spark)} AS n_bpe_frozen,
  {_pii_hits(spark)} AS n_pii_hits,
  CAST(round(length(text) / 4.0, 0) AS BIGINT) AS chars_div4_estimate,
  md5({join}) AS norm_fingerprint,
  {amin}({tmap}(sh, s -> md5(s))) AS min_shingle_hash,
  {_simhash_expr("dtokh", spark)} AS simhash{lm_cols}
{tail}
"""


def q_annotations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of `text_annotations`. The narrow signal columns are
    one codegen'd projection; the LM columns reference the tokenized
    relation three times (per-doc bigrams, corpus bigram counts,
    unigram/vocab counts), so it is materialized ONCE (localCheckpoint
    + unique temp view, the q_sim_ann discipline) instead of letting
    CTE inlining re-scan and re-tokenize the corpus per reference. The
    DuckDB oracle runs the identical math as one SQL statement
    (`_annotations_sql(False)`)."""
    import uuid as _uuid

    register_views(spark, sf_dir)
    tok_view = f"_ann_toks_{_uuid.uuid4().hex[:8]}"
    spark.sql(
        f"SELECT doc_id, lang, text, {TOK_SPARK} AS tok FROM documents"
        # lazy: only the final annotations query reads this, so it
        # materializes inside that one action (one less blocking job)
    ).localCheckpoint(eager=False).createOrReplaceTempView(tok_view)
    out = spark.sql(_annotations_sql(True, toks_rel=tok_view))
    spark.catalog.dropTempView(tok_view)
    return out


def _lm_padded_pairs_expr(n: int) -> str:
    """Per-row array<struct<p, g>> of (context, n-gram) chr(1)-joined
    strings over a BOS-padded token stream: pad = (n−1)×'<s>' ++ tok,
    gram at i = pad[i−n+1 .. i], context = its first n−1 tokens. At
    n=2 this reproduces the certified bigram construction exactly
    (one BOS pad, context = previous token)."""
    if n < 2:
        raise ValueError(f"lm ngram order must be >= 2, got {n}")
    pad = f"concat(array_repeat('<s>', {n - 1}), tok)"
    return (
        f"CASE WHEN size(tok) >= 1 THEN "
        f"transform(sequence({n}, size(tok) + {n - 1}), i -> named_struct("
        f"'p', concat_ws(chr(1), slice({pad}, i - {n - 1}, {n - 1})), "
        f"'g', concat_ws(chr(1), slice({pad}, i - {n - 1}, {n})))) "
        f"ELSE CAST(array() AS ARRAY<STRUCT<p: STRING, g: STRING>>) END"
    )


def _lm_padded_prefix_expr(n: int) -> str:
    """Per-row array of ALL (n−1)-grams of the padded stream (final
    position included) — the prefix-count relation. At n=2 this is
    raw unigram occurrences plus one BOS per doc, identical to the
    certified bigram form's prefix table."""
    pad = f"concat(array_repeat('<s>', {n - 1}), tok)"
    return (
        f"CASE WHEN size(tok) >= 1 THEN "
        f"transform(sequence({n - 1}, size(tok) + {n - 1}), i -> "
        f"concat_ws(chr(1), slice({pad}, i - {n - 2}, {n - 1}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def corpus_lm_tables(corpus: DataFrame, n: int = 2):
    """Static n-gram-LM tables from a (doc_id, text) corpus, for
    scoring OTHER documents against it (the CCNet deployment shape:
    the LM is trained on the reference corpus, incoming text is
    scored by it — Wenzek et al. 2020 §4.2; higher orders are the
    KenLM direction, here with the same add-one estimate). Returns
    (ngram_counts(b, c), prefix_counts(w, c), vocab_size):

    - ngram_counts: corpus-sized aggregate, one shuffle on the n-gram
      key; at 100 TB this is written/bucketed by `b` once and
      stream-static-joined per batch.
    - prefix_counts: (n−1)-gram context counts over the BOS-padded
      stream — vocab-sized at n=2 (broadcastable), observed-bigram-
      sized at n=3.
    - vocab_size: distinct TOKENS (the event space, order-independent)
      — one driver-side int (the bounded-artifact rule).

    At n=2 the tables are value-identical to the in-corpus bigram LM
    certified in `text_annotations` (pinned by the self-scoring parity
    test) — one model family, two surfaces."""
    from pyspark.sql import functions as F

    toks = corpus.selectExpr("doc_id", f"{TOK_SPARK} AS tok")
    docs = toks.where("size(tok) > 0")
    bgc = (
        docs.selectExpr(f"explode({_lm_padded_pairs_expr(n)}) AS pg")
        .selectExpr("pg.g AS b")
        .groupBy("b").agg(F.count("*").cast("long").alias("c"))
    )
    uni = (
        docs.selectExpr(f"explode({_lm_padded_prefix_expr(n)}) AS w")
        .groupBy("w").agg(F.count("*").cast("long").alias("c"))
    )
    vocab_size = (
        docs.selectExpr("explode(tok) AS t").select("t").distinct().count()
    )
    return bgc, uni, int(vocab_size)


def save_corpus_lm(
    lm_dir: str, bgc: DataFrame, uni: DataFrame, vocab_size: int,
    n: int = 2,
) -> None:
    """Persist corpus-LM tables as an on-disk artifact (round-8 ask #4
    — the index-CLI treatment for the LM): `ngram/` + `prefix/`
    parquet plus `meta.json` (vocab_size, order, format). This is the
    CCNet deployment shape the scorer's docstring names: the LM is
    trained ONCE on the reference corpus and incoming text is scored
    against the persisted tables — no per-run retraining. At 100 TB
    the ngram table is additionally bucketed by `b` at write time so
    score-time joins prune to touched buckets (DEPLOY §3); the plain
    parquet layout here is the portable form of the same artifact."""
    import json as _json
    import os as _os

    bgc.write.mode("overwrite").parquet(_os.path.join(lm_dir, "ngram"))
    uni.write.mode("overwrite").parquet(_os.path.join(lm_dir, "prefix"))
    meta = {"format": 1, "n": int(n), "vocab_size": int(vocab_size)}
    tmp = _os.path.join(lm_dir, "meta.json.tmp")
    with open(tmp, "w") as f:
        _json.dump(meta, f, separators=(",", ":"))
    _os.replace(tmp, _os.path.join(lm_dir, "meta.json"))


def load_corpus_lm(spark, lm_dir: str):
    """→ (ngram_counts, prefix_counts, vocab_size, n) from a
    `save_corpus_lm` directory; validates the artifact shape loudly
    (a missing meta.json or wrong columns means the directory is not
    an LM artifact — scoring against garbage must not be quiet)."""
    import json as _json
    import os as _os

    meta_path = _os.path.join(lm_dir, "meta.json")
    if not _os.path.exists(meta_path):
        raise ValueError(
            f"{lm_dir!r} is not a corpus-LM artifact (no meta.json; "
            "write one with save_corpus_lm / curate --lm-train)"
        )
    with open(meta_path) as f:
        meta = _json.load(f)
    bgc = spark.read.parquet(_os.path.join(lm_dir, "ngram"))
    uni = spark.read.parquet(_os.path.join(lm_dir, "prefix"))
    if set(bgc.columns) != {"b", "c"} or set(uni.columns) != {"w", "c"}:
        raise ValueError(
            f"{lm_dir!r}: unexpected LM table columns "
            f"{bgc.columns}/{uni.columns} (want b,c / w,c)"
        )
    return bgc, uni, int(meta["vocab_size"]), int(meta["n"])


def score_against_corpus_lm(
    docs: DataFrame, bgc: DataFrame, uni: DataFrame, vocab_size: int,
    n: int = 2,
) -> DataFrame:
    """Annotate (doc_id, ..., text) rows with lm_bigrams /
    lm_avg_cost_mnats / lm_ppl measured against a STATIC corpus LM
    from `corpus_lm_tables` (pass the SAME `n`; the stable column
    name lm_bigrams counts scored n-grams at any order). Unlike the
    in-corpus form, scored documents may contain transitions the
    corpus never saw — the same Laplace estimate handles them with
    zero-coalesced counts (cost = ln(c_prefix + V) − ln(c_ngram + 1),
    c = 0 when absent), so out-of-domain text degrades smoothly
    instead of erroring. Micro-nat integer discipline as everywhere:
    exact BIGINT totals, float only in the presentational ppl.

    Plan shape: per-doc n-gram explode (narrow) → left join the
    n-gram table on `b` (the one real shuffle; stream-static per
    batch in the gate) → left join the prefix table (broadcastable at
    n=2) → one per-doc aggregation. No corpus pass at score time."""
    from pyspark.sql import functions as F

    base = docs.selectExpr("*", f"{TOK_SPARK} AS tok")
    pairs = (
        base.where("size(tok) > 0")
        .selectExpr("doc_id", f"explode({_lm_padded_pairs_expr(n)}) AS pg")
        .selectExpr("doc_id", "pg.p AS p", "pg.g AS b")
        .groupBy("doc_id", "b", "p")
        .agg(F.count("*").cast("long").alias("n"))
    )
    cost = (
        f"CAST(round((ln(coalesce(uc, CAST(0 AS BIGINT)) + {vocab_size}) "
        f"- ln(coalesce(bc, CAST(0 AS BIGINT)) + 1)) * 1000000) AS BIGINT)"
    )
    scored = (
        pairs.join(bgc.withColumnRenamed("c", "bc"), "b", "left")
        .join(
            uni.withColumnRenamed("w", "p").withColumnRenamed("c", "uc"),
            "p", "left",
        )
        .selectExpr("doc_id", "n", f"{cost} AS mcost")
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(SUM(n) AS BIGINT)").alias("lm_bigrams"),
            F.expr("CAST(SUM(n * mcost) AS BIGINT)").alias("total_mnats"),
        )
    )
    return (
        docs.join(scored, "doc_id", "left")
        .withColumn(
            "lm_avg_cost_mnats",
            F.expr("CAST(total_mnats DIV lm_bigrams AS BIGINT)"),
        )
        .withColumn(
            "lm_ppl",
            F.expr(
                "round(exp(CAST(total_mnats AS DOUBLE) / lm_bigrams"
                " / 1000000), 2)"
            ),
        )
        .withColumn(
            "lm_bigrams", F.expr("coalesce(lm_bigrams, CAST(0 AS BIGINT))")
        )
        .drop("total_mnats")
    )


# --- text curation pipeline: annotate → score → dedup → keep ------------------------
# The document-side counterpart of dedup_pipeline_corpus: everything a
# pretraining curation pass computes per document, in ONE narrow scan
# (language-ID, quality, token budget, fingerprint) plus one shuffle for
# exact-dup canonicalization. Keep rule: quality floor + token floor +
# canonical copy of its fingerprint group.

# Sequence-packing constants: production values would be ~2048-8192
# tokens and O(cluster cores) shards; these are sized so the bin
# boundary logic actually exercises (bins overflow) at the test SFs.
PACK_BUDGET, PACK_SHARDS = 256, 8

# Dataset-mixture weights: the per-domain sampling percentages a
# pretraining pipeline applies after curation (e.g. upweight English,
# downsample everything else to hit a target language mix). Sampling
# is hash-threshold, not RNG: membership is decidable per row from the
# key alone on any worker, stable across runs and engines — the same
# discipline as the train/val/test split.
MIX_WEIGHT_PCT = {"en": 100, "fr": 70, "de": 70, "es": 40, "zh": 40}
MIX_DEFAULT_PCT = 50


# The linear quality-classifier margin, engine-neutral SQL (identical
# text runs in Spark and DuckDB): weights 2.0/1.5/0.02, bias -2.1 over
# (quality_score, alpha_ratio, min(n_tokens, 200)), computed in integer
# micro-units and divided once — see the in-query comment in
# _curation_sql for why this form is engine-exact where a float sum is
# not. Shared with the ingest gate (streaming/stateful.py), so batch
# curation and ingest-time admission apply the SAME model.
CLF_MARGIN_EXPR = (
    "(4 * CAST(round(quality_score * 1000000, 0) AS BIGINT)\n"
    "     + 3 * CAST(round(alpha_ratio * 1000000, 0) AS BIGINT)\n"
    "     + 40000 * least(n_tokens, 200) - 4200000) / CAST(2000000 AS DOUBLE)"
)


def _curation_sql(spark: bool, src: str = "documents") -> str:
    tok = TOK_SPARK if spark else TOK_DUCK
    size = "size" if spark else "len"
    flt = "filter" if spark else "list_filter"
    join = "concat_ws(' ', tok)" if spark else "array_to_string(tok, ' ')"
    alpha = (
        "length(regexp_replace(lower(text), '[^a-z]', ''))"
        if spark
        else "length(regexp_replace(lower(text), '[^a-z]', '', 'g'))"
    )
    scores = ", ".join(
        f"{size}({flt}(tok, t -> t IN ({', '.join(repr(w) for w in ws)}))) AS s_{lang}"
        for lang, ws in STOPWORDS.items()
    )
    langs = sorted(STOPWORDS)
    pred_cases = " ".join(
        "WHEN "
        + " AND ".join(f"s_{lang} >= s_{other}" for other in langs if other != lang)
        + f" THEN '{lang}'"
        for lang in langs[:-1]
    )
    stop = f"{size}({flt}(tok, t -> t IN ('the', 'a', 'and', 'of', 'is')))"
    # Reproducible sampling: hash-based systematic splits (the scale
    # method — no RNG state, any worker can decide membership from the
    # key alone, and the split is stable across runs/engines). 80/10/10
    # train/val/test from md5(doc_id) mod 10; both engines compute the
    # identical assignment, so the oracle certifies the split.
    if spark:
        hmod = "conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) % 10"
    else:
        hmod = ("('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT"
                " % 10")
    split = (f"CASE WHEN {hmod} < 8 THEN 'train' "
             f"WHEN {hmod} = 8 THEN 'val' ELSE 'test' END")
    # mixture sampling: independent hash ('mix' salt — correlating it
    # with the split hash would bias which splits lose downsampled
    # languages) thresholded against the per-language weight
    if spark:
        mixmod = ("conv(substring(md5(concat('mix', CAST(doc_id AS STRING)))"
                  ", 1, 8), 16, 10) % 100")
    else:
        mixmod = ("('0x' || substring(md5('mix' || CAST(doc_id AS VARCHAR)),"
                  " 1, 8))::UBIGINT % 100")
    # weight keyed on the CATALOG language tag when present, detector
    # output otherwise — most corpora carry a language label and the
    # detector only fills gaps
    weight_cases = " ".join(
        f"WHEN '{lang}' THEN {pct}"
        for lang, pct in sorted(MIX_WEIGHT_PCT.items())
    )
    mix_weight = (
        f"CASE COALESCE(lang, predicted_lang) {weight_cases} "
        f"ELSE {MIX_DEFAULT_PCT} END"
    )
    return f"""
WITH toks AS (SELECT doc_id, lang, text, {tok} AS tok FROM {src}),
ann AS (
  SELECT doc_id, lang, {scores},
    {size}(tok) AS n_tokens,
    CASE WHEN {size}(tok) = 0 THEN 0.0
         ELSE round(0.5 * CAST({stop} AS DOUBLE) / {size}(tok)
              + 0.5 * least(CAST({size}(tok) AS DOUBLE) / 100.0, 1.0), 6) END AS quality_score,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE round(CAST({alpha} AS DOUBLE) / length(text), 6) END AS alpha_ratio,
    md5({join}) AS fp
  FROM toks
),
dedup AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS fp_rank
  FROM ann
),
scored AS (
  SELECT doc_id, lang,
    CASE {pred_cases} ELSE '{langs[-1]}' END AS predicted_lang,
    n_tokens, quality_score, alpha_ratio, fp,
    fp_rank = 1 AS is_canonical,
    (quality_score >= 0.3 AND n_tokens >= 10 AND fp_rank = 1) AS kept,
    -- model-based quality filter: a fixed-weight LINEAR classifier
    -- head over the already-computed signals (the shape of a
    -- fastText/logreg quality model; production loads learned
    -- weights, the engine side is this same single codegen'd
    -- projection). Engine-exact by construction: the raw margin, not
    -- sigmoid(margin) (decision identical — sigmoid is monotone —
    -- and exp() differs in the last ulp between libm and Math.exp),
    -- computed in INTEGER micro-units (the 6-dp signals recover
    -- their exact decimal as round(x*1e6); weights 2.0/1.5/0.02/-2.1
    -- scale to the integer vector 4/3/40000/-4200000 over doubled
    -- micro-units) then divided by one constant: identical BIGINTs →
    -- identical IEEE division → identical doubles. A float-weighted
    -- sum rounded to 6 dp flips at .5e-6 boundaries between engines
    -- (observed: 2.022617 vs 2.022616).
    {CLF_MARGIN_EXPR} AS clf_margin,
    {split} AS split
  FROM dedup
)
SELECT *,
  clf_margin >= 0 AS clf_keep,
  -- dataset mixture: deterministic per-language downsampling of the
  -- kept corpus ({MIX_DEFAULT_PCT}% for unlisted languages)
  (kept AND {mixmod} < ({mix_weight})) AS mix_keep,
  CASE WHEN kept THEN CAST(doc_id % {PACK_SHARDS} AS INTEGER) END AS pack_shard,
  -- sequence packing: kept docs are concatenated in doc_id order and
  -- cut into {PACK_BUDGET}-token training bins. Packing is PER
  -- (split, shard): a global concat order would need one total sort
  -- at 100 TB, while sharded packing is an embarrassingly-parallel
  -- window per shard, deterministic from the key alone (docs longer
  -- than the budget open their own bin; real pipelines then split
  -- them downstream). floor(), not integer CAST: DuckDB CAST rounds
  -- where Spark truncates, floor() agrees everywhere.
  CASE WHEN kept THEN CAST(floor(
    (SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) OVER (
       PARTITION BY split, doc_id % {PACK_SHARDS} ORDER BY doc_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
     - n_tokens) / {PACK_BUDGET}.0) AS BIGINT) END AS pack_bin
FROM scored
"""


# --- text chunking: sliding token windows (RAG/pretraining prep) --------------------
# One doc row → ceil((n-overlap)/stride) chunk rows of ≤ chunk_size
# tokens with `overlap` tokens of context carried between neighbors.
# Narrow explode — no shuffle; at 100 TB this is the map stage right
# before tokenizer sharding.

CHUNK_SIZE, CHUNK_STRIDE = 40, 30  # overlap = size - stride = 10


def _chunking_sql(spark: bool) -> str:
    tok = TOK_SPARK if spark else TOK_DUCK
    size = "size" if spark else "len"
    if spark:
        starts = f"sequence(1, greatest({size}(tok) - {CHUNK_SIZE - CHUNK_STRIDE}, 1), {CHUNK_STRIDE})"
        body = f"""
WITH toks AS (SELECT doc_id, {tok} AS tok FROM documents),
chunks AS (
  SELECT doc_id, tok, explode({starts}) AS start FROM toks WHERE {size}(tok) > 0
)
SELECT doc_id, CAST((start - 1) / {CHUNK_STRIDE} AS INT) AS chunk_id,
  concat_ws(' ', slice(tok, start, {CHUNK_SIZE})) AS chunk_text,
  {size}(slice(tok, start, {CHUNK_SIZE})) AS chunk_tokens
FROM chunks
"""
    else:
        starts = f"range(1, greatest({size}(tok) - {CHUNK_SIZE - CHUNK_STRIDE}, 1) + 1, {CHUNK_STRIDE})"
        body = f"""
WITH toks AS (SELECT doc_id, {tok} AS tok FROM documents),
chunks AS (
  SELECT doc_id, tok, unnest({starts}) AS start FROM toks WHERE {size}(tok) > 0
)
SELECT doc_id, CAST((start - 1) / {CHUNK_STRIDE} AS INT) AS chunk_id,
  array_to_string(tok[start:start + {CHUNK_SIZE} - 1], ' ') AS chunk_text,
  {size}(tok[start:start + {CHUNK_SIZE} - 1]) AS chunk_tokens
FROM chunks
"""
    return body


# --- merged union entries ----------------------------------------------------------
# The driver checks a bounded number of catalog entries, so method
# families over the same inputs are packed into one entry with a
# `method`/`variant` discriminator column — every method still runs and
# is oracle-checked, just under one row of the correctness report.


def _simhash_pairs_sql(spark: bool) -> str:
    """SimHash near-dup scoring over the original↔near-copy pairs:
    64-bit fingerprint per doc (one narrow pass), hamming distance per
    pair, near_dup at ≤ 8 differing bits (the standard 64-bit SimHash
    dup threshold). Same structural pairing as the Jaccard branch —
    at scale candidates come from banding the fingerprint (bucket join
    on 16-bit bands), never all-pairs; scoring cost is per-candidate
    either way and THAT is what the oracle certifies."""
    tok = TOK_SPARK if spark else TOK_DUCK
    dtok = f"array_distinct({tok})" if spark else f"list_distinct({tok})"
    dtokh = _hash_tokens_expr(dtok, spark)
    sim = _simhash_expr("dtokh", spark)
    if spark:
        ham = ("size(filter(sequence(1, 64), "
               "i -> substring(sh_a, i, 1) <> substring(sh_b, i, 1)))")
    else:
        ham = ("len(list_filter(range(1, 65), "
               "i -> sh_a[i] <> sh_b[i]))")
    return f"""
WITH {CORPUS_CTE.strip()},
fp AS (SELECT doc_id, {sim} AS sh FROM (SELECT doc_id, {dtokh} AS dtokh FROM corpus)),
sp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
  FROM fp a JOIN fp b ON b.doc_id = a.doc_id + 100000
)
SELECT doc_a, doc_b, {ham} AS hamming FROM sp
"""


def _nn_sg_std(spark: bool) -> str:
    """Standalone SELECT for the embedding_nn branch's normalized+
    bucketed relation (vec_id, label, nv, bucket) — materialized by
    q_pairwise (see `_nn_label_sql` base param)."""
    sig = _hyperplane_sig_spark() if spark else _hyperplane_sig_duck()
    nv = _norm_vec_expr(spark)
    n2 = _norm2_expr(spark)
    return (f"SELECT vec_id, label, {nv} AS nv, {sig} AS bucket "
            f"FROM (SELECT vec_id, label, embedding FROM embeddings "
            f"WHERE {n2} > 0) nz")


# An n-gram in more than this many training docs is boilerplate, not
# contamination signal — and each occurrence multiplies the
# inverted-index join. Sized so genuinely-shared content survives the
# 10× clone amplification of the sf1 synth (df ≈ 20) with headroom.
DECON_DF_CAP = 50


def _decontam_sql(spark: bool, train_ex_src: str | None = None,
                  test_ex_src: str | None = None) -> str:
    """Train/test decontamination — the benchmark-leakage sweep every
    pretraining pipeline runs before training: flag training documents
    whose n-grams CONTAIN a benchmark/test item (directional
    containment |sh_test ∩ sh_train| / |sh_test|, not symmetric
    Jaccard — a 100-word benchmark question buried in a 10k-word web
    page is still contamination).

    Synthetic test set: every 97th document, truncated to its first
    120 chars (a benchmark item extracted from web text). Candidate
    generation is an inverted-index join on the shingle value: the
    test set's exploded n-grams are tiny relative to the corpus, so at
    100 TB Spark broadcasts them and the sweep is ONE map-side pass
    over the training shingles — the production shape (benchmark
    n-gram set shipped to every executor), never an all-pairs join.
    Pairs below 0.5 containment or under 5 test shingles are noise and
    are dropped before the aggregate leaves the executors.

    Stop-shingle cap (the same count-before-explode discipline as the
    LSH bucket cap): an n-gram present in more than DECON_DF_CAP
    training documents is boilerplate, carries no contamination
    signal, and multiplies the inverted-index join by its document
    frequency — measured here, the uncapped join regressed this entry
    1.4 s → 53 s at sf0.1 and unbounded at the 10×-cloned sf1 synth.
    Frequencies are counted on a grouped aggregate (map-side partial)
    BEFORE any join, and only the boilerplate set — small by
    construction — is shipped to the anti-joins, so both sides stay
    broadcast-size. The denominator is a test item's NON-boilerplate
    shingles including ones absent from training (novel shingles are
    evidence of non-contamination; excluding them would inflate
    scores) — the rare-n-gram containment every production
    decontamination pipeline uses."""
    tok = TOK_SPARK if spark else TOK_DUCK
    sh = SHINGLE_SPARK if spark else SHINGLE_DUCK
    distinct = "array_distinct" if spark else "list_distinct"
    # The explode runs on the INLINE shingle expression, not a named
    # intermediate column: exploding a projected `sh` column makes
    # Spark infer a size(sh)>0 pre-filter for the Generate and push it
    # below the projections, inlining the document-tokenizing regexp
    # into a per-shingle interpreted lambda — measured 9 s for 500
    # docs vs 0.4 s for the inline form (the minhash signature path's
    # shape, which never exhibits the filter).
    return f"""
WITH test_base AS (
  SELECT doc_id + 500000 AS test_id, substring(text, 1, 120) AS text
  FROM documents WHERE doc_id % 97 = 0
),
{_decontam_core_sql(spark, train_src='documents', test_src='test_base',
                    train_ex_src=train_ex_src, test_ex_src=test_ex_src)}"""


def _decontam_train_ex_std(spark: bool) -> str:
    """Standalone SELECT producing the catalog entry's exploded TRAIN
    shingle relation (doc_id, s) — materialized by q_pairwise so the
    boilerplate count and the rare-shingle side stop re-tokenizing the
    corpus once each (Spark inlines CTEs). Must stay textually in step
    with `_decontam_core_sql`'s train_tok/train_ex CTEs."""
    tok = TOK_SPARK if spark else TOK_DUCK
    sh = SHINGLE_SPARK if spark else SHINGLE_DUCK
    distinct = "array_distinct" if spark else "list_distinct"
    explode_fn = "explode" if spark else "unnest"
    return (f"SELECT doc_id, {explode_fn}({distinct}({sh})) AS s "
            f"FROM (SELECT doc_id, {tok} AS tok FROM documents) train_tok")


def _decontam_test_ex_std(spark: bool) -> str:
    """Standalone SELECT for the exploded synthetic TEST shingle
    relation (test_id, s) — the `_decontam_sql` test_base chain."""
    tok = TOK_SPARK if spark else TOK_DUCK
    sh = SHINGLE_SPARK if spark else SHINGLE_DUCK
    distinct = "array_distinct" if spark else "list_distinct"
    explode_fn = "explode" if spark else "unnest"
    return (f"SELECT test_id, {explode_fn}({distinct}({sh})) AS s "
            f"FROM (SELECT test_id, {tok} AS tok FROM "
            f"(SELECT doc_id + 500000 AS test_id, "
            f"substring(text, 1, 120) AS text "
            f"FROM documents WHERE doc_id % 97 = 0) test_base) test_tok")


def _decontam_core_sql(spark: bool, train_src: str, test_src: str,
                       threshold: float = 0.5, min_shingles: int = 5,
                       df_cap: int = DECON_DF_CAP,
                       train_ex_src: str | None = None,
                       test_ex_src: str | None = None) -> str:
    """The decontamination sweep over ARBITRARY train/test relations —
    `train_src` provides (doc_id, text), `test_src` (test_id, text).
    Emitted WITHOUT a leading WITH so callers prepend their own CTEs
    (the catalog entry synthesizes its test set; `decontaminate()`
    binds real benchmark frames). Same plan shape either way: counted
    boilerplate cap before any join, broadcast inverted-index join,
    per-pair thresholds applied before the aggregate leaves the
    executors."""
    tok = TOK_SPARK if spark else TOK_DUCK
    sh = SHINGLE_SPARK if spark else SHINGLE_DUCK
    distinct = "array_distinct" if spark else "list_distinct"
    explode_fn = "explode" if spark else "unnest"
    train_ex = (
        f"SELECT doc_id, {explode_fn}({distinct}({sh})) AS s FROM train_tok"
    )
    test_ex = (
        f"SELECT test_id, {explode_fn}({distinct}({sh})) AS s FROM test_tok"
    )
    # materialized exploded relations (Spark side of the catalog
    # entry, round 14): train_ex/test_ex are each read twice below
    # (boilerplate count + the anti-joined rare side), and Spark
    # inlines CTEs — the view form tokenizes each corpus once.
    if train_ex_src:
        train_block = f"train_ex AS (SELECT doc_id, s FROM {train_ex_src})"
    else:
        train_block = (
            f"train_tok AS (SELECT doc_id, {tok} AS tok FROM {train_src}),\n"
            f"train_ex AS ({train_ex})")
    if test_ex_src:
        test_block = f"test_ex AS (SELECT test_id, s FROM {test_ex_src})"
    else:
        test_block = (
            f"test_tok AS (SELECT test_id, {tok} AS tok FROM {test_src}),\n"
            f"test_ex AS ({test_ex})")
    return f"""{train_block},
{test_block},
boiler AS (
  SELECT s FROM train_ex GROUP BY s HAVING COUNT(*) > {df_cap}
),
train_rare AS (
  SELECT t.doc_id, t.s FROM train_ex t
  WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.s = t.s)
),
test_eff AS (
  SELECT e.test_id, e.s FROM test_ex e
  WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.s = e.s)
),
test_n AS (SELECT test_id, COUNT(*) AS n_test FROM test_eff GROUP BY test_id),
hits AS (
  SELECT t.doc_id, e.test_id, COUNT(*) AS n_hit
  FROM train_rare t JOIN test_eff e ON t.s = e.s
  GROUP BY t.doc_id, e.test_id
)
SELECT h.doc_id AS doc_a, h.test_id AS doc_b,
       round(CAST(h.n_hit AS DOUBLE) / tn.n_test, 6) AS containment
FROM hits h JOIN test_n tn ON h.test_id = tn.test_id
WHERE tn.n_test >= {min_shingles}
  AND CAST(h.n_hit AS DOUBLE) / tn.n_test >= {threshold}
"""


def decontaminate(corpus_df: DataFrame, benchmark_df: DataFrame,
                  threshold: float = 0.5, min_shingles: int = 5,
                  df_cap: int = DECON_DF_CAP) -> DataFrame:
    """Train/test decontamination against a REAL benchmark frame (the
    `dedup_corpus` factoring pattern): `corpus_df` needs (doc_id,
    text), `benchmark_df` (text) with optional (test_id). Returns
    (doc_a=train doc_id, doc_b=test_id, containment) for every pair at
    or above `threshold` directional n-gram containment — the same
    oracle-certified SQL the `decontaminate` branch of
    dedup_pairwise_scores runs, bound to external relations via unique
    temp views."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    sess = corpus_df.sparkSession
    if "test_id" not in benchmark_df.columns:
        benchmark_df = benchmark_df.withColumn(
            "test_id", F.expr("xxhash64(text)"))
    vtrain = f"_decon_train_{_uuid.uuid4().hex[:8]}"
    vtest = f"_decon_test_{_uuid.uuid4().hex[:8]}"
    corpus_df.select("doc_id", "text").createOrReplaceTempView(vtrain)
    benchmark_df.select("test_id", "text").createOrReplaceTempView(vtest)
    out = sess.sql("WITH " + _decontam_core_sql(
        True, train_src=vtrain, test_src=vtest, threshold=threshold,
        min_shingles=min_shingles, df_cap=df_cap,
    ))
    sess.catalog.dropTempView(vtrain)
    sess.catalog.dropTempView(vtest)
    return out


# a shingle appearing in more position-rows than this is template
# boilerplate: it cannot anchor an exact-substring dedup decision and
# it squares the position join (see _longrun_sql docstring). Sized like
# DECON_DF_CAP: genuinely-shared content at the 10×-clone sf1 synth
# (each shingle ≥ 2×10 occurrences) survives with headroom.
LONGRUN_DF_CAP = 100


def _longrun_pa_filtered_sql(base: str) -> str:
    """Spark-side helper (round 15, VERDICT r14 #5): the boiler-pruned
    position relation over a materialized (doc_id, i, s) view `base`.
    q_pairwise materializes THIS (lazy localCheckpoint) instead of the
    raw positions: the `m` self-join below references `pa` twice and
    Spark inlines CTEs, so the un-materialized form ran the boiler
    GROUP BY s aggregate AND the anti-join TWICE per action — once per
    join side (guide §2.4: don't compute things twice). Every column
    (doc_id, i, s) feeds the join/window/aggregates, so the barrier
    forces no prunable work (the round-14 simhash lesson)."""
    return f"""
SELECT p.doc_id, p.i, p.s FROM {base} p
WHERE NOT EXISTS (
  SELECT 1 FROM (
    SELECT s FROM {base} GROUP BY s HAVING COUNT(*) > {LONGRUN_DF_CAP}
  ) b WHERE b.s = p.s
)
"""


def _longrun_sql(spark: bool, base: str | None = None,
                 base_filtered: bool = False) -> str:
    """Exact-substring dedup signal (the measure behind "deduplicating
    training data" exact-substring dedup, Lee et al. 2021, public
    method): the LONGEST run of consecutively matching 3-gram shingles
    between a pair, in tokens — order-SENSITIVE where Jaccard is
    order-blind, so shuffled boilerplate scores low here and high
    there. Classic gaps-and-islands SQL: shingle positions join on
    value, the (b_pos − a_pos) diagonal groups co-linear matches, and
    `a_pos − ROW_NUMBER()` within a diagonal is constant exactly over
    a consecutive run. Same structural pairing as the Jaccard branch
    (original ↔ near-copy); at scale candidates come from the LSH
    bands and this is the per-candidate verifier. A run of k shingles
    covers k+2 tokens. Pairs sharing no shingle emit no row (no run
    exists), identically in both engines.

    Stop-shingle cap (the decontamination sweep's discipline): the
    position join's width per shingle is its occurrence count SQUARED
    before the pair filter — boilerplate under 10× clone amplification
    is a quadratic blow-up. Shingles above LONGRUN_DF_CAP
    position-rows are counted map-side and excluded BEFORE the join; a
    run crossing an excluded shingle splits, so the measured quantity
    is precisely 'longest run of consecutively matching
    non-boilerplate shingles' — identical in both engines, and the
    boilerplate it ignores is exactly what exact-substring dedup must
    not key on anyway."""
    tok = TOK_SPARK if spark else TOK_DUCK
    sh = SHINGLE_SPARK if spark else SHINGLE_DUCK
    if spark:
        # inline shingle expression in the Generate — the projected-
        # column explode makes Catalyst infer a size>0 pre-filter and
        # inline the tokenizer per element (the measured 9 s trap the
        # decontamination sweep documents)
        pa = (f"SELECT doc_id, pos + 1 AS i, s FROM toks "
              f"LATERAL VIEW posexplode({sh}) t AS pos, s")
    else:
        pa = (f"SELECT doc_id, u.i AS i, sh[u.i] AS s FROM sh_t, "
              f"LATERAL (SELECT unnest(range(1, len(sh) + 1)) AS i) u")
    sh_cte = "" if spark else f"sh_t AS (SELECT doc_id, {sh} AS sh FROM toks),\n"
    if base_filtered:
        # Spark side (round 15): `base` is already the MATERIALIZED
        # boiler-pruned relation (_longrun_pa_filtered_sql) — the
        # boiler aggregate and anti-join ran once into the checkpoint
        # instead of inlining into both join sides
        assert base, "base_filtered requires a base view"
        filter_ctes = f"pa AS (SELECT doc_id, i, s FROM {base}),\n"
    elif base:
        # Spark side: `base` is a MATERIALIZED (doc_id, i, s) view —
        # pa0 is read four times below (boiler count, the filter, both
        # join sides) and Spark inlines CTEs, so the un-materialized
        # form re-runs tokenize+shingle+explode 4× (measured 2.5 s vs
        # ~1 s at sf0.1)
        filter_ctes = f"""pa0 AS (SELECT doc_id, i, s FROM {base}),
lr_boiler AS (
  SELECT s FROM pa0 GROUP BY s HAVING COUNT(*) > {LONGRUN_DF_CAP}
),
pa AS (
  SELECT p.doc_id, p.i, p.s FROM pa0 p
  WHERE NOT EXISTS (SELECT 1 FROM lr_boiler b WHERE b.s = p.s)
),
"""
    else:
        filter_ctes = f"""{CORPUS_CTE.strip()},
toks AS (SELECT doc_id, {tok} AS tok FROM corpus),
{sh_cte}pa0 AS ({pa}),
lr_boiler AS (
  SELECT s FROM pa0 GROUP BY s HAVING COUNT(*) > {LONGRUN_DF_CAP}
),
pa AS (
  SELECT p.doc_id, p.i, p.s FROM pa0 p
  WHERE NOT EXISTS (SELECT 1 FROM lr_boiler b WHERE b.s = p.s)
),
"""
    return f"""
WITH {filter_ctes}m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.i AS ia, b.i - a.i AS diag
  FROM pa a JOIN pa b ON b.doc_id = a.doc_id + 100000 AND a.s = b.s
  WHERE a.doc_id < 100000 AND b.doc_id >= 100000
),
isl AS (
  SELECT doc_a, doc_b, diag,
         ia - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                 ORDER BY ia) AS grp
  FROM m
),
runs AS (
  SELECT doc_a, doc_b, COUNT(*) AS run
  FROM isl GROUP BY doc_a, doc_b, diag, grp
)
SELECT doc_a, doc_b, MAX(run) + 2 AS longest_run_tokens
FROM runs GROUP BY doc_a, doc_b
"""


# Edit-distance verifier window (chars). Levenshtein is O(n·m) per
# pair, so the verifier runs on a bounded TAIL window — the near-copy
# corpus diverges at the tail (CORPUS_CTE truncates 7 trailing chars),
# and at scale the candidate pairs come from the LSH bands, making
# this the per-candidate fuzzy verifier with a hard per-pair cost cap
# (LEV_WINDOW² cells) independent of document length.
LEV_WINDOW = 120


def _levenshtein_sql(spark: bool) -> str:
    """Character-level edit distance over a bounded tail window of the
    original↔near-copy pairs — the classic fuzzy-dup verifier
    (dynamic-programming Levenshtein; built into BOTH engines, so the
    branch is pure SQL). Determinism notes:

    - Unicode: Spark's levenshtein counts codepoints, DuckDB's counts
      bytes — divergent on non-ASCII. Inputs pass through an ASCII
      projection first (every non-ASCII char → '?'), making byte ==
      char in both engines; the projection is also the honest
      normalization for a fuzzy verifier (byte-identical non-ASCII
      still matches itself). DuckDB regexp_replace needs the 'g' flag
      (default replaces the first match only); Spark replaces all.
    - Score stays the RAW integer distance cast to DOUBLE (the
      longest_run discipline) — no ratio, no float-boundary risk; the
      near-dup verdict is the integer comparison lev·5 <= window_len
      (edit distance within 20% of the window)."""
    win = LEV_WINDOW
    if spark:
        ascii_a = (f"regexp_replace(substring(a.text, "
                   f"greatest(length(a.text) - {win - 1}, 1), {win}), "
                   f"'[^\\\\x20-\\\\x7e]', '?')")
        ascii_b = (f"regexp_replace(substring(b.text, "
                   f"greatest(length(b.text) - {win - 1}, 1), {win}), "
                   f"'[^\\\\x20-\\\\x7e]', '?')")
    else:
        ascii_a = (f"regexp_replace(substring(a.text, "
                   f"greatest(length(a.text) - {win - 1}, 1), {win}), "
                   f"'[^\\x20-\\x7e]', '?', 'g')")
        ascii_b = (f"regexp_replace(substring(b.text, "
                   f"greatest(length(b.text) - {win - 1}, 1), {win}), "
                   f"'[^\\x20-\\x7e]', '?', 'g')")
    return f"""
WITH {CORPUS_CTE.strip()}
SELECT doc_a, doc_b, lev,
       lev * 5 <= greatest(la, lb, 1) AS lev_near_dup
FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         levenshtein({ascii_a}, {ascii_b}) AS lev,
         length({ascii_a}) AS la, length({ascii_b}) AS lb
  FROM corpus a JOIN corpus b ON b.doc_id = a.doc_id + 100000
) pairs
"""


# τ = 9/10 as an exact rational: the pair threshold runs in INTEGER
# arithmetic (den²·dotq² ≥ num²·n2a·n2b), so the qualifying pair set
# is bit-identical across engines and across summation orders.
SEMDEDUP_TAU_NUM = 9
SEMDEDUP_TAU_DEN = 10
SEMDEDUP_TAU = SEMDEDUP_TAU_NUM / SEMDEDUP_TAU_DEN
# SemDeDup's pair bound is the cluster: within-cell pairwise is
# O(n²/k), and the paper trains k ∝ n to hold cell size constant.
# k=32 keeps the corpus-wide pair count ~4× below the k=8 IVF-entry
# default at every driver SF (2.2M pairs at sf0.1 instead of 9M).
SEMDEDUP_K = 32
# The k ∝ n contract, AUTOMATED (round 13, VERDICT r12 #4): k floors
# at SEMDEDUP_K and grows with the corpus so mean cell width stays
# ~SEMDEDUP_TARGET_CELL — a 100× corpus no longer hits the 150k
# hard-cap error asking the user to retune. The target keeps
# k == SEMDEDUP_K at every driver SF (documents ≤ 16384 rows up
# through sf0.1), so the certified catalog hashes are unchanged
# where the oracle looks; both engines derive k from the SAME count
# (the quantized relation's), so the chains stay bit-identical.
SEMDEDUP_TARGET_CELL = 512


def semdedup_auto_k(n: int) -> int:
    """k = max(SEMDEDUP_K, ceil(n / SEMDEDUP_TARGET_CELL)) — the SQL
    twin lives in `_semdedup_sql`'s sdk CTE."""
    return max(SEMDEDUP_K, -(-int(n) // SEMDEDUP_TARGET_CELL))


def _semdedup_sq_sql(spark: bool) -> str:
    """The SemDeDup branch's quantized-embedding relation
    (vec_id, qv) over the near-dup corpus: hashing-trick sparse
    embedding (`_embed_bk_sql`), normalize+quantize computed on the
    SPARSE (doc_id, bucket, v) rows — `q = round(127·v / sqrt(Σv²))`
    with the norm as a window sum over doc_id (one pass, scalar
    codegen arithmetic; zero buckets quantize to 0, so the dense
    vector is identical) — then densified to EMBED_DIM=64 via a
    bucket→value map. The window and the densify groupBy hash on the
    SAME doc_id key (one exchange), bk is referenced ONCE, and no
    lambda ever contains an aggregate (the q_sim_topk CollapseProject
    trap: `transform(vec, x -> x / sqrt(<64-term sum>))` re-expands
    the norm per element — measured 5-8 s for the dense formulations
    vs ~2 s for this one at sf0.1). Exactly the (vec_id, qv) shape
    `_ivf_train_cte` trains on."""
    if spark:
        mk = "map_from_entries(collect_list(struct(bucket, q)))"
        dense = ("transform(sequence(0, 63), "
                 "i -> CAST(coalesce(element_at(m, i), 0) AS BIGINT))")
    else:
        mk = "map_from_entries(list({'k': bucket, 'v': q}))"
        dense = ("list_transform(range(0, 64), "
                 "i -> CAST(coalesce(map_extract(m, i)[1], 0) AS BIGINT))")
    return f"""
WITH sd_bk AS ({_embed_bk_sql(spark).strip()}),
sd_w AS (SELECT doc_id, bucket, v,
                SUM(v * v) OVER (PARTITION BY doc_id) AS n2
         FROM sd_bk),
sd_q AS (SELECT doc_id, bucket,
                CAST(round(v * 127 / sqrt(CAST(n2 AS DOUBLE)), 0)
                     AS BIGINT) AS q
         FROM sd_w WHERE n2 > 0),
sd_m AS (SELECT doc_id, {mk} AS m FROM sd_q GROUP BY doc_id)
SELECT doc_id AS vec_id, {dense} AS qv FROM sd_m
"""


def _semdedup_n2q_expr(spark: bool, qv: str = "qd") -> str:
    """Σ qd[i]² as a static 64-term sum over the integer-valued
    DOUBLE vector (row property, computed once per doc; exact — every
    intermediate is an integer < 2^53)."""
    idx = range(64) if spark else range(1, 65)
    return " + ".join(f"{qv}[{i}] * {qv}[{i}]" for i in idx)


def _semdedup_tail_sql(spark: bool, lab: str) -> str:
    """The SemDeDup decision over a `lab(vec_id, qd, n2q, cid)`
    relation (qd = the quantized vector as integer-valued DOUBLEs):
    within-cell pairs, QUANTIZED cosine ≥ SEMDEDUP_TAU,
    dominated-by-smaller-id drop rule, one row per dropped doc naming
    its smallest keeper.

    Everything pairwise is EXACT-INTEGER arithmetic carried in
    doubles: |qd[i]| ≤ 127, so dotq ≤ 64·127² < 2^21, n2 products
    < 2^47, and the threshold terms < 2^47 — every intermediate is an
    integer below 2^53, hence exactly representable and identical
    under ANY summation order. That buys three things at once: the
    qualifying pair SET is bit-identical across engines with no float
    rounding anywhere; the Spark side can compute the same dots as a
    BLAS float64 GEMM (numpy, per cell); and DuckDB's UNCHECKED double
    arithmetic replaces per-op overflow-checked BIGINT math (measured
    9.5 s → ~2 s at sf0.1). The threshold is the exact rational form
    of quantized-cos ≥ 9/10 — `100·dotq² ≥ 81·n2a·n2b` with dotq > 0.
    Same int8-cosine semantics as the `int8` brute-force branch of
    sim_ann_lsh_quantized."""
    idx = range(64) if spark else range(1, 65)
    dotq = " + ".join(f"a.qd[{i}] * b.qd[{i}]" for i in idx)
    # DuckDB: dotq is referenced by the filter (3×) and the score —
    # inlined, the 64-term sum re-expands per reference (measured
    # 13.8 s → 7.1 s materialized at sf0.1)
    mat = "" if spark else "MATERIALIZED "
    return f"""sd_pairs AS {mat}(
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {dotq} AS dotq, a.n2q AS n2a, b.n2q AS n2b
  FROM {lab} a JOIN {lab} b ON a.cid = b.cid AND b.vec_id < a.vec_id
),
sd_dups AS (
  SELECT id_a, id_b, round(dotq / sqrt(n2a * n2b), 6) AS cos
  FROM sd_pairs
  WHERE dotq > 0 AND {SEMDEDUP_TAU_DEN ** 2} * dotq * dotq
        >= {SEMDEDUP_TAU_NUM ** 2} * n2a * n2b
)
SELECT id_a, id_b, cos FROM (
  SELECT id_a, id_b, cos,
         ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY id_b) AS rn
  FROM sd_dups) r WHERE rn = 1"""


def _semdedup_sql(spark: bool, nprobe: int = 1) -> str:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) as one SQL
    statement — the DuckDB oracle formulation (and a valid, slower
    Spark fallback): semantic dedup = embed → cluster → compare ONLY
    within a cluster → drop all but one of each semantic-duplicate
    group. The embedding is the certified hashing-trick relation
    (`_embed_bk_sql`, same md5 bucket/sign builders as the
    `embed_hash` branch) densified to EMBED_DIM=64; clustering is the
    certified trained k-means (`_ivf_train_cte`, integer-quantized —
    deterministic across engines); scoring/thresholding is integer
    int8-cosine (`_semdedup_tail_sql`); the drop rule is "dominated by
    a smaller id": doc a is dropped iff some same-cluster doc b with
    b.id < a.id has quantized cosine ≥ SEMDEDUP_TAU, and the emitted
    row names its smallest such keeper. Output: one row per DROPPED
    doc over the near-dup corpus — a corpus-wide dedup DECISION, not
    a top-k search (the `embed_hash`/`embedding_nn` branches are
    searches).

    Scale: the cluster is the pair-bounding device — within-cell
    pairwise is O(n²/k) dot products, and k is the dial (the paper
    trains k ∝ n so cells stay constant-sized; automated here as
    `semdedup_auto_k` / the sdk CTE — k floors at SEMDEDUP_K=32 and
    grows with the corpus count, identical in both engines).
    One shuffle to assign (1-row codebook cross join is a broadcast),
    one shuffle on cid for the pairing; cross-CLUSTER duplicates are
    missed by construction — the paper's documented recall trade,
    inherited deliberately. The Spark side replaces the within-cell
    pair JOIN with a per-cell tiled BLAS GEMM (`_semdedup_spark_df`):
    row-at-a-time join evaluation paid ~4 µs/pair (137 s at sf0.1)
    where the Arrow-batched exact-integer matmul pays ~0.5 s — the
    canonical "built-ins genuinely can't express it efficiently"
    escape hatch, bit-identical by the integer argument above.

    `nprobe` generalizes the probe width (round 12, VERDICT r11 #4 —
    the oracle formulation extended so nprobe=2 is a CERTIFIED
    branch, not just a library flag). At nprobe>1 each
    vector becomes `nprobe` lab memberships — its best cells by
    centroid dot, ranked by `_probe_cells_frag` (ties → smaller cell
    id: exactly numpy's first-max argmax then mask-and-argmax, the
    Spark GEMM side's assignment) — so two near-duplicates straddling
    a k-means boundary meet in whichever cell they share. A pair
    sharing BOTH cells pairs twice with identical exact-integer
    values; the tail's one-row-per-dropped-doc window collapses the
    duplicates. nprobe=1 degenerates to the original single-argmax
    lab."""
    p = _ivf_parts(spark)
    # n2q over the INTEGER qv (64 checked-int ops per row, once) —
    # over qd the inlined cast-transform would re-expand per term
    n2q = _semdedup_n2q_expr(spark, "qv")
    tmap = "transform" if spark else "list_transform"
    qd = f"{tmap}(qv, x -> CAST(x AS DOUBLE))"
    # sq feeds the training chain AND the assignment; lab feeds both
    # pair sides — materialize them on the DuckDB side (the Spark
    # side of the catalog entry goes through _semdedup_spark_df)
    mat = "" if spark else "MATERIALIZED "
    if nprobe == 1:
        lab = f"""lab AS {mat}(
  SELECT vec_id, {qd} AS qd, CAST({n2q} AS DOUBLE) AS n2q,
         {p['argmax']} AS cid
  FROM (SELECT vec_id, qv, {p['ds']('qv', 'cs')} AS ds
        FROM sq CROSS JOIN cents1) t
)"""
    else:
        explode = ("LATERAL VIEW explode(cids) x AS cid" if spark
                   else "")
        cid_sel = "cid" if spark else "unnest(cids) AS cid"
        lab = f"""labm AS {mat}(
  SELECT vec_id, {qd} AS qd, CAST({n2q} AS DOUBLE) AS n2q,
         {_probe_cells_frag(spark, nprobe)} AS cids
  FROM (SELECT vec_id, qv, {p['ds']('qv', 'cs')} AS ds
        FROM sq CROSS JOIN cents1) t
),
lab AS {mat}(
  SELECT vec_id, qd, n2q, {cid_sel} FROM labm {explode}
)"""
    # the k ∝ n contract in SQL (round 13, VERDICT r12 #4): both
    # engines derive k from the SAME cheap count — the near-dup corpus
    # is documents ∪ one truncated copy per doc, so n = 2·|documents|
    # (a narrow metadata-cheap aggregate; counting the quantized
    # relation instead would serialize the whole embed chain in front
    # of the Spark union — measured +5 s on the bench's hottest
    # entry). The literal twin is semdedup_auto_k(2n).
    k_expr = (f"SELECT GREATEST({SEMDEDUP_K}, CAST(ceil(2 * n_docs / "
              f"{SEMDEDUP_TARGET_CELL}.0) AS BIGINT)) FROM sdk")
    return f"""
WITH sq AS {mat}({_semdedup_sq_sql(spark).strip()}),
sdk AS (SELECT COUNT(*) AS n_docs FROM documents),
{_ivf_train_cte(spark, base='sq', k_cells_expr=k_expr)},
{lab},
{_semdedup_tail_sql(spark, 'lab')}
"""


def _semdedup_train_codebook(spark: SparkSession, vsq: str,
                             k: int | None = None) -> list[list[int]]:
    """Driver-side replica of `_ivf_train_cte(base=vsq,
    k_cells_expr=<k ∝ n>)` — collect the bounded sample (≤8192 rows of
    64 ints, the same hash predicate + sorted LIMIT the SQL chain
    uses) and run seed/assign/update in numpy + exact rationals.
    `k=None` derives k from the corpus count (`semdedup_auto_k` —
    round 13, VERDICT r12 #4: the k ∝ n contract automated; a 100×
    corpus gets proportionally more cells instead of a hard-cap error
    asking the user to retune):

    - seeds = the first K sample rows (the sample IS sorted by the
      seed order), assignment = first-argmax of exact integer dots —
      both bit-identical to the SQL chain by integer arithmetic;
    - the centroid update replicates `round(CAST(s AS DOUBLE) / n, 0)`
      EXACTLY: the division runs in IEEE doubles (same operation), and
      HALF-UP-on-the-double's-exact-value runs in Fractions
      (floor(|x| + 1/2), ties away from zero — what both engines'
      round() does). No float rounding heuristics anywhere.

    Why: the inlined-CTE training chain inside one Spark statement
    re-expands the sample subquery per reference and pays ~5M
    interpreted HOF lambda steps for the sample assignment (measured
    ~1.7 s at sf0.1; this path ~0.2 s). The DuckDB oracle still runs
    the SQL chain, so `tests/test_certification_branches.py` pins this
    replica against `SELECT cs FROM cents1` on driver data."""
    from fractions import Fraction
    from math import floor

    import numpy as np

    from ..functions.sampling import sample_order_expr, sample_pred

    if k is None:
        k = semdedup_auto_k(spark.table(vsq).count())
    rows = spark.sql(
        f"SELECT vec_id, qv FROM {vsq} "
        f"WHERE {sample_pred('vec_id', True)} "
        f"ORDER BY {sample_order_expr('vec_id', True)}, vec_id "
        f"LIMIT 8192"
    ).collect()
    if not rows:
        return []
    q = np.array([list(r.qv) for r in rows], dtype=np.int64)
    seeds = q[:k]
    cid = (q @ seeds.T).argmax(axis=1)  # first max, like array_position
    out = []
    for c in sorted(set(cid.tolist())):
        members = q[cid == c]
        n = len(members)
        s = members.sum(axis=0)  # exact int64
        cv = []
        for si in s.tolist():
            a = si / n  # the same IEEE double division avg() performs
            f = Fraction(a)  # exact value of that double
            r = floor(abs(f) + Fraction(1, 2))  # HALF_UP magnitude
            cv.append(r if a >= 0 else -r)
        out.append(cv)
    return out


# Loud ceiling for one cell's pairwise work: the GEMM is TILED (row
# blocks sized to ~512 MB of scores — memory is bounded at any cell
# width), so the cap guards the QUADRATIC WORK of a mega-cell
# (150k rows = 11G dot products), a clear signal that SEMDEDUP_K was
# not scaled with the corpus (the k ∝ n contract), instead of a
# silent hours-long task.
SEMDEDUP_CELL_HARD_CAP = 150_000
# Cells wider than this replicate into row-chunks (≤32) so one
# skewed cell's quadratic pair work spreads across tasks instead of
# serializing in a single python worker (see _semdedup_spark_df).
SEMDEDUP_CHUNK_ROWS = 4_096


def _limit_blas_threads() -> None:
    """Pin the worker's OpenBLAS pool to ONE thread. Task parallelism
    already saturates the machine (local[32] spawns 32 python
    workers), so multithreaded BLAS inside each worker oversubscribes
    catastrophically — measured 287 s of summed GEMM time (32 workers
    × 32 BLAS threads thrashing) vs ~9 s pinned, for the identical
    matmuls. numpy's bundled OpenBLAS reads OPENBLAS_NUM_THREADS only
    at load time, which Spark workers inherit too late — the runtime
    API is the reliable knob. Silently a no-op on non-OpenBLAS
    builds (correctness never depends on it)."""
    import ctypes
    import glob
    import os as _os

    import numpy as _np

    for p in glob.glob(_os.path.join(
            _os.path.dirname(_np.__file__) + ".libs", "libopenblas*")):
        try:
            lib = ctypes.CDLL(p)
            for fn in ("openblas_set_num_threads64_",
                       "openblas_set_num_threads"):
                if hasattr(lib, fn):
                    getattr(lib, fn)(1)
                    return
        except OSError:
            continue


# SemDeDup driver-side memo (round 12, VERDICT r11 #2): the codebook
# training and the cell-width count are two fixed driver round-trips
# (a bounded sample collect + a groupBy collect) that
# `_semdedup_spark_df` used to pay on EVERY invocation — again per
# bench iteration and per catalog run, ~0.5-1 s/call of avoidable
# latency in the entry that already dominates the bench. Both are
# deterministic functions of the corpus, so they memoize per
# (application, documents-plan) — the plan's semanticHash covers the
# sf_dir (the parquet paths are in the plan) AND test-time
# shadow_views substitutions (a shadowed `documents` is a different
# plan), the trained-IVF branch's per-view identity discipline.
_SEMDEDUP_MEMO: dict[tuple, tuple[list, dict]] = {}
_SEMDEDUP_MEMO_CAP = 8


def _memo_put(key: tuple | None, value: tuple[list, dict]) -> None:
    """Store `value` under `key` in `_SEMDEDUP_MEMO`, evicting the
    oldest entries first so the memo never holds more than
    `_SEMDEDUP_MEMO_CAP`. A None key (no caller-vouched corpus
    identity) stores nothing."""
    if key is None:
        return
    while len(_SEMDEDUP_MEMO) >= _SEMDEDUP_MEMO_CAP:
        _SEMDEDUP_MEMO.pop(next(iter(_SEMDEDUP_MEMO)))
    _SEMDEDUP_MEMO[key] = value


def _corpus_memo_key(spark: SparkSession, table: str,
                     id_col: str) -> tuple | None:
    """(appId, `table`-plan semanticHash, row count, max `id_col`) —
    the memo identity of a registered corpus view (`documents` for
    SemDeDup, `embeddings` for the trained IVF). Plan identity covers
    sf_dir and shadow_views substitutions. The (count, max) pair is
    the cheap corpus fingerprint (ADVICE r12 low): an in-place data
    change under an UNCHANGED plan — parquet rewritten at the same
    paths, rows appended to an external table within one app —
    changes it and misses the memo instead of serving a stale
    codebook. (ADVICE r14: mutating VALUES under an unchanged plan,
    count and id range would still hit; Spark-style writers create
    new paths, and a new path is a new plan hash, so the residual risk
    is an external writer mutating parquet in place mid-application.)
    Deliberately an aggregate over the RAW view (one narrow columnar
    scan), never over a derived relation: fingerprinting the quantized
    SemDeDup relation would materialize the whole embed chain as a
    serialized driver job on every call — measured +5 s on the bench's
    hottest entry (round 13) — where the union action would otherwise
    materialize it once, overlapped with the other branches."""
    try:
        h = int(
            spark.table(table)._jdf.queryExecution()  # noqa: SLF001
            .analyzed().semanticHash()
        )
        n, mx = spark.sql(
            f"SELECT COUNT(*), MAX({id_col}) FROM {table}").first()
        return (spark.sparkContext.applicationId, h,
                int(n or 0), int(mx or 0))
    except Exception:
        return None  # catalog unavailable: just don't memoize


def _semdedup_cell_widths(lab: DataFrame, col: str = "cid") -> dict:
    """cell -> member count of an assignment frame, keyed by its `col`
    (one driver round-trip; memoized by the caller)."""
    from pyspark.sql import functions as F

    return {r[col]: int(r["n"]) for r in
            lab.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
            .collect()}


def _semdedup_chunks(widths: dict, what: str, why: str) -> dict:
    """cell -> row-chunk count (ceil(width / SEMDEDUP_CHUNK_ROWS), at
    most 32) for the skew-salted pair scan. Raises ValueError naming
    the widest `what` and `why` when any cell is wider than
    SEMDEDUP_CELL_HARD_CAP."""
    if any(w > SEMDEDUP_CELL_HARD_CAP for w in widths.values()):
        c, w = max(widths.items(), key=lambda kv: kv[1])
        raise ValueError(f"semdedup {what} {c!r} width {w} exceeds "
                         f"{SEMDEDUP_CELL_HARD_CAP}{why}")
    return {c: min(32, -(-w // SEMDEDUP_CHUNK_ROWS))
            for c, w in widths.items()}


def _semdedup_keepers(qa, n2a, qb, n2b, cand):
    """The exact-verify keeper scan shared by the within-set
    (`_semdedup_spark_df`) and cross (`_semdedup_cross_df`) SemDeDup
    kernels. `qa` (one row per `cand` row) and `qb` (one row per
    `cand` column, ids ascending) are quantized vectors as
    integer-valued float64, `n2a`/`n2b` their squared norms. `cand` is
    a SUPERSET mask of the pairs whose quantized cosine may reach τ
    (the margin-widened float32 prefilter), already restricted to
    admissible partners by the caller (j < i within a cell, not-self
    across sets). Returns (rows, cols, dots): for every row with a
    qualifying partner, its SMALLEST qualifying column and that pair's
    exact integer dot.

    Vectorized keeper pick: the first candidate per row is the
    smallest qualifying column (margin ⇒ superset) UNLESS it is a
    margin false positive — verify it exactly in one einsum (the
    _semdedup_tail_sql argument: every term an integer < 2^53) and
    route only verify-failures (pairs within 1e-5 of τ: rare) to the
    per-row scan. A per-row loop for every dropped doc re-scanned
    O(cell) bools per drop — quadratic again in the clone regime
    (measured 130 s at sf1-synth; ~8 s vectorized)."""
    import numpy as np

    den2 = float(SEMDEDUP_TAU_DEN ** 2)
    num2 = float(SEMDEDUP_TAU_NUM ** 2)
    rs = np.nonzero(cand.any(axis=1))[0]
    j1 = cand[rs].argmax(axis=1)  # first candidate per row
    d1 = np.einsum("ij,ij->i", qa[rs], qb[j1])  # exact
    ok1 = (d1 > 0) & (den2 * d1 * d1 >= num2 * n2b[j1] * n2a[rs])
    rows, cols, dots = [rs[ok1]], [j1[ok1]], [d1[ok1]]
    for r in rs[~ok1]:  # rare: first candidate failed verify
        js = np.nonzero(cand[r])[0]  # ascending
        d = qb[js] @ qa[r]  # exact integer dots
        okj = (d > 0) & (den2 * d * d >= num2 * n2b[js] * n2a[r])
        if okj.any():
            m = int(okj.argmax())
            rows.append(np.array([r]))
            cols.append(js[m:m + 1])
            dots.append(d[m:m + 1])
    return (np.concatenate(rows), np.concatenate(cols),
            np.concatenate(dots))


def _semdedup_spark_df(
        spark: SparkSession, vsq: str, nprobe: int = 1,
        memo_key: tuple | None = None,
        k: int | None = None) -> tuple[DataFrame, DataFrame | None]:
    """Spark side of the within-set SemDeDup decision over a
    materialized (vec_id, qv) view: train the k = semdedup_auto_k
    codebook driver-side (`_semdedup_train_codebook`, the q_sim_topk
    split), assign cells with a numpy int64 matmul per Arrow batch,
    then compute each cell's pairwise dots as a tiled BLAS GEMM inside
    applyInPandas — the values are integers < 2^53, so the emitted
    (pair, dotq) set is bit-identical to the oracle's SQL join
    (`_semdedup_tail_sql`'s argument). The division and 6-dp rounding
    run as the SAME SQL expression afterwards.

    Returns (np1_df, np2_df), each (id_a, id_b, cos) with one row per
    dropped doc naming its smallest keeper: np1_df is the `semdedup`
    branch of dedup_pairwise_scores (`_semdedup_sql`), np2_df the
    `semdedup_np2` branch — None unless `nprobe=2`.

    `nprobe=2` (round 12, VERDICT r11 #4) bounds the paper's silent
    cross-cell recall trade: each vector ALSO lands in its second-best
    cell (the `ivf_multiprobe` move applied to dedup), so two
    near-duplicates straddling a k-means boundary — never compared at
    nprobe=1, by construction — meet in whichever of their cells they
    share. Pair work is bounded at ~2x (each vector is in exactly 2
    cells); duplicate decisions from the doubled membership collapse
    to ONE row per dropped doc (smallest keeper id, the same
    tie-break as the in-cell scan). ORACLE-CERTIFIED: the mask-winner
    re-argmax here is tie-for-tie identical to the SQL side's
    `_probe_cells_frag` struct sort on (-dot, cid), and the pair
    values stay exact integers, so the drop set is bit-identical
    (`_semdedup_sql(spark, 2)`; verified sf0.001/0.01/0.1 — at
    sf0.001 nprobe=2 recovers 99 boundary-straddling drops the
    452-row nprobe=1 decision misses).

    ONE assignment pass + ONE cell GEMM pass serve both widths (round
    15, VERDICT r14 #3 — guide §2.4: don't compute things twice): the
    np2 assignment contains the np1 assignment as its rank-1 rows,
    and within a cell the np1 candidate pairs are the np2 candidate
    pairs restricted to rank-1 rows on both sides, so one float32
    prefilter GEMM block serves both widths with two mask reductions.
    Chunk ownership only partitions WORK, never changes a decision, so
    the np2-width chunking covers every rank-1 row exactly once. At
    nprobe=1 (the curate CLI) only rank-1 rows exist: no second-cell
    membership is assigned, counted or scanned.

    `memo_key` (round 12, VERDICT r11 #2): when the CALLER vouches
    that `vsq` is a pure function of the key (q_pairwise passes its
    corpus identity), the trained codebook and the cell widths are
    memoized — they are deterministic, and retraining cost two driver
    round-trips on every invocation. Direct library callers with
    hand-built views keep the default None (no memoization)."""
    import pandas as pd

    from pyspark.sql import functions as F

    if nprobe not in (1, 2):
        raise ValueError(f"nprobe must be 1 or 2, got {nprobe}")
    out_schema = ("probe int, id_a long, id_b long, dotq double, "
                  "n2a double, n2b double")
    # k under the automated k ∝ n contract (round 13, VERDICT r12 #4):
    # callers that know the corpus (q_pairwise) pass k derived from a
    # CHEAP corpus count — the sdk CTE's twin — so the hot path pays no
    # extra job; library callers with hand-built views fall back to
    # counting the view itself. The memo key already carries the
    # (count, max id) corpus fingerprint via _corpus_memo_key; k is
    # folded in too so a k change always retrains.
    if k is None:
        k = semdedup_auto_k(int(spark.table(vsq).count()))
    full_key = (*memo_key, nprobe, k) if memo_key else None
    memo = _SEMDEDUP_MEMO.get(full_key) if full_key else None
    cs = memo[0] if memo else _semdedup_train_codebook(spark, vsq, k=k)
    if not cs:  # empty corpus
        empty = spark.createDataFrame(
            [], "id_a long, id_b long, cos double")
        return empty, (empty if nprobe == 2 else None)
    lab = _semdedup_assign_df(
        spark.table(vsq).select("vec_id", "qv"), cs, nprobe
    ).localCheckpoint(eager=False)  # two consumers: the width count
    # below materializes it, the chunked pair scan reuses it — left
    # as lineage, the assignment (and the vsq scan under it) would
    # re-run once per consumer
    # Skew salting, counted-before-explode (the band_pairs/NN-cap
    # discipline): k-means cells are data-skewed — a clone-heavy cell
    # holds a quadratic share of the pair work, and one applyInPandas
    # task would serialize it (measured: one 17.6k cell ≈ 40 GFLOP in
    # a single worker dominated the sf1-synth run). Cells wider than
    # SEMDEDUP_CHUNK_ROWS are replicated into ceil(w/target) chunks;
    # each chunk's task holds the FULL cell (candidates span it) but
    # decides only its owned rows (vec_id mod n_chunks == chunk), so
    # the quadratic work spreads across tasks while every (i, j < i)
    # pair is still computed exactly once. Replication is bounded by
    # the 32-chunk cap: ≤ 32× the wide cells' bytes, only when wide.
    # The widths count every membership (both ranks at nprobe=2): they
    # dominate the rank-1 widths, so the cap stays at least as strict
    # and the chunk fan-out covers the bigger scan.
    widths = memo[1] if memo else _semdedup_cell_widths(lab)
    if memo is None:
        _memo_put(full_key, (cs, widths))
    nch = _semdedup_chunks(
        widths, "cell", f" even at auto k={k}: the corpus is extremely "
        "clone-skewed in embedding space — exact-dedup it first, or "
        "lower SEMDEDUP_TARGET_CELL")
    nch_case = ("CASE cid " + " ".join(
        f"WHEN {cid} THEN {n}" for cid, n in sorted(nch.items()))
        + " ELSE 1 END")
    lab = lab.withColumn("chunk", F.explode(F.expr(
        f"sequence(0, {nch_case} - 1)")))

    def _cell(pdf):
        import numpy as np

        _limit_blas_threads()
        empty = pd.DataFrame(
            {"probe": pd.Series(dtype="int64"),
             "id_a": pd.Series(dtype="int64"),
             "id_b": pd.Series(dtype="int64"),
             "dotq": pd.Series(dtype="float64"),
             "n2a": pd.Series(dtype="float64"),
             "n2b": pd.Series(dtype="float64")})
        if len(pdf) < 2:
            return empty
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        chunk = int(pdf["chunk"].iloc[0])
        n_chunks = int(nch.get(int(pdf["cid"].iloc[0]), 1))
        # owned rows: this chunk decides them; all rows are candidates
        owned = np.nonzero(ids % n_chunks == chunk)[0]
        owned = owned[owned > 0]  # row 0 has no j < i partner
        if not len(owned):
            return empty
        # Two-phase block scan, exact by construction:
        #   (1) PREFILTER with one normalized float32 GEMM per block —
        #       |gemm − exact quantized cos| < 1e-5 for K=64 unit
        #       vectors, so the 1e-5-widened margin yields a
        #       guaranteed SUPERSET of qualifying pairs with exactly
        #       TWO block temporaries at half width (the all-integer
        #       block formulation needed ~7 full-size float64
        #       temporaries — outer, g², masks — and this host's
        #       GEMMs are memory-bandwidth-bound under 32-way task
        #       concurrency, so bytes, not flops, are the budget);
        #   (2) VERIFY candidates with exact integer math
        #       (`_semdedup_keepers`) — candidate rows ≈ dropped docs,
        #       so the exact phase is linear in drops, not pairs.
        q = np.stack([np.asarray(v, dtype=np.float64)
                      for v in pdf["qv"].to_numpy()[order]])
        n2 = pdf["n2q"].to_numpy()[order].astype(np.float64)
        # float32 prefilter: the block GEMM is memory-bandwidth-bound
        # (its output is the only full-size temporary), so halving the
        # element width halves the traffic; the error bound of a K=64
        # float32 dot of unit-normalized vectors is < 1e-5, which the
        # widened margin covers — still a guaranteed superset, still
        # verified exactly below.
        u = (q / np.sqrt(n2)[:, None]).astype(np.float32)
        tau = SEMDEDUP_TAU_NUM / SEMDEDUP_TAU_DEN
        tile = max(256, min(4096, (1 << 26) // len(ids)))
        if nprobe == 2:
            rk1 = pdf["rk"].to_numpy()[order] == 1
        hits = []  # (probe width, rows, cols, dots) per tile and width

        def _emit(probe, sel, cand):
            r, c, d = _semdedup_keepers(q[sel], n2[sel], q, n2, cand)
            hits.append((np.full(len(r), probe), sel[r], c, d))

        for t0 in range(0, len(owned), tile):
            sel = owned[t0:t0 + tile]  # ascending (owned is sorted)
            hi = int(sel[-1]) + 1
            ub = u[sel] @ u[:hi].T  # ONE block GEMM for both widths
            cand = ub >= tau - 1e-5
            cand &= np.arange(hi)[None, :] < sel[:, None]  # j < i
            if nprobe == 2:
                _emit(2, sel, cand)
                # np1 = np2 restricted to rank-1 rows AND rank-1
                # candidate columns — same GEMM values, two masks
                r1 = rk1[sel]
                sel, cand = sel[r1], cand[r1] & rk1[None, :hi]
            _emit(1, sel, cand)
        probe, ia, ib, dots = (np.concatenate(x) for x in zip(*hits))
        return pd.DataFrame({
            "probe": probe,
            "id_a": ids[ia], "id_b": ids[ib],
            "dotq": dots,
            "n2a": n2[ia], "n2b": n2[ib],
        })

    # _cell already emits exactly the smallest-keeper row per dropped
    # doc and probe width (the SQL tail's ROW_NUMBER()=1 row), so the
    # np1 side needs no window — only the oracle tail's literal score
    # expression over the same exact-integer doubles. LAZY checkpoint
    # on the decision frame: at nprobe=2 both width views (two
    # consumers inside the union action) read it — left as lineage,
    # the GEMM pass (and the assignment under it) would re-run once
    # per width. Everything the checkpoint computes is needed by the
    # action (the decisions ARE the rows), so no pruned work is forced
    # (the round-14 simhash lesson).
    dec = (lab.groupBy("cid", "chunk").applyInPandas(_cell, out_schema)
           .localCheckpoint(eager=False)
           .withColumn("cos", F.expr("round(dotq / sqrt(n2a * n2b), 6)")))
    np1 = dec.where("probe = 1").select("id_a", "id_b", "cos")
    if nprobe == 1:
        return np1, None
    # doubled membership can decide one doc in both of its cells,
    # possibly against different keepers: collapse to one row per
    # dropped doc, smallest keeper id (the in-cell tie-break,
    # applied across cells)
    from pyspark.sql import Window

    w = Window.partitionBy("id_a").orderBy("id_b")
    np2 = (dec.where("probe = 2").select("id_a", "id_b", "cos")
           .withColumn("_rn", F.row_number().over(w))
           .where("_rn = 1").drop("_rn"))
    return np1, np2


def _semdedup_assign_df(df: DataFrame, codebook: list[list[int]],
                        nprobe: int = 1) -> DataFrame:
    """First-argmax integer cell assignment under a literal codebook
    as one numpy int64 matmul per Arrow batch — the scale-honest twin
    of `semdedup_cell_expr`, whose inlined array literal pays 2·K·dim
    interpreted lambda evals per row and whose SQL text grows with K
    (under the k ∝ n contract K grows with the corpus, so the stream
    gate and its retag job use this form; measured ~2 s of
    interpreted 2048-term static sums → ~0.1 s). Input needs `qv
    array<bigint>`; every other column passes through; output adds
    `cid int` (1-based) and, when absent, `n2q double`. np.argmax
    returns the FIRST max — the same tie-break as array_position —
    and dots/norms are exact integers, so the assignment is
    bit-identical to the SQL expression.

    `nprobe=2` (the within-set SemDeDup np2 membership) also emits
    each row again in its second-best cell — mask the winner, argmax
    again, the same first-max tie-break among the rest — and adds
    `rk int` (1 = best cell, 2 = second-best)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    # codebook in the closure (≤K×64 ints — the broadcast-an-index
    # analog)
    cb = np.array([[int(c) for c in cv] for cv in codebook],
                  dtype=np.int64)
    add_n2 = "n2q" not in df.columns
    # a FRESH StructType: .add() mutates in place, and df.schema is
    # the plan's cached schema object
    fields = list(df.schema.fields) + [StructField("cid", IntegerType())]
    if add_n2:
        fields.append(StructField("n2q", DoubleType()))
    if nprobe == 2:
        fields.append(StructField("rk", IntegerType()))
    schema = StructType(fields)

    def _assign(iterator):
        for pdf in iterator:
            if not len(pdf):
                continue
            q = np.stack([np.asarray(v, dtype=np.int64)
                          for v in pdf["qv"].to_numpy()])
            dots = q @ cb.T
            best = dots.argmax(axis=1)  # first max, like array_position
            pdf = pdf.copy()
            pdf["cid"] = best + 1
            if add_n2:
                pdf["n2q"] = (q * q).sum(axis=1).astype(np.float64)
            if nprobe == 2:
                pdf["rk"] = 1
                if cb.shape[0] > 1:
                    dots[np.arange(len(dots)), best] = \
                        np.iinfo(np.int64).min
                    pdf = pd.concat(
                        [pdf, pdf.assign(cid=dots.argmax(axis=1) + 1,
                                         rk=2)],
                        ignore_index=True)
            yield pdf

    return df.mapInPandas(_assign, schema)


def _semdedup_cross_df(spark: SparkSession, query_df: DataFrame,
                       corpus_df: DataFrame,
                       widths: dict | None = None) -> DataFrame:
    """Asymmetric SemDeDup decision (round 14, VERDICT r13 what's-wrong
    #1): for each QUERY row, the smallest CORPUS id sharing its cell
    with quantized cosine >= tau — the accumulated-corpus check the
    streaming curation gate runs per micro-batch, with the same scale
    armor as the certified within-set `_semdedup_spark_df`:

    - corpus cells are PRUNED to the cells the query batch probes
      (broadcast semi-join on the tiny distinct-cell set) before any
      width accounting or pair work;
    - a probed cell wider than SEMDEDUP_CELL_HARD_CAP raises loudly
      (the k ∝ n contract was broken upstream) instead of silently
      scanning it;
    - wide cells split into row-chunks: each chunk holds a bounded
      CORPUS slice (doc_id mod n_chunks) plus the full query rows of
      the cell (the batch side is small by construction), so one
      skewed cell's work spreads across tasks;
    - scoring is the certified two-phase scan — one float32 GEMM
      prefilter per tile (error < 1e-5 for K=64 unit vectors, margin-
      widened to a guaranteed superset), exact integer verification of
      candidates (every term an integer < 2^53) in the keeper scan the
      within-set kernel shares (`_semdedup_keepers`) — never a
      per-pair interpreted HOF.

    Frames: query_df (doc_id, cell, qv array<bigint>, n2q) and
    corpus_df (doc_id, cell, qv, n2q); `cell` is any equality-
    comparable column (the stream gate passes its codebook-version-
    qualified cell key). Rows whose corpus id EQUALS the query id are
    skipped (a redelivered doc is the band gate's catch; semantic
    dedup reports a DIFFERENT stored doc). Returns one row per flagged
    query doc: (doc_id, sem_dup_of = smallest qualifying corpus id,
    cos = that pair's quantized cosine, rounded 6dp with the oracle
    tail's exact expression — the `semantic_cross` branch of
    dedup_pairwise_scores certifies this whole decision against
    DuckDB)."""
    import pandas as pd

    from pyspark.sql import functions as F

    qcells = query_df.select("cell").distinct()
    pruned = corpus_df.join(F.broadcast(qcells), "cell", "left_semi")
    if widths is None:
        # one eager driver round-trip; certified callers with a memo
        # key pass the memoized dict instead (round 14 — this collect
        # used to run the whole assign chain at BUILD time on every
        # invocation of the semantic_cross catalog branch)
        widths = _semdedup_cell_widths(pruned, "cell")
    if not widths:
        return spark.createDataFrame([], "doc_id long, sem_dup_of long")
    nch = _semdedup_chunks(
        widths, "corpus cell", ": the accumulated corpus outgrew its "
        "codebook — retrain at semdedup_auto_k (the stream gate does "
        "this automatically) or lower SEMDEDUP_TARGET_CELL")
    from pyspark.sql.types import IntegerType, StructField, StructType

    chmap = spark.createDataFrame(
        list(nch.items()),
        StructType([query_df.schema["cell"],
                    StructField("_nch", IntegerType())]))
    # corpus rows land in exactly ONE chunk (pmod — xxhash64 ids are
    # signed); query rows replicate into every chunk of their cell
    # (the batch side is small by construction). The broadcast map
    # join also drops query rows whose cell has no corpus rows.
    cor = (pruned.join(F.broadcast(chmap), "cell")
           .withColumn("chunk",
                       F.expr("CAST(pmod(doc_id, _nch) AS INT)")))
    qry = (query_df.join(F.broadcast(chmap), "cell")
           .withColumn("chunk",
                       F.explode(F.expr("sequence(0, _nch - 1)"))))
    tagged = (
        qry.select("cell", "chunk", "doc_id", "qv", "n2q",
                   F.lit(True).alias("is_q"))
        .unionByName(cor.select("cell", "chunk", "doc_id", "qv", "n2q",
                                F.lit(False).alias("is_q")))
    )

    def _xcell(pdf):
        import numpy as np

        _limit_blas_threads()
        empty = pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"),
             "sem_dup_of": pd.Series(dtype="int64"),
             "dotq": pd.Series(dtype="float64"),
             "n2a": pd.Series(dtype="float64"),
             "n2b": pd.Series(dtype="float64")})
        qm = pdf["is_q"].to_numpy()
        if not qm.any() or qm.all():
            return empty
        qp, cp = pdf[qm], pdf[~qm]
        order = np.argsort(cp["doc_id"].to_numpy())
        ids_c = cp["doc_id"].to_numpy()[order]
        qc = np.stack([np.asarray(v, dtype=np.float64)
                       for v in cp["qv"].to_numpy()[order]])
        n2c = cp["n2q"].to_numpy()[order].astype(np.float64)
        ids_q = qp["doc_id"].to_numpy()
        qq = np.stack([np.asarray(v, dtype=np.float64)
                       for v in qp["qv"].to_numpy()])
        n2q = qp["n2q"].to_numpy().astype(np.float64)
        uc = (qc / np.sqrt(n2c)[:, None]).astype(np.float32)
        uq = (qq / np.sqrt(n2q)[:, None]).astype(np.float32)
        tau = SEMDEDUP_TAU_NUM / SEMDEDUP_TAU_DEN
        tile = max(256, min(4096, (1 << 26) // len(ids_c)))
        hits = []
        for t0 in range(0, len(ids_q), tile):
            sel = slice(t0, min(t0 + tile, len(ids_q)))
            g = uq[sel] @ uc.T
            cand = g >= tau - 1e-5
            # a redelivered doc must not match ITSELF in the corpus
            cand &= ids_c[None, :] != ids_q[sel][:, None]
            # smallest qualifying corpus id = first verified candidate
            # (corpus sorted ascending)
            r, c, d = _semdedup_keepers(qq[sel], n2q[sel], qc, n2c, cand)
            hits.append((r + t0, c, d))
        iq, ic, dots = (np.concatenate(x) for x in zip(*hits))
        return pd.DataFrame({
            "doc_id": ids_q[iq], "sem_dup_of": ids_c[ic],
            "dotq": dots,
            "n2a": n2q[iq], "n2b": n2c[ic]})

    return (
        tagged.groupBy("cell", "chunk")
        .applyInPandas(_xcell, "doc_id long, sem_dup_of long, "
                               "dotq double, n2a double, n2b double")
        # a query doc meets <= 32 chunks of its one cell: collapse to
        # the smallest qualifying corpus id (canonical-keeper rule);
        # the struct-min carries that pair's exact-integer dot/norms
        # so the score is the CHOSEN pair's cosine
        .groupBy("doc_id")
        .agg(F.min(F.struct("sem_dup_of", "dotq", "n2a", "n2b"))
             .alias("s"))
        .selectExpr("doc_id", "s.sem_dup_of AS sem_dup_of",
                    "round(s.dotq / sqrt(s.n2a * s.n2b), 6) AS cos")
    )


def _semantic_cross_sql(spark: bool) -> str:
    """The ASYMMETRIC SemDeDup decision as one SQL statement — the
    DuckDB-oracle twin of `_semdedup_assign_df` + `_semdedup_cross_df`
    (the streaming curation gate's accumulated-corpus check, round
    14). The universe is the near-dup corpus: originals
    (vec_id < 100000) play the STORED corpus, the truncated
    near-copies (vec_id >= 100000) play the incoming batch. The
    codebook trains on the CORPUS SIDE ONLY (exactly the stream
    shape: stored docs define the cells, queries are assigned under
    them) at k = semdedup_auto_k(|documents|); both sides assign by
    first-argmax integer dot; per query doc the smallest same-cell
    corpus id with quantized cos >= tau wins. Every pairwise term is
    an exact integer < 2^53 (the `_semdedup_tail_sql` argument), so
    the flagged set and scores are bit-identical across engines."""
    p = _ivf_parts(spark)
    n2q = _semdedup_n2q_expr(spark, "qv")
    tmap = "transform" if spark else "list_transform"
    qd = f"{tmap}(qv, x -> CAST(x AS DOUBLE))"
    mat = "" if spark else "MATERIALIZED "
    idx = range(64) if spark else range(1, 65)
    dotq = " + ".join(f"q.qd[{i}] * c.qd[{i}]" for i in idx)
    k_expr = (f"SELECT GREATEST({SEMDEDUP_K}, CAST(ceil(n_docs / "
              f"{SEMDEDUP_TARGET_CELL}.0) AS BIGINT)) FROM sdk")
    return f"""
WITH sq AS {mat}({_semdedup_sq_sql(spark).strip()}),
sdk AS (SELECT COUNT(*) AS n_docs FROM documents),
sqc AS {mat}(SELECT vec_id, qv FROM sq WHERE vec_id < 100000),
{_ivf_train_cte(spark, base='sqc', k_cells_expr=k_expr)},
xlab AS {mat}(
  SELECT vec_id, {qd} AS qd, CAST({n2q} AS DOUBLE) AS n2q,
         {p['argmax']} AS cid, vec_id < 100000 AS is_corpus
  FROM (SELECT vec_id, qv, {p['ds']('qv', 'cs')} AS ds
        FROM sq CROSS JOIN cents1) t
),
xc_pairs AS {mat}(
  SELECT q.vec_id AS id_a, c.vec_id AS id_b,
         {dotq} AS dotq, q.n2q AS n2a, c.n2q AS n2b
  FROM xlab q JOIN xlab c ON q.cid = c.cid
  WHERE NOT q.is_corpus AND c.is_corpus
),
xc_hits AS (
  SELECT id_a, id_b, round(dotq / sqrt(n2a * n2b), 6) AS cos
  FROM xc_pairs
  WHERE dotq > 0 AND {SEMDEDUP_TAU_DEN ** 2} * dotq * dotq
        >= {SEMDEDUP_TAU_NUM ** 2} * n2a * n2b
)
SELECT id_a, id_b, cos FROM (
  SELECT id_a, id_b, cos,
         ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY id_b) AS rn
  FROM xc_hits) r WHERE rn = 1
"""


def _semantic_cross_spark_df(spark: SparkSession, vsq: str,
                             k: int | None = None,
                             memo_key: tuple | None = None) -> DataFrame:
    """Spark side of the `semantic_cross` branch over a materialized
    (vec_id, qv) view of the near-dup corpus: corpus-side-only
    codebook (`_semdedup_train_codebook` — the certified driver
    replica of the SQL chain), numpy-argmax assignment of both sides
    (`_semdedup_assign_df`), then the capped/skew-chunked GEMM cross
    scorer (`_semdedup_cross_df`) — i.e. the EXACT code path
    `curate --semantic-dedup --stream` runs per micro-batch, certified
    here against `_semantic_cross_sql`'s one-statement oracle."""
    import uuid as _uuid

    if k is None:
        k = semdedup_auto_k(int(spark.table("documents").count()))
    sq = spark.table(vsq)
    corpus = sq.where("vec_id < 100000")
    # same memo discipline as _semdedup_spark_df (round 12, VERDICT
    # r11 #2): the corpus-side codebook and the pruned-cell width dict
    # are deterministic functions of the corpus key, so a warm session
    # pays zero trainer round-trips and no BUILD-time width collect
    # (round 14: the assign chain + groupBy ran eagerly on every
    # catalog invocation)
    full_key = (*memo_key, "cross", k) if memo_key else None
    memo = _SEMDEDUP_MEMO.get(full_key) if full_key else None
    if memo:
        cs = memo[0]
    else:
        vtr = f"_xc_tr_{_uuid.uuid4().hex[:8]}"
        corpus.createOrReplaceTempView(vtr)
        try:
            cs = _semdedup_train_codebook(spark, vtr, k=k)
        finally:
            spark.catalog.dropTempView(vtr)
    if not cs:
        return spark.createDataFrame(
            [], "id_a long, id_b long, cos double")
    shape = ("CAST(cid AS BIGINT) AS cell", "qv", "n2q")
    # LAZY checkpoints on both assignment frames (round 14): each side
    # is read twice downstream (query: distinct-cells broadcast + the
    # chunk-replicated pair scan; corpus: width accounting + the owned
    # rows) — without the barrier the mapInPandas assign chain re-runs
    # per consumer inside the union action.
    qdf = (_semdedup_assign_df(sq.where("vec_id >= 100000"), cs)
           .selectExpr("vec_id AS doc_id", *shape)
           .localCheckpoint(eager=False))
    cdf = (_semdedup_assign_df(corpus, cs)
           .selectExpr("vec_id AS doc_id", *shape)
           .localCheckpoint(eager=False))
    from pyspark.sql import functions as F

    widths = memo[1] if memo else _semdedup_cell_widths(
        cdf.join(F.broadcast(qdf.select("cell").distinct()),
                 "cell", "left_semi"), "cell")
    if memo is None:
        _memo_put(full_key, (cs, widths))
    return _semdedup_cross_df(spark, qdf, cdf, widths=widths).selectExpr(
        "doc_id AS id_a", "sem_dup_of AS id_b", "cos")


def _pairwise_scores_sql(spark: bool,
                         longrun_base: str | None = None,
                         longrun_filtered: bool = False,
                         semdedup_view: str | None = None,
                         semdedup_np2_view: str | None = None,
                         semantic_cross_view: str | None = None,
                         nn_base: str | None = None,
                         decon_train_ex: str | None = None,
                         decon_test_ex: str | None = None) -> str:
    """n-gram Jaccard ∪ SimHash hamming (both over the documents
    original↔near-copy pairs) ∪ per-label embedding nearest neighbour
    ∪ train/test decontamination ∪ (round 6) exact-substring
    longest-run ∪ (round 8) bounded-window Levenshtein ∪ (round 11)
    SemDeDup cluster-then-compare semantic dedup ∪ (round 12) the
    same decision at nprobe=2 (each vector also in its second-best
    cell — the paper's cross-cell recall trade, bounded and
    certified) — all emit (method, id_a, id_b, score, near_dup)."""
    jaccard = _jaccard_sql(
        TOK_SPARK if spark else TOK_DUCK,
        SHINGLE_SPARK if spark else SHINGLE_DUCK,
        spark,
    )
    simhash = _simhash_pairs_sql(spark)
    nn = _nn_label_sql(spark, base=nn_base)
    return f"""
SELECT 'ngram_jaccard' AS method, CAST(doc_a AS BIGINT) AS id_a,
       CAST(doc_b AS BIGINT) AS id_b, jaccard AS score,
       CAST(NULL AS BOOLEAN) AS near_dup
FROM ({jaccard.strip()})
UNION ALL
SELECT 'simhash' AS method, CAST(doc_a AS BIGINT) AS id_a,
       CAST(doc_b AS BIGINT) AS id_b,
       round(1.0 - CAST(hamming AS DOUBLE) / 64.0, 6) AS score,
       hamming <= 8 AS near_dup
FROM ({simhash.strip()})
UNION ALL
SELECT 'embedding_nn' AS method, CAST(vec_id AS BIGINT) AS id_a,
       CAST(nn_vec_id AS BIGINT) AS id_b, nn_cos AS score, near_dup
FROM ({nn.strip()})
UNION ALL
SELECT 'decontaminate' AS method, CAST(doc_a AS BIGINT) AS id_a,
       CAST(doc_b AS BIGINT) AS id_b, containment AS score,
       containment >= 0.8 AS near_dup
FROM ({_decontam_sql(spark, train_ex_src=decon_train_ex,
                     test_ex_src=decon_test_ex).strip()})
UNION ALL
SELECT 'longest_run' AS method, CAST(doc_a AS BIGINT) AS id_a,
       CAST(doc_b AS BIGINT) AS id_b,
       CAST(longest_run_tokens AS DOUBLE) AS score,
       longest_run_tokens >= 20 AS near_dup
FROM ({_longrun_sql(spark, base=longrun_base,
                    base_filtered=longrun_filtered).strip()})
UNION ALL
SELECT 'levenshtein' AS method, CAST(doc_a AS BIGINT) AS id_a,
       CAST(doc_b AS BIGINT) AS id_b, CAST(lev AS DOUBLE) AS score,
       lev_near_dup AS near_dup
FROM ({_levenshtein_sql(spark).strip()})
UNION ALL
SELECT 'semdedup' AS method, CAST(id_a AS BIGINT) AS id_a,
       CAST(id_b AS BIGINT) AS id_b, cos AS score,
       CAST(TRUE AS BOOLEAN) AS near_dup
FROM {semdedup_view if semdedup_view is not None
      else '(' + _semdedup_sql(spark).strip() + ')'}
UNION ALL
SELECT 'semdedup_np2' AS method, CAST(id_a AS BIGINT) AS id_a,
       CAST(id_b AS BIGINT) AS id_b, cos AS score,
       CAST(TRUE AS BOOLEAN) AS near_dup
FROM {semdedup_np2_view if semdedup_np2_view is not None
      else '(' + _semdedup_sql(spark, 2).strip() + ')'}
UNION ALL
SELECT 'semantic_cross' AS method, CAST(id_a AS BIGINT) AS id_a,
       CAST(id_b AS BIGINT) AS id_b, cos AS score,
       CAST(TRUE AS BOOLEAN) AS near_dup
FROM {semantic_cross_view if semantic_cross_view is not None
      else '(' + _semantic_cross_sql(spark).strip() + ')'}
"""


@_aqe_scoped_builder
def q_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of `dedup_pairwise_scores`: the longest-run branch's
    shingle-position relation materializes ONCE (localCheckpoint +
    unique temp view — it is read four times and Spark inlines CTEs;
    measured 2.5 s → ~1 s at sf0.1); the other four branches run as
    plain SQL. The DuckDB oracle runs the identical math as one
    statement (`_pairwise_scores_sql(False)`)."""
    import uuid as _uuid

    register_views(spark, sf_dir)
    vpa = f"_lr_pa_{_uuid.uuid4().hex[:8]}"
    pa = f"""
WITH {CORPUS_CTE.strip()},
toks AS (SELECT doc_id, {TOK_SPARK} AS tok FROM corpus)
SELECT doc_id, pos + 1 AS i, s FROM toks
LATERAL VIEW posexplode({SHINGLE_SPARK}) t AS pos, s
"""
    # lazy: only the final pairwise union reads this (see q_sim_ann)
    spark.sql(pa).localCheckpoint(eager=False).createOrReplaceTempView(vpa)
    # round 15 (VERDICT r14 #5): ALSO materialize the boiler-PRUNED
    # position relation — the longest-run self-join references it
    # twice, and the inlined form re-ran the boiler GROUP BY s and the
    # anti-join once per join side (the chain: vpa materializes one
    # tokenize+posexplode pass; vlr materializes one boiler+anti-join
    # pass over vpa's blocks; the join then reads vlr's blocks twice)
    vlr = f"_lr_fp_{_uuid.uuid4().hex[:8]}"
    spark.sql(_longrun_pa_filtered_sql(vpa)) \
        .localCheckpoint(eager=False).createOrReplaceTempView(vlr)
    # the semdedup branch: materialize the quantized relation (the
    # training collect and the assignment both read it; inlining
    # would re-run the embed chain per read), build the GEMM-backed
    # decision DataFrame, and reference it from the union as a view
    # (see _semdedup_spark_df)
    vsq = f"_sd_sq_{_uuid.uuid4().hex[:8]}"
    spark.sql(_semdedup_sq_sql(True)) \
        .localCheckpoint(eager=False).createOrReplaceTempView(vsq)
    vsd = f"_sd_out_{_uuid.uuid4().hex[:8]}"
    vsd2 = f"_sd2_out_{_uuid.uuid4().hex[:8]}"
    # memo vouch: vsq is a pure function of the documents view
    # (_semdedup_sq_sql reads only the corpus CTE), so the codebook +
    # cell widths memoize on the documents plan identity PLUS the
    # (count, max doc_id) fingerprint _corpus_memo_key computes —
    # an in-place rewrite of the same parquet paths within one app
    # changes the fingerprint and misses the memo (ADVICE r12 low)
    mk = _corpus_memo_key(spark, "documents", "doc_id")  # once
    k = semdedup_auto_k(2 * mk[2]) if mk else None
    # ONE assignment pass + ONE cell GEMM pass emit both probe widths'
    # decisions (the np1 work is a subset of the np2 work)
    sd1, sd2 = _semdedup_spark_df(spark, vsq, nprobe=2, memo_key=mk, k=k)
    sd1.createOrReplaceTempView(vsd)
    sd2.createOrReplaceTempView(vsd2)
    # the 9th branch (round 14): the streaming gate's ASYMMETRIC
    # decision — corpus-side codebook, cross GEMM scorer — certified
    # against its one-statement oracle; k derives from |documents|
    # (the corpus side), the semdedup_auto_k(n) literal twin of the
    # SQL chain's sdk CTE
    vxc = f"_xc_out_{_uuid.uuid4().hex[:8]}"
    _semantic_cross_spark_df(
        spark, vsq, k=semdedup_auto_k(mk[2]) if mk else None,
        memo_key=mk,
    ).createOrReplaceTempView(vxc)
    # round 14: three more shared relations materialized (lazy
    # localCheckpoint — they fold into the union action) so branches
    # stop recomputing chains that Spark's CTE inlining duplicates AND
    # that the count() action genuinely needs (column pruning cannot
    # skip them — the nn cosine feeds the rn=1 filter, the decontam
    # shingle sides feed the containment threshold): the embedding_nn
    # normalized+bucketed relation (read by both join sides) and the
    # decontam exploded train/test shingle
    # relations (each read by the boilerplate count AND the rare
    # side). The simhash fingerprint was deliberately NOT materialized:
    # its score column is pruned away by a bare count/row action (the
    # pair join needs only doc_id), so a checkpoint would FORCE ~20 s
    # of fingerprint work the action never asks for — measured, and
    # reverted (the round-14 lesson: a materialization barrier also
    # disables column pruning through it).
    vnn = f"_nn_sg_{_uuid.uuid4().hex[:8]}"
    spark.sql(_nn_sg_std(True)) \
        .localCheckpoint(eager=False).createOrReplaceTempView(vnn)
    vdtr = f"_dc_tr_{_uuid.uuid4().hex[:8]}"
    spark.sql(_decontam_train_ex_std(True)) \
        .localCheckpoint(eager=False).createOrReplaceTempView(vdtr)
    vdte = f"_dc_te_{_uuid.uuid4().hex[:8]}"
    spark.sql(_decontam_test_ex_std(True)) \
        .localCheckpoint(eager=False).createOrReplaceTempView(vdte)
    out = spark.sql(_pairwise_scores_sql(True, longrun_base=vlr,
                                         longrun_filtered=True,
                                         semdedup_view=vsd,
                                         semdedup_np2_view=vsd2,
                                         semantic_cross_view=vxc,
                                         nn_base=vnn,
                                         decon_train_ex=vdtr,
                                         decon_test_ex=vdte))
    for v in (vpa, vlr, vsq, vsd, vsd2, vxc, vnn, vdtr, vdte):
        spark.catalog.dropTempView(v)
    return out


def _ivf_trained_sql(spark: bool) -> str:
    """IVF with TRAINED centroids — the production ANN index-build shape
    (sample → k-means centroids on the sample → one narrow assignment
    pass over the corpus → search only the query's cell), replacing
    `_topk_sql`'s reliance on a precomputed `label` column.

    One Lloyd iteration on a hash-predicate sample (~1/4 of rows; at
    100 TB this is the TABLESAMPLE fraction every production k-means
    trains on), unrolled as CTEs. The K=8 centroids are collected into
    a SINGLE sorted array row and cross-joined in (a 1-row broadcast
    nested loop — the canonical "ship the codebook to every executor"
    plan), so assignment is a NARROW higher-order-function projection:
    per-vector argmax = array_position(ds, array_max(ds)) over the
    in-row dot-product list — no shuffle, no window, over the full
    corpus. The only shuffles are the sample-sized centroid update and
    the final per-cell candidate join that IS the IVF search.

    Fully deterministic across engines by staying in INTEGER space:
    vectors are L2-normalized once then quantized to round(nv*127)
    BIGINTs, so every assignment dot product is exact integer
    arithmetic in IEEE doubles, and centroid updates (element-wise
    round(avg)) are exact-rational → identical BIGINTs in Spark and
    DuckDB. Argmax ties break to the smaller centroid id (first max in
    the cid-sorted codebook); seeds are the 8 smallest multiplicative-
    hash values in the sample — no RNG anywhere.

    Final search = exact float cosine re-rank inside the query's cell,
    same rounding discipline as every other similarity entry.

    The Spark side splits the same SQL at the codebook boundary
    (`_ivf_train_cte` → collect the ≤8×dim codebook → inline it as a
    literal in the search query, see `q_sim_topk`): the codebook is
    bounded by construction, so collecting it is the driver-side
    analog of broadcasting an index — and it spares the search query
    from evaluating the training chain once per side of the cell
    self-join. The DuckDB oracle runs the whole thing as one SQL
    statement."""
    parts = _ivf_parts(spark)
    return f"""
WITH {_ivf_train_cte(spark)},
lab AS (
  SELECT vec_id, nv, {parts['argmax']} AS cid
  FROM (SELECT vec_id, nv, {parts['ds']('qv', 'cs')} AS ds
        FROM qz CROSS JOIN cents1) t
),
{_ivf_search_tail(spark)}
"""


def _ivf_parts(spark: bool) -> dict:
    """Dialect snippets shared by the one-statement (DuckDB oracle) and
    split-at-the-codebook (Spark) formulations of trained IVF."""
    if spark:
        def ds(col: str, cs: str) -> str:
            return (f"transform({cs}, cv -> aggregate(zip_with({col}, cv, "
                    f"(x, y) -> x * y), CAST(0 AS BIGINT), (acc, e) -> acc + e))")

        return {
            "qv": "transform(nv, x -> CAST(round(x * 127, 0) AS BIGINT))",
            "ds": ds,
            "argmax": "array_position(ds, array_max(ds))",
            "explode": "SELECT cid, i, x FROM sa1 LATERAL VIEW posexplode(qv) t AS i, x",
            "relist": ("transform(array_sort(collect_list(named_struct('i', i, "
                       "'m', m))), s -> s.m)"),
            "colist": ("transform(array_sort(collect_list(named_struct('cid', cid, "
                       "'cv', cv))), s -> s.cv)"),
        }

    def ds(col: str, cs: str) -> str:
        return (f"list_transform({cs}, cv -> list_sum(list_transform("
                f"range(1, len({col}) + 1), i -> {col}[i] * cv[i])))")

    return {
        "qv": "list_transform(nv, x -> CAST(round(x * 127, 0) AS BIGINT))",
        "ds": ds,
        "argmax": "list_position(ds, list_max(ds))",
        "explode": ("SELECT cid, u.i AS i, qv[u.i] AS x FROM sa1, "
                    "LATERAL (SELECT unnest(range(1, len(qv) + 1)) AS i) u"),
        "relist": "list(m ORDER BY i)",
        "colist": "list(cv ORDER BY cid)",
    }


def _ivf_train_cte(spark: bool, base: str | None = None,
                   k_cells: int = 8,
                   k_cells_expr: str | None = None) -> str:
    """CTE block `nsg … cents1`: normalize+quantize, hash-sample, seed,
    one Lloyd iteration, final codebook as a single array-of-arrays row.

    The centroid update is element-wise round(avg) in both dialects,
    but the formulations differ deliberately: DuckDB unnests to
    (cid, i, x) and re-lists; Spark folds collect_list(qv) with
    zip_with — a Generate over the computed `qv` column makes Spark
    inline the whole normalize+quantize chain once PER ELEMENT (the
    same inferred-pre-filter trap test_plans pins for shingles,
    measured 1.4 s → 0.07 s here), and the per-cell list is
    sample-sized by construction. Integer sums are order-independent,
    so the nondeterministic collect_list order cannot change the
    result, and sum/count stays the identical IEEE division `avg`
    performs."""
    p = _ivf_parts(spark)
    nv = _norm_vec_expr(spark)
    n2 = _norm2_expr(spark)
    if spark:
        update = f"""cg AS (SELECT cid, COUNT(*) AS n, collect_list(qv) AS lst
      FROM sa1 GROUP BY cid),
c1 AS (
  SELECT cid, transform(
           aggregate(slice(lst, 2, size(lst) - 1), element_at(lst, 1),
                     (acc, v) -> zip_with(acc, v, (a, b) -> a + b)),
           s -> CAST(round(CAST(s AS DOUBLE) / n, 0) AS BIGINT)) AS cv
  FROM cg
),
cents1 AS (SELECT {p['colist']} AS cs FROM c1)"""
    else:
        update = f"""cx1 AS (
  SELECT cid, i, CAST(round(avg(x), 0) AS BIGINT) AS m
  FROM ({p['explode']}) ex GROUP BY cid, i
),
cents1 AS (
  SELECT {p['colist']} AS cs
  FROM (SELECT cid, {p['relist']} AS cv FROM cx1 GROUP BY cid) c1
)"""
    prefix = ("" if base else
              f"""nsg AS (SELECT vec_id, {nv} AS nv FROM embeddings WHERE {n2} > 0),
qz AS (SELECT vec_id, nv, {p['qv']} AS qv FROM nsg),
""")
    from ..functions.sampling import sample_order_expr, sample_pred

    # The hash predicate admits ~25% of rows — a RATE, not a bound.
    # samp0→samp adds the bound: a sorted LIMIT (same deterministic
    # TakeOrderedAndProject discipline as the PQ/BPE trainer caps) so
    # one Lloyd step costs O(cap·K·dim) at ANY corpus size. The cap is
    # far above every driver SF's sample (125 rows at sf0.01, 500 at
    # sf0.1), so the selected rows — and therefore every catalog hash
    # — are unchanged where the oracle looks.
    samp_cap = 8192
    if k_cells_expr is None:
        seed0 = f"""seed0 AS (SELECT vec_id, qv FROM samp
          ORDER BY {sample_order_expr('vec_id', spark)}, vec_id
          LIMIT {k_cells})"""
    else:
        # dynamic k (the semdedup k ∝ n contract): LIMIT must be a
        # literal on the Spark side, so a scalar-subquery k rides a
        # ROW_NUMBER filter — same ORDER BY + vec_id tiebreak, so the
        # selected seed SET is identical to the LIMIT formulation for
        # the same k in both engines
        seed0 = f"""seed0 AS (SELECT vec_id, qv FROM (
          SELECT vec_id, qv, ROW_NUMBER() OVER (
            ORDER BY {sample_order_expr('vec_id', spark)}, vec_id) AS krn
          FROM samp) s0 WHERE krn <= ({k_cells_expr}))"""
    return f"""{prefix}samp0 AS (SELECT vec_id, qv FROM {base or 'qz'}
         WHERE {sample_pred('vec_id', spark)}),
samp AS (SELECT vec_id, qv FROM samp0
         ORDER BY {sample_order_expr('vec_id', spark)}, vec_id
         LIMIT {samp_cap}),
{seed0},
seed AS (
  SELECT ROW_NUMBER() OVER (
           ORDER BY {sample_order_expr('vec_id', spark)}, vec_id) AS cid,
         qv AS cv
  FROM seed0
),
cents0 AS (SELECT {p['colist']} AS cs FROM seed),
sa1 AS (
  SELECT vec_id, qv, {p['argmax']} AS cid
  FROM (SELECT vec_id, qv, {p['ds']('qv', 'cs')} AS ds
        FROM samp CROSS JOIN cents0) t
),
{update}"""


def _ivf_search_tail(spark: bool) -> str:
    """`cand` + top-k tail over a `lab(vec_id, nv, cid)` relation."""
    dot = _dot6_expr("q.nv", "c.nv", spark)
    return f"""cand AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, {dot} AS cos
  FROM lab q JOIN lab c ON q.cid = c.cid AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
)
SELECT q_id, c_id, cos, rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) rn
      FROM cand) ranked
WHERE rn <= 5"""


MULTIPROBE_NPROBE = 2


def _probe_cells_frag(spark: bool, nprobe: int,
                      ds_col: str = "ds") -> str:
    """Rank the cells of a per-row dot-product list best-first
    (ties → smaller cell id, via struct sort on (−dot, cid)) and keep
    the top `nprobe` — the query-side half of multi-probe IVF, as a
    pure expression both engines evaluate identically. Sized from the
    LIST ITSELF (size/len of ds_col), never a literal K: a codebook
    trained on a tiny sample can come back with fewer than the
    requested cells, and a hardcoded K would pad phantom NULL cells
    on Spark while DuckDB indexes out of range. Slicing past the end
    yields the shorter list in both engines."""
    if spark:
        ranked = (f"array_sort(zip_with({ds_col}, "
                  f"sequence(1, size({ds_col})), "
                  f"(d, c) -> named_struct('nd', -d, 'c', c)))")
        return (f"transform(slice({ranked}, 1, {nprobe}), "
                f"s -> CAST(s.c AS BIGINT))")
    ranked = (f"list_sort(list_transform(range(1, len({ds_col}) + 1), "
              f"i -> {{'nd': -{ds_col}[i], 'c': i}}))")
    return (f"list_transform(list_slice({ranked}, 1, {nprobe}), "
            f"s -> CAST(s.c AS BIGINT))")


def _ivf_multiprobe_sql(spark: bool, nprobe: int = MULTIPROBE_NPROBE) -> str:
    """Multi-probe IVF search over the TRAINED index — the round-6
    certification of `ivf_probe_cells_expr` / `search_ivf_index`'s
    probe semantics (previously pytest-only): each query ranks all K
    trained cells by centroid dot product and searches its best
    `nprobe`, exact-cosine re-rank inside them. nprobe=1 degenerates
    to the `ivf_trained` branch; larger nprobe is the standard
    recall/cost dial (monotone, pinned in tests; the VALUES are what
    the oracle checks here). Same training CTEs as `_ivf_trained_sql`
    — the DuckDB oracle re-runs them per branch (CTE-cheap at oracle
    scale), the Spark side reuses the collected codebook
    (q_sim_topk)."""
    parts = _ivf_parts(spark)
    dot = _dot6_expr("q.nv", "c.nv", spark)
    if spark:
        ex = ("SELECT vec_id, nv, ex_cid FROM mp "
              "LATERAL VIEW explode(cells) t AS ex_cid")
    else:
        ex = "SELECT vec_id, nv, unnest(cells) AS ex_cid FROM mp"
    return f"""
WITH {_ivf_train_cte(spark)},
lab AS (
  SELECT vec_id, nv, {parts['argmax']} AS cid
  FROM (SELECT vec_id, nv, {parts['ds']('qv', 'cs')} AS ds
        FROM qz CROSS JOIN cents1) t
),
mp AS (
  SELECT vec_id, nv, {_probe_cells_frag(spark, nprobe)} AS cells
  FROM (SELECT vec_id, nv, {parts['ds']('qv', 'cs')} AS ds
        FROM qz CROSS JOIN cents1) t
  WHERE vec_id < 10
),
mpe AS ({ex}),
cand AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, {dot} AS cos
  FROM mpe q JOIN lab c ON CAST(c.cid AS BIGINT) = q.ex_cid
                       AND q.vec_id <> c.vec_id
)
SELECT q_id, c_id, cos, rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) rn
      FROM cand) ranked
WHERE rn <= 5
"""


def _sim_topk_sql(spark: bool) -> str:
    """Brute-force cosine top-k (the baseline) ∪ IVF-cell-pruned ANN
    (precomputed cells) ∪ IVF with k-means-TRAINED cells (the full
    production index-build + search shape) ∪ multi-probe search over
    the trained index, all over the same query vectors."""
    return f"""
SELECT 'brute' AS method, q_id, c_id, cos, rn FROM ({_topk_sql(spark, False).strip()})
UNION ALL
SELECT 'ivf_pruned' AS method, q_id, c_id, cos, rn FROM ({_topk_sql(spark, True).strip()})
UNION ALL
SELECT 'ivf_trained' AS method, q_id, c_id, cos, rn FROM ({_ivf_trained_sql(spark).strip()})
UNION ALL
SELECT 'ivf_multiprobe' AS method, q_id, c_id, cos, rn FROM ({_ivf_multiprobe_sql(spark).strip()})
"""


def train_ivf_codebook(spark: SparkSession, sf_dir: str,
                       k_cells: int = 8) -> list[list[int]]:
    """Train the quantized-k-means IVF codebook over `embeddings` and
    return it as plain integers (≤k_cells cells × dim) — the
    index-build artifact a vector pipeline persists and ships. With
    the default k_cells=8 this is the same deterministic math as the
    `sim_topk_brute_ivf` entry's training phase (the oracle entry
    keeps K=8 so hashes don't move); production IVF scales K with
    corpus size (K ≈ √N — thousands of cells at 100 TB), which is
    exactly what the parameter and `index build --cells K` expose."""
    return train_ivf_codebook_from(
        register_views(spark, sf_dir)["embeddings"], k_cells=k_cells
    )


def train_ivf_codebook_from(df: DataFrame,
                            k_cells: int = 8) -> list[list[int]]:
    """Codebook training over an arbitrary (vec_id, embedding) frame —
    the index CLI's entry point. Unique per-call view, dropped after
    the (eager) collect."""
    import uuid as _uuid

    spark = df.sparkSession
    p = _ivf_parts(True)
    nv = _norm_vec_expr(True)
    n2 = _norm2_expr(True)
    # checkpoint, for the same reason q_sim_topk checkpoints its base:
    # lineage-form qv lets CollapseProject re-inline the
    # normalize+quantize chain into every downstream reference
    prepared = df.where(f"{n2} > 0").selectExpr(
        "vec_id", f"{nv} AS nv"
    ).selectExpr("vec_id", "nv", f"{p['qv']} AS qv").localCheckpoint(
        eager=True
    )
    view = f"_ivf_train_{_uuid.uuid4().hex[:8]}"
    prepared.createOrReplaceTempView(view)
    try:
        rows = spark.sql(
            "WITH " + _ivf_train_cte(True, base=view, k_cells=k_cells)
            + " SELECT cs FROM cents1"
        ).collect()
    finally:
        spark.catalog.dropTempView(view)
    cs = rows[0][0] if rows and rows[0][0] else []
    return [[int(v) for v in cv] for cv in cs]


# Above this K, the static-sum assignment's K×dim-term expressions
# outgrow whole-stage codegen (janino bails, interpreted eval walks
# ~K×dim tree nodes per row — measured 38 s for 100k rows at K=64) and
# the Arrow/numpy matmul path wins by orders of magnitude. At or below
# it, the pure-SQL form matches the oracle-certified catalog math
# term for term and costs nothing to keep.
ASSIGN_STATIC_MAX_K = 16


def assign_ivf_cells(df: DataFrame, codebook: list[list[int]]) -> DataFrame:
    """(vec_id, embedding) → (vec_id, embedding, cell) for a BATCH
    index build. Two physical strategies, one contract (integer qv =
    round(nv·127), integer dot against the codebook, FIRST-max argmax
    → 1-based cell; zero-norm vectors drop):

    - K ≤ ASSIGN_STATIC_MAX_K: static-sum codegen formulation
      (`q_sim_topk`'s discipline — materialize qv once, argmax over K
      literal dot sums inside whole-stage codegen).
    - larger K: Arrow-batched mapInPandas — one int64 numpy matmul
      (batch×dim) @ (dim×K) per Arrow batch and a row-wise argmax;
      ~0.2 s of numpy for 100k×64×64 where the SQL expression paid
      38 s of interpreted tree-walking. Exact integer math, ties to
      the first (smallest) cell in both paths — pinned equal by test.

    The HOF `ivf_cell_expr` stays the STREAMING path (no checkpoint
    barrier available there)."""
    p = _ivf_parts(True)
    nv = _norm_vec_expr(True)
    n2 = _norm2_expr(True)
    base = (
        df.where(f"{n2} > 0")
        .selectExpr("vec_id", "embedding", f"{nv} AS nv")
        .selectExpr("vec_id", "embedding", f"{p['qv']} AS qv")
        .localCheckpoint(eager=True)
    )
    if len(codebook) <= ASSIGN_STATIC_MAX_K:
        d_exprs = []
        for cv in codebook:
            terms = [f"qv[{i}] * {int(c)}"
                     for i, c in enumerate(cv) if int(c) != 0]
            d_exprs.append("(" + " + ".join(terms) + ")" if terms
                           else "CAST(0 AS BIGINT)")
        ds_lit = "array(" + ", ".join(d_exprs) + ")"
        return (
            base.selectExpr("vec_id", "embedding", f"{ds_lit} AS ds")
            .selectExpr(
                "vec_id", "embedding",
                f"CAST({p['argmax']} AS BIGINT) AS cell",
            )
        )

    from collections.abc import Iterator

    import numpy as _np
    import pandas as _pd

    cb = _np.array(codebook, dtype=_np.int64).T  # dim × K

    def assign(batches: Iterator[_pd.DataFrame]) -> Iterator[_pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qv = _np.stack(
                [_np.asarray(v, dtype=_np.int64) for v in pdf["qv"]]
            )
            ds = qv @ cb  # exact int64: |qv|<=127, |c|<=127, dim<=~1k
            cell = ds.argmax(axis=1) + 1  # first max == smallest cid
            yield _pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "embedding": pdf["embedding"],
                "cell": cell.astype("int64"),
            })

    return base.mapInPandas(
        assign, "vec_id long, embedding array<double>, cell long"
    )


def semdedup_cell_expr(codebook: list[list[int]], col: str = "qv") -> str:
    """1-based integer-argmax cell assignment for a QUANTIZED bigint
    vector column over a literal codebook — the narrow/stream twin of
    `_semdedup_assign_df`'s numpy assignment (array_position picks the
    FIRST maximum, the same tie-break as np.argmax; every term is an
    exact integer). Zero-norm rows are the caller's job to exclude.
    One self-contained expression — no shuffle, no state — so it runs
    identically on a batch frame and a stream (the ingest-gate path);
    ds is referenced twice, 2·K·dim lambda evals per row, fine at
    micro-batch width (the ivf_cell_expr note)."""
    lit = "array(" + ", ".join(
        "array(" + ", ".join(str(int(c)) for c in cv) + ")"
        for cv in codebook) + ")"
    ds = (f"transform({lit}, c -> aggregate(zip_with({col}, c, "
          "(a, b) -> a * b), 0L, (acc, x) -> acc + x))")
    return f"array_position({ds}, array_max({ds}))"


def ivf_cell_expr(codebook: list[list[int]]) -> str:
    """Spark SQL expression assigning an `embedding` array column to
    its codebook cell (1-based; NULL for zero-norm vectors, whose
    normalize would NaN and whose ANSI BIGINT cast would then throw).

    One self-contained NARROW expression — no shuffle, no window, no
    state — so it runs identically on a batch frame and a STREAM: this
    is the live-index maintenance path (assign incoming vectors to
    cells, upsert into the bucketed index layout). It uses the HOF
    dot-product fold over the literal codebook, not the static-sum
    expansion the batch entry uses against its checkpointed base: a
    stream cannot checkpoint, and without the materialization barrier
    Catalyst would inline the quantize chain into all 512 static
    terms (the measured-20 s trap recorded in q_sim_topk). The HOF
    form keeps one expression per ds reference; argmax references ds
    twice, so cost is 2·K·dim lambda evals per row — fine at
    micro-batch width."""
    p = _ivf_parts(True)
    nv = _norm_vec_expr(True)
    n2 = _norm2_expr(True)
    lit = "array(" + ", ".join(
        "array(" + ", ".join(f"{int(v)}L" for v in cv) + ")" for cv in codebook
    ) + ")"
    qv_inline = f"transform({nv}, x -> CAST(round(x * 127, 0) AS BIGINT))"
    ds = p["ds"](qv_inline, lit)
    return (f"CASE WHEN {n2} <= 0 THEN CAST(NULL AS BIGINT) "
            f"ELSE CAST(array_position({ds}, array_max({ds})) AS BIGINT) END")


def ivf_probe_cells_expr(codebook: list[list[int]], nprobe: int) -> str:
    """Spark SQL expression: the `nprobe` cells whose centroids have
    the highest dot product with `embedding` (array<bigint> of 1-based
    cell ids, ordered best-first; NULL for zero-norm vectors). With
    nprobe=1 this is exactly [ivf_cell_expr] — ties break to the
    smaller cell id in both (first-max vs struct sort on (−dot, cid)).
    Query-side only: the index side always stores the single argmax
    cell."""
    p = _ivf_parts(True)
    nv = _norm_vec_expr(True)
    n2 = _norm2_expr(True)
    lit = "array(" + ", ".join(
        "array(" + ", ".join(f"{int(v)}L" for v in cv) + ")" for cv in codebook
    ) + ")"
    qv_inline = f"transform({nv}, x -> CAST(round(x * 127, 0) AS BIGINT))"
    ds = p["ds"](qv_inline, lit)
    ranked = (f"array_sort(zip_with({ds}, sequence(1, {len(codebook)}), "
              f"(d, c) -> named_struct('nd', -d, 'c', c)))")
    return (f"CASE WHEN {n2} <= 0 THEN CAST(NULL AS ARRAY<BIGINT>) "
            f"ELSE transform(slice({ranked}, 1, {nprobe}), "
            f"s -> CAST(s.c AS BIGINT)) END")


def search_ivf_index_arrow(
    index: DataFrame,
    queries: DataFrame,
    codebook: list[list[int]],
    k: int = 5,
    exclude_self: bool = True,
    nprobe: int = 1,
    max_queries: int = 10_000,
) -> DataFrame:
    """Arrow/numpy re-rank variant of `search_ivf_index` for LARGE
    candidate volumes: the query batch (bounded BY CONSTRUCTION — the
    collect below runs through an in-engine LIMIT of `max_queries`+1,
    so the driver never materializes more, and a larger frame raises
    a clear error steering to the zero-collect expression path; the
    interactive search contract is tens–hundreds of queries, candidate
    count is the scale axis) is collected, normalized, and shipped in
    the kernel closure; each
    Arrow batch of index rows does ONE (batch×dim)·(dim×Q) float64
    matmul against the queries probing its cells and emits only its
    per-query partial top-k, so the final window ranks Q·k·n_batches
    rows instead of the full candidate set. At the 100k-vector/K=64
    probe, the full-probe scan drops ~3.5 s → ~1.5 s; the HOF
    expression path stays the default (oracle-aligned, zero driver
    collect). Results pinned equal to the expression path by test
    (same 6-dp rounding; float64 summation-order effects sit ~10
    orders below the rounding grain)."""
    import numpy as _np

    nprobe = max(1, min(int(nprobe), len(codebook)))
    nv = _norm_vec_expr(True)
    qrows = (
        queries.selectExpr(
            "q_id", f"{nv} AS qnv",
            f"{ivf_probe_cells_expr(codebook, nprobe)} AS cells",
        )
        .where("cells IS NOT NULL")
        .limit(max_queries + 1)  # in-engine bound BEFORE the collect
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"search_ivf_index_arrow: query frame exceeds "
            f"max_queries={max_queries} — this path ships the query "
            f"batch in the kernel closure and is meant for the "
            f"interactive contract; route large query frames through "
            f"search_ivf_index (zero driver collect, broadcast "
            f"query side) or raise max_queries explicitly"
        )
    spark = index.sparkSession
    if not qrows:
        return spark.createDataFrame(
            [], "q_id long, c_id long, cos double, rn int")
    qids = _np.array([r["q_id"] for r in qrows], dtype=_np.int64)
    qmat = _np.stack([_np.asarray(r["qnv"], dtype=_np.float64)
                      for r in qrows])            # Q × dim
    cell_to_q: dict[int, list[int]] = {}
    for qi, r in enumerate(qrows):
        for cell in r["cells"]:
            cell_to_q.setdefault(int(cell), []).append(qi)

    from collections.abc import Iterator

    import pandas as _pd

    # pushdown: only the probed cells reach Arrow at all — on a
    # cell-partitioned layout this is PARTITION pruning (nprobe/K of
    # the files read), and it keeps the Arrow transfer proportional to
    # the probed candidate volume instead of the corpus
    probed = sorted(cell_to_q)
    idx = index.where("cell IS NOT NULL").where(
        "cell IN (" + ", ".join(str(c) for c in probed) + ")"
    ).selectExpr("vec_id", f"{nv} AS cnv", "cell")

    def _round6(x: "_np.ndarray") -> "_np.ndarray":
        # Spark SQL round() is HALF_UP (away from zero); np.round is
        # half-to-even — a 6-dp midpoint score would differ by 1e-6
        # between this path and the expression path it is pinned
        # equal to. Floor(|x|·1e6 + 0.5) reproduces HALF_UP exactly.
        return _np.sign(x) * _np.floor(_np.abs(x) * 1e6 + 0.5) / 1e6

    def scan(batches: Iterator[_pd.DataFrame]) -> Iterator[_pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_q, out_c, out_s = [], [], []
            for cell, grp in pdf.groupby("cell"):
                qis = cell_to_q.get(int(cell))
                if not qis:
                    continue
                cmat = _np.stack([_np.asarray(v, dtype=_np.float64)
                                  for v in grp["cnv"]])   # n × dim
                vids = grp["vec_id"].to_numpy()
                sims = cmat @ qmat[qis].T                  # n × q
                for j, qi in enumerate(qis):
                    col = sims[:, j]
                    mask = _np.ones(len(col), dtype=bool)
                    if exclude_self:
                        mask = vids != qids[qi]
                    cand = _np.nonzero(mask)[0]
                    if len(cand) == 0:
                        continue
                    # partial top-k per (batch, query): enough rows
                    # for the global window to finish the ranking.
                    # Round BEFORE ranking and break ties by c_id —
                    # the same (cos desc, c_id) total order the global
                    # window applies, so a tie straddling the k
                    # boundary keeps the same winners as the
                    # expression path
                    rcol = _round6(col[cand])
                    top = cand[_np.lexsort((vids[cand], -rcol))[:k]]
                    out_q.extend([qids[qi]] * len(top))
                    out_c.extend(vids[top].tolist())
                    out_s.extend(_round6(col[top]).tolist())
            yield _pd.DataFrame(
                {"q_id": _np.array(out_q, dtype=_np.int64),
                 "c_id": _np.array(out_c, dtype=_np.int64),
                 "cos": _np.array(out_s, dtype=_np.float64)})

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    partial = idx.mapInPandas(scan, "q_id long, c_id long, cos double")
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("c_id"))
    return (
        partial.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", "c_id", "cos", "rn")
    )


def search_ivf_index(
    index: DataFrame,
    queries: DataFrame,
    codebook: list[list[int]],
    k: int = 5,
    exclude_self: bool = True,
    nprobe: int = 1,
) -> DataFrame:
    """Search a persisted live index — the read side of the
    build→maintain→search lifecycle (`train_ivf_codebook` builds,
    `assign_stream_to_cells` + the bucketed upsert sink maintain).

    `index`: (vec_id, embedding, cell) as the sink stores it;
    `queries`: (q_id, embedding). Each query probes its `nprobe`
    nearest cells (by centroid dot product — standard multi-probe IVF:
    nprobe=1 is the fastest/lowest-recall point, nprobe=len(codebook)
    is exact within the indexed set; recall is monotone in nprobe,
    pinned in tests). Zero-norm queries drop (unsearchable by cosine),
    the tiny query set broadcasts, and the index join prunes to the
    probed cells: when the index directory is partitioned by cell,
    that pruning is FILE pruning and a search reads only the probed
    cells, the IVF contract at any scale. Exact cosine re-rank
    (6-dp round, id tie-break) → top-k per query."""
    from pyspark.sql import functions as F

    nv = _norm_vec_expr(True)
    nprobe = max(1, min(int(nprobe), len(codebook)))
    qn = (
        queries.selectExpr(
            "q_id", "embedding",
            f"{ivf_probe_cells_expr(codebook, nprobe)} AS cells",
        )
        .where("cells IS NOT NULL")
        .selectExpr("q_id", f"{nv} AS qnv", "explode(cells) AS cell")
    )
    # cell IS NOT NULL on the index side also guarantees norm > 0 (the
    # assignment NULLs zero-norm vectors), so normalize is safe
    idx = index.where("cell IS NOT NULL").selectExpr(
        "vec_id", f"{nv} AS cnv", "cell"
    )
    joined = F.broadcast(qn).join(idx, "cell")
    if exclude_self:
        joined = joined.where("q_id <> vec_id")
    scored = joined.select(
        "q_id", "vec_id", F.expr(_dot6_expr("qnv", "cnv", True)).alias("cos")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", F.col("vec_id").alias("c_id"), "cos", "rn")
    )


@_aqe_scoped_builder
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of `sim_topk_brute_ivf`, organized like a real vector
    pipeline: (1) materialize the narrow normalized+quantized base ONCE
    (`localCheckpoint` — the per-row normalize/quantize chain is a
    per-corpus property, and leaving it as lineage makes every branch
    of the 3-way union and every side of each self-join recompute it;
    2 000×sf rows of 64 doubles, the bounded analog of writing the
    prepared vectors to a table); (2) run the trained-IVF codebook job
    on it (hash sample → seeds → one Lloyd step; ≤8×dim BIGINTs by
    construction); (3) inline the collected codebook and run the
    3-branch union against the same base. Assignment expands each
    centroid dot product into a STATIC sum over the stored qv column
    (qv[0]*c0 + …): whole-stage-codegen arithmetic, zero lambda calls —
    the transform/zip_with/aggregate formulation pays rows×K×dim
    interpreted lambdas, and against a non-materialized qv Catalyst's
    CollapseProject inlines the quantize chain once per TERM (measured
    20 s; this shape is 1.2 s). Collecting the bounded codebook is the
    driver-side analog of broadcasting an index. The DuckDB oracle runs
    the identical integer math as one SQL statement
    (`_sim_topk_sql(False)`)."""
    import uuid as _uuid

    register_views(spark, sf_dir)
    p = _ivf_parts(True)
    nv = _norm_vec_expr(True)
    n2 = _norm2_expr(True)
    # unique per-call view names: a fixed name would let a later call
    # (other SF, other thread) repoint an earlier, not-yet-collected
    # result at different data; views are dropped before returning —
    # the final DataFrame's plan captured them at analysis time
    vbase = f"_ivf_base_{_uuid.uuid4().hex[:8]}"
    vlab = f"_ivf_lab_{_uuid.uuid4().hex[:8]}"
    base = spark.sql(
        f"SELECT vec_id, label, nv, {p['qv']} AS qv FROM "
        f"(SELECT vec_id, label, {nv} AS nv FROM embeddings WHERE {n2} > 0) z"
        # lazy: the training collect below is the first consumer and
        # materializes it there — one less blocking job
    ).localCheckpoint(eager=False)
    base.createOrReplaceTempView(vbase)
    # codebook memo (round 14, the _semdedup_spark_df discipline): the
    # K=8 trained codebook is a deterministic function of the
    # embeddings corpus, but every invocation re-paid the training
    # job (sample scan + Lloyd step + collect, which also eagerly
    # materialized vbase at build time). Key = embeddings plan
    # identity + (count, max vec_id) fingerprint, so an in-place data
    # change misses the memo; warm calls pay one narrow fingerprint
    # aggregate instead of the training job, and vbase materializes
    # inside the union action, overlapped with the other branches.
    ik = _corpus_memo_key(spark, "embeddings", "vec_id")
    ikey = (*ik, "ivf_trained8") if ik else None
    imemo = _SEMDEDUP_MEMO.get(ikey) if ikey else None
    if imemo is not None:
        cs = imemo[0]
    else:
        rows = spark.sql(
            "WITH " + _ivf_train_cte(True, base=vbase)
            + " SELECT cs FROM cents1"
        ).collect()
        cs = rows[0][0] if rows and rows[0][0] else []
        _memo_put(ikey, (cs, {}))
    if cs:
        d_exprs = []
        for cv in cs:
            terms = [f"qv[{i}] * {int(c)}" for i, c in enumerate(cv) if int(c) != 0]
            d_exprs.append("(" + " + ".join(terms) + ")" if terms
                           else "CAST(0 AS BIGINT)")
        ds_lit = "array(" + ", ".join(d_exprs) + ")"
        # The assignment is evaluated once and checkpointed: left as
        # lineage, Catalyst inlines the K×dim literal expression into
        # every downstream reference (argmax twice, the join key, both
        # join sides) and the duplicated giant expression dominates the
        # query (measured 4 s for a 2 374-row candidate join; 0.3 s
        # against the materialized assignment).
        lab = spark.sql(
            f"SELECT vec_id, nv, {p['argmax']} AS cid "
            f"FROM (SELECT vec_id, nv, {ds_lit} AS ds FROM {vbase}) t"
            # lazy: only the final union reads it (see q_sim_ann)
        ).localCheckpoint(eager=False)
        lab.createOrReplaceTempView(vlab)
        trained = f"""
WITH lab AS (SELECT vec_id, nv, cid FROM {vlab}),
{_ivf_search_tail(True)}
"""
        trained_branch = (
            f"SELECT 'ivf_trained' AS method, q_id, c_id, cos, rn "
            f"FROM ({trained.strip()})"
        )
        # multi-probe branch: same collected codebook, query side ranks
        # all K cells (struct sort on (−dot, cid)) and searches its
        # best MULTIPROBE_NPROBE — reuses the materialized ds literal
        # and the checkpointed lab assignment, so the added cost is the
        # (still cell-pruned) wider candidate join only
        mpdot = _dot6_expr("q.nv", "c.nv", True)
        # round 14: materialize the tiny query-side (vec_id, nv, ds)
        # relation (≤10 rows) — `_probe_cells_frag` references `ds`
        # twice (array_sort(zip_with(ds, …)) and the slice), and over
        # lineage CollapseProject re-inlines the K×dim-term ds_lit
        # static sum into BOTH references, doubling the already-large
        # expression tree the analyzer/optimizer walks per invocation
        vmp = f"_ivf_mp_{_uuid.uuid4().hex[:8]}"
        spark.sql(
            f"SELECT vec_id, nv, {ds_lit} AS ds FROM {vbase} "
            f"WHERE vec_id < 10"
        ).localCheckpoint(eager=False).createOrReplaceTempView(vmp)
        mp = f"""
WITH mp AS (
  SELECT vec_id, nv,
         {_probe_cells_frag(True, MULTIPROBE_NPROBE)} AS cells
  FROM {vmp}
),
mpe AS (SELECT vec_id, nv, ex_cid FROM mp
        LATERAL VIEW explode(cells) t AS ex_cid),
cand AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, {mpdot} AS cos
  FROM mpe q JOIN {vlab} c ON CAST(c.cid AS BIGINT) = q.ex_cid
                          AND q.vec_id <> c.vec_id
)
SELECT q_id, c_id, cos, rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) rn
      FROM cand) ranked
WHERE rn <= 5
"""
        multiprobe_branch = (
            f"SELECT 'ivf_multiprobe' AS method, q_id, c_id, cos, rn "
            f"FROM ({mp.strip()})"
        )
    else:  # empty corpus: keep the union schema, emit zero rows
        trained_branch = (
            "SELECT 'ivf_trained' AS method, CAST(NULL AS BIGINT) AS q_id, "
            "CAST(NULL AS BIGINT) AS c_id, CAST(NULL AS DOUBLE) AS cos, "
            "CAST(NULL AS INT) AS rn WHERE 1 = 0"
        )
        multiprobe_branch = trained_branch.replace(
            "'ivf_trained'", "'ivf_multiprobe'")
    out = spark.sql(f"""
SELECT 'brute' AS method, q_id, c_id, cos, rn
FROM ({_topk_sql(True, False, base=vbase).strip()})
UNION ALL
SELECT 'ivf_pruned' AS method, q_id, c_id, cos, rn
FROM ({_topk_sql(True, True, base=vbase).strip()})
UNION ALL
{trained_branch}
UNION ALL
{multiprobe_branch}
""")
    spark.catalog.dropTempView(vbase)
    if cs:
        spark.catalog.dropTempView(vlab)
        spark.catalog.dropTempView(vmp)
    return out


def _sim_ann_sql(spark: bool, pq_base: str | None = None,
                 embed_bk: str | None = None,
                 resid_base: str | None = None) -> str:
    """Random-hyperplane LSH (bucketed, exact re-rank) ∪ int8-quantized
    integer-dot-product top-k — the two label-free ANN scale paths —
    ∪ (round 6) the PQ/ADC and hashing-trick-embedding certification
    branches, so functions/pq.py and functions/embeddings.py are
    oracle-checked, not just pytest-tested."""
    return f"""
SELECT 'lsh_hyperplane' AS method, q_id, c_id, cos AS score, rn
FROM ({_lsh_hyperplane_sql(spark).strip()})
UNION ALL
SELECT 'int8_quantized' AS method, q_id, c_id, CAST(qdot AS DOUBLE) AS score, rn
FROM ({_quant_topk_sql(spark).strip()})
UNION ALL
SELECT 'pq_adc' AS method, q_id, c_id, score, rn
FROM ({_pq_adc_sql(spark, base=pq_base).strip()})
UNION ALL
SELECT 'pq_adc_residual' AS method, q_id, c_id, score, rn
FROM ({_pq_adc_residual_sql(spark, base=pq_base,
                            resid_base=resid_base).strip()})
UNION ALL
SELECT 'embed_hash' AS method, CAST(q_id AS BIGINT) AS q_id,
       CAST(c_id AS BIGINT) AS c_id, score, rn
FROM ({_embed_hash_sql(spark, bk=embed_bk).strip()})
"""


@_aqe_scoped_builder
def q_sim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of `sim_ann_lsh_quantized`. The first two branches
    run as plain SQL; the two certification branches get their shared
    relations materialized ONCE (localCheckpoint + unique temp views,
    the q_sim_topk discipline):

    - `pqb` (vec_id, qv): the PQ encode expression references qv in
      ~128 static terms — as lineage, CollapseProject re-inlines the
      whole normalize+quantize chain into each (measured 4.0 s at
      sf0.1; materialized, sub-second).
    - `bk` (doc_id, bucket, v): read three times (norms, both join
      sides); Spark inlines CTEs, so the un-materialized form re-runs
      explode+md5 3× (measured 2.7 s → ~1 s).

    The DuckDB oracle runs the identical math as one SQL statement
    (`_sim_ann_sql(False)`)."""
    import uuid as _uuid

    register_views(spark, sf_dir)
    nv = _norm_vec_expr(True)
    n2 = _norm2_expr(True)
    vpq = f"_pqb_{_uuid.uuid4().hex[:8]}"
    vbk = f"_ebk_{_uuid.uuid4().hex[:8]}"
    vres = f"_res_{_uuid.uuid4().hex[:8]}"
    # LAZY checkpoints: nothing here is collect()ed before the final
    # union query, so the three relations materialize inside that one
    # action instead of as three sequential driver-blocking jobs —
    # same once-only materialization (LogicalRDD still blocks
    # CollapseProject re-inlining), ~1-1.5 s less fixed job overhead
    # per call (measured warm: 8.2 s eager vs 7.3 s lazy at sf0.1)
    spark.sql(
        f"SELECT vec_id, transform({nv}, x -> CAST(round(x * 127, 0) "
        f"AS BIGINT)) AS qv FROM embeddings WHERE {n2} > 0"
    ).localCheckpoint(eager=False).createOrReplaceTempView(vpq)
    spark.sql(_embed_bk_sql(True)).localCheckpoint(
        eager=False
    ).createOrReplaceTempView(vbk)
    # residual relation (cell argmax + qv - centroid) materialized
    # once: the encoder references its qv column per subspace and
    # would otherwise re-inline the whole argmax chain each time
    spark.sql(_residual_rel_sql(True, vpq)).localCheckpoint(
        eager=False
    ).createOrReplaceTempView(vres)
    out = spark.sql(_sim_ann_sql(True, pq_base=vpq, embed_bk=vbk,
                                 resid_base=vres))
    for v in (vpq, vbk, vres):
        spark.catalog.dropTempView(v)
    return out


def register(queries: dict, oracles: dict) -> None:
    # previously-unchecked surface first (annotations, similarity), the
    # r1-green heavy dedup compositions last
    queries["text_annotations"] = q_annotations
    oracles["text_annotations"] = _annotations_sql(False)
    queries["sim_topk_brute_ivf"] = q_sim_topk
    oracles["sim_topk_brute_ivf"] = _sim_topk_sql(False)
    queries["sim_ann_lsh_quantized"] = q_sim_ann
    oracles["sim_ann_lsh_quantized"] = _sim_ann_sql(False)
    queries["dedup_pairwise_scores"] = q_pairwise
    oracles["dedup_pairwise_scores"] = _pairwise_scores_sql(False)
    queries["text_curation_pipeline"] = _sql(_curation_sql(True))
    oracles["text_curation_pipeline"] = _curation_sql(False)
    queries["text_chunking"] = _sql(_chunking_sql(True))
    oracles["text_chunking"] = _chunking_sql(False)
    queries["dedup_exact"] = _sql(SQL_DEDUP_EXACT)
    oracles["dedup_exact"] = SQL_DEDUP_EXACT
    queries["dedup_minhash_lsh"] = q_minhash_spark
    oracles["dedup_minhash_lsh"] = SQL_MINHASH_DUCK
    queries["dedup_cluster_keeper"] = q_dedup_clusters
    oracles["dedup_cluster_keeper"] = _cluster_oracle_sql(SQL_MINHASH_DUCK)
    queries["dedup_pipeline_corpus"] = q_dedup_pipeline
    oracles["dedup_pipeline_corpus"] = _pipeline_oracle_sql()
