"""Product-surface throughput: what the curation and vector-index
surfaces actually process per second at sf0.1 — the numbers a user
sizing a real deployment asks for, complementing bench.py (per-query
latency) and perfbench's listen_fanout workload (fan-out delivery
rate, `python3 perfbench/run.py --workload listen_fanout`).

    python bench_pipeline.py

Prints ONE JSON line:
  curate_docs_per_sec         batch curation (annotate→classify→split
                              →sample→pack + exact dedup), library path
  curate_neardedup_docs_per_sec  same plus the LSH near-dup pass
  embed_docs_per_sec          hashing-trick embeddings
  index_build_vecs_per_sec    IVF codebook train + assign + write
  index_search_qps            cell-pruned exact top-5, 50 queries
  pq_encode_vecs_per_sec      PQ code packing (after codebook train)
  bpe_docs_per_sec            real-BPE token counting (Arrow path)
  decontaminate_docs_per_sec  benchmark-containment sweep vs a 50-item
                              external benchmark frame (round 6)
  scrub_pii_docs_per_sec      PII count + placeholder scrub (round 6)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def timed(fn):
    t0 = time.perf_counter()
    n = fn()
    return n, time.perf_counter() - t0


def main() -> None:
    import tempfile

    from pqstream_spark.curate import curate
    from pqstream_spark.functions.bpe import bpe_token_counts, train_bpe_from
    from pqstream_spark.functions.embeddings import embed_documents
    from pqstream_spark.functions.pq import pq_encode, train_pq_codebooks
    from pqstream_spark.queries.llm import (
        ivf_cell_expr,
        search_ivf_index,
        train_ivf_codebook_from,
    )
    from pqstream_spark.session import get_spark
    from pqstream_spark.sources.tables import load_table

    spark = get_spark(app_name="pqstream_bench_pipeline")
    docs = load_table(spark, SF_DIR, "documents").selectExpr(
        "doc_id", "lang", "text"
    ).localCheckpoint(eager=True)
    emb = load_table(spark, SF_DIR, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding"
    ).localCheckpoint(eager=True)
    n_docs, n_vecs = docs.count(), emb.count()

    out: dict = {"sf_dir": SF_DIR, "n_docs": n_docs, "n_vecs": n_vecs}

    # warmups compile the plan shapes; measured runs are steady-state
    curate(docs).count()
    _, t = timed(lambda: curate(docs).count())
    out["curate_docs_per_sec"] = round(n_docs / t)
    _, t = timed(lambda: curate(docs, near_dedup=True).count())
    out["curate_neardedup_docs_per_sec"] = round(n_docs / t)

    embed_documents(docs).count()
    _, t = timed(lambda: embed_documents(docs).count())
    out["embed_docs_per_sec"] = round(n_docs / t)

    with tempfile.TemporaryDirectory() as tmp:
        def build():
            cb = train_ivf_codebook_from(emb)
            emb.selectExpr(
                "vec_id", "embedding", f"{ivf_cell_expr(cb)} AS cell"
            ).write.mode("overwrite").partitionBy("cell").parquet(
                os.path.join(tmp, "cells")
            )
            return cb

        cb = build()  # warmup
        _, t = timed(build)
        out["index_build_vecs_per_sec"] = round(n_vecs / t)

        index = spark.read.parquet(os.path.join(tmp, "cells"))
        queries = emb.where("vec_id < 50").selectExpr(
            "vec_id AS q_id", "embedding"
        )
        search_ivf_index(index, queries, cb, k=5).count()
        _, t = timed(lambda: search_ivf_index(index, queries, cb, k=5).count())
        out["index_search_qps"] = round(50 / t)

    books = train_pq_codebooks(emb)
    pq_encode(emb, books).count()
    _, t = timed(lambda: pq_encode(emb, books).count())
    out["pq_encode_vecs_per_sec"] = round(n_vecs / t)

    merges = train_bpe_from(docs)
    bpe_token_counts(docs, merges).count()
    _, t = timed(lambda: bpe_token_counts(docs, merges).count())
    out["bpe_docs_per_sec"] = round(n_docs / t)

    from pqstream_spark.functions.pii import pii_count_expr, scrub_pii_expr
    from pqstream_spark.queries.llm import decontaminate

    bench = docs.where("doc_id % 97 = 0").selectExpr(
        "doc_id + 900000 AS test_id", "substring(text, 1, 120) AS text"
    ).localCheckpoint(eager=True)
    decontaminate(docs.select("doc_id", "text"), bench).count()
    _, t = timed(
        lambda: decontaminate(docs.select("doc_id", "text"), bench).count()
    )
    out["decontaminate_docs_per_sec"] = round(n_docs / t)

    scrub = lambda: docs.selectExpr(  # noqa: E731
        "doc_id", f"{pii_count_expr(True)} AS n_pii",
        f"{scrub_pii_expr(True)} AS text",
    ).count()
    scrub()
    _, t = timed(scrub)
    out["scrub_pii_docs_per_sec"] = round(n_docs / t)

    from pqstream_spark.queries.llm import (
        corpus_lm_tables,
        score_against_corpus_lm,
    )

    # train once (the deployment shape), then steady-state scoring rate
    bgc, uni, vsz = corpus_lm_tables(docs.select("doc_id", "text"))
    bgc = bgc.localCheckpoint(eager=True)
    uni = uni.localCheckpoint(eager=True)
    lm_score = lambda: score_against_corpus_lm(  # noqa: E731
        docs.select("doc_id", "text"), bgc, uni, vsz
    ).count()
    lm_score()
    _, t = timed(lm_score)
    out["lm_score_docs_per_sec"] = round(n_docs / t)
    _, t = timed(
        lambda: corpus_lm_tables(docs.select("doc_id", "text"))[0].count()
    )
    out["lm_train_docs_per_sec"] = round(n_docs / t)

    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
