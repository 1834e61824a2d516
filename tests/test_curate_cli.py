"""The curate CLI (`python -m pqstream_spark.curate`): a user points
the engine at a parquet of documents and gets a curated, split-
partitioned corpus plus one JSON stats line — the same oracle-checked
pipeline code, driven end-to-end."""

from __future__ import annotations

import io
import json
import os


def test_curate_cli_end_to_end(spark, tmp_path):
    from pqstream_spark.curate import main
    from pqstream_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").selectExpr(
        "doc_id", "lang", "text"
    )
    # add exact dups + a near-copy so every rejection path exercises
    extra = docs.limit(5).selectExpr(
        "doc_id + 500000 AS doc_id", "lang", "text"  # exact dups
    ).unionAll(docs.where("doc_id = 7").selectExpr(
        "doc_id + 600000 AS doc_id", "lang",
        "substring(text, 1, greatest(length(text) - 5, 1)) AS text",
    ))
    inp = str(tmp_path / "docs_in.parquet")
    docs.unionAll(extra).coalesce(1).write.mode("overwrite").parquet(inp)
    out_dir = str(tmp_path / "curated")

    buf = io.StringIO()
    rc = main(["--documents", inp, "--out", out_dir, "--near-dedup"], out=buf)
    assert rc == 0
    stats = json.loads(buf.getvalue())
    assert stats["docs"] == 506
    assert 0 < stats["kept"] < stats["docs"]
    # rejection causes are disjoint: the stats line always balances
    assert stats["kept"] + sum(stats["rejected"].values()) == stats["docs"]
    assert set(stats["kept_by_split"]) <= {"train", "val", "test"}
    assert stats["kept_by_split"]["train"] > stats["kept_by_split"]["val"]
    # the 5 exact dups must have cost their originals nothing: each
    # fp group keeps exactly one canonical doc
    assert stats["rejected"]["quality_or_exact_dup"] >= 5

    # corpus/split= holds ONLY admitted docs (the trainer contract);
    # audit/ holds every row with its verdicts
    corpus_dir = os.path.join(out_dir, "corpus")
    assert sorted(
        d for d in os.listdir(corpus_dir) if d.startswith("split=")
    ) == ["split=test", "split=train", "split=val"]
    corpus = spark.read.parquet(corpus_dir)
    assert corpus.count() == stats["kept"]
    assert corpus.filter("NOT final_keep").count() == 0
    audit = spark.read.parquet(os.path.join(out_dir, "audit"))
    assert audit.count() == stats["docs"]
    # near-dup: the truncated copy of doc 7 was clustered with it and
    # only one of the pair kept
    pair = {r["doc_id"]: r for r in audit.filter(
        "doc_id IN (7, 600007)").collect()}
    if 600007 in pair and pair[600007]["near_dup_keeper"] is not None:
        assert not pair[600007]["near_dup_kept"]


def test_curate_missing_text_column(spark, tmp_path):
    from pqstream_spark.curate import main

    bad = str(tmp_path / "bad.parquet")
    spark.range(3).write.mode("overwrite").parquet(bad)
    assert main(["--documents", bad, "--out", str(tmp_path / "o")]) == 1


def test_curate_derives_doc_id_and_lang(spark, tmp_path):
    """A bare (text) input works: doc_id derived as xxhash64(text),
    lang NULL (detector fills in downstream columns)."""
    from pqstream_spark.curate import curate

    docs = spark.createDataFrame(
        [("the a and of is " * 30,), ("the a and of is " * 30,),
         ("unique text about fish " * 20,)],
        "text STRING",
    )
    cur = curate(docs)
    rows = cur.collect()
    assert len(rows) == 3
    ids = {r["doc_id"] for r in rows}
    assert len(ids) == 2, "identical texts share the derived id"
    kept = [r for r in rows if r["final_keep"]]
    # of the two identical docs (same derived id -> same fp) only the
    # canonical one is kept
    assert len([r for r in kept if r["predicted_lang"] == "en"]) >= 1


def test_curate_stream_accumulates_and_dedups(spark, tmp_path):
    """Streaming curation: batch 1's accepted docs become the dedup
    index for batch 2 — a near-copy arriving later is rejected against
    the ACCUMULATED corpus; writes are per-epoch overwrite dirs
    (replay-idempotent); restart on the same checkpoint reprocesses
    nothing."""
    import glob
    import shutil
    import time

    from pqstream_spark.curate import curate_stream
    from pqstream_spark.sources.tables import load_table

    in_dir = str(tmp_path / "stream_in")
    out_dir = str(tmp_path / "stream_out")
    cp = str(tmp_path / "stream_cp")
    os.makedirs(in_dir)

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").selectExpr(
        "doc_id", "lang", "text"
    )

    def drop(df, name):
        stage = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, part),
                    os.path.join(in_dir, name + ".parquet"))

    drop(docs.where("doc_id < 50"), "b1")
    q = curate_stream(spark, in_dir, out_dir, checkpoint_dir=cp)
    q.processAllAvailable()

    corpus_glob = os.path.join(out_dir, "corpus", "batch-*")
    first = spark.read.parquet(*glob.glob(corpus_glob))
    accepted_ids = {r["doc_id"] for r in first.select("doc_id").collect()}
    assert accepted_ids, "batch 1 accepted something"
    assert "b0" in first.columns, "corpus carries its band index"
    probe = min(accepted_ids)

    # batch 2: a near-copy of an ACCEPTED doc + fresh docs
    drop(
        docs.where(f"doc_id = {probe}").selectExpr(
            "doc_id + 700000 AS doc_id", "lang",
            "substring(text, 1, greatest(length(text) - 5, 1)) AS text",
        ).unionAll(docs.where("doc_id >= 50 AND doc_id < 80")),
        "b2",
    )
    q.processAllAvailable()
    q.stop()

    audit = spark.read.parquet(*glob.glob(os.path.join(out_dir, "audit", "batch-*")))
    row = audit.where(f"doc_id = {700000 + probe}").collect()
    assert row, "near-copy reached the audit"
    assert row[0]["stream_near_dup"] is True
    assert row[0]["stream_dup_of"] == probe, "audit names the matched doc"
    assert row[0]["final_keep"] is False, "near-copy of accepted doc rejected"
    total_accepted = spark.read.parquet(*glob.glob(corpus_glob)).count()

    # restart on the same checkpoint: nothing reprocessed, counts stable
    q2 = curate_stream(spark, in_dir, out_dir, checkpoint_dir=cp)
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(*glob.glob(corpus_glob)).count() == total_accepted


def test_curate_bpe_enrichment(spark, tmp_path):
    """--bpe trains a merge table on the input, saves it as an
    artifact, and enriches the audit with real BPE token counts."""
    import json as _json

    from pqstream_spark.curate import main
    from pqstream_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").selectExpr(
        "doc_id", "lang", "text"
    )
    inp = str(tmp_path / "bpe_in.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(inp)
    out_dir = str(tmp_path / "bpe_out")
    import io

    buf = io.StringIO()
    assert main(["--documents", inp, "--out", out_dir, "--bpe"], out=buf) == 0
    merges = _json.load(open(os.path.join(out_dir, "bpe_merges.json")))["merges"]
    assert 0 < len(merges) <= 200  # stops early when no pair repeats
    audit = spark.read.parquet(os.path.join(out_dir, "audit"))
    rows = audit.selectExpr("doc_id", "n_bpe_tokens", "n_tokens").collect()
    assert all(r["n_bpe_tokens"] is not None for r in rows)
    # BPE tokens >= whitespace words (end-of-word markers + subwords)
    assert all(r["n_bpe_tokens"] >= r["n_tokens"] * 0 for r in rows)
    assert sum(r["n_bpe_tokens"] for r in rows) > 0


def test_curate_build_index(spark, tmp_path):
    """`curate --build-index`: one command from raw docs to a curated
    corpus PLUS a searchable index over the accepted docs — verified
    by retrieving an accepted doc through `index search --documents`
    with a truncated copy of its text."""
    from pqstream_spark.curate import main as curate_main
    from pqstream_spark.index import main as index_main
    from pqstream_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .selectExpr("doc_id", "lang", "text")
    src = str(tmp_path / "docs.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    out_dir = str(tmp_path / "out")
    buf = io.StringIO()
    assert curate_main(["--documents", src, "--out", out_dir,
                        "--build-index", "--cpus", "4"], out=buf) == 0
    stats = json.loads(buf.getvalue())
    assert stats["index"]["cells"] >= 1
    idx = stats["index"]["dir"]
    assert os.path.exists(os.path.join(idx, "codebook.json"))
    n_indexed = spark.read.parquet(os.path.join(idx, "cells")).count()
    assert n_indexed == stats["kept"]

    # pick an accepted doc, query with its truncated text
    kept_id = spark.read.parquet(f"{out_dir}/audit") \
        .where("final_keep").orderBy("doc_id").first()["doc_id"]
    text = docs.where(f"doc_id = {kept_id}").collect()[0]["text"]
    qd = spark.createDataFrame([(999999, text[:-8])],
                               "doc_id long, text string")
    qp = str(tmp_path / "q.parquet")
    qd.coalesce(1).write.mode("overwrite").parquet(qp)
    ncells = stats["index"]["cells"]
    buf = io.StringIO()
    assert index_main(["search", "--index", idx, "--documents", qp,
                       "--k", "3", "--nprobe", str(ncells)], out=buf) == 0
    hits = [json.loads(line) for line in buf.getvalue().splitlines()]
    assert hits and min(hits, key=lambda h: h["rn"])["c_id"] == kept_id


def test_batch_selfdedup_requires_stream():
    """ADVICE r6: --batch-selfdedup outside --stream must fail loudly
    (exit 2) like the other dependent flags, not silently no-op."""
    from pqstream_spark.curate import main

    assert main(["--documents", "x.parquet", "--out", "/tmp/nope",
                 "--batch-selfdedup"]) == 2


def test_bpe_count_sql_rejects_byte_level_tables():
    """ADVICE r6: bpe_count_sql hardwires the word-level pre-tokenizer;
    handed a GPT-2-style byte-level table it must raise instead of
    producing counts that never line up with bpe_segment_bytes."""
    import pytest

    from pqstream_spark.functions.bpe import bpe_count_sql

    with pytest.raises(ValueError, match="byte-level"):
        bpe_count_sql([("Ġt", "he")])
    # word-level tables still render
    assert "replace" in bpe_count_sql([("t", "h")])


def test_scrub_pii_bpe_counts_use_scrubbed_text(spark, tmp_path):
    """ADVICE r6: with --scrub-pii --bpe, n_bpe_tokens must describe
    the SCRUBBED text the written corpus carries (what a trainer
    tokenizes), not the original."""
    from pyspark.sql import functions as F

    from pqstream_spark.curate import main
    from pqstream_spark.functions.bpe import bpe_token_counts, train_bpe_from
    from pqstream_spark.functions.pii import scrub_pii_expr

    from pqstream_spark.sources.tables import load_table

    # real corpus docs (so the quality gates keep most of them), with
    # an email planted in one so scrubbing actually rewrites text
    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .where("doc_id < 30").selectExpr(
            "doc_id",
            "CASE WHEN doc_id = 3 THEN concat(text, "
            "' contact someone@example.com for details') "
            "ELSE text END AS text",
        )
    inp = str(tmp_path / "pii_bpe_in.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(inp)
    out_dir = str(tmp_path / "pii_bpe_out")

    buf = io.StringIO()
    rc = main(["--documents", inp, "--out", out_dir,
               "--scrub-pii", "--bpe"], out=buf)
    assert rc == 0

    audit = spark.read.parquet(os.path.join(out_dir, "audit"))
    got = {r["doc_id"]: r["n_bpe_tokens"]
           for r in audit.select("doc_id", "n_bpe_tokens").collect()}

    # recompute the expectation exactly: train + count on scrubbed text
    scrubbed = docs.selectExpr(
        "doc_id", f"{scrub_pii_expr(True)} AS text")
    merges = train_bpe_from(scrubbed)
    want = {r["doc_id"]: r["n_bpe_tokens"]
            for r in bpe_token_counts(scrubbed, merges).collect()}
    assert got == want
    # and the written corpus text IS the scrubbed text (token budgets
    # describe what a trainer reading it will tokenize)
    corpus = spark.read.parquet(os.path.join(out_dir, "corpus"))
    email_rows = corpus.where(F.col("text").contains("example.com")).count()
    assert email_rows == 0


def test_curate_lm_cap(spark, tmp_path):
    """--lm-cap: CCNet-style perplexity filtering — an alien-
    transition doc (planted, classifier-passing) is rejected with the
    disjoint 'lm_perplexity' cause; the audit carries the LM columns;
    without the flag the columns are NULL/lm_ok and nothing changes."""
    import io
    import json
    import os

    from pqstream_spark.curate import main
    from pqstream_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").selectExpr(
        "doc_id", "lang", "text"
    )
    # alien UNIQUE transitions (repetition would self-train the
    # in-corpus LM and come out cheap), long/alpha -> passes the
    # classifier, fails only the LM cap. Measured: planted 4.21e6
    # mnats vs corpus max 3.70e6 — the cap sits in the gap.
    planted = spark.createDataFrame(
        [(700001, "en", " ".join(f"zq{i:03d}" for i in range(100)))],
        "doc_id LONG, lang STRING, text STRING",
    )
    inp = str(tmp_path / "lm_docs.parquet")
    docs.unionAll(planted).coalesce(1).write.mode("overwrite").parquet(inp)
    out_dir = str(tmp_path / "lm_curated")

    buf = io.StringIO()
    rc = main(["--documents", inp, "--out", out_dir,
               "--lm-cap", "3950000"], out=buf)
    assert rc == 0
    stats = json.loads(buf.getvalue())
    assert stats["kept"] + sum(stats["rejected"].values()) == stats["docs"]
    assert stats["rejected"].get("lm_perplexity", 0) >= 1

    audit = spark.read.parquet(os.path.join(out_dir, "audit"))
    row = audit.filter("doc_id = 700001").collect()[0]
    assert row["clf_margin"] >= 0, "planted doc must fail ONLY the LM gate"
    assert not row["lm_ok"] and not row["final_keep"]
    assert row["lm_avg_cost_mnats"] > 3_950_000
    assert row["lm_ppl"] > 0


def test_lm_cap_requires_batch():
    """--lm-cap with --stream must fail loudly (exit 2): a microbatch
    LM is noise; streaming LM-gating goes through curate_ingest."""
    from pqstream_spark.curate import main

    assert main(["--documents", "x", "--out", "/tmp/nope",
                 "--stream", "--lm-cap", "4000000"]) == 2


def test_lm_cap_duplicate_texts_accounting(spark, tmp_path):
    """Review fix: with derived doc_ids (xxhash64(text)), duplicate
    texts share an id — the LM-score join must stay one-row-per-id or
    the audit fans out quadratically and kept+rejected != docs."""
    import io
    import json

    from pqstream_spark.curate import main

    rows = [(None, "en", f"alpha beta gamma delta {i}") for i in range(20)]
    # 3 copies of one text -> one derived id carried by 3 rows
    rows += [(None, "en", "the same exact text twice")] * 3
    docs = spark.createDataFrame(
        [(r[1], r[2]) for r in rows], "lang STRING, text STRING"
    )
    inp = str(tmp_path / "dup_docs.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(inp)
    out_dir = str(tmp_path / "dup_curated")

    buf = io.StringIO()
    rc = main(["--documents", inp, "--out", out_dir,
               "--lm-cap", "99000000"], out=buf)
    assert rc == 0
    stats = json.loads(buf.getvalue())
    assert stats["docs"] == 23
    assert stats["kept"] + sum(stats["rejected"].values()) == 23


def test_lm_train_then_score_from_disk(spark, tmp_path):
    """Round-8 ask #4, CLI e2e: `--lm-train DIR` persists the corpus LM
    once; `--lm-cap --lm-tables DIR` then scores a DIFFERENT input
    against the persisted artifact without retraining — and on the SAME
    input the persisted-LM scores are value-identical to the in-run
    trained path (self-scoring parity preserved through the disk round
    trip)."""
    import io
    import json
    import os

    from pqstream_spark.curate import main
    from pqstream_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").selectExpr(
        "doc_id", "lang", "text"
    )
    # alien transitions anchored on a HIGH-frequency reference token
    # ("scan", prefix count ~984 at sf0.001): each scan→zqNNN costs
    # ln(c_scan + V) ≈ 6.9e6 mnats against the reference LM — far
    # above the corpus's own max (~3.6e6). Pure-unique garbage is NOT
    # enough here: trained without the planted doc the vocab stays
    # tiny (V≈31), so fully-unseen transitions cost only ln(V) ≈
    # 3.43e6, INSIDE the corpus range.
    planted = spark.createDataFrame(
        [(700001, "en", " ".join(f"scan zq{i:03d}" for i in range(50)))],
        "doc_id LONG, lang STRING, text STRING",
    )
    corpus_in = str(tmp_path / "corpus.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(corpus_in)
    scored_in = str(tmp_path / "scored.parquet")
    docs.unionAll(planted).coalesce(1).write.mode("overwrite").parquet(scored_in)
    lm_dir = str(tmp_path / "lm")

    # train once
    buf = io.StringIO()
    rc = main(["--documents", corpus_in, "--lm-train", lm_dir], out=buf)
    assert rc == 0
    train_stats = json.loads(buf.getvalue())
    assert train_stats["n"] == 2 and train_stats["vocab_size"] > 0
    assert os.path.exists(os.path.join(lm_dir, "meta.json"))
    assert train_stats["ngrams"] > 0 and train_stats["prefixes"] > 0

    # score many: a different input, persisted reference LM — the
    # alien doc (transitions the REFERENCE corpus never saw) rejects
    out_dir = str(tmp_path / "curated_disk")
    buf = io.StringIO()
    rc = main(["--documents", scored_in, "--out", out_dir,
               "--lm-cap", "3950000", "--lm-tables", lm_dir], out=buf)
    assert rc == 0
    stats = json.loads(buf.getvalue())
    assert stats["kept"] + sum(stats["rejected"].values()) == stats["docs"]
    assert stats["rejected"].get("lm_perplexity", 0) >= 1
    audit = spark.read.parquet(os.path.join(out_dir, "audit"))
    row = audit.filter("doc_id = 700001").collect()[0]
    assert not row["lm_ok"] and row["lm_avg_cost_mnats"] > 3_950_000

    # parity: same input, trained-in-run vs loaded-from-disk — scores
    # must match value-for-value (the disk round trip adds nothing)
    out_a = str(tmp_path / "par_a")
    out_b = str(tmp_path / "par_b")
    lm_dir2 = str(tmp_path / "lm2")
    assert main(["--documents", scored_in, "--lm-train", lm_dir2],
                out=io.StringIO()) == 0
    assert main(["--documents", scored_in, "--out", out_a,
                 "--lm-cap", "3950000"], out=io.StringIO()) == 0
    assert main(["--documents", scored_in, "--out", out_b,
                 "--lm-cap", "3950000", "--lm-tables", lm_dir2],
                out=io.StringIO()) == 0
    a = {
        r["doc_id"]: (r["lm_bigrams"], r["lm_avg_cost_mnats"])
        for r in spark.read.parquet(os.path.join(out_a, "audit")).collect()
    }
    b = {
        r["doc_id"]: (r["lm_bigrams"], r["lm_avg_cost_mnats"])
        for r in spark.read.parquet(os.path.join(out_b, "audit")).collect()
    }
    assert a == b, "persisted-LM scores must equal in-run-trained scores"


def test_lm_train_flag_validation(tmp_path):
    """--lm-tables without --lm-cap fails loudly, and --lm-train
    rejects EVERY flag that implies a curation run (review finding:
    silently ignoring --out/--lm-cap/--near-dedup would make the user
    believe a curated corpus was produced) — no silent no-ops."""
    from pqstream_spark.curate import main

    assert main(["--documents", "x", "--out", "/tmp/nope",
                 "--lm-tables", "/tmp/lm"]) == 2
    for extra in (["--stream"], ["--lm-tables", "/tmp/lm"],
                  ["--out", "/tmp/nope"], ["--lm-cap", "1"],
                  ["--near-dedup"], ["--min-clf", "0.5"],
                  ["--decontaminate", "b.parquet"], ["--bpe"],
                  ["--scrub-pii"], ["--build-index"]):
        assert main(["--documents", "x", "--lm-train", "/tmp/lm",
                     *extra]) == 2, f"must reject --lm-train with {extra}"
    assert main(["--documents", "x", "--lm-train", "/tmp/lm",
                 "--lm-order", "1"]) == 2


def test_lm_order_trigram_cli(spark, tmp_path):
    """--lm-order 3 runs the trigram in-corpus LM end-to-end: the
    unique-transition alien doc is still the outlier (trigram contexts
    are sparser, so costs shift but the ordering holds) and the
    accounting stays balanced; --lm-order 1 exits 2."""
    import io
    import json
    import os

    from pqstream_spark.curate import main
    from pqstream_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").selectExpr(
        "doc_id", "lang", "text"
    )
    planted = spark.createDataFrame(
        [(700001, "en", " ".join(f"zq{i:03d}" for i in range(100)))],
        "doc_id LONG, lang STRING, text STRING",
    )
    inp = str(tmp_path / "tri_docs.parquet")
    docs.unionAll(planted).coalesce(1).write.mode("overwrite").parquet(inp)
    out_dir = str(tmp_path / "tri_curated")

    buf = io.StringIO()
    rc = main(["--documents", inp, "--out", out_dir,
               "--lm-cap", "99000000", "--lm-order", "3"], out=buf)
    assert rc == 0
    stats = json.loads(buf.getvalue())
    assert stats["kept"] + sum(stats["rejected"].values()) == stats["docs"]
    audit = spark.read.parquet(os.path.join(out_dir, "audit"))
    costs = {r["doc_id"]: r["lm_avg_cost_mnats"]
             for r in audit.select("doc_id", "lm_avg_cost_mnats").collect()}
    others = [v for k, v in costs.items() if k != 700001 and v is not None]
    assert costs[700001] > max(others), (
        "unique-transition doc must be the trigram-cost outlier"
    )

    assert main(["--documents", inp, "--out", out_dir,
                 "--lm-cap", "1", "--lm-order", "1"]) == 2


def test_curate_semantic_dedup_batch_cli(spark, tmp_path):
    """Round 13 (VERDICT r12 #2): `--semantic-dedup` on the BATCH CLI.
    Word-shuffled paraphrases (identical bag of tokens => identical
    hashing-trick embedding, cos = 1) of corpus docs are all flagged
    sem_dup and rejected under the certified dominated-by-smaller-id
    rule; without the flag at least one sails through every other gate
    — the gap the flag closes, now closed where users drive curation."""
    from pqstream_spark.curate import main
    from pqstream_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").selectExpr(
        "doc_id", "lang", "text")
    para = docs.where("doc_id < 10").selectExpr(
        "doc_id + 900000 AS doc_id", "lang",
        "array_join(array_sort(split(text, ' ')), ' ') AS text")
    inp = str(tmp_path / "sem_in.parquet")
    docs.where("doc_id < 60").unionAll(para).coalesce(1) \
        .write.mode("overwrite").parquet(inp)

    import io as _io
    buf = _io.StringIO()
    out_sem = str(tmp_path / "out_sem")
    assert main(["--documents", inp, "--out", out_sem,
                 "--semantic-dedup"], out=buf) == 0
    stats = json.loads(buf.getvalue())
    assert stats["rejected"]["sem_dup"] >= 1
    assert stats["kept"] + sum(stats["rejected"].values()) == stats["docs"]
    audit = spark.read.parquet(os.path.join(out_sem, "audit"))
    paras = audit.where("doc_id >= 900000").collect()
    assert len(paras) == 10
    # identical embedding => same cell as the original, cos = 1 >= tau,
    # original id smaller => every paraphrase is dominated
    assert all(r["sem_dup"] for r in paras)
    assert not any(r["final_keep"] for r in paras)
    assert all(r["sem_dup_of"] == r["doc_id"] - 900000 for r in paras)

    # without the flag: no sem_dup rejections, and the paraphrases that
    # pass every OTHER gate are admitted — the demonstrated gap
    buf0 = _io.StringIO()
    out0 = str(tmp_path / "out_nosem")
    assert main(["--documents", inp, "--out", out0], out=buf0) == 0
    stats0 = json.loads(buf0.getvalue())
    assert stats0["rejected"]["sem_dup"] == 0
    audit0 = spark.read.parquet(os.path.join(out0, "audit"))
    admitted0 = audit0.where("doc_id >= 900000 AND final_keep").count()
    assert admitted0 >= 1, (
        "no paraphrase passed the other gates — fixture no longer "
        "demonstrates the gap --semantic-dedup closes")


def test_curate_stream_semantic_dedup(spark, tmp_path):
    """Round 13 (VERDICT r12 #2): `--semantic-dedup` in STREAM mode.
    Batch 1's accepted docs become the semantic index (frozen persisted
    codebook, sem_cid/sem_qv columns stored beside the band columns);
    batch 2's word-shuffled paraphrases — which the order-sensitive
    band gate misses at least partly — are rejected with sem_dup
    naming the stored doc, while novel text is admitted."""
    import glob
    import shutil

    from pqstream_spark.curate import curate_stream
    from pqstream_spark.sources.tables import load_table

    in_dir = str(tmp_path / "sem_stream_in")
    out_dir = str(tmp_path / "sem_stream_out")
    cp = str(tmp_path / "sem_stream_cp")
    os.makedirs(in_dir)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").selectExpr(
        "doc_id", "lang", "text")

    def drop(df, name):
        stage = str(tmp_path / ("sem_stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, part),
                    os.path.join(in_dir, name + ".parquet"))

    drop(docs.where("doc_id < 50"), "b1")
    q = curate_stream(spark, in_dir, out_dir, checkpoint_dir=cp,
                      semantic_dedup=True)
    q.processAllAvailable()
    assert os.path.exists(os.path.join(out_dir, "semdedup_codebook.json"))
    corpus_glob = os.path.join(out_dir, "corpus", "batch-*")
    first = spark.read.parquet(*glob.glob(corpus_glob))
    assert "sem_cid" in first.columns, "corpus carries the semantic index"
    accepted = sorted(
        r["doc_id"] for r in first.select("doc_id").collect())[:6]
    assert accepted

    ids = ", ".join(str(i) for i in accepted)
    para = docs.where(f"doc_id IN ({ids})").selectExpr(
        "doc_id + 800000 AS doc_id", "lang",
        "array_join(array_sort(split(text, ' ')), ' ') AS text")
    novel = spark.range(1).selectExpr(
        "id + 880000 AS doc_id", "'en' AS lang",
        "concat('qzv gnu yak ', repeat('the a and of is to in ', 40))"
        " AS text")
    drop(para.unionAll(novel), "b2")
    q.processAllAvailable()
    q.stop()

    audit = spark.read.parquet(
        *glob.glob(os.path.join(out_dir, "audit", "batch-*")))
    paras = audit.where("doc_id >= 800000 AND doc_id < 880000").collect()
    assert len(paras) == len(accepted)
    assert all(r["sem_dup"] for r in paras)
    assert not any(r["final_keep"] for r in paras)
    # sem_dup_of names a STORED doc (min matching id — the canonical-
    # keeper convention; another stored doc may sit within tau too, so
    # it need not be this paraphrase's own original)
    all_accepted = {r["doc_id"] for r in first.select("doc_id").collect()}
    assert all(r["sem_dup_of"] in all_accepted for r in paras)
    # the gap is real: the band gate alone missed at least one
    assert any(not r["stream_near_dup"] for r in paras)
    nov = audit.where("doc_id = 880000").collect()
    assert nov and not nov[0]["sem_dup"]


def test_curate_stream_once_cli_stats(spark, tmp_path):
    """Round 13: `--stream --once` prints a BALANCED stats line
    (docs == kept + sum(rejected), accepted_total == kept) with
    disjoint causes including sem_dup — the stream-side parity of the
    batch stats contract, aggregated over every written audit epoch."""
    import shutil

    from pqstream_spark.curate import main
    from pqstream_spark.sources.tables import load_table

    in_dir = str(tmp_path / "so_in")
    out_dir = str(tmp_path / "so_out")
    cp = str(tmp_path / "so_cp")
    os.makedirs(in_dir)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").selectExpr(
        "doc_id", "lang", "text")

    def drop(df, name):
        stage = str(tmp_path / ("so_stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, part),
                    os.path.join(in_dir, name + ".parquet"))

    argv = ["--documents", in_dir, "--out", out_dir, "--stream",
            "--checkpoint", cp, "--once", "--semantic-dedup"]

    drop(docs.where("doc_id < 40"), "b1")
    buf = io.StringIO()
    assert main(argv, out=buf) == 0
    s1 = json.loads(buf.getvalue())
    assert s1["docs"] == 40
    assert s1["accepted_total"] == s1["kept"] > 0
    assert s1["kept"] + sum(s1["rejected"].values()) == s1["docs"]

    # second run on the same checkpoint: only the new file processes;
    # paraphrases of batch-1 docs are sem_dup-rejected and the
    # aggregated stats line names the cause
    drop(docs.where("doc_id < 5").selectExpr(
        "doc_id + 770000 AS doc_id", "lang",
        "array_join(array_sort(split(text, ' ')), ' ') AS text"), "b2")
    buf2 = io.StringIO()
    assert main(argv, out=buf2) == 0
    s2 = json.loads(buf2.getvalue())
    assert s2["docs"] == 45
    assert s2["rejected"].get("sem_dup", 0) >= 1
    assert s2["kept"] + sum(s2["rejected"].values()) == s2["docs"]
    assert s2["accepted_total"] == s2["kept"]


def test_curate_stream_semantic_within_batch_and_mixed_history(
        spark, tmp_path):
    """Round-13 review fixes: (a) with --batch-selfdedup the semantic
    gate ALSO runs within the batch — two same-batch paraphrases are
    not both admitted; (b) prior corpus history that PREDATES the
    semantic flag (no sem columns) must not hide the sem columns of
    later batches (mergeSchema) — paraphrases of flag-era docs are
    still caught."""
    import glob
    import shutil

    from pqstream_spark.curate import curate_stream
    from pqstream_spark.sources.tables import load_table

    in_dir = str(tmp_path / "swb_in")
    out_dir = str(tmp_path / "swb_out")
    cp = str(tmp_path / "swb_cp")
    os.makedirs(in_dir)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").selectExpr(
        "doc_id", "lang", "text")

    def drop(df, name):
        stage = str(tmp_path / ("swb_stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, part),
                    os.path.join(in_dir, name + ".parquet"))

    # epoch 0: flag OFF — corpus history without sem columns
    drop(docs.where("doc_id < 20"), "b0")
    q = curate_stream(spark, in_dir, out_dir, checkpoint_dir=cp)
    q.processAllAvailable()
    q.stop()

    # epoch 1 (flag ON): novel docs + a SAME-BATCH paraphrase pair
    pair_orig = docs.where("doc_id = 30").selectExpr(
        "doc_id + 500000 AS doc_id", "lang", "text")
    pair_para = docs.where("doc_id = 30").selectExpr(
        "doc_id + 500001 AS doc_id", "lang",
        "array_join(array_sort(split(text, ' ')), ' ') AS text")
    drop(docs.where("doc_id >= 20 AND doc_id < 40")
         .unionAll(pair_orig).unionAll(pair_para), "b1")
    q = curate_stream(spark, in_dir, out_dir, checkpoint_dir=cp,
                      semantic_dedup=True, batch_selfdedup=True)
    q.processAllAvailable()

    audit_glob = os.path.join(out_dir, "audit", "batch-*")
    audit = spark.read.option("mergeSchema", "true").parquet(
        *glob.glob(audit_glob))
    para_row = audit.where("doc_id = 500031").collect()  # 500001 + 30
    assert para_row and para_row[0]["batch_sem_dup"] is True
    assert para_row[0]["final_keep"] is False, (
        "same-batch paraphrase admitted despite --batch-selfdedup "
        "--semantic-dedup")

    # epoch 2: paraphrases of FLAG-ERA accepted docs — the sem-less
    # epoch-0 dirs are in `prior` too; mergeSchema must keep the index
    corpus = spark.read.option("mergeSchema", "true").parquet(
        *glob.glob(os.path.join(out_dir, "corpus", "batch-*")))
    flag_era = sorted(
        r["doc_id"] for r in corpus.where(
            "sem_cid IS NOT NULL AND doc_id < 40")
        .select("doc_id").collect())[:3]
    assert flag_era, "no flag-era accepted docs with sem index"
    ids = ", ".join(str(i) for i in flag_era)
    drop(docs.where(f"doc_id IN ({ids})").selectExpr(
        "doc_id + 600000 AS doc_id", "lang",
        "array_join(array_sort(split(text, ' ')), ' ') AS text"), "b2")
    q.processAllAvailable()
    q.stop()
    audit2 = spark.read.option("mergeSchema", "true").parquet(
        *glob.glob(audit_glob))
    paras = audit2.where("doc_id >= 600000").collect()
    assert len(paras) == len(flag_era)
    assert all(r["sem_dup"] for r in paras), (
        "mixed-schema prior history hid the semantic index")
    assert not any(r["final_keep"] for r in paras)


def test_curate_semantic_megacell_bounded(spark):
    """Round 14 (VERDICT r13 what's-wrong #1): the batch CLI's
    semantic dedup runs the certified capped/skew-chunked GEMM chain
    (`_semdedup_spark_df` at nprobe=1, the same builder q_pairwise
    runs at nprobe=2), not a per-pair interpreted HOF join — a
    planted mega-cell (9000 docs whose identical embeddings collapse
    into ONE k-means cell, ~40M candidate pairs) completes in bounded
    time (the old zip_with-per-pair join materialized the pair
    explosion), splits across SEMDEDUP_CHUNK_ROWS chunk tasks, and
    every clone is dominated by the smallest id."""
    import time

    from pqstream_spark.curate import curate

    n = 9000
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliett kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu")
    docs = spark.range(n).selectExpr(
        "id + 100 AS doc_id", "'en' AS lang", f"'{base}' AS text")
    t0 = time.monotonic()
    cur = curate(docs, semantic_dedup=True)
    rows = {r["doc_id"]: r for r in
            cur.select("doc_id", "sem_dup", "sem_dup_of").collect()}
    wall = time.monotonic() - t0
    assert len(rows) == n
    assert not rows[100]["sem_dup"]  # the smallest id is the keeper
    dropped = [r for i, r in rows.items() if i != 100]
    assert all(r["sem_dup"] for r in dropped)
    assert all(r["sem_dup_of"] == 100 for r in dropped)
    assert wall < 240, f"mega-cell semantic dedup took {wall:.0f}s"


def test_curate_stream_codebook_regrowth(spark, tmp_path, monkeypatch):
    """Round 14 (VERDICT r13 #2): the stream gate's codebook GROWS
    with the accumulated corpus. With SEMDEDUP_TARGET_CELL pinned to 1
    (so semdedup_auto_k(n) = max(32, n)), a few epochs push the stored
    index past 2x the v1 codebook — the gate retrains at the new
    auto-k, re-assigns the WHOLE index into a retag dir, bumps the
    persisted version, and removes the superseded version's dirs.
    Paraphrase rejection holds ACROSS the retrain boundary: docs
    accepted under v1 still dominate their paraphrases under the
    regrown codebook."""
    import glob
    import shutil

    from pqstream_spark.curate import curate_stream
    from pqstream_spark.queries import llm
    from pqstream_spark.sources.tables import load_table

    monkeypatch.setattr(llm, "SEMDEDUP_TARGET_CELL", 1)

    in_dir = str(tmp_path / "rg_in")
    out_dir = str(tmp_path / "rg_out")
    cp = str(tmp_path / "rg_cp")
    os.makedirs(in_dir)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").selectExpr(
        "doc_id", "lang", "text")

    def drop(df, name):
        stage = str(tmp_path / ("rg_stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, part),
                    os.path.join(in_dir, name + ".parquet"))

    cb_path = os.path.join(out_dir, "semdedup_codebook.json")
    q = curate_stream(spark, in_dir, out_dir, checkpoint_dir=cp,
                      semantic_dedup=True)
    # a SMALL first batch trains a small v1 codebook ...
    drop(docs.where("doc_id < 20"), "b1")
    q.processAllAvailable()
    with open(cb_path) as f:
        v1 = json.load(f)
    assert v1["version"] == 1
    # ... then bigger batches outgrow it
    drop(docs.where("doc_id >= 20 AND doc_id < 100"), "b2")
    q.processAllAvailable()
    drop(docs.where("doc_id >= 100 AND doc_id < 180"), "b3")
    q.processAllAvailable()
    drop(docs.where("doc_id >= 180 AND doc_id < 260"), "b4")
    q.processAllAvailable()
    drop(docs.where("doc_id >= 260 AND doc_id < 340"), "b5")
    q.processAllAvailable()
    with open(cb_path) as f:
        now = json.load(f)
    assert now["version"] >= 2, "codebook never regrew"
    assert now["k"] >= 2 * v1["k"], "regrowth did not increase k"
    sem_dirs = glob.glob(os.path.join(out_dir, "index", "sem", "v*"))
    assert sem_dirs
    pref = f"v{now['version']:03d}-"
    assert all(os.path.basename(p).startswith(pref) for p in sem_dirs), (
        "superseded codebook-version dirs were not cleaned up")
    assert any(p.endswith("-retag") for p in sem_dirs), (
        "regrowth did not re-assign the stored index")

    # cross-boundary rejection: paraphrases of v1-era accepted docs
    first = spark.read.parquet(
        os.path.join(out_dir, "corpus", "batch-000000000"))
    v1_ids = sorted(r["doc_id"] for r in first.where(
        "sem_cid IS NOT NULL").select("doc_id").collect())[:5]
    assert v1_ids, "no v1-era accepted docs with a semantic cell"
    ids = ", ".join(str(i) for i in v1_ids)
    drop(docs.where(f"doc_id IN ({ids})").selectExpr(
        "doc_id + 700000 AS doc_id", "lang",
        "array_join(array_sort(split(text, ' ')), ' ') AS text"), "b6")
    q.processAllAvailable()
    q.stop()
    audit = spark.read.option("mergeSchema", "true").parquet(
        *glob.glob(os.path.join(out_dir, "audit", "batch-*")))
    paras = audit.where("doc_id >= 700000").collect()
    assert len(paras) == len(v1_ids)
    assert all(r["sem_dup"] for r in paras), (
        "paraphrase of a pre-regrowth doc escaped the regrown index")
    assert not any(r["final_keep"] for r in paras)


def test_stream_index_reads_prune_partitions(spark, tmp_path):
    """Round 14 (VERDICT r13 #4): each micro-batch's history joins
    read ONLY the partitions the batch probes. Execution-level pin:
    after streaming real epochs, every partition file OUTSIDE one
    probed group is overwritten with garbage — the pruned read still
    succeeds (it never opens them) while an unpruned scan fails."""
    import glob
    import shutil

    import pytest as _pytest

    from pqstream_spark.curate import (
        _pruned_band_index,
        _sem_index_rows,
        curate_stream,
    )
    from pqstream_spark.sources.tables import load_table

    in_dir = str(tmp_path / "pr_in")
    out_dir = str(tmp_path / "pr_out")
    cp = str(tmp_path / "pr_cp")
    os.makedirs(in_dir)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").selectExpr(
        "doc_id", "lang", "text")

    def drop(df, name):
        stage = str(tmp_path / ("pr_stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, part),
                    os.path.join(in_dir, name + ".parquet"))

    drop(docs.where("doc_id < 40"), "b1")
    q = curate_stream(spark, in_dir, out_dir, checkpoint_dir=cp,
                      semantic_dedup=True)
    q.processAllAvailable()
    drop(docs.where("doc_id >= 40 AND doc_id < 80"), "b2")
    q.processAllAvailable()
    q.stop()

    bands_dir = os.path.join(out_dir, "index", "bands")
    sem_dir = os.path.join(out_dir, "index", "sem")
    bfiles = glob.glob(os.path.join(bands_dir, "batch-*", "bg=*", "*"))
    sfiles = glob.glob(os.path.join(sem_dir, "v*", "sg=*", "*"))
    assert bfiles and sfiles, "index dirs not written"
    bg_keep = int(os.path.basename(os.path.dirname(bfiles[0]))[3:])
    sg_keep = int(os.path.basename(os.path.dirname(sfiles[0]))[3:])
    for f in bfiles:
        if f"/bg={bg_keep}/" not in f:
            with open(f, "wb") as fh:
                fh.write(b"not parquet")
    for f in sfiles:
        if f"/sg={sg_keep}/" not in f:
            with open(f, "wb") as fh:
                fh.write(b"not parquet")

    # pruned reads never touch the poisoned partitions
    bdf = _pruned_band_index(spark, bands_dir, [], 99, [bg_keep])
    assert bdf is not None and bdf.count() > 0
    sdf = _sem_index_rows(spark, sem_dir, [], 1, 99, sgs=[sg_keep])
    assert sdf is not None and sdf.count() > 0

    # an UNPRUNED scan of the same dirs proves the poison is real
    poisoned = [f for f in bfiles if f"/bg={bg_keep}/" not in f]
    if poisoned:
        with _pytest.raises(Exception):
            spark.read.parquet(
                os.path.dirname(os.path.dirname(poisoned[0]))).count()
