"""Round-6 certification branches: the library implementations
(functions/pq.py, functions/embeddings.py, functions/bpe.py) are tied
value-exactly to the SQL the DuckDB oracle now checks every round
(`pq_adc` + `embed_hash` branches of sim_ann_lsh_quantized; the
`n_bpe_frozen` column of text_annotations).

The oracle certifies Spark-SQL == DuckDB-SQL; these tests certify
Spark-SQL == the production library path, closing the triangle."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_pq_static_encode_equals_hof_sql(spark):
    """Production `pq_encode` (static whole-stage-codegen sums) and the
    certified compact HOF SQL produce identical packed codes under the
    demo codebooks."""
    from pqstream_spark.functions.pq import (
        demo_books,
        pq_encode,
        pq_encode_hof_expr,
    )
    from pqstream_spark.queries.llm import _norm2_expr, _norm_vec_expr
    from pqstream_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding"
    )
    books = demo_books()
    static = {r["vec_id"]: r["code"]
              for r in pq_encode(emb, books).collect()}

    nv = _norm_vec_expr(True)
    n2 = _norm2_expr(True)
    base = emb.where(f"{n2} > 0").selectExpr(
        "vec_id",
        f"transform({nv}, x -> CAST(round(x * 127, 0) AS BIGINT)) AS qv",
    ).localCheckpoint(eager=True)
    hof = {r["vec_id"]: r["code"]
           for r in base.selectExpr(
               "vec_id", f"{pq_encode_hof_expr(books, True)} AS code"
           ).collect()}
    assert static == hof and len(static) == 500


def test_embed_documents_matches_certified_bk(spark):
    """The dense arrays embed_documents produces are exactly the
    sparse (doc_id, bucket, v) relation the certified branch scores
    over — same md5-nibble hash, same term-frequency sums."""
    from pqstream_spark.functions.embeddings import embed_documents
    from pqstream_spark.queries.llm import _embed_bk_sql, register_views

    register_views(spark, SF_SMOKE)
    bk = {}
    for r in spark.sql(_embed_bk_sql(True)).collect():
        bk.setdefault(r["doc_id"], {})[r["bucket"]] = r["v"]

    # rebuild the same near-dup corpus the branch CTE uses
    corpus = spark.sql("""
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id,
               substring(text, 1, greatest(length(text) - 7, 1)) AS text
        FROM documents
    """)
    dense = embed_documents(corpus)
    rows = dense.collect()
    assert len(rows) == 1000
    for r in rows:
        want = bk.get(r["vec_id"], {})
        got = {i: int(v) for i, v in enumerate(r["embedding"]) if v != 0}
        # the sparse relation keeps explicit v=0 rows where +1/-1 signs
        # cancel inside a bucket; they contribute nothing to norms or
        # dots, and the dense array just holds 0 there
        assert got == {int(b): int(v) for b, v in want.items()
                       if int(v) != 0}, r["vec_id"]


def test_bpe_sql_chain_equals_python_segmenter(spark, duck):
    """The boundary-safe replace-chain SQL (both dialects) counts
    exactly what the Python `_segment_word` priority algorithm counts,
    over the driver documents AND adversarial strings (runs of
    repeated symbols, empty, punctuation-only)."""
    from pqstream_spark.functions.bpe import (
        FROZEN_MERGES,
        bpe_count_sql,
        bpe_segment,
        bpe_token_counts,
    )

    assert len(FROZEN_MERGES) == 40

    # driver documents
    sdf = spark.sql(
        f"SELECT doc_id, {bpe_count_sql(FROZEN_MERGES, True)} AS n "
        "FROM documents ORDER BY doc_id"
    )
    spark_counts = [(r["doc_id"], r["n"]) for r in sdf.collect()]
    duck_counts = duck.execute(
        f"SELECT doc_id, {bpe_count_sql(FROZEN_MERGES, False)} AS n "
        "FROM documents ORDER BY doc_id"
    ).fetchall()
    assert spark_counts == duck_counts
    docs = spark.table("documents").select("doc_id", "text")
    py = {r["doc_id"]: r["n_bpe_tokens"]
          for r in bpe_token_counts(docs, FROZEN_MERGES).collect()}
    assert all(py[d] == n for d, n in spark_counts)

    # adversarial strings: repeated-pair runs (the overlap case the
    # boundary-safe cells exist for), empties, non-ascii, digits
    ranks = {tuple(m): i for i, m in enumerate(FROZEN_MERGES)}
    cases = ["", "   ", "!!!", "aaaaaaa", "the the the the",
             "ababababab", "stream stream streams streaming",
             "the quick brown fox", "lowest newest widest",
             "x", "42 tokens 42", "thethethe", "éé unicode stays out",
             "merge merge merge merge merge merge"]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                               "doc_id long, text string")
    df.createOrReplaceTempView("_bpe_cases")
    got = {r["doc_id"]: r["n"] for r in spark.sql(
        f"SELECT doc_id, {bpe_count_sql(FROZEN_MERGES, True, 'text')} AS n "
        "FROM _bpe_cases").collect()}
    for i, c in enumerate(cases):
        assert got[i] == len(bpe_segment(c, ranks)), (c, got[i])
    spark.catalog.dropTempView("_bpe_cases")


def test_levenshtein_branch_hand_computed(spark):
    """Round-8 branch: the bounded-tail-window edit distance against
    hand-computable fixtures. Short doc (shorter than the window):
    the whole original vs its 7-char-truncated copy — exactly 7
    deletions, not a near-dup (7·5 > 18). Long periodic doc (period
    36, longer than the window): the two tail windows are the same
    cyclic stream shifted by 7, and no alignment beats drop-7-front /
    add-7-back — exactly 14, a near-dup (14·5 <= 120). Runs the REAL
    branch SQL over a substituted documents view; DuckDB runs the
    oracle dialect on the same fixtures (cross-engine equality on
    crafted, not just driver, data)."""
    import duckdb

    from pqstream_spark.queries.llm import LEV_WINDOW, _levenshtein_sql

    assert LEV_WINDOW == 120
    import string

    alphabet = (string.ascii_lowercase + string.digits)  # period 36
    long_text = "".join(alphabet[i % 36] for i in range(300))
    short_text = "abcdefghij xyz123!"  # 18 chars
    rows = [(1, short_text), (2, long_text)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("documents")
    try:
        got = {
            (r["doc_a"], r["doc_b"]): (r["lev"], r["lev_near_dup"])
            for r in spark.sql(_levenshtein_sql(True)).collect()
        }
    finally:
        spark.catalog.dropTempView("documents")
    assert got[(1, 100001)] == (7, False), got
    assert got[(2, 100002)] == (14, True), got

    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                "(1, ?), (2, ?)) t(doc_id, text)", [short_text, long_text])
    want = {
        (a, b): (lev, nd)
        for a, b, lev, nd in con.execute(_levenshtein_sql(False)).fetchall()
    }
    assert want == got, "oracle dialect must match on crafted fixtures"


def test_sim_ann_branch_quality(spark):
    """The certified branches behave like the operators they certify:
    embed_hash surfaces each original's planted near-copy; pq_adc
    returns a full top-5 per query with integer-exact scores."""
    from pqstream_spark.queries.llm import q_sim_ann

    rows = q_sim_ann(spark, SF_SMOKE).collect()
    by_method = {}
    for r in rows:
        by_method.setdefault(r["method"], []).append(r)
    assert set(by_method) == {"lsh_hyperplane", "int8_quantized",
                              "pq_adc", "pq_adc_residual", "embed_hash"}
    top1 = {r["q_id"]: r["c_id"]
            for r in by_method["embed_hash"] if r["rn"] == 1}
    hits = sum(1 for q, c in top1.items() if c == q + 100000)
    # 7/10 at the 500-doc smoke SF (near-identical docs occasionally
    # outrank the 7-char-truncated copy), 9/10 at sf0.01 — the pin is
    # "well above chance", the exact-match half is the oracle's job
    assert hits >= 6, f"near-copy retrieval degenerated: {top1}"
    adc = by_method["pq_adc"]
    assert len(adc) == 50 and all(float(r["score"]).is_integer()
                                  for r in adc)


def test_pq_adc_residual_branch_decomposition(spark):
    """The round-7 residual branch scores ARE the exact IVFADC
    decomposition: T-table scoring equals dot(q, centroid(cell) +
    reconstructed residual) recomputed driver-side from demo constants
    — integer-exact, so any drift in cell assignment, residual
    arithmetic, packing, or the folded coarse term shows up here
    before the oracle hash does."""
    import numpy as np

    from pqstream_spark.functions.pq import demo_books, demo_coarse_codebook
    from pqstream_spark.queries.llm import (
        _norm_vec_expr,
        _residual_rel_sql,
        q_sim_ann,
    )
    from pqstream_spark.sources.tables import load_table

    rows = [r for r in q_sim_ann(spark, SF_SMOKE).collect()
            if r["method"] == "pq_adc_residual"]
    assert len(rows) == 50 and all(
        float(r["score"]).is_integer() for r in rows)

    books, coarse = demo_books(), np.array(demo_coarse_codebook())
    emb = load_table(spark, SF_SMOKE, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding")
    nv = _norm_vec_expr(True)
    qv_rows = {r["vec_id"]: np.array(r["qv"], dtype=np.int64)
               for r in emb.selectExpr(
        "vec_id",
        f"transform({nv}, x -> CAST(round(x * 127, 0) AS BIGINT)) AS qv",
    ).where("vec_id < 600").collect()}
    # recompute cell + residual code driver-side from the same demo math
    m, sub = len(books), len(books[0][0])

    def cell_of(qv):
        return int((qv @ coarse.T).argmax())  # first-max, 0-based

    def code_of(rv):
        code = 0
        for mi in range(m):
            x = rv[mi * sub:(mi + 1) * sub]
            costs = [sum((int(a) - b) ** 2 for a, b in zip(x, cv))
                     for cv in books[mi]]
            code |= costs.index(min(costs)) << (4 * mi)
        return code

    checked = 0
    for r in rows[:20]:
        q, c = qv_rows[r["q_id"]], qv_rows[r["c_id"]]
        cell = cell_of(c)
        rv = c - coarse[cell]
        code = code_of(rv)
        recon = coarse[cell].copy()
        for mi in range(m):
            recon[mi * sub:(mi + 1) * sub] += np.array(
                books[mi][(code >> (4 * mi)) & 15])
        want = int(q @ recon)
        assert int(r["score"]) == want, (r, want)
        checked += 1
    assert checked == 20


def test_semdedup_codebook_replica_matches_sql(spark):
    """The driver-side numpy/Fraction trainer (`_semdedup_train_
    codebook`) must be value-identical to the SQL training chain the
    DuckDB oracle runs (`_ivf_train_cte` at k=SEMDEDUP_K): integer
    seeds/assignment are exact by construction, and the centroid
    update's round-half-away-from-zero-on-the-IEEE-average is
    replicated in exact rationals. A drift here would silently split
    the semdedup branch from its oracle."""
    import uuid

    from pqstream_spark.queries.llm import (
        SEMDEDUP_K,
        _ivf_train_cte,
        _semdedup_sq_sql,
        _semdedup_train_codebook,
        register_views,
    )

    register_views(spark, SF_SMOKE)
    vsq = f"_cb_pin_{uuid.uuid4().hex[:8]}"
    spark.sql(_semdedup_sq_sql(True)) \
        .localCheckpoint(eager=True).createOrReplaceTempView(vsq)
    try:
        sql_cs = spark.sql(
            "WITH " + _ivf_train_cte(True, base=vsq, k_cells=SEMDEDUP_K)
            + " SELECT cs FROM cents1").collect()[0][0]
        np_cs = _semdedup_train_codebook(spark, vsq)
    finally:
        spark.catalog.dropTempView(vsq)
    assert [[int(c) for c in cv] for cv in sql_cs] == np_cs


def test_semdedup_branch_drops_planted_near_copies(spark):
    """SemDeDup decision semantics on the near-dup corpus: every
    emitted row is a DROP (id_b < id_a, quantized cosine ≥ τ), and the
    planted 7-char-truncated copies are overwhelmingly dropped against
    their own originals (the cross-cluster recall trade loses only the
    copies that straddle a k-means boundary)."""
    from pqstream_spark.queries.llm import SEMDEDUP_TAU, q_pairwise

    rows = [r for r in q_pairwise(spark, SF_SMOKE).collect()
            if r["method"] == "semdedup"]
    assert rows, "branch emits"
    for r in rows:
        assert r["id_b"] < r["id_a"]
        assert r["score"] >= SEMDEDUP_TAU
        assert r["near_dup"] is True
    planted = [r for r in rows
               if r["id_a"] >= 100000 and r["id_b"] == r["id_a"] - 100000]
    # 357/452 on the driver corpus; anything above half proves the
    # pipeline pairs copies with THEIR originals, not just anything
    assert len(planted) / len(rows) > 0.5, (len(planted), len(rows))


def test_semdedup_codebook_memoized_per_corpus(spark):
    """Round 12 (VERDICT r11 #2): the codebook training and the
    cell-width count are deterministic functions of the corpus, so a
    second q_pairwise invocation in one session must spawn ZERO extra
    driver round-trips for them — pinned by stubbing both helpers to
    raise after the first run. The memo keys on the `documents` plan's
    semanticHash, so a shadow_views substitution (a different corpus)
    must MISS and retrain."""
    from pqstream_spark.queries import llm
    from pqstream_spark.sources.tables import register_views, shadow_views

    register_views(spark, SF_SMOKE)
    llm._SEMDEDUP_MEMO.clear()

    def sd_rows(df):
        return sorted(
            (r["id_a"], r["id_b"], r["score"])
            for r in df.collect() if r["method"] == "semdedup")

    first = sd_rows(llm.q_pairwise(spark, SF_SMOKE))
    # one memo entry for the single np1+np2 pass (both probe widths
    # share one assignment + one GEMM, so one codebook/width entry)
    # plus one for the semantic_cross branch (its corpus-side codebook
    # AND its pruned-cell width dict), both under the same corpus key
    assert first and len(llm._SEMDEDUP_MEMO) == 2
    orig_train = llm._semdedup_train_codebook
    orig_widths = llm._semdedup_cell_widths

    def _boom(*a, **k):
        raise AssertionError(
            "semdedup retrained/recounted despite a warm memo")

    llm._semdedup_train_codebook = _boom
    llm._semdedup_cell_widths = _boom
    try:
        again = sd_rows(llm.q_pairwise(spark, SF_SMOKE))
        assert again == first
        # a SHADOWED corpus is a different plan hash: the memo must
        # miss (here: loudly hit the stub instead of serving stale
        # cells for a corpus it never saw)
        import pytest as _pytest

        docs = spark.table("documents").limit(50)
        with shadow_views(spark, documents=docs):
            with _pytest.raises(Exception, match="retrained|recounted"):
                llm.q_pairwise(spark, SF_SMOKE).collect()
    finally:
        llm._semdedup_train_codebook = orig_train
        llm._semdedup_cell_widths = orig_widths


def test_semdedup_nprobe2_catches_boundary_pair(spark):
    """Round 12 (VERDICT r11 #4): the paper's cross-cell recall trade
    made tunable. A planted near-duplicate pair straddling a k-means
    boundary — each member assigned to a different cell, cosine far
    above τ — is MISSED at nprobe=1 (by construction: within-cell
    only) and CAUGHT at nprobe=2 (each vector also lands in its
    second-best cell, so the pair meets in a shared cell), with one
    row per dropped doc. The corpus is built so the trained codebook
    is exactly two axis cells: only two vec_ids pass the training
    sample predicate, one per axis."""
    import uuid

    from pqstream_spark.functions.sampling import (
        A, B, DEFAULT_THRESHOLD, M,
    )
    from pqstream_spark.queries.llm import (
        SEMDEDUP_TAU,
        _semdedup_spark_df,
    )

    def passes(i: int) -> bool:
        return ((i % M) * A + B) % M < DEFAULT_THRESHOLD

    in_sample = [i for i in range(1, 4000) if passes(i)][:2]
    out_sample = [i for i in range(1, 4000) if not passes(i)][:2]
    dim = 64

    def vec(*pairs):
        v = [0] * dim
        for idx, val in pairs:
            v[idx] = val
        return v

    # training rows: one per axis -> codebook = [(127,0,...),(0,127,...)]
    rows = [
        (in_sample[0], vec((0, 127))),
        (in_sample[1], vec((1, 127))),
        # the boundary pair: nearly identical (cos = 19800/19801), but
        # v_a tilts to axis 0 and v_b to axis 1 -> different best cells
        (out_sample[0], vec((0, 100), (1, 99))),
        (out_sample[1], vec((0, 99), (1, 100))),
    ]
    assert (100 * 99 * 2) / (100 ** 2 + 99 ** 2) > SEMDEDUP_TAU
    vsq = f"_np2_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame(
        rows, "vec_id long, qv array<bigint>"
    ).createOrReplaceTempView(vsq)
    try:
        np1, np2 = _semdedup_spark_df(spark, vsq, nprobe=2)
        got1 = {(r.id_a, r.id_b) for r in np1.collect()}
        got2 = {(r.id_a, r.id_b) for r in np2.collect()}
    finally:
        spark.catalog.dropTempView(vsq)
    a, b = sorted(out_sample[:2])
    # nprobe=1 misses the straddling pair entirely
    assert (b, a) not in got1 and (a, b) not in got1
    # nprobe=2 drops the larger id against the smaller, exactly once
    assert (b, a) in got2
    assert len([p for p in got2 if p[0] == b]) == 1


def test_semdedup_auto_k_bounds_cells(spark):
    """Round 13 (VERDICT r12 #4): the k ∝ n contract is automated —
    k = max(SEMDEDUP_K, ceil(n / SEMDEDUP_TARGET_CELL)) — so a larger
    corpus gets proportionally more cells WITHOUT manual retuning, the
    driver-SF k stays exactly SEMDEDUP_K (certified hashes unmoved),
    k folds into the memo key (a k change always retrains), and
    _corpus_memo_key carries the (count, max doc_id) corpus
    fingerprint — computed as one CHEAP aggregate over the raw
    documents view, never the quantized relation — so in-place data
    changes under an unchanged plan retrain instead of serving a
    stale codebook (ADVICE r12 low)."""
    import uuid

    from pqstream_spark.queries import llm

    # the literal contract
    assert llm.semdedup_auto_k(0) == llm.SEMDEDUP_K
    assert llm.semdedup_auto_k(
        llm.SEMDEDUP_K * llm.SEMDEDUP_TARGET_CELL) == llm.SEMDEDUP_K
    assert llm.semdedup_auto_k(
        llm.SEMDEDUP_K * llm.SEMDEDUP_TARGET_CELL + 1) == llm.SEMDEDUP_K + 1
    assert llm.semdedup_auto_k(200 * llm.SEMDEDUP_TARGET_CELL) == 200

    def build(n: int) -> str:
        view = f"_autok_{uuid.uuid4().hex[:8]}"
        spark.range(n).selectExpr(
            "id AS vec_id",
            "transform(sequence(0, 63), i -> "
            "CAST(pmod(xxhash64(id * 64 + i), 255) - 127 AS BIGINT))"
            " AS qv",
        ).localCheckpoint(eager=True).createOrReplaceTempView(view)
        return view

    n_small, n_big = 2_048, 24_576  # k floors at 32, then k = 48
    counts = {"train": 0}
    orig = llm._semdedup_train_codebook

    def counting(spark_, vsq_, k=None):
        counts["train"] += 1
        counting.last_k = k
        return orig(spark_, vsq_, k=k)

    llm._semdedup_train_codebook = counting
    try:
        key = ("autok-test", 1)
        v1 = build(n_small)
        llm._semdedup_spark_df(spark, v1, memo_key=key)
        assert counting.last_k == llm.SEMDEDUP_K
        v2 = build(n_big)
        # SAME vouched memo key, grown data (the in-place-change
        # shape): the changed k must force a retrain
        llm._semdedup_spark_df(spark, v2, memo_key=key)
        assert counts["train"] == 2
        assert counting.last_k == llm.semdedup_auto_k(n_big) == 48
        # cells stay bounded without manual K: widths live in the memo
        fk = (*key, 1, 48)
        cs, widths = llm._SEMDEDUP_MEMO[fk]
        assert len(cs) > llm.SEMDEDUP_K, "auto-k grew the codebook"
        assert max(widths.values()) < llm.SEMDEDUP_CELL_HARD_CAP
        assert sum(widths.values()) == n_big
        # same data again under the same key: memo hit, no retrain
        llm._semdedup_spark_df(spark, v2, memo_key=key)
        assert counts["train"] == 2
    finally:
        llm._semdedup_train_codebook = orig
        for v in (v1, v2):
            spark.catalog.dropTempView(v)

    # the q_pairwise-path fingerprint: _corpus_memo_key aggregates
    # (count, max doc_id) over the RAW documents view — the cheap
    # in-place-change detector the vouched memo key rides on
    from pqstream_spark.queries.llm import (
        _corpus_memo_key,
        register_views,
    )

    register_views(spark, SF_SMOKE)
    mk = _corpus_memo_key(spark, "documents", "doc_id")
    assert mk is not None and len(mk) == 4
    n_docs = spark.table("documents").count()
    max_id = spark.sql("SELECT MAX(doc_id) FROM documents").first()[0]
    assert mk[2] == n_docs and mk[3] == int(max_id)


def test_semdedup_np1_np2_match_duckdb_tail(spark):
    """The one within-set builder `_semdedup_spark_df` emits, at both
    probe widths, exactly the rows DuckDB's oracle tail
    (`_semdedup_tail_sql(False, 'lab')`) decides over a `lab` assigned
    under the SAME trained codebook — first-argmax cells for np1; best
    and second-best memberships, ranked by (-dot, cid) like
    `_probe_cells_frag`, for np2. The np1 frame is checked from both
    the nprobe=1 call (the curate CLI's) and the nprobe=2 call
    (q_pairwise's). Fixtures: (a) a multi-cell hash corpus dense in
    within-cell clone decisions, and (b) the axis-seeded boundary
    corpus where nprobe=2 adds cross-cell-only decisions nprobe=1
    cannot see."""
    import uuid

    import duckdb

    from pqstream_spark.functions.sampling import (
        A, B, DEFAULT_THRESHOLD, M,
    )
    from pqstream_spark.queries.llm import (
        _semdedup_spark_df,
        _semdedup_tail_sql,
        _semdedup_train_codebook,
    )

    def duck_decisions(rows, cs, nprobe):
        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE sq (vec_id BIGINT, qv BIGINT[])")
            con.executemany("INSERT INTO sq VALUES (?, ?)", rows)
            con.execute("CREATE TABLE cb (cid INTEGER, cv BIGINT[])")
            con.executemany("INSERT INTO cb VALUES (?, ?)",
                            [(i + 1, cv) for i, cv in enumerate(cs)])
            # dots of integers < 2^21 are exact in DOUBLE
            con.execute(f"""
CREATE TABLE lab AS
SELECT vec_id, qd, n2q, cid FROM (
  SELECT s.vec_id, CAST(s.qv AS DOUBLE[]) AS qd,
         list_dot_product(CAST(s.qv AS DOUBLE[]),
                          CAST(s.qv AS DOUBLE[])) AS n2q,
         c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY s.vec_id
           ORDER BY list_dot_product(CAST(s.qv AS DOUBLE[]),
                                     CAST(c.cv AS DOUBLE[])) DESC,
                    c.cid) AS rk
  FROM sq s CROSS JOIN cb c) t
WHERE rk <= {nprobe}""")
            return {tuple(r) for r in con.execute(
                "WITH " + _semdedup_tail_sql(False, "lab")).fetchall()}
        finally:
            con.close()

    def check(rows):
        vsq = f"_sd_duck_{uuid.uuid4().hex[:8]}"
        spark.createDataFrame(
            rows, "vec_id long, qv array<bigint>"
        ).createOrReplaceTempView(vsq)
        try:
            cs = _semdedup_train_codebook(spark, vsq)
            only1, none2 = _semdedup_spark_df(spark, vsq)
            np1, np2 = _semdedup_spark_df(spark, vsq, nprobe=2)
            got_only1 = {tuple(r) for r in only1.collect()}
            got1 = {tuple(r) for r in np1.collect()}
            got2 = {tuple(r) for r in np2.collect()}
        finally:
            spark.catalog.dropTempView(vsq)
        assert none2 is None
        want1 = duck_decisions(rows, cs, 1)
        want2 = duck_decisions(rows, cs, 2)
        assert got_only1 == want1
        assert got1 == want1
        assert got2 == want2
        return want1, want2

    # (a) hash-noise base + planted clone pairs across many cells
    rows_a = [
        (r.vec_id, list(r.qv)) for r in spark.sql(
            "SELECT id AS vec_id, transform(sequence(0, 63), i -> "
            "CAST(pmod(xxhash64(CAST(id / 2 AS BIGINT) * 64 + i), 200)"
            " - 100 + CASE WHEN id % 2 = 1 AND i = 0 THEN 1 ELSE 0 END"
            " AS BIGINT)) AS qv FROM range(1, 1200)").collect()
    ]
    want1a, _ = check(rows_a)
    assert want1a, "fixture (a) plants no np1 decisions — strengthen it"

    # (b) two axis seeds -> two cells; straddler pairs tilt to
    # different best cells (np2-only catches), clone pairs sit inside
    # one cell (np1 catches)
    def passes(i: int) -> bool:
        return ((i % M) * A + B) % M < DEFAULT_THRESHOLD

    in_sample = [i for i in range(1, 4000) if passes(i)][:2]
    outs = iter(i for i in range(1, 4000) if not passes(i))
    dim = 64

    def vec(*pairs):
        v = [0] * dim
        for idx, val in pairs:
            v[idx] = val
        return v

    rows_b = [
        (in_sample[0], vec((0, 127))),
        (in_sample[1], vec((1, 127))),
    ]
    for _ in range(6):  # six straddler pairs
        a, b = next(outs), next(outs)
        rows_b.append((a, vec((0, 100), (1, 99))))
        rows_b.append((b, vec((0, 99), (1, 100))))
    for _ in range(6):  # six in-cell clone pairs on axis 0
        a, b = next(outs), next(outs)
        rows_b.append((a, vec((0, 120), (2, 3))))
        rows_b.append((b, vec((0, 120), (2, 4))))
    want1b, want2b = check(rows_b)
    assert want1b, "fixture (b) plants no np1 decisions"
    # np2 genuinely adds the straddler decisions, and the single pass
    # reproduced them (got2 == want2 above)
    assert want2b - want1b, "fixture (b) has no np2-only decisions"
