"""RRF hybrid-retrieval fusion (operators/retrieval.py): hand-computed
fusion arithmetic, full-outer union semantics, tiebreaks, and guards."""

import pytest
from pyspark.sql import functions as F

from covid19_spark.operators.retrieval import rrf_fuse


def _lists(spark):
    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 30, 3)],
        "query_id long, doc_id long, rank long",
    )
    dense = spark.createDataFrame(
        [(1, 20, 1), (1, 40, 2), (1, 10, 3)],
        "query_id long, doc_id long, rank long",
    )
    return lex, dense


def test_rrf_hand_case(spark):
    """k0=60: doc 20 -> 1/62 + 1/61; doc 10 -> 1/61 + 1/63; doc 30 ->
    1/63 only; doc 40 -> 1/62 only. Order: 20, 10, 40, 30."""
    lex, dense = _lists(spark)
    rows = {
        r.doc_id: r
        for r in rrf_fuse([("lex", lex), ("dense", dense)]).collect()
    }
    assert rows[20].rrf_score == pytest.approx(1 / 62 + 1 / 61, abs=0)
    assert rows[10].rrf_score == pytest.approx(1 / 61 + 1 / 63, abs=0)
    assert rows[30].rrf_score == pytest.approx(1 / 63, abs=0)
    assert rows[40].rrf_score == pytest.approx(1 / 62, abs=0)
    order = sorted(rows.values(), key=lambda r: r.fused_rank)
    assert [r.doc_id for r in order] == [20, 10, 40, 30]
    # one-sided docs carry a NULL rank from the missing retriever
    assert rows[30].dense_rank is None and rows[40].lex_rank is None


def test_rrf_full_outer_not_consensus(spark):
    """A doc ranked by only ONE retriever still competes (full-outer, not
    inner): with disjoint lists every doc survives."""
    a = spark.createDataFrame([(1, 1, 1)], "query_id long, doc_id long, rank long")
    b = spark.createDataFrame([(1, 2, 1)], "query_id long, doc_id long, rank long")
    out = rrf_fuse([("a", a), ("b", b)]).collect()
    assert sorted(r.doc_id for r in out) == [1, 2]
    # equal scores tiebreak on doc_id ascending
    by_id = {r.doc_id: r.fused_rank for r in out}
    assert by_id[1] == 1 and by_id[2] == 2


def test_rrf_top_k_and_per_query_isolation(spark):
    """fused_rank restarts per query; the top 15 survive within each
    query (17 ranked docs per query here)."""
    rows = [(q, d, r) for q in (1, 2) for r, d in enumerate(range(100, 117), 1)]
    lst = spark.createDataFrame(rows, "query_id long, doc_id long, rank long")
    out = rrf_fuse([("only", lst)]).collect()
    assert len(out) == 30
    assert {(r.query_id, r.fused_rank) for r in out} == {
        (q, k) for q in (1, 2) for k in range(1, 16)
    }
    assert max(r.doc_id for r in out) == 114  # docs ranked 16, 17 dropped


def test_rrf_guards(spark):
    lex, _ = _lists(spark)
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])
    with pytest.raises(ValueError, match="duplicate"):
        rrf_fuse([("lex", lex), ("lex", lex)])


def test_rrf_fusion_stage_is_join_of_reduced_lists(spark):
    """Plan shape: fusion adds no corpus scan — the joined sides are the
    rank lists themselves, and no cartesian product appears."""
    lex, dense = _lists(spark)
    plan = rrf_fuse([("lex", lex), ("dense", dense)])._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_mmr_suppresses_redundant_candidate(spark):
    """Corpus: two near-identical vectors close to the query plus one
    diverse one. Pure relevance ranks the twin second; MMR (λ=0.5:
    hand-computed step-2 scores — twin 0.5·0.9940 − 0.5·0.99995 ≈ −0.003,
    diverse 0.5·0.9578 − 0.5·0.9531 ≈ +0.002) picks the diverse vector."""
    from covid19_spark.operators.retrieval import mmr_rerank

    q = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (0, q),                         # the query itself (excluded)
        (1, [1.0, 0.1, 0.0, 0.0]),      # best match
        (2, [1.0, 0.11, 0.0, 0.0]),     # near-duplicate of 1
        (3, [1.0, 0.0, 0.13, 0.0]),     # diverse, a little less relevant than 2
    ]
    emb = _emb(spark, rows)
    out = mmr_rerank(emb, emb.filter("vec_id = 0")).collect()
    order = [r.doc_id for r in sorted(out, key=lambda r: r.mmr_rank)]
    assert order[0] == 1
    assert order[1] == 3  # NOT the near-duplicate 2
    assert order[2] == 2


def test_mmr_emits_min_of_k_and_candidates(spark):
    from covid19_spark.operators.retrieval import mmr_rerank

    rows = [(i, [1.0, float(i)]) for i in range(4)]
    emb = _emb(spark, rows)
    out = mmr_rerank(emb, emb.filter("vec_id = 0")).collect()
    assert len(out) == 3  # corpus minus self, fewer than the 8 picks
    assert sorted(r.mmr_rank for r in out) == [1, 2, 3]


def _mk_index(spark, tmp_path):
    import os

    from covid19_spark.sources.index import build_inverted_index, read_inverted_index

    docs = spark.createDataFrame(
        [
            (1, "spark hash spark table"),
            (2, "hash window row"),
            (3, "spark spark spark filter"),
            (4, "agg join scan"),
        ],
        "doc_id long, text string",
    )
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir, exist_ok=True)
    docs.toPandas().to_parquet(f"{sf_dir}/documents.parquet")
    idx_path = str(tmp_path / "idx")
    build_inverted_index(spark, sf_dir, idx_path)
    return idx_path, read_inverted_index(spark, idx_path)


def test_bm25_topk_multi_matches_single_query(spark, tmp_path):
    """Multi-query BM25 from the index: each query's rows are bit-identical
    to bm25_scores_from_index run alone (the per-(term, doc) partials are
    computed BEFORE the query fan-out, and DEC addition is associative),
    ranks are fully tiebroken, and queries cannot contaminate each other."""
    from covid19_spark.operators.retrieval import (
        bm25_scores_from_index, bm25_topk_multi,
    )

    idx_path, idx = _mk_index(spark, tmp_path)
    queries = spark.createDataFrame(
        [
            (10, ["spark", "hash"]),
            (11, ["window"]),
            (12, ["spark", "hash"]),  # duplicate of 10: identical answers
            (13, ["nosuchterm"]),
        ],
        "query_id long, terms array<string>",
    )
    got = bm25_topk_multi(spark, idx, queries).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for q in by_q:
        by_q[q].sort()
    want_10 = sorted(
        ((r.doc_id, r.score) for r in
         bm25_scores_from_index(spark, idx, ["spark", "hash"]).collect()),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert [(d, s) for _, d, s in by_q[10]] == [(d, s) for d, s in want_10]
    assert by_q[10] == by_q[12]  # identical queries, identical answers
    assert [d for _, d, _ in by_q[11]] == [2]  # only doc 2 has "window"
    assert 13 not in by_q  # no postings -> no rows


def test_bm25_term_frame_join_equals_literal_filter(spark, tmp_path):
    """The index-served BM25 must score identically through BOTH term
    seams (data-dependent term frame — the prf path — and literal list
    with static bucket pruning) and match the inline-tokenize
    formulation the registry oracles replay."""
    from covid19_spark.operators.retrieval import bm25_scores_from_index
    from covid19_spark.sources.index import (
        build_inverted_index, read_inverted_index,
    )

    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "spark hash spark table"),
            (2, "hash window row"),
            (3, "spark spark spark filter"),
            (4, "agg join scan"),
        ],
        "doc_id long, text string",
    )
    sf_dir = str(tmp_path / "sf")
    docs.toPandas().to_parquet(f"{tmp_path}/sf_documents.parquet")
    import os

    os.makedirs(sf_dir)
    os.rename(f"{tmp_path}/sf_documents.parquet", f"{sf_dir}/documents.parquet")
    idx_path = str(tmp_path / "idx")
    build_inverted_index(spark, sf_dir, idx_path)
    idx = read_inverted_index(spark, idx_path)

    terms = spark.createDataFrame([("spark",), ("hash",)], "t string")
    via_frame = {
        r.doc_id: r.score
        for r in bm25_scores_from_index(spark, idx, terms).collect()
    }
    via_index_literal = {
        r.doc_id: r.score
        for r in bm25_scores_from_index(spark, idx, ["spark", "hash"]).collect()
    }
    assert via_frame == via_index_literal

    toks = docs.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias("__w"),
    )
    dl = toks.select("doc_id", F.size("__w").cast("double").alias("dl"))
    tf = (
        toks.select("doc_id", F.explode("__w").alias("t"))
        .filter(F.col("t").isin("spark", "hash"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    n_docs = docs.groupBy().agg(F.count(F.lit(1)).cast("double").alias("n"))
    df_t = tf.groupBy("t").agg(F.count(F.lit(1)).cast("double").alias("df"))
    avgdl = dl.groupBy().agg(F.avg("dl").alias("avgdl"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    k1, b = 1.2, 0.75
    via_literal = {
        r.doc_id: r.score
        for r in (
            tf.join(dl, "doc_id")
            .join(F.broadcast(df_t), "t")
            .crossJoin(F.broadcast(n_docs))
            .crossJoin(F.broadcast(avgdl))
            .select(
                "doc_id",
                (
                    idf * (F.col("tf") * (k1 + 1))
                    / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
                ).alias("s"),
            )
            .groupBy("doc_id")
            .agg(
                F.round(
                    F.sum(F.col("s").cast("decimal(38,18)")).cast("double"), 6
                ).alias("score")
            )
        ).collect()
    }
    assert via_frame == via_literal


# --- BM25F (fielded retrieval) ------------------------------------------


def _bm25f_env(spark, tmp_path):
    from covid19_spark.sources.index import (
        build_fielded_index_from,
        build_inverted_index_from,
        read_fielded_index,
        read_inverted_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark hash", "join scan exchange shuffle partition"),
            (2, "window frame", "spark spark hash join row"),
            (3, "hash join", "hash table probe build side"),
            (4, "plain text", "nothing relevant here at all"),
            (5, "spark", ""),
        ],
        "doc_id long, title string, body string",
    )
    docs = docs.withColumn(
        "text",
        F.concat_ws(" ", "title", "body"),
    )
    fpath = str(tmp_path / "fidx")
    build_fielded_index_from(
        docs, fpath, {"title": F.col("title"), "body": F.col("body")}
    )
    upath = str(tmp_path / "uidx")
    build_inverted_index_from(docs, upath)
    wpath = str(tmp_path / "widx")  # whole text as ONE field
    build_fielded_index_from(docs, wpath, {"all": F.col("text")})
    return (
        docs,
        read_fielded_index(spark, fpath),
        read_inverted_index(spark, upath),
        read_fielded_index(spark, wpath),
    )


def test_bm25f_single_field_equals_plain_bm25(spark, tmp_path):
    """Degenerate pin: ONE field covering the whole text at weight 1 is
    plain BM25 (the (k1+1) numerator is kept for exactly this) — scores
    agree to relative 1e-9 (the two forms differ only in IEEE division
    order) and rankings agree exactly."""
    from covid19_spark.operators.retrieval import (
        bm25_scores_from_index, bm25f_scores_from_index,
    )

    docs, _, uidx, widx = _bm25f_env(spark, tmp_path)
    terms = ["spark", "hash", "join"]
    plain = {
        r.doc_id: r.score
        for r in bm25_scores_from_index(spark, uidx, terms).collect()
    }
    fielded = {
        r.doc_id: r.score
        for r in bm25f_scores_from_index(
            spark, widx, terms, weights={"all": 1.0}
        ).collect()
    }
    assert set(plain) == set(fielded)
    for d in plain:
        assert fielded[d] == pytest.approx(plain[d], rel=1e-9), d


def test_bm25f_title_weight_promotes_title_hits(spark, tmp_path):
    """The point of the field weights: docs hitting in the (short,
    upweighted) title outrank body-only hitters as the title weight
    grows; per-field length normalization means a title hit already
    counts more than a hit buried in a long body at equal weights."""
    from covid19_spark.operators.retrieval import bm25f_scores_from_index

    docs, fidx, _, _ = _bm25f_env(spark, tmp_path)
    hi = {
        r.doc_id: r.score
        for r in bm25f_scores_from_index(
            spark, fidx, ["spark"], weights={"title": 5.0, "body": 1.0}
        ).collect()
    }
    # doc 5: 'spark' is its ENTIRE title; doc 2: 'spark' twice, body only
    assert hi[5] > hi[2]
    lo = {
        r.doc_id: r.score
        for r in bm25f_scores_from_index(
            spark, fidx, ["spark"], weights={"title": 0.0, "body": 1.0}
        ).collect()
    }
    # title-only hitters vanish when the title weight is zero
    assert lo[2] > 0 and lo.get(5, 0.0) == 0.0


def test_bm25f_guards(spark, tmp_path):
    from covid19_spark.operators.retrieval import bm25f_scores_from_index

    _, fidx, _, _ = _bm25f_env(spark, tmp_path)
    with pytest.raises(ValueError, match="at least one"):
        bm25f_scores_from_index(spark, fidx, ["spark"], weights={})
    with pytest.raises(ValueError, match="absent from the index"):
        bm25f_scores_from_index(
            spark, fidx, ["spark"], weights={"headline": 1.0}
        )


# --- LM Dirichlet + prefix queries --------------------------------------


def _mk_lmd_index(spark, tmp_path):
    import os

    from covid19_spark.sources.index import build_inverted_index, read_inverted_index

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b c")], "doc_id long, text string"
    )
    sf_dir = str(tmp_path / "lmdsf")
    os.makedirs(sf_dir, exist_ok=True)
    docs.toPandas().to_parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "lmdidx")
    build_inverted_index(spark, sf_dir, path)
    return read_inverted_index(spark, path)


def test_lm_dirichlet_hand_case(spark, tmp_path):
    """Zhai-Lafferty hand computation: corpus {1: 'a b a', 2: 'b c'},
    total=5, cg(a)=2, cg(c)=1; query ['a','c'], mu=2000:
    doc1 = ln(1 + 2/(2000*0.4)) + 2*ln(2000/(3+2000)); doc2 =
    ln(1 + 1/(2000*0.2)) + 2*ln(2000/(2+2000)) — both per-term logs are
    ln(1.0025)."""
    import math

    from covid19_spark.operators.retrieval import (
        lm_dirichlet_scores_from_index,
    )

    idx = _mk_lmd_index(spark, tmp_path)
    assert idx.total_tokens == 5.0
    got = {
        r.doc_id: r.score
        for r in lm_dirichlet_scores_from_index(spark, idx, ["a", "c"]).collect()
    }
    want1 = round(math.log(1.0025) + 2.0 * math.log(2000.0 / 2003.0), 6)
    want2 = round(math.log(1.0025) + 2.0 * math.log(2000.0 / 2002.0), 6)
    assert got == {1: pytest.approx(want1, abs=1e-9),
                   2: pytest.approx(want2, abs=1e-9)}


def test_lm_dirichlet_oov_shifts_never_reorders(spark, tmp_path):
    """An out-of-vocabulary query term contributes nothing to the sum but
    still counts in |q|: every candidate shifts by the same
    ln(mu/(dl+mu)) multiple, so only docs' length correction scales —
    candidates and ORDER match the in-vocabulary query."""
    from covid19_spark.operators.retrieval import (
        lm_dirichlet_scores_from_index,
    )

    idx = _mk_lmd_index(spark, tmp_path)
    base = {
        r.doc_id: r.score
        for r in lm_dirichlet_scores_from_index(spark, idx, ["a"]).collect()
    }
    oov = {
        r.doc_id: r.score
        for r in lm_dirichlet_scores_from_index(spark, idx, ["a", "zzz"]).collect()
    }
    assert set(base) == set(oov) == {1}  # only doc 1 contains 'a'
    assert oov[1] < base[1]  # extra |q| count deepens the correction


def test_prefix_expand_cap_and_equivalence(spark, tmp_path):
    """Prefix expansion: the 8 highest-df terms win the cap (df desc, t
    asc tiebreak), and prefix BM25 == literal BM25 over the expanded set."""
    from covid19_spark.operators.retrieval import (
        bm25_scores_from_index, prefix_expand_terms,
    )
    from covid19_spark.sources.index import (
        build_inverted_index_from, read_inverted_index,
    )

    # s1..s6 in 2 docs each, sa..sd in 1 doc each, plus non-s terms
    docs = spark.createDataFrame(
        [
            (1, "s1 s2 s3 s4 s5 s6 sa sb hash"),
            (2, "s1 s2 s3 s4 s5 s6 sc sd window"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "pfxidx")
    build_inverted_index_from(docs, path)
    idx = read_inverted_index(spark, path)
    exp = sorted(r.t for r in prefix_expand_terms(spark, idx, "s").collect())
    # df 2 beats df 1; among the df-1 terms sa, sb win on term order
    assert exp == ["s1", "s2", "s3", "s4", "s5", "s6", "sa", "sb"]
    via_frame = {
        r.doc_id: r.score
        for r in bm25_scores_from_index(
            spark, idx, prefix_expand_terms(spark, idx, "s")
        ).collect()
    }
    via_literal = {
        r.doc_id: r.score
        for r in bm25_scores_from_index(spark, idx, exp).collect()
    }
    assert via_frame == via_literal
    with pytest.raises(ValueError, match="prefix"):
        prefix_expand_terms(spark, idx, "")


def test_dismax_best_field_and_tiebreak(spark, tmp_path):
    """DisMax semantics: docs A (term in title only) and B (term in title
    AND body, same title) — the body echo of B adds 0.3 of its kernel, so
    B outscores A; a doc without the term scores nothing."""
    from covid19_spark.operators.retrieval import dismax_scores_from_index
    from covid19_spark.sources.index import (
        build_fielded_index_from, read_fielded_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "x", "filler words only"),       # A: title hit only
            (2, "x", "x filler words"),          # B: title + body echo
            (3, "y", "unrelated body text"),
        ],
        "doc_id long, title string, body string",
    )
    path = str(tmp_path / "dmidx")
    build_fielded_index_from(
        docs, path, {"title": F.col("title"), "body": F.col("body")}
    )
    idx = read_fielded_index(spark, path)
    w = {"title": 1.0, "body": 1.0}

    got = {
        r.doc_id: r.score
        for r in dismax_scores_from_index(spark, idx, ["x"], weights=w).collect()
    }
    assert set(got) == {1, 2}
    assert got[2] > got[1]  # the body echo contributes


def test_dismax_single_field_equals_bm25f_and_plain(spark, tmp_path):
    """With ONE whole-text field at weight 1 there is nothing to
    disjunct: DisMax == BM25F == plain BM25 (to IEEE op-order)."""
    from covid19_spark.operators.retrieval import (
        bm25_scores_from_index,
        bm25f_scores_from_index,
        dismax_scores_from_index,
    )

    _, _, uidx, widx = _bm25f_env(spark, tmp_path)
    terms = ["spark", "hash", "join"]
    plain = {
        r.doc_id: r.score
        for r in bm25_scores_from_index(spark, uidx, terms).collect()
    }
    for fn in (bm25f_scores_from_index, dismax_scores_from_index):
        got = {
            r.doc_id: r.score
            for r in fn(spark, widx, terms, weights={"all": 1.0}).collect()
        }
        assert set(got) == set(plain)
        for d in plain:
            assert got[d] == pytest.approx(plain[d], rel=1e-9), (fn, d)


def test_dismax_guards(spark, tmp_path):
    from covid19_spark.operators.retrieval import dismax_scores_from_index

    _, fidx, _, _ = _bm25f_env(spark, tmp_path)
    with pytest.raises(ValueError, match="at least one"):
        dismax_scores_from_index(spark, fidx, ["spark"], weights={})
    with pytest.raises(ValueError, match="absent"):
        dismax_scores_from_index(
            spark, fidx, ["spark"], weights={"headline": 1.0}
        )
