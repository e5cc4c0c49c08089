"""Hybrid-retrieval queries: multi-retriever fusion over the corpus tables.

The serving-side composition of the retrieval family: the lexical ranker
(BM25, `q_llm_pipeline.q_bm25_topk` shape) and the dense ranker
(`operators/similarity.cosine_topk`) answer the SAME user query and
reciprocal-rank fusion (`operators/retrieval.rrf_fuse`) merges the lists.

Cross-engine determinism: ranks are integers (fully tiebroken upstream —
BM25 scores are DEC-summed then round(6), cosine sims are left-to-right
double folds), each RRF contribution is one IEEE double division, and the
fused score is a fixed-order two-term expression sum — no cross-row float
aggregation anywhere, so the value hash matches bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid19_spark.operators.series import top_k
from covid19_spark.plans.base import QUERY_REGISTRY, QuerySpec, _t

_TERMS = ("spark", "hash", "window", "vector")
_QVEC = 3  # embeddings row serving as the dense form of the user query
_LIST_K = 50  # depth of each retriever's rank list


def _bm25_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-`_LIST_K` rank list for the fixed 4-term query, served
    from the PERSISTED inverted index (`sources/index`): the postings
    scan is statically pruned to the query terms' hash buckets, df is a
    4-row broadcast, n/avgdl are driver literals — no corpus tokenize in
    the query path (the index build runs once per corpus and is shared
    with `bm25_topk`/`prf_expanded_bm25`).  Hash-identical to the inline
    form: the index stores exact integral statistics; the scoring
    expression lives in `bm25_scores_from_index`."""
    from covid19_spark.operators.retrieval import bm25_scores_from_index
    from covid19_spark.sources.index import ensure_inverted_index

    idx = ensure_inverted_index(spark, sf_dir)
    scored = bm25_scores_from_index(spark, idx, _TERMS)
    # two-stage global top-k (TakeOrderedAndProject) — ranking happens over
    # the <=_LIST_K survivors, never a partition-less window over all
    # matching docs
    ranked = top_k(scored, "score", _LIST_K, tiebreak_cols=["doc_id"])
    return ranked.select(
        F.lit(_QVEC).cast("long").alias("query_id"),
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
    )


def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: BM25 (4 fixed terms) and dense cosine (embedding
    vec_id=3) each rank their top-50, reciprocal-rank fusion re-orders the
    union, top-15 served.  Fusion itself touches only the two ≤50-row rank
    lists (one full-outer merge + one ≤100-row window) — the corpus-sized
    work stays inside the retrievers, which at scale are index-served
    (inverted stats / `operators/ann_index`)."""
    from covid19_spark.operators.retrieval import rrf_fuse
    from covid19_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    dense = cosine_topk(
        emb, emb.filter(F.col("vec_id") == _QVEC), k=_LIST_K
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    lex = _bm25_ranked(spark, sf_dir)
    fused = rrf_fuse([("lex", lex), ("dense", dense)])
    return fused.select(
        "query_id", "doc_id", "lex_rank", "dense_rank", "rrf_score", "fused_rank"
    ).orderBy("fused_rank")


ORACLE_HYBRID_RRF_TOPK = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS w
  FROM documents
),
dl AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM toks),
tf AS (
  SELECT doc_id, u.x AS t, CAST(count(*) AS DOUBLE) AS tf
  FROM toks, unnest(toks.w) AS u(x)
  WHERE u.x IN ('spark', 'hash', 'window', 'vector')
  GROUP BY doc_id, u.x
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
df_t AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY t),
avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
lex_scored AS (
  SELECT tf.doc_id,
         round(CAST(sum(CAST(
           ln((n.n - df_t.df + 0.5) / (df_t.df + 0.5) + 1.0)
           * (tf.tf * (1.2 + 1))
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl.avgdl))
         AS DECIMAL(38,18))) AS DOUBLE), 6) AS score
  FROM tf
  JOIN dl USING (doc_id)
  JOIN df_t USING (t)
  CROSS JOIN n CROSS JOIN avgdl
  GROUP BY tf.doc_id
),
lex AS (
  SELECT doc_id, lex_rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score DESC, doc_id ASC) AS lex_rank
    FROM lex_scored
  ) WHERE lex_rank <= 50
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qv AS (SELECT v AS qv FROM e WHERE vec_id = 3),
dense_scored AS (
  SELECT e.vec_id AS doc_id,
         list_reduce(list_transform(range(1, 65), i -> qv[i] * v[i]), (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(range(1, 65), i -> qv[i] * qv[i]), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(range(1, 65), i -> v[i] * v[i]), (x, y) -> x + y))) AS sim
  FROM e CROSS JOIN qv
  WHERE e.vec_id <> 3
),
dense AS (
  SELECT doc_id, dense_rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS dense_rank
    FROM dense_scored
  ) WHERE dense_rank <= 50
),
fused AS (
  SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
         lex.lex_rank, dense.dense_rank,
         COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + lex.lex_rank),
                  CAST(0.0 AS DOUBLE))
         + COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + dense.dense_rank),
                    CAST(0.0 AS DOUBLE)) AS rrf_score
  FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
)
SELECT query_id, doc_id, lex_rank, dense_rank, rrf_score, fused_rank FROM (
  SELECT CAST(3 AS BIGINT) AS query_id, doc_id, lex_rank, dense_rank, rrf_score,
         row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS fused_rank
  FROM fused
) WHERE fused_rank <= 15
ORDER BY fused_rank
"""


QUERY_REGISTRY["hybrid_rrf_topk"] = QuerySpec(
    q_hybrid_rrf_topk,
    ORACLE_HYBRID_RRF_TOPK,
    "hybrid lexical+dense retrieval fused by RRF",
)


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-ranking (operators/retrieval.mmr_rerank): 4 query
    vectors, 20-candidate cosine shortlist each, greedy λ=0.75 selection of
    8.  The sequential greedy runs as a per-row JVM fold over the collected
    candidate array; the oracle replays the identical list expressions in a
    recursive CTE carrying (selected, emitted) lists — full-precision
    cross-engine hash on the marginal scores."""
    from covid19_spark.operators.retrieval import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    return mmr_rerank(emb, queries).orderBy(
        "query_id", "mmr_rank"
    )


def _cos_sql(a: str, b: str) -> str:
    def _dot(x: str, y: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, 65), i -> {x}[i] * {y}[i]),"
            f" (x, y) -> x + y)"
        )

    return f"({_dot(a, b)} / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)})))"


_MMR_BEST = f"""list_max(list_transform(
  list_filter(cands, cnd -> NOT list_contains(list_transform(sel, s -> s.id), cnd.id)),
  cnd -> {{'s': 0.75 * cnd.sim - 0.25 * COALESCE(
             list_max(list_transform(sel, s -> {_cos_sql("cnd.v", "s.v")})), 0.0),
          'negid': -cnd.id, 'c': cnd}}))"""


ORACLE_MMR_RERANK = f"""
WITH RECURSIVE e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), qv AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 4
), scored AS (
  SELECT qv.query_id, e.vec_id AS id, {_cos_sql("qv.qv", "e.v")} AS sim, e.v
  FROM e JOIN qv ON e.vec_id <> qv.query_id
), ranked AS (
  SELECT query_id, id, sim, v,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS r
  FROM scored
), perq AS (
  SELECT query_id,
         list({{'r': r, 'id': id, 'sim': sim, 'v': v}} ORDER BY r) AS cands
  FROM ranked WHERE r <= 20 GROUP BY query_id
), rec AS (
  SELECT query_id, cands, 0 AS step,
         CAST([] AS STRUCT(id BIGINT, v DOUBLE[])[]) AS sel,
         CAST([] AS STRUCT(id BIGINT, rel DOUBLE, mmr DOUBLE, step INTEGER)[]) AS out
  FROM perq
  UNION ALL
  SELECT query_id, cands, step + 1,
         list_append(sel, {{'id': best.c.id, 'v': best.c.v}}),
         list_append(out, {{'id': best.c.id, 'rel': best.c.sim,
                            'mmr': best.s, 'step': CAST(step + 1 AS INTEGER)}})
  FROM (
    SELECT r.*, {_MMR_BEST} AS best
    FROM rec r WHERE step < least(8, len(cands))
  )
), final AS (
  SELECT query_id, out FROM rec WHERE step = least(8, len(cands))
)
SELECT query_id, o.step AS mmr_rank, o.id AS doc_id, o.rel AS rel, o.mmr AS mmr
FROM final, unnest(final.out) AS t(o)
ORDER BY query_id, mmr_rank
"""

QUERY_REGISTRY["mmr_rerank"] = QuerySpec(
    q_mmr_rerank,
    ORACLE_MMR_RERANK,
    "MMR diversified re-rank: per-query JVM greedy fold vs recursive-CTE list replay",
)


def q_prf_expanded_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (the RM3 shape, Lavrenko &
    Croft 2001 / Abdul-Jaleel 2004): (1) BM25 with the 2 seed terms ranks a
    10-doc feedback set; (2) the 5 expansion terms most CONCENTRATED in the
    feedback set (count-in-feedback / count-in-corpus, min feedback count 3,
    seeds excluded — exact integer ratio, fully tiebroken) join the query;
    (3) BM25 re-runs with the expanded 7-term set; top-15 served.

    Served entirely from the persisted inverted index (`sources/index`) —
    the corpus is tokenized ONCE per dataset at build time, never per
    query (the 100 TB posture; the former per-query localCheckpoint of
    the token-exploded corpus was this query's scale bug).  Round 1 and
    round 3 are term-bucket-pruned postings scans; the feedback term
    counts are one postings scan joined to the ≤10-id broadcast feedback
    set; global term counts come from the prebuilt termstats.  The 5
    expansion terms are collected driver-side (bounded by construction —
    the sanctioned contract-small class) so the final round prunes
    statically like any literal query."""
    from covid19_spark.operators.retrieval import bm25_scores_from_index
    from covid19_spark.sources.index import ensure_inverted_index, term_bucket

    seeds = ("spark", "hash")
    idx = ensure_inverted_index(spark, sf_dir)
    fb = top_k(
        bm25_scores_from_index(spark, idx, seeds), "score", 10,
        tiebreak_cols=["doc_id"],
    ).select("doc_id")
    # occurrences of each term inside the feedback set: Σ tf over the ≤10
    # broadcast fb docs — exact integral doubles, cast back to the long
    # the inline count produced
    fb_cnt = (
        idx.postings.join(F.broadcast(fb), "doc_id")
        .groupBy("t")
        .agg(F.sum("tf").cast("long").alias("cf"))
        .filter(F.col("cf") >= 3)
        .filter(~F.col("t").isin(*seeds))
    )
    # corpus-wide counts from the prebuilt termstats, runtime-pruned by
    # broadcasting the (tb, t)-stamped feedback vocabulary
    fbk = F.broadcast(fb_cnt.withColumn("tb", term_bucket(F.col("t"))))
    expansion = top_k(
        idx.termstats.join(fbk, ["tb", "t"]).select(
            "t",
            (F.col("cf").cast("double") / F.col("cg").cast("double")).alias(
                "ratio"
            ),
        ),
        "ratio",
        5,
        tiebreak_cols=["t"],
    ).select("t")
    exp_terms = [r["t"] for r in expansion.collect()]  # ≤5 by construction
    final = top_k(
        bm25_scores_from_index(spark, idx, list(seeds) + exp_terms),
        "score", 15, tiebreak_cols=["doc_id"],
    )
    return final.select(
        "doc_id", "score", F.col("rank").cast("long").alias("rank")
    ).orderBy("rank")


_BM25_SQL_FOR_TERMS = """
  SELECT tf.doc_id,
         round(CAST(sum(CAST(
           ln((n.n - df_t.df + 0.5) / (df_t.df + 0.5) + 1.0)
           * (tf.tf * (1.2 + 1))
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl.avgdl))
         AS DECIMAL(38,18))) AS DOUBLE), 6) AS score
  FROM (
    SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
    FROM toks JOIN {terms} USING (t) GROUP BY doc_id, t
  ) tf
  JOIN dl USING (doc_id)
  JOIN (
    SELECT t, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
    FROM toks JOIN {terms} USING (t) GROUP BY t
  ) df_t USING (t)
  CROSS JOIN n CROSS JOIN avgdl
  GROUP BY tf.doc_id
"""

ORACLE_PRF_EXPANDED_BM25 = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, u.x AS t
  FROM documents,
       unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS u(x)
),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
seeds AS (SELECT unnest(['spark', 'hash']) AS t),
s1 AS ({_BM25_SQL_FOR_TERMS.format(terms="seeds")}),
fb AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM s1
  ) WHERE r <= 10
),
gcnt AS (SELECT t, count(*) AS cg FROM toks GROUP BY t),
fcnt AS (
  SELECT t, count(*) AS cf FROM toks JOIN fb USING (doc_id)
  GROUP BY t HAVING count(*) >= 3
),
expansion AS (
  SELECT t FROM (
    SELECT f.t,
           row_number() OVER (
             ORDER BY CAST(f.cf AS DOUBLE) / CAST(g.cg AS DOUBLE) DESC, f.t
           ) AS r
    FROM fcnt f JOIN gcnt g USING (t)
    WHERE f.t NOT IN ('spark', 'hash')
  ) WHERE r <= 5
),
expanded AS (SELECT t FROM seeds UNION ALL SELECT t FROM expansion),
s2 AS ({_BM25_SQL_FOR_TERMS.format(terms="expanded")})
SELECT doc_id, score, rank FROM (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
  FROM s2
) WHERE rank <= 15
ORDER BY rank
"""

QUERY_REGISTRY["prf_expanded_bm25"] = QuerySpec(
    q_prf_expanded_bm25,
    ORACLE_PRF_EXPANDED_BM25,
    "pseudo-relevance-feedback (RM3-shape) expanded BM25 retrieval",
)


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval eval (Kusupati et al. 2022): top-10
    cosine neighbors computed from 16-, 32- and full 64-dim PREFIXES of the
    embeddings, each truncated list scored by overlap with the full-dim
    list — the dimension-vs-recall tradeoff report that decides how much of
    an MRL embedding a serving index actually needs.  Truncation is
    ``slice`` on the array column (map-only); each dim level is one
    broadcast-queries corpus scan; overlaps are integer counts via a join
    of two ≤40-row rank lists.  The 64-dim row doubles as a determinism
    sanity (overlap ≡ 10)."""
    from covid19_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")

    def topk_at(dim: int) -> DataFrame:
        sliced = emb.select(
            "vec_id", F.slice("embedding", 1, dim).alias("embedding")
        )
        return cosine_topk(
            sliced, sliced.filter(F.col("vec_id") < 4), k=10
        ).select("query_id", "neighbor_id")

    full = topk_at(64)
    out = None
    for dim in (16, 32, 64):
        common = (
            topk_at(dim)
            .join(full, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
            .select(F.lit(dim).cast("long").alias("dim"), "query_id", "n_common")
        )
        out = common if out is None else out.unionByName(common)
    return out.orderBy("dim", "query_id")


ORACLE_MATRYOSHKA_RECALL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ranked AS (
  SELECT d.dim, q.vec_id AS query_id, c.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY d.dim, q.vec_id
           ORDER BY
             list_reduce(list_transform(range(1, CAST(d.dim + 1 AS INT)), i -> q.v[i] * c.v[i]), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, CAST(d.dim + 1 AS INT)), i -> q.v[i] * q.v[i]), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, CAST(d.dim + 1 AS INT)), i -> c.v[i] * c.v[i]), (x, y) -> x + y))) DESC,
             c.vec_id
         ) AS rank
  FROM (SELECT unnest([16, 32, 64]) AS dim) d
  CROSS JOIN e q
  JOIN e c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 4
),
lists AS (SELECT dim, query_id, neighbor_id FROM ranked WHERE rank <= 10),
full64 AS (SELECT query_id, neighbor_id FROM lists WHERE dim = 64)
SELECT CAST(l.dim AS BIGINT) AS dim, l.query_id AS query_id,
       CAST(count(*) AS BIGINT) AS n_common
FROM lists l JOIN full64 f
  ON l.query_id = f.query_id AND l.neighbor_id = f.neighbor_id
GROUP BY l.dim, l.query_id
ORDER BY dim, query_id
"""

QUERY_REGISTRY["matryoshka_recall"] = QuerySpec(
    q_matryoshka_recall,
    ORACLE_MATRYOSHKA_RECALL,
    "matryoshka-prefix retrieval recall vs full-dim top-k",
)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/SBERT data-
    prep stage): for each anchor vector, the top-5 most-similar corpus
    vectors with a DIFFERENT label — near neighbors that are not matches
    make the hardest negatives.  Same broadcast-queries corpus-scan shape
    as `cosine_topk` with the label-disagreement predicate fused into the
    join condition (filter before rank, so the k survivors are all valid
    negatives).  At 100 TB the shortlist comes from the ANN index and this
    becomes a rerank-with-predicate."""
    from covid19_spark.operators.similarity import _cos_sql

    emb = _t(spark, sf_dir, "embeddings")
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
        F.col("label").alias("neg_label"),
    )
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
        F.col("label").alias("q_label"),
    )
    scored = c.join(
        F.broadcast(q),
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("neg_label") != F.col("q_label")),
    ).select(
        "query_id", "q_label", "neighbor_id", "neg_label",
        # one-parse SQL twin of cosine(qv, cv) — same folds (r14)
        F.expr(_cos_sql("qv", "cv")).alias("sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "q_label", "rank", "neighbor_id", "neg_label", "sim")
        .orderBy("query_id", "rank")
    )


ORACLE_HARD_NEGATIVES = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv, label AS q_label FROM e WHERE vec_id < 4
), scored AS (
  SELECT q.query_id, q.q_label, e.vec_id AS neighbor_id, e.label AS neg_label,
         list_reduce(list_transform(range(1, 65), i -> qv[i] * v[i]), (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(range(1, 65), i -> qv[i] * qv[i]), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(range(1, 65), i -> v[i] * v[i]), (x, y) -> x + y))) AS sim
  FROM e JOIN q ON e.vec_id <> q.query_id AND e.label <> q.q_label
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id
  ) AS rank FROM scored
)
SELECT query_id, q_label, CAST(rank AS INT) AS rank, neighbor_id, neg_label, sim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""

QUERY_REGISTRY["hard_negatives"] = QuerySpec(
    q_hard_negatives,
    ORACLE_HARD_NEGATIVES,
    "hard-negative mining: nearest different-label neighbors per anchor",
)


def _sub(vec: str, i: int) -> str:
    """SQL slice of 16-dim sub-vector i (0-based) of a 64-dim list."""
    return f"{vec}[{16 * i + 1}:{16 * i + 16}]"


def _cos16_sql(a: str, b: str) -> str:
    def _dot16(x: str, y: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, 17), i -> {x}[i] * {y}[i]),"
            f" (x, y) -> x + y)"
        )

    return f"({_dot16(a, b)} / (sqrt({_dot16(a, a)}) * sqrt({_dot16(b, b)})))"


def q_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim, Khattab & Zaharia 2020)
    retrieval: each 64-dim embedding is treated as FOUR 16-dim "token
    vectors"; a document scores ``Σ_qt max_dt cos(qt, dt)`` — every query
    token finds its best-matching document token, scores summed.  The sum
    over the 4 query tokens is a FIXED-ORDER expression (never a cross-row
    float aggregation) and each max is over a 4-element array — exact
    doubles, replayed verbatim by the oracle.  One broadcast-queries
    corpus scan, 16 codegen'd sub-vector cosines per pair; top-5 per
    query, fully tiebroken.  At scale the candidate set comes from a
    single-vector ANN shortlist and MaxSim is the rerank — this query IS
    that rerank run corpus-wide to stay oracle-exact."""
    from covid19_spark.operators.similarity import _dot_sql

    emb = _t(spark, sf_dir, "embeddings")

    # SQL-text construction (one parse per expression — the r14
    # construction-cost discipline, see operators/similarity._E); the
    # expressions are the SAME slices/folds as the former F.* forms.
    def subs(prefix: str):
        return [
            F.expr(f"slice(CAST(embedding AS ARRAY<DOUBLE>), {16 * i + 1}, 16)").alias(
                f"{prefix}{i}"
            )
            for i in range(4)
        ]

    def norms(prefix: str, nprefix: str):
        # sqrt(dot(x, x)) bound ONCE per row per sub-vector: the inline
        # ``cosine(a, b)`` form re-folds BOTH operand norms inside every
        # one of the 16 (query-token, doc-token) cells — 48 interpreted
        # HOF folds per pair where 24 suffice (guide §4: interpreted HOF
        # evaluation has no cross-expression subexpression elimination).
        # The value dag per cell is unchanged — dot/(sqrt(nq)·sqrt(nd))
        # with identical left-to-right folds — so scores are bit-identical.
        return [
            F.expr(f"sqrt({_dot_sql(f'{prefix}{i}', f'{prefix}{i}')})").alias(
                f"{nprefix}{i}"
            )
            for i in range(4)
        ]

    c = emb.select(F.col("vec_id").alias("neighbor_id"), *subs("d"))
    c = c.select("neighbor_id", "d0", "d1", "d2", "d3", *norms("d", "dn"))
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), *subs("q")
    )
    q = q.select("query_id", "q0", "q1", "q2", "q3", *norms("q", "qn"))

    score_sql = " + ".join(
        "array_max(array("
        + ", ".join(
            f"{_dot_sql(f'q{qi}', f'd{dj}')} / (qn{qi} * dn{dj})" for dj in range(4)
        )
        + "))"
        for qi in range(4)
    )
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select("query_id", "neighbor_id", F.expr(score_sql).alias("maxsim"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", "maxsim")
        .orderBy("query_id", "rank")
    )


_MAXSIM_TERMS = " + ".join(
    "list_max(["
    + ", ".join(_cos16_sql(_sub("qv", qi), _sub("dv", dj)) for dj in range(4))
    + "])"
    for qi in range(4)
)

ORACLE_MAXSIM_TOPK = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 4),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.v AS dv, q.qv,
         {_MAXSIM_TERMS} AS maxsim
  FROM e JOIN q ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, maxsim,
         row_number() OVER (
           PARTITION BY query_id ORDER BY maxsim DESC, neighbor_id
         ) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, maxsim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""

QUERY_REGISTRY["maxsim_topk"] = QuerySpec(
    q_maxsim_topk,
    ORACLE_MAXSIM_TOPK,
    "ColBERT-style MaxSim late-interaction top-k over sub-vector tokens",
)


def q_inverted_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct differential over the PERSISTED inverted index build
    (`sources/index.py` — the artifact the whole lexical retrieval family
    serves from): per-term document frequency, corpus frequency, and a
    Σ(tf·dl) checksum that pins the per-row doc-length denormalization
    (a wrong dl on any posting row breaks the sum).  The oracle
    recomputes all three from a raw tokenize, so a build bug (lost
    postings, wrong grouping, stale cache served for fresh data) is a
    value-hash mismatch — the index equivalent of `ivm_stream_replay`'s
    state-table check.  All quantities are exact integral doubles/longs.

    Scale: one |vocabulary|-sized agg over the grouped postings — the
    index's own metadata pass, never the raw corpus."""
    from covid19_spark.sources.index import ensure_inverted_index

    idx = ensure_inverted_index(spark, sf_dir)
    return (
        idx.postings.groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cg"),
            F.sum(F.col("tf") * F.col("dl")).cast("long").alias("tfdl"),
        )
        .orderBy("t")
    )


ORACLE_INVERTED_INDEX_STATS = """
WITH toks AS (
  SELECT doc_id, u.x AS t
  FROM documents,
       unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS u(x)
),
p AS (
  SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
  FROM toks GROUP BY doc_id, t
),
dl AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
  FROM toks GROUP BY doc_id
)
SELECT t,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(p.tf) AS BIGINT) AS cg,
       CAST(sum(p.tf * dl.dl) AS BIGINT) AS tfdl
FROM p JOIN dl USING (doc_id)
GROUP BY t
ORDER BY t
"""

QUERY_REGISTRY["inverted_index_stats"] = QuerySpec(
    q_inverted_index_stats,
    ORACLE_INVERTED_INDEX_STATS,
    "persisted inverted-index build vs raw-tokenize recompute (df/cg/Σtf·dl)",
)


def q_bm25_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance differential: build the inverted
    index on 3/4 of the corpus (doc_id % 4 != 3), APPEND the remaining
    quarter (`sources/index.append_inverted_index` — the daily-ingest
    shape: delta tokenized alone, postings appended doc-granularly,
    vocabulary-/doc-sized derived stats recomputed from the persisted
    postings, never a corpus re-tokenize), then serve the standard 4-term
    BM25 top-20 from the maintained index.  The oracle is the FULL-corpus
    BM25 (`bm25_topk`'s SQL verbatim), so the driver hash pins
    ``append(build(base), delta) == build(base ∪ delta)`` bit-for-bit —
    the lexical twin of `ivm_stream_replay`'s state-table invariant.

    Scale: the append pass scans only the delta; the derived-stat rewrite
    is index-sized.  The build here runs per query run (replay must start
    clean — an append onto a previously-appended index would double-count)
    on a dedicated scratch path (per-process — two sessions replaying
    concurrently never collide), deliberately part of the measured cost."""
    import os
    import shutil

    from covid19_spark.operators.retrieval import bm25_scores_from_index
    from covid19_spark.sources.index import (
        append_inverted_index,
        build_inverted_index_from,
        read_inverted_index,
    )
    from covid19_spark.sources.scratch import pid_scratch_path

    docs = _t(spark, sf_dir, "documents")
    path = pid_scratch_path(
        f"invidx_incr_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(path, ignore_errors=True)
    # derived=False: the base build's doclen/termstats/scalars would be
    # recomputed and overwritten by the append anyway — skip the 4 wasted
    # jobs and hand the append the base doc count directly
    n_base = build_inverted_index_from(
        docs.filter(F.col("doc_id") % 4 != 3), path, derived=False
    )
    append_inverted_index(
        docs.filter(F.col("doc_id") % 4 == 3), path, n_prev=n_base
    )
    idx = read_inverted_index(spark, path)
    return (
        bm25_scores_from_index(spark, idx, _TERMS)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
    )


def _oracle_bm25_incremental_index() -> str:
    from covid19_spark.plans.q_llm_pipeline import ORACLE_BM25_TOPK

    return ORACLE_BM25_TOPK


QUERY_REGISTRY["bm25_incremental_index"] = QuerySpec(
    q_bm25_incremental_index,
    _oracle_bm25_incremental_index(),
    "incrementally-maintained inverted index == full rebuild (BM25 top-20 differential)",
)


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase retrieval ("table hash") from the POSITIONAL inverted
    index (`operators/retrieval.phrase_match_from_index` — the Lucene
    PhraseQuery shape): per phrase term one term-bucket-pruned postings
    scan reading the positions column, doc_id inner joins shrink the
    candidate set, and the adjacency count is a per-row
    intersect(shift(pos1), pos2) — exact integers, fully tiebroken
    top-20.  The oracle rebuilds positions with generate_subscripts over
    the filtered token list and counts the consecutive-position join."""
    from covid19_spark.operators.retrieval import phrase_match_from_index
    from covid19_spark.sources.index import ensure_inverted_index

    idx = ensure_inverted_index(spark, sf_dir)
    return (
        phrase_match_from_index(spark, idx, ["table", "hash"])
        .orderBy(F.col("n_occurrences").desc(), F.col("doc_id").asc())
        .limit(20)
    )


ORACLE_PHRASE_MATCH = """
WITH f AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS wf
  FROM documents
),
pos AS (
  SELECT doc_id,
         unnest(wf) AS t,
         CAST(generate_subscripts(wf, 1) - 1 AS INT) AS p
  FROM f
)
SELECT a.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
WHERE a.t = 'table' AND b.t = 'hash'
GROUP BY a.doc_id
ORDER BY n_occurrences DESC, a.doc_id ASC
LIMIT 20
"""

QUERY_REGISTRY["phrase_match"] = QuerySpec(
    q_phrase_match,
    ORACLE_PHRASE_MATCH,
    "exact phrase retrieval from the positional inverted index (Lucene PhraseQuery shape)",
)


def q_proximity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered proximity retrieval ("table … hash … scan", ≤2 intervening
    tokens per hop) from the POSITIONAL inverted index
    (`operators/retrieval.proximity_match_from_index` — the sloppy-phrase
    half of the Lucene PhraseQuery surface; slop=0 degenerates to
    `phrase_match`).  Per term one term-bucket-pruned postings scan;
    doc_id inner joins shrink candidates; the within-slop test is a
    per-row array fold filter(pos_i, q → ∃p: 1 ≤ q−p ≤ slop+1) counting
    DISTINCT match-end positions — exact integers, fully tiebroken
    top-20.  The oracle replays the same fold as chained DISTINCT
    position CTEs over generate_subscripts positions."""
    from covid19_spark.operators.retrieval import proximity_match_from_index
    from covid19_spark.sources.index import ensure_inverted_index

    idx = ensure_inverted_index(spark, sf_dir)
    return (
        proximity_match_from_index(
            spark, idx, ["table", "hash", "scan"]
        )
        .orderBy(F.col("n_matches").desc(), F.col("doc_id").asc())
        .limit(20)
    )


ORACLE_PROXIMITY_MATCH = """
WITH f AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS wf
  FROM documents
),
pos AS (
  SELECT doc_id,
         unnest(wf) AS t,
         CAST(generate_subscripts(wf, 1) - 1 AS INT) AS p
  FROM f
),
s1 AS (SELECT doc_id, p FROM pos WHERE t = 'table'),
s2 AS (
  SELECT DISTINCT b.doc_id, b.p
  FROM pos b JOIN s1 a ON a.doc_id = b.doc_id
  WHERE b.t = 'hash' AND b.p - a.p BETWEEN 1 AND 3
),
s3 AS (
  SELECT DISTINCT b.doc_id, b.p
  FROM pos b JOIN s2 a ON a.doc_id = b.doc_id
  WHERE b.t = 'scan' AND b.p - a.p BETWEEN 1 AND 3
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
FROM s3
GROUP BY doc_id
ORDER BY n_matches DESC, doc_id ASC
LIMIT 20
"""

QUERY_REGISTRY["proximity_match"] = QuerySpec(
    q_proximity_match,
    ORACLE_PROXIMITY_MATCH,
    "ordered within-slop proximity retrieval from positional postings (sloppy PhraseQuery)",
)


def q_bm25_multi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BM25 serving (`operators/retrieval.bm25_topk_multi`): THREE
    term-list queries answered by ONE pruned postings scan — the batch's
    distinct terms prune once, df and the per-(term, doc) partial score
    are computed on the per-(t, doc)-unique frame BEFORE the query
    fan-out, then a broadcast join + per-query DEC-summed aggregate +
    top-10 window.  Per-query rows are bit-identical to single-query
    BM25 (DEC addition is associative); the oracle restates each query
    with the shared BM25 SQL template and unions the top-10s."""
    from covid19_spark.operators.retrieval import bm25_topk_multi
    from covid19_spark.sources.index import ensure_inverted_index

    idx = ensure_inverted_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [
            (1, ["spark", "hash"]),
            (2, ["window", "vector"]),
            (3, ["table", "scan", "spark"]),
        ],
        "query_id long, terms array<string>",
    )
    return (
        bm25_topk_multi(spark, idx, queries)
        .select(
            "query_id",
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            "score",
        )
        .orderBy("query_id", "rank")
    )


def _oracle_bm25_multi_query() -> str:
    def one(qid: int, terms: list[str]) -> str:
        lit = ", ".join(f"'{t}'" for t in terms)
        return f"""
q{qid}t AS (SELECT unnest([{lit}]) AS t),
s{qid} AS ({_BM25_SQL_FOR_TERMS.format(terms=f"q{qid}t")}),
r{qid} AS (
  SELECT {qid} AS query_id, doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM s{qid}
)"""

    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, u.x AS t
  FROM documents,
       unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS u(x)
),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
{one(1, ["spark", "hash"])},
{one(2, ["window", "vector"])},
{one(3, ["table", "scan", "spark"])}
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       CAST(rank AS BIGINT) AS rank, score
FROM (
  SELECT * FROM r1 WHERE rank <= 10
  UNION ALL SELECT * FROM r2 WHERE rank <= 10
  UNION ALL SELECT * FROM r3 WHERE rank <= 10
)
ORDER BY query_id, rank
"""


QUERY_REGISTRY["bm25_multi_query"] = QuerySpec(
    q_bm25_multi_query,
    _oracle_bm25_multi_query(),
    "batched multi-query BM25 from one pruned postings scan",
)


def q_sdm_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential Dependence Model ranking (Metzler & Croft 2005, the MRF
    term-dependency model — the classic learned-sparse-era ranker): for
    the query ("spark", "hash"), λ-weighted unigram BM25 + ordered
    adjacency (od1 = exact-phrase occurrences, `phrase_match_from_index`)
    + unordered window-8 co-occurrence (uw8,
    `unordered_window_count_from_index`), every feature served from the
    SAME positional inverted index:

        sdm = round(0.85·bm25 + 0.10·ln(1+od1) + 0.05·ln(1+uw8), 6)

    Docs containing either term compete (BM25 frame is the base; the
    dependence features LEFT-join on, absent → 0 — SDM's unigram
    fallback).  All three features are one term-pruned scan family over
    the same two posting lists; exact integer counts; the oracle restates
    the BM25 template plus two position joins and the identical
    combination expression."""
    from covid19_spark.operators.retrieval import (
        bm25_scores_from_index,
        phrase_match_from_index,
        unordered_window_count_from_index,
    )
    from covid19_spark.sources.index import ensure_inverted_index

    idx = ensure_inverted_index(spark, sf_dir)
    bm25 = bm25_scores_from_index(spark, idx, ["spark", "hash"])
    od = phrase_match_from_index(spark, idx, ["spark", "hash"]).select(
        "doc_id", F.col("n_occurrences").alias("od1")
    )
    uw = unordered_window_count_from_index(
        spark, idx, "spark", "hash"
    ).select("doc_id", F.col("n_uw").alias("uw8"))
    feats = (
        bm25.join(od, "doc_id", "left")
        .join(uw, "doc_id", "left")
        .select(
            "doc_id",
            F.col("score").alias("bm25"),
            F.coalesce("od1", F.lit(0)).cast("long").alias("od1"),
            F.coalesce("uw8", F.lit(0)).cast("long").alias("uw8"),
        )
    )
    sdm = F.round(
        0.85 * F.col("bm25")
        + 0.10 * F.log(F.lit(1.0) + F.col("od1"))
        + 0.05 * F.log(F.lit(1.0) + F.col("uw8")),
        6,
    )
    return (
        feats.withColumn("sdm", sdm)
        .orderBy(F.col("sdm").desc(), F.col("doc_id").asc())
        .limit(20)
    )


ORACLE_SDM_RANKING = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, u.x AS t
  FROM documents,
       unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS u(x)
),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
seeds AS (SELECT unnest(['spark', 'hash']) AS t),
s AS ({_BM25_SQL_FOR_TERMS.format(terms="seeds")}),
f AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS wf
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(wf) AS t,
         CAST(generate_subscripts(wf, 1) - 1 AS INT) AS p
  FROM f
),
pa AS (SELECT doc_id, p FROM pos WHERE t = 'spark'),
pb AS (SELECT doc_id, p FROM pos WHERE t = 'hash'),
od AS (
  SELECT pa.doc_id, count(*) AS od1
  FROM pa JOIN pb ON pa.doc_id = pb.doc_id AND pb.p = pa.p + 1
  GROUP BY pa.doc_id
),
uw AS (
  SELECT pa.doc_id, count(*) AS uw8
  FROM pa JOIN pb ON pa.doc_id = pb.doc_id
    AND abs(pb.p - pa.p) <= 7 AND pa.p <> pb.p
  GROUP BY pa.doc_id
)
SELECT doc_id,
       score AS bm25,
       CAST(coalesce(od1, 0) AS BIGINT) AS od1,
       CAST(coalesce(uw8, 0) AS BIGINT) AS uw8,
       round(
         0.85 * score
         + 0.10 * ln(1.0 + coalesce(od1, 0))
         + 0.05 * ln(1.0 + coalesce(uw8, 0)),
       6) AS sdm
FROM s LEFT JOIN od USING (doc_id) LEFT JOIN uw USING (doc_id)
ORDER BY sdm DESC, doc_id ASC
LIMIT 20
"""

QUERY_REGISTRY["sdm_ranking"] = QuerySpec(
    q_sdm_ranking,
    ORACLE_SDM_RANKING,
    "Sequential Dependence Model: BM25 + ordered/unordered window features from one positional index",
)


def q_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hit-highlighting snippets for the BM25 top-10
    (`operators/retrieval.snippet_windows_from_index`): the best 10-token
    window per winning doc — most query-term occurrences, earliest start
    on ties; candidate starts are exactly the hit positions, so the
    argmax is a per-row lexicographic struct max over the index's
    position lists.  The cut is offset-served (index v4): the window's
    tokens substr out of the winners' text at the index's stored
    start-offset/length arrays — NOTHING re-tokenized at serve time,
    bit-identical to the v3 re-tokenize fallback (pinned in
    tests/test_retrieval.py).  The oracle replays ranking (BM25
    template), the window argmax (hit-position self-join), and the
    equivalent list-slice cut."""
    from covid19_spark.operators.retrieval import snippet_windows_from_index
    from covid19_spark.sources.index import ensure_inverted_index

    idx = ensure_inverted_index(spark, sf_dir)
    return snippet_windows_from_index(
        spark, idx, _t(spark, sf_dir, "documents"),
        ["spark", "hash"],
    )


ORACLE_SEARCH_SNIPPETS = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, u.x AS t
  FROM documents,
       unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS u(x)
),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
seeds AS (SELECT unnest(['spark', 'hash']) AS t),
s AS ({_BM25_SQL_FOR_TERMS.format(terms="seeds")}),
top AS (
  SELECT doc_id, score, rank FROM (
    SELECT doc_id, score,
           row_number() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM s
  ) WHERE rank <= 10
),
f AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS wf
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(wf) AS t,
         CAST(generate_subscripts(wf, 1) - 1 AS INT) AS p
  FROM f
),
hitpos AS (
  SELECT DISTINCT doc_id, p FROM pos WHERE t IN ('spark', 'hash')
),
wins AS (
  SELECT a.doc_id, a.p AS start, count(*) AS hits
  FROM hitpos a JOIN hitpos b
    ON a.doc_id = b.doc_id AND b.p BETWEEN a.p AND a.p + 9
  GROUP BY 1, 2
),
best AS (
  SELECT doc_id, start, hits FROM (
    SELECT doc_id, start, hits,
           row_number() OVER (
             PARTITION BY doc_id ORDER BY hits DESC, start ASC
           ) AS rn
    FROM wins
  ) WHERE rn = 1
)
SELECT t.doc_id, t.score, CAST(t.rank AS BIGINT) AS rank,
       CAST(b.start AS BIGINT) AS best_start,
       CAST(b.hits AS BIGINT) AS n_hits,
       array_to_string(list_slice(f.wf, b.start + 1, b.start + 10), ' ') AS snippet
FROM top t JOIN best b USING (doc_id) JOIN f USING (doc_id)
ORDER BY rank
"""

QUERY_REGISTRY["search_snippets"] = QuerySpec(
    q_search_snippets,
    ORACLE_SEARCH_SNIPPETS,
    "hit-highlighting snippet windows for the BM25 top-k (index positions + top-k-sized text cut)",
)


_BM25F_TERMS = ("spark", "hash", "join")
_BM25F_TITLE_LEN = 8
_BM25F_WEIGHTS = {"title": 2.5, "body": 1.0}


def bm25f_fields():
    """The derived title/body field split shared by the query and its
    tests: title = first 8 filtered tokens, body = the rest (the corpus
    has one text column; a real deployment passes its actual columns).
    Joining the token slices with single spaces makes re-tokenizing the
    field text recover exactly those tokens — the DuckDB twin slices the
    same filtered list."""
    toks = F.filter(
        F.split(F.lower(F.col("text")), " "), lambda t: t != ""
    )
    return {
        "title": F.array_join(F.slice(toks, 1, _BM25F_TITLE_LEN), " "),
        "body": F.array_join(
            F.slice(
                toks,
                _BM25F_TITLE_LEN + 1,
                F.greatest(F.size(toks) - _BM25F_TITLE_LEN, F.lit(0)),
            ),
            " ",
        ),
    }


def q_bm25f_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25F fielded ranking (Robertson, Zaragoza & Taylor, CIKM 2004)
    served from the persisted FIELDED index
    (`sources/index.ensure_fielded_index` — per-field postings, one
    additional field column, field-length norms): title hits weighted
    2.5x body hits, per-field length normalization, one saturation per
    (term, doc).  The serve is the main index's single statically-pruned
    scan (`operators/retrieval.bm25f_scores_from_index`); top-20 via
    two-stage top_k.  Degenerate-equivalence properties (one whole-text
    field ≡ plain BM25; equal weights at b=0 ≡ plain BM25 at b=0) are
    pinned in tests/test_retrieval.py."""
    from covid19_spark.operators.retrieval import bm25f_scores_from_index
    from covid19_spark.sources.index import ensure_fielded_index

    idx = ensure_fielded_index(
        spark, sf_dir, bm25f_fields(),
        fields_sig=f"title{_BM25F_TITLE_LEN}_body:v1",
    )
    scored = bm25f_scores_from_index(
        spark, idx, list(_BM25F_TERMS), weights=_BM25F_WEIGHTS
    )
    ranked = top_k(scored, "score", 20, tiebreak_cols=["doc_id"])
    return ranked.select(
        "doc_id", "score", F.col("rank").cast("long").alias("rank")
    ).orderBy("rank")


ORACLE_BM25F_RANKING = """
WITH wf AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS w
  FROM documents
),
ft AS MATERIALIZED (
  SELECT doc_id, 'title' AS field, u.x AS t
  FROM wf, unnest(list_slice(w, 1, 8)) AS u(x)
  UNION ALL
  SELECT doc_id, 'body' AS field, u.x AS t
  FROM wf, unnest(list_slice(w, 9, len(w))) AS u(x)
),
tf AS (
  SELECT doc_id, field, t, CAST(count(*) AS DOUBLE) AS tf
  FROM ft WHERE t IN ('spark', 'hash', 'join')
  GROUP BY doc_id, field, t
),
dl AS (
  SELECT doc_id, field, CAST(count(*) AS DOUBLE) AS dl
  FROM ft GROUP BY doc_id, field
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
avgf AS (
  SELECT field, CAST(sum(dl) AS DOUBLE) / (SELECT n FROM n) AS avgdl
  FROM dl GROUP BY field
),
rows_ AS (
  SELECT tf.doc_id, tf.t,
         (CASE tf.field WHEN 'title' THEN 2.5 ELSE 1.0 END)
         * (tf.tf / (1 - 0.75 + 0.75 * dl.dl / avgf.avgdl)) AS wtfn
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id AND tf.field = dl.field
  JOIN avgf ON tf.field = avgf.field
),
comb AS (
  SELECT doc_id, t,
         CAST(sum(CAST(wtfn AS DECIMAL(38,18))) AS DOUBLE) AS tfc
  FROM rows_ GROUP BY doc_id, t
),
dfq AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM comb GROUP BY t),
scored AS (
  SELECT comb.doc_id,
         round(CAST(sum(CAST(
           ln((n.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
           * comb.tfc * (1.2 + 1) / (comb.tfc + 1.2)
         AS DECIMAL(38,18))) AS DOUBLE), 6) AS score
  FROM comb JOIN dfq USING (t) CROSS JOIN n
  GROUP BY comb.doc_id
)
SELECT doc_id, score, rank FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= 20
ORDER BY rank
"""

QUERY_REGISTRY["bm25f_ranking"] = QuerySpec(
    q_bm25f_ranking,
    ORACLE_BM25F_RANKING,
    "BM25F weighted multi-field ranking from the persisted fielded index (title 2.5x body)",
)


_LMD_TERMS = ("spark", "hash", "join")


def q_lm_dirichlet_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet query-likelihood ranking (Zhai & Lafferty SIGIR 2001,
    Lucene LMDirichletSimilarity) from the persisted index
    (`operators/retrieval.lm_dirichlet_scores_from_index`): the
    collection language model p(t|C) comes from the index's cg/total
    scalars, candidates and tf/dl from one term-bucket-pruned postings
    scan, cg from an equally-pruned <=|q|-row termstats broadcast.
    Top-20; both the per-term log expression and the |q|-scaled length
    correction are replayed verbatim by the oracle."""
    from covid19_spark.operators.retrieval import (
        lm_dirichlet_scores_from_index,
    )
    from covid19_spark.sources.index import ensure_inverted_index

    idx = ensure_inverted_index(spark, sf_dir)
    scored = lm_dirichlet_scores_from_index(spark, idx, list(_LMD_TERMS))
    ranked = top_k(scored, "score", 20, tiebreak_cols=["doc_id"])
    return ranked.select(
        "doc_id", "score", F.col("rank").cast("long").alias("rank")
    ).orderBy("rank")


ORACLE_LM_DIRICHLET_RANKING = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, u.x AS t
  FROM documents,
       unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS u(x)
),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
total AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM toks),
tf AS (
  SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
  FROM toks WHERE t IN ('spark', 'hash', 'join')
  GROUP BY doc_id, t
),
cg AS (
  SELECT t, CAST(count(*) AS DOUBLE) AS cg
  FROM toks WHERE t IN ('spark', 'hash', 'join')
  GROUP BY t
),
scored AS (
  SELECT tf.doc_id,
         round(
           CAST(sum(CAST(
             ln(1.0 + tf.tf / (2000.0 * (cg.cg / total.total)))
           AS DECIMAL(38,18))) AS DOUBLE)
           + 3.0 * ln(2000.0 / (dl.dl + 2000.0)),
         6) AS score
  FROM tf
  JOIN cg USING (t)
  JOIN dl USING (doc_id)
  CROSS JOIN total
  GROUP BY tf.doc_id, dl.dl
)
SELECT doc_id, score, rank FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= 20
ORDER BY rank
"""

QUERY_REGISTRY["lm_dirichlet_ranking"] = QuerySpec(
    q_lm_dirichlet_ranking,
    ORACLE_LM_DIRICHLET_RANKING,
    "Dirichlet-smoothed query-likelihood ranking from the index's collection statistics",
)


_PREFIX = "s"


def q_prefix_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-query retrieval (Lucene PrefixQuery with the capped
    blended rewrite): expand the prefix against the index's termstats —
    a VOCABULARY-sized scan, the honest cost of a prefix over hash
    buckets (Lucene walks its term dictionary the same way) — cap at the
    8 highest-df terms (df desc, term asc — fully tiebroken), then BM25
    via the data-dependent term-frame path (broadcast (tb, t) join onto
    the postings scan, runtime bucket pruning).  Top-20."""
    from covid19_spark.operators.retrieval import (
        bm25_scores_from_index, prefix_expand_terms,
    )
    from covid19_spark.sources.index import ensure_inverted_index

    idx = ensure_inverted_index(spark, sf_dir)
    expansion = prefix_expand_terms(spark, idx, _PREFIX)
    scored = bm25_scores_from_index(spark, idx, expansion)
    ranked = top_k(scored, "score", 20, tiebreak_cols=["doc_id"])
    return ranked.select(
        "doc_id", "score", F.col("rank").cast("long").alias("rank")
    ).orderBy("rank")


ORACLE_PREFIX_BM25 = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, u.x AS t
  FROM documents,
       unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS u(x)
),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
expanded AS (
  SELECT t FROM (
    SELECT t, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df,
           row_number() OVER (
             ORDER BY CAST(count(DISTINCT doc_id) AS DOUBLE) DESC, t ASC
           ) AS rn
    FROM toks WHERE t LIKE 's%'
    GROUP BY t
  ) WHERE rn <= 8
),
s AS ({_BM25_SQL_FOR_TERMS.format(terms="expanded")})
SELECT doc_id, score, rank FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM s
) WHERE rank <= 20
ORDER BY rank
"""

QUERY_REGISTRY["prefix_bm25"] = QuerySpec(
    q_prefix_bm25,
    ORACLE_PREFIX_BM25,
    "prefix-query BM25: capped highest-df term expansion from termstats, data-dependent term-frame serve",
)


def q_dismax_fielded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunction-max fielded retrieval (Lucene DisjunctionMaxQuery)
    over the same persisted title/body fielded index as `bm25f_ranking`:
    per (term, doc) the BEST field's weighted BM25 kernel wins, others
    contribute tie_break=0.3 of their kernel — the query shape for "a
    title hit should not be double-counted by its body echo".  One
    statically pruned fpostings scan; top-20."""
    from covid19_spark.operators.retrieval import dismax_scores_from_index
    from covid19_spark.sources.index import ensure_fielded_index

    idx = ensure_fielded_index(
        spark, sf_dir, bm25f_fields(),
        fields_sig=f"title{_BM25F_TITLE_LEN}_body:v1",
    )
    scored = dismax_scores_from_index(
        spark, idx, list(_BM25F_TERMS),
        weights={"title": 2.0, "body": 1.0},
    )
    ranked = top_k(scored, "score", 20, tiebreak_cols=["doc_id"])
    return ranked.select(
        "doc_id", "score", F.col("rank").cast("long").alias("rank")
    ).orderBy("rank")


ORACLE_DISMAX_FIELDED = """
WITH wf AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS w
  FROM documents
),
ft AS MATERIALIZED (
  SELECT doc_id, 'title' AS field, u.x AS t
  FROM wf, unnest(list_slice(w, 1, 8)) AS u(x)
  UNION ALL
  SELECT doc_id, 'body' AS field, u.x AS t
  FROM wf, unnest(list_slice(w, 9, len(w))) AS u(x)
),
tf AS (
  SELECT doc_id, field, t, CAST(count(*) AS DOUBLE) AS tf
  FROM ft WHERE t IN ('spark', 'hash', 'join')
  GROUP BY doc_id, field, t
),
dl AS (
  SELECT doc_id, field, CAST(count(*) AS DOUBLE) AS dl
  FROM ft GROUP BY doc_id, field
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
avgf AS (
  SELECT field, CAST(sum(dl) AS DOUBLE) / (SELECT n FROM n) AS avgdl
  FROM dl GROUP BY field
),
rows_ AS (
  SELECT tf.doc_id, tf.t,
         (CASE tf.field WHEN 'title' THEN 2.0 ELSE 1.0 END)
         * ((tf.tf / (1 - 0.75 + 0.75 * dl.dl / avgf.avgdl)) * (1.2 + 1)
            / ((tf.tf / (1 - 0.75 + 0.75 * dl.dl / avgf.avgdl)) + 1.2)) AS s_f
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id AND tf.field = dl.field
  JOIN avgf ON tf.field = avgf.field
),
comb AS (
  SELECT doc_id, t,
         CAST(max(CAST(s_f AS DECIMAL(38,18))) AS DOUBLE) AS mx,
         CAST(sum(CAST(s_f AS DECIMAL(38,18))) AS DOUBLE) AS sm
  FROM rows_ GROUP BY doc_id, t
),
dmaxed AS (
  SELECT doc_id, t, mx + 0.3 * (sm - mx) AS dmax FROM comb
),
dfq AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM dmaxed GROUP BY t),
scored AS (
  SELECT dmaxed.doc_id,
         round(CAST(sum(CAST(
           ln((n.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) * dmaxed.dmax
         AS DECIMAL(38,18))) AS DOUBLE), 6) AS score
  FROM dmaxed JOIN dfq USING (t) CROSS JOIN n
  GROUP BY dmaxed.doc_id
)
SELECT doc_id, score, rank FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= 20
ORDER BY rank
"""

QUERY_REGISTRY["dismax_fielded"] = QuerySpec(
    q_dismax_fielded,
    ORACLE_DISMAX_FIELDED,
    "disjunction-max fielded retrieval (best field wins, tie_break echoes) from the fielded index",
)
