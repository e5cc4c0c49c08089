"""LLM-data-pipeline operators: text analysis, dedup, similarity, ANN,
multimodal codecs, BPE, perceptual near-dup (BASELINE.json north-star
additions beyond the reference surface)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from covid19_spark.plans.base import QUERY_REGISTRY, QuerySpec, _t, fixture_path



def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring over documents: token stats, punctuation/stopword
    ratios, composite score — all JVM-side expressions, map-only (no shuffle).

    Staged projection: base counts are materialized once, ratios/score derive
    from the count *columns* — keeps the codegen'd expression tree linear
    instead of re-tokenizing per output column (~3× faster at sf0.1).
    """
    from covid19_spark.operators.text import LANG_STOPWORDS

    docs = _t(spark, sf_dir, "documents")
    en = tuple(LANG_STOPWORDS["en"])
    toks = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.regexp_count("text", F.lit(r"[^A-Za-z0-9\s]")).alias("n_punct"),
        F.split(F.lower("text"), " ").alias("toks"),
    )
    base = toks.select(
        "doc_id",
        "n_chars",
        F.size(F.filter("toks", lambda t: t != "")).alias("n_tokens"),
        "n_punct",
        F.size(F.filter("toks", lambda t: t.isin(*en))).alias("stop_hits"),
    )
    mean_tok = F.when(F.col("n_tokens") > 0, (F.col("n_chars") - (F.col("n_tokens") - 1)) / F.col("n_tokens"))
    stop_ratio = F.when(F.col("n_tokens") > 0, F.col("stop_hits") / F.col("n_tokens"))
    punct_ratio = F.when(F.col("n_chars") > 0, F.col("n_punct") / F.col("n_chars"))
    score = (
        F.lit(0.5) * F.least(F.coalesce(stop_ratio, F.lit(0.0)) * 4, F.lit(1.0))
        + F.lit(0.3) * F.when((mean_tok >= 3) & (mean_tok <= 12), 1.0).otherwise(0.0)
        + F.lit(0.2) * (1 - F.least(F.coalesce(punct_ratio, F.lit(0.0)) * 5, F.lit(1.0)))
    )
    return base.select(
        "doc_id", "n_chars", "n_tokens", "n_punct", "stop_hits",
        mean_tok.alias("mean_token_len"),
        stop_ratio.alias("stop_ratio"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality_score"),
    ).orderBy("doc_id")


ORACLE_TEXT_QUALITY = """
WITH feat AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS n_tokens,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         len(list_filter(string_split(lower(text), ' '),
             t -> t IN ('the','and','of','to','a','in','is'))) AS stop_hits
  FROM documents
)
SELECT doc_id, n_chars, n_tokens, n_punct, stop_hits,
       CASE WHEN n_tokens > 0 THEN (n_chars - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE) END AS mean_token_len,
       CASE WHEN n_tokens > 0 THEN stop_hits / CAST(n_tokens AS DOUBLE) END AS stop_ratio,
       CASE WHEN n_chars > 0 THEN n_punct / CAST(n_chars AS DOUBLE) END AS punct_ratio,
       0.5 * least(coalesce(CASE WHEN n_tokens > 0 THEN stop_hits / CAST(n_tokens AS DOUBLE) END, 0.0) * 4, 1.0)
       + 0.3 * (CASE WHEN n_tokens > 0
                      AND (n_chars - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE) >= 3
                      AND (n_chars - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE) <= 12
                     THEN 1.0 ELSE 0.0 END)
       + 0.2 * (1 - least(coalesce(CASE WHEN n_chars > 0 THEN n_punct / CAST(n_chars AS DOUBLE) END, 0.0) * 5, 1.0))
         AS quality_score
FROM feat
ORDER BY doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID (stopword voting, deterministic tie-break) —
    map-only CASE chain, no UDF."""
    from covid19_spark.operators.text import LANG_STOPWORDS

    docs = _t(spark, sf_dir, "documents")
    langs = sorted(LANG_STOPWORDS)

    def hit_counter(words):
        ws = tuple(words)
        return lambda t: t.isin(*ws)

    # stage 0: tokenize ONCE (5 per-language splits cost 4.5x more);
    # stage 1: materialize hit counts; stage 2: CASE over the columns
    # (the naive nested-predict recomputes every score ~8x inside the CASE).
    toks = docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"), F.split(F.lower("text"), " ").alias("toks")
    )
    base = toks.select(
        "doc_id",
        "labeled_lang",
        *[
            F.size(F.filter("toks", hit_counter(LANG_STOPWORDS[lang]))).alias(f"{lang}_hits")
            for lang in langs
        ],
    )
    pred = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = F.col(f"{lang}_hits") >= F.col(f"{other}_hits")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return base.select(
        "doc_id", "labeled_lang", pred.alias("pred_lang"),
        *[f"{lang}_hits" for lang in langs],
    ).orderBy("doc_id")


def _hits_sql(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(string_split(lower(text), ' '), t -> t IN ({inlist})))"


def _lang_id_oracle() -> str:
    from covid19_spark.operators.text import LANG_STOPWORDS

    hits = {lang: _hits_sql(tuple(ws)) for lang, ws in LANG_STOPWORDS.items()}
    langs = sorted(hits)
    cases = []
    for lang in langs[:-1]:
        conds = " AND ".join(
            f"{lang}_hits >= {other}_hits" for other in langs if other != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"
    hit_cols = ",\n         ".join(f"{sql} AS {lang}_hits" for lang, sql in sorted(hits.items()))
    return f"""
WITH scored AS (
  SELECT doc_id, lang AS labeled_lang,
         {hit_cols}
  FROM documents
)
SELECT doc_id, labeled_lang, {case_sql} AS pred_lang,
       de_hits, en_hits, es_hits, fr_hits, zh_hits
FROM scored
ORDER BY doc_id
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of normalized text, truncated to 16 hex
    chars (rolling-hash-style canonical key for dedup)."""
    from covid19_spark.operators.text import fingerprint, normalize_text

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fingerprint"),
        F.length(normalize_text(F.col("text"))).alias("norm_len"),
    ).orderBy("doc_id")


ORACLE_DOC_FINGERPRINT = """
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS nt
  FROM documents
)
SELECT doc_id, substring(md5(nt), 1, 16) AS fingerprint, length(nt) AS norm_len
FROM norm
ORDER BY doc_id
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest (hash-groupBy — uniform keys, skew-free
    at any scale): canonical id + duplicate count per distinct text."""
    from covid19_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").orderBy("text_hash")


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id, count(*) AS n_dupes
FROM documents
GROUP BY md5(text)
ORDER BY text_hash
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs within language blocks (the verify
    stage of a dedup pipeline; candidate generation at scale is MinHash-LSH,
    registered separately as a rows-only query)."""
    from covid19_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", block_cols=["lang"], threshold=0.05
    ).orderBy("doc_a", "doc_b")


ORACLE_NGRAM_JACCARD = """
WITH d AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(range(1, len(string_split(text, ' '))),
             i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS sh
  FROM documents WHERE doc_id < 200
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
       len(list_intersect(a.sh, b.sh)) / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh)) / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.05
ORDER BY doc_a, doc_b
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search: query vectors (vec_id < 8)
    against the whole embeddings corpus; broadcast queries, one corpus scan.
    Dot products are left-to-right double folds — bit-identical to the
    oracle's list_reduce."""
    from covid19_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return cosine_topk(emb, queries, k=10).orderBy("query_id", "rank")


ORACLE_COSINE_TOPK = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_reduce(list_transform(range(1, 65), i -> qv[i] * v[i]), (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(range(1, 65), i -> qv[i] * qv[i]), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(range(1, 65), i -> v[i] * v[i]), (x, y) -> x + y))) AS sim
  FROM e JOIN q ON e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, sim FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gates (max-token fraction, duplicate-bigram
    fraction) over the documents table — the repetitive-text filter of a
    training-data pipeline."""
    from covid19_spark.operators.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text").orderBy("doc_id")


ORACLE_REPETITION_STATS = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
), tc AS (
  SELECT doc_id, tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct_tokens, CAST(max(c) AS BIGINT) AS mx
  FROM tc GROUP BY 1
), big AS (
  SELECT doc_id,
         list_transform(range(1, len(string_split(lower(text), ' '))),
                        i -> string_split(lower(text), ' ')[i] || ' ' || string_split(lower(text), ' ')[i+1]) AS sh
  FROM documents
), bstats AS (
  SELECT doc_id,
         CASE WHEN len(sh) > 0
              THEN 1.0 - len(list_distinct(sh)) / CAST(len(sh) AS DOUBLE) END AS dup_bigram_frac
  FROM big
)
SELECT p.doc_id AS doc_id, n_tokens, n_distinct_tokens,
       mx / CAST(n_tokens AS DOUBLE) AS max_token_frac, dup_bigram_frac
FROM per_doc p JOIN bstats b ON p.doc_id = b.doc_id
ORDER BY doc_id
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus reporting: docs, chars, whitespace tokens —
    the bookkeeping scan a pipeline runs before/after every curation stage.
    Map-only token math + one partial-agg exchange on the tiny group key."""
    from covid19_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("source", "lang", "n_chars", token_count(F.col("text")).alias("tc"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("tc").cast("long").alias("total_tokens"),
        )
        .orderBy("source", "lang")
    )


ORACLE_CORPUS_STATS = """
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(len(list_filter(string_split(lower(text), ' '), t -> t <> ''))) AS BIGINT) AS total_tokens
FROM documents
GROUP BY source, lang
ORDER BY source, lang
"""


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing for training-batch packing: docs grouped
    into fixed-width token-count buckets with per-bucket and running token
    budgets. Integer bucket arithmetic (exact cross-engine); the running
    sum ranks |buckets| rows only."""
    from covid19_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    bucketed = docs.select(
        (F.floor(token_count(F.col("text")) / 32)).cast("long").alias("bucket"),
        token_count(F.col("text")).alias("tc"),
    )
    per_bucket = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tc").cast("long").alias("bucket_tokens"),
    )
    w = Window.orderBy("bucket")  # |buckets| rows — bounded by max_len/32
    return (
        per_bucket.withColumn(
            "cum_tokens", F.sum("bucket_tokens").over(w).cast("long")
        )
        .orderBy("bucket")
    )


ORACLE_LENGTH_BUCKETS = """
WITH d AS (
  SELECT CAST(floor(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) / 32) AS BIGINT) AS bucket,
         len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tc
  FROM documents
), per_bucket AS (
  SELECT bucket, count(*) AS n_docs, CAST(sum(tc) AS BIGINT) AS bucket_tokens
  FROM d GROUP BY bucket
)
SELECT bucket, n_docs, bucket_tokens,
       CAST(sum(bucket_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens
FROM per_bucket
ORDER BY bucket
"""


QUERY_REGISTRY["repetition_stats"] = QuerySpec(
    q_repetition_stats, ORACLE_REPETITION_STATS, "Gopher repetition gates"
)
QUERY_REGISTRY["corpus_stats"] = QuerySpec(
    q_corpus_stats, ORACLE_CORPUS_STATS, "per-source corpus reporting"
)
QUERY_REGISTRY["length_buckets"] = QuerySpec(
    q_length_buckets, ORACLE_LENGTH_BUCKETS, "sequence-length packing buckets"
)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks (the dedup
    family's embedding member). Blocks on the cluster label — at corpus
    scale the block key is an ANN LSH bucket; this is the verify stage.
    Like ``_perturbed_docs``, deterministic perturbed copies
    (vec_id+100000, component nudge ``0.02*((i%7)-3)``) give guaranteed
    true positives. Double-fold cosine ≡ the oracle's ``list_reduce``."""
    from covid19_spark.operators.similarity import cosine_near_dup_pairs

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 1000)  # bounded verify set, like ngram_jaccard's doc_id<200
        .select("vec_id", "label", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    nudged = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: F.element_at("embedding", i) + F.lit(0.02) * ((i % 7) - 3),
    )
    perturbed = emb.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "label", nudged.alias("embedding")
    )
    base = emb.unionByName(perturbed)
    # 10 coarse labels << 32 cores: salt the pair space 16 ways so the
    # fold-heavy scoring join runs on 160 tasks instead of 10 (result-set
    # identical; see cosine_near_dup_pairs docstring).
    return cosine_near_dup_pairs(
        base, "vec_id", "embedding", threshold=0.90, block_cols=["label"], salt_buckets=16
    ).orderBy("id_a", "id_b")


ORACLE_EMBEDDING_NEAR_DUP = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id < 1000
), p AS (
  SELECT vec_id + 100000 AS vec_id, label,
         list_transform(range(1, 65), i -> v[i] + 0.02*((i % 7) - 3)) AS v
  FROM e WHERE vec_id < 100
), u AS (
  SELECT * FROM e UNION ALL SELECT * FROM p
), n AS (
  SELECT vec_id, label,
         list_transform(v, x -> x / sqrt(list_reduce(list_transform(range(1, 65), i -> v[i] * v[i]), (x, y) -> x + y))) AS vn
  FROM u
), scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
         list_reduce(list_transform(range(1, 65), i -> a.vn[i] * b.vn[i]), (x, y) -> x + y) AS sim
  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, label, sim FROM scored WHERE sim >= 0.90
ORDER BY id_a, id_b
"""


QUERY_REGISTRY["embedding_near_dup"] = QuerySpec(
    q_embedding_near_dup, ORACLE_EMBEDDING_NEAR_DUP, "embedding-cosine near-dup (blocked verify)"
)


def _perturbed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id<50) unioned with deterministic near-duplicates
    (id+100000, first 3 tokens dropped) — gives the candidate-generation
    queries guaranteed true positives without touching the source data."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    toks = F.split(F.col("text"), " ")
    variants = (
        docs.filter(F.col("doc_id") < 50)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat_ws(" ", F.slice(toks, 4, 100000)).alias("text"),
            "lang",
        )
    )
    return docs.unionByName(variants)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (32 hashes, 8 bands × 4 rows).

    Non-SQL-expressible (xxhash64 permutations) → rows-only driver check;
    recall/precision vs exact Jaccard is asserted in tests/test_dedup.py.
    """
    from covid19_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    base = _perturbed_docs(spark, sf_dir)
    # localCheckpoint(eager): the LSH band self-join consumes the signature
    # frame twice; the frame is |docs| rows of 32 longs (KB-scale), while
    # recomputing it doubles the whole shingle+hash pass — and concurrent
    # FIRST computation of an unmaterialized frame duplicates the upstream
    # work (measured: simhash_pairs 2.7 s warm vs 7.6 s when consumers
    # race). Unlike .cache(), the blocks bypass the session CacheManager
    # and are freed by the ContextCleaner once the result frame dies — a
    # registry query must not leave session-lifetime cache entries behind
    # (VERDICT r07 item #2).
    sigs = minhash_signatures(base, "doc_id", "text").localCheckpoint(eager=True)
    return (
        lsh_candidate_pairs(sigs, "doc_id")
        .filter(F.col("est_jaccard") >= 0.3)
        .orderBy("doc_a", "doc_b")
    )


def q_lsh_banding_crosscheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE cross-engine oracle for the LSH banding machinery. The minhash
    SIGNATURES are not SQL-expressible (xxhash64 permutations), which is why
    ``minhash_lsh`` is a rows-only check — but everything downstream of the
    signature frame IS: banding into 8×4 slices, the (band, bucket)
    self-join, candidate-pair dedup, and the agreeing-position Jaccard
    estimator. This query feeds the REAL ``lsh_candidate_pairs`` operator a
    deterministic arithmetic signature frame both engines can compute
    (clusters of 5 docs share a k(d)-position prefix, k graded 0..32, so
    candidates span every band depth and est_jaccard takes many values),
    and DuckDB independently re-derives the candidate pairs by grouping on
    the raw band slices. Agreement count is emitted as an exact BIGINT
    (est_jaccard·32). The one representational difference — Spark buckets
    by xxhash64 of the slice, the oracle by the slice itself — is the
    point: a banding/slicing/join bug cannot hide in a shared fixture.
    Scale shape: identical to minhash_lsh (map-only banding, bucketed
    equi-join behind the oversized-bucket guard, |pairs| joins back to
    KB-scale signatures)."""
    from covid19_spark.operators.dedup import lsh_candidate_pairs

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 400)
    )
    d = F.col("doc_id")
    grp = d - d % 5
    kcut = (d * 7) % 33
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(31)),
        lambda i: (
            (F.when(i < kcut, grp).otherwise(d) + 1)
            * (i * 2654435761 + 7919) % 1000003
        ),
    )
    sigs = docs.select("doc_id", sig.cast("array<long>").alias("sig"))
    return (
        lsh_candidate_pairs(sigs, "doc_id")
        .select(
            "doc_a",
            "doc_b",
            (F.col("est_jaccard") * 32).cast("long").alias("n_agree"),
        )
        .orderBy("doc_a", "doc_b")
    )


ORACLE_LSH_BANDING_CROSSCHECK = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 400),
sigs AS (
  SELECT doc_id,
         list_transform(range(0, 32), i ->
           ((CASE WHEN i < (doc_id * 7) % 33
                  THEN doc_id - doc_id % 5 ELSE doc_id END) + 1)
           * (i * 2654435761 + 7919) % 1000003) AS sig
  FROM d
),
banded AS (
  SELECT doc_id, b.band,
         array_to_string(sig[b.band * 4 + 1 : b.band * 4 + 4], ',') AS bucket
  FROM sigs, (SELECT unnest(range(0, 8)) AS band) b
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM banded a
  JOIN banded c
    ON a.band = c.band AND a.bucket = c.bucket AND a.doc_id < c.doc_id
)
SELECT p.doc_a, p.doc_b,
       CAST(len(list_filter(range(0, 32),
                i -> sa.sig[i + 1] = sb.sig[i + 1])) AS BIGINT) AS n_agree
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.doc_a
JOIN sigs sb ON sb.doc_id = p.doc_b
ORDER BY doc_a, doc_b
"""


QUERY_REGISTRY["lsh_banding_crosscheck"] = QuerySpec(
    q_lsh_banding_crosscheck, ORACLE_LSH_BANDING_CROSSCHECK,
    "LSH band/bucket/pair/estimator machinery vs independent SQL (oracle)",
)


def q_lsh_guard_crosscheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE cross-engine oracle for the oversized-bucket guard — the skew
    valve every banded probe shares (`drop_oversized_buckets`) and the one
    piece of the banding machinery `lsh_banding_crosscheck` leaves
    unexercised (its buckets are all small). Four planted clusters with
    IDENTICAL signatures and graded sizes (9/18/27/36) run through the
    real `lsh_candidate_pairs` with max_bucket=20: the two oversized
    clusters must be dropped as exactly 8 (band, bucket) groups each —
    surfaced via `dropped_report`, the r06 observability contract — while
    the two small clusters must survive as complete within-cluster pair
    sets. DuckDB derives both sides independently from the cluster-size
    arithmetic over the live doc domain. Output grain: one row per
    (kind, cluster size): dropped-bucket counts and surviving pair
    counts."""
    from covid19_spark.operators.dedup import lsh_candidate_pair_ids

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 90)
    )
    d = F.col("doc_id")
    seed = (
        F.when(d < 9, 0).when(d < 27, 1).when(d < 54, 2).otherwise(3)
    )
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(31)),
        lambda i: (seed + 1) * (i * 2654435761 + 7919) % 1000003,
    )
    sigs = docs.select("doc_id", sig.cast("array<long>").alias("sig"))
    rep: list = []
    # id pairs only (survived/dropped counts, no est_jaccard) — r14
    pairs = lsh_candidate_pair_ids(
        sigs, "doc_id", max_bucket=20, dropped_report=rep
    )
    dropped = rep[0].groupBy("bucket_size").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).select(
        F.lit("dropped_bucket").alias("kind"),
        F.col("bucket_size").cast("long").alias("metric"),
        "n",
    )
    grp_size = (
        F.when(F.col("doc_a") < 9, 9)
        .when(F.col("doc_a") < 27, 18)
        .when(F.col("doc_a") < 54, 27)
        .otherwise(36)
    )
    survived = pairs.groupBy(grp_size.cast("long").alias("metric")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).select(F.lit("pairs").alias("kind"), "metric", "n")
    return dropped.unionByName(survived).orderBy("kind", "metric")


ORACLE_LSH_GUARD_CROSSCHECK = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 90),
g AS (
  SELECT doc_id,
         CASE WHEN doc_id < 9 THEN 0 WHEN doc_id < 27 THEN 1
              WHEN doc_id < 54 THEN 2 ELSE 3 END AS grp
  FROM d
),
s AS (SELECT grp, count(*) AS sz FROM g GROUP BY grp)
SELECT 'dropped_bucket' AS kind, CAST(sz AS BIGINT) AS metric,
       CAST(8 AS BIGINT) AS n
FROM s WHERE sz > 20
UNION ALL
SELECT 'pairs', CAST(sz AS BIGINT), CAST(sz * (sz - 1) / 2 AS BIGINT)
FROM s WHERE sz <= 20
ORDER BY kind, metric
"""


QUERY_REGISTRY["lsh_guard_crosscheck"] = QuerySpec(
    q_lsh_guard_crosscheck, ORACLE_LSH_GUARD_CROSSCHECK,
    "oversized-bucket guard + report vs independent SQL (oracle)",
)


def q_simhash_banding_crosscheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE cross-engine oracle for the banded Hamming probe — the twin of
    ``lsh_banding_crosscheck`` for the SimHash/dHash/audio/video family.
    The 64-bit signatures themselves are xxhash-derived in production
    (rows-only), but the probe downstream of a signature column is pure
    relational machinery: 4×16-bit sub-band keying, (band, key) self-join
    behind the oversized-bucket guard, ``bit_count(a XOR b)`` Hamming
    filter, pair dedup. Feed the REAL ``simhash_candidate_pairs`` a
    deterministic arithmetic signature (four 15-bit fields; clusters of 5
    docs share their first d%5 fields, so candidates exist at every band
    and the Hamming filter both keeps and drops pairs), and let DuckDB
    re-derive the survivors from raw field equality + its own xor/bit_count.
    Scale shape: identical to simhash_pairs."""
    from covid19_spark.operators.dedup import simhash_candidate_pairs

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 400)
    )
    d = F.col("doc_id")
    grp = d - d % 5
    mcut = d % 5

    def fld(f: int):
        seed = F.when(F.lit(f) < mcut, grp).otherwise(d) + 1
        return (seed * (f * 2654435761 + 7919)) % 32749

    sim = ((fld(0) * 65536 + fld(1)) * 65536 + fld(2)) * 65536 + fld(3)
    sigs = docs.select("doc_id", sim.cast("long").alias("simhash"))
    return (
        simhash_candidate_pairs(sigs, "doc_id", max_hamming=12)
        .select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


ORACLE_SIMHASH_BANDING_CROSSCHECK = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 400),
sigs AS (
  SELECT doc_id,
         list_transform(range(0, 4), f ->
           ((CASE WHEN f < doc_id % 5
                  THEN doc_id - doc_id % 5 ELSE doc_id END) + 1)
           * (f * 2654435761 + 7919) % 32749) AS flds
  FROM d
),
s2 AS (
  SELECT doc_id,
         ((flds[1] * 65536 + flds[2]) * 65536 + flds[3]) * 65536 + flds[4]
           AS simhash,
         flds
  FROM sigs
),
banded AS (
  SELECT doc_id, simhash, b.band, flds[b.band + 1] AS key
  FROM s2, (SELECT unnest(range(0, 4)) AS band) b
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
         bit_count(xor(a.simhash, c.simhash)) AS hamming
  FROM banded a
  JOIN banded c
    ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
)
SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
FROM pairs WHERE hamming <= 12
ORDER BY doc_a, doc_b
"""


QUERY_REGISTRY["simhash_banding_crosscheck"] = QuerySpec(
    q_simhash_banding_crosscheck, ORACLE_SIMHASH_BANDING_CROSSCHECK,
    "banded Hamming probe machinery vs independent SQL (oracle)",
)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (64-bit signature, 4×16-bit band probe,
    Hamming ≤ 12 over 2-gram shingles). Rows-only (xxhash64 not in DuckDB)."""
    from covid19_spark.operators.dedup import simhash, simhash_candidate_pairs

    base = _perturbed_docs(spark, sf_dir)
    # eager localCheckpoint for the same reuse-without-cache-leak reason as
    # q_minhash_lsh
    sigs = simhash(base, "doc_id", "text").localCheckpoint(eager=True)
    return simhash_candidate_pairs(sigs, "doc_id", max_hamming=12).orderBy(
        "doc_a", "doc_b"
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbours (sign-hyperplane buckets,
    multi-probe Hamming-1). The 100 TB scale path for similarity search;
    recall vs the exact operator is asserted in tests. Rows-only check."""
    from covid19_spark.operators.similarity import ann_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return ann_cosine_topk(emb, queries, num_planes=12).orderBy(
        "query_id", "rank"
    )


def q_pq_adc_crosscheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE cross-engine oracle for the PQ machinery — everything in
    ``pq_cosine_topk`` EXCEPT Lloyd training, which is what keeps the ANN
    family rows-only: normalization-before-slicing, per-subspace
    nearest-codeword encoding (squared L2, ties to the lowest code), the
    ADC dot-product table, shortlist selection by ADC score, and the
    exact-cosine rerank. Codebooks are supplied externally as a
    deterministic arithmetic grid both engines construct identically, so
    DuckDB re-runs the ENTIRE pipeline independently (argmin via window
    rank, ADC via a codes⋈table join+sum) and the driver hash-compares the
    final ranked neighbors. Float discipline: the compared similarity is
    micro-scaled to BIGINT; the internal ADC/argmin comparisons tolerate
    cross-engine ulp noise because adjacent distances differ by orders of
    magnitude more on real embeddings (ties break on code/neighbor id in
    BOTH engines). Scale shape: identical to pq_cosine_topk — broadcast
    codebooks/tables, map-only encode, no pairwise stage outside the
    shortlist×|Q| rerank."""
    from covid19_spark.operators.similarity import pq_cosine_topk

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 256)
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    queries = emb.filter(F.col("vec_id") < 8)
    cb = (
        spark.range(8).select(F.col("id").cast("int").alias("sub"))
        .crossJoin(spark.range(16).select(F.col("id").cast("int").alias("code")))
        .select(
            "sub",
            "code",
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda j: (
                    ((F.col("sub") * 31 + F.col("code") * 7 + j * 13) % 21) - 10
                ) / 10.0,
            ).alias("cvec"),
        )
    )
    return (
        pq_cosine_topk(emb, queries, codebooks=cb)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.round(F.col("sim") * 1000000).cast("long").alias("sim_e6"),
        )
        .orderBy("query_id", "rank")
    )


ORACLE_PQ_ADC_CROSSCHECK = """
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 256
),
nrm AS (
  SELECT vec_id, v,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
  FROM emb
),
cb AS (
  SELECT s.sub, c.code,
         list_transform(range(0, 8), j ->
           (((s.sub * 31 + c.code * 7 + j * 13) % 21) - 10) / 10.0) AS cvec
  FROM (SELECT unnest(range(0, 8)) AS sub) s,
       (SELECT unnest(range(0, 16)) AS code) c
),
dists AS (
  SELECT n.vec_id, cb.sub, cb.code,
         list_sum(list_transform(range(1, 9), j ->
           (n.nv[cb.sub * 8 + j] - cb.cvec[j])
           * (n.nv[cb.sub * 8 + j] - cb.cvec[j]))) AS d2
  FROM nrm n, cb
),
codes AS (
  SELECT vec_id, sub, code
  FROM (SELECT vec_id, sub, code,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, code) AS rn
        FROM dists)
  WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv, nv AS qn FROM nrm WHERE vec_id < 8),
tab AS (
  SELECT q.query_id, cb.sub, cb.code,
         list_sum(list_transform(range(1, 9), j ->
           q.qn[cb.sub * 8 + j] * cb.cvec[j])) AS dp
  FROM q, cb
),
adc AS (
  SELECT c.vec_id AS neighbor_id, t.query_id, sum(t.dp) AS adc_score
  FROM codes c
  JOIN tab t ON t.sub = c.sub AND t.code = c.code
  WHERE c.vec_id <> t.query_id
  GROUP BY c.vec_id, t.query_id
),
short AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_score DESC, neighbor_id) AS rn
        FROM adc)
  WHERE rn <= 50
),
rer AS (
  SELECT s.query_id, s.neighbor_id,
         list_dot_product(q.qv, e.v)
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(e.v, e.v))) AS sim
  FROM short s
  JOIN emb e ON e.vec_id = s.neighbor_id
  JOIN q ON q.query_id = s.query_id
)
SELECT query_id, CAST(rnk AS INT) AS rank, neighbor_id,
       CAST(ROUND(sim * 1000000) AS BIGINT) AS sim_e6
FROM (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rnk
      FROM rer)
WHERE rnk <= 10
ORDER BY query_id, rank
"""


QUERY_REGISTRY["pq_adc_crosscheck"] = QuerySpec(
    q_pq_adc_crosscheck, ORACLE_PQ_ADC_CROSSCHECK,
    "PQ encode+ADC+rerank machinery vs independent SQL (oracle)",
)


def q_ivf_probe_crosscheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE cross-engine oracle for the IVF machinery — the twin of
    ``pq_adc_crosscheck`` for the coarse-quantizer tier: list assignment
    (nearest centroid by DOT product, probe order dot-desc then
    centroid_id), multi-probe query routing (n_probes=3), the
    centroid-keyed candidate join, and the exact-cosine rank. Centroids
    are a deterministic arithmetic grid both engines construct, so DuckDB
    re-runs the whole probe pipeline independently; only Lloyd training —
    the genuinely iterative part — stays out, pinned by fixtures and
    recall tests as before. Scale shape: identical to ivf_cosine_topk
    (broadcast centroid row, map-only assignment, hash join on
    centroid_id)."""
    from covid19_spark.operators.similarity import ivf_cosine_topk

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 256)
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    queries = emb.filter(F.col("vec_id") < 8)
    cents = spark.range(16).select(
        F.col("id").cast("int").alias("centroid_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: (((F.col("id") * 17 + j * 29) % 19) - 9) / 9.0,
        ).alias("cvec"),
    )
    return (
        ivf_cosine_topk(emb, queries, centroids=cents)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.round(F.col("sim") * 1000000).cast("long").alias("sim_e6"),
        )
        .orderBy("query_id", "rank")
    )


ORACLE_IVF_PROBE_CROSSCHECK = """
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 256
),
cent AS (
  SELECT c.cid,
         list_transform(range(0, 64), j ->
           (((c.cid * 17 + j * 29) % 19) - 9) / 9.0) AS cvec
  FROM (SELECT unnest(range(0, 16)) AS cid) c
),
scoredc AS (
  SELECT e.vec_id, c.cid, list_dot_product(e.v, c.cvec) AS dp
  FROM emb e, cent c
),
lists AS (
  SELECT vec_id AS neighbor_id, cid
  FROM (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dp DESC, cid) AS rn
        FROM scoredc)
  WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cid
  FROM (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dp DESC, cid) AS rn
        FROM scoredc WHERE vec_id < 8)
  WHERE rn <= 3
),
cand AS (
  SELECT p.query_id, l.neighbor_id,
         list_dot_product(q.v, n.v)
           / (sqrt(list_dot_product(q.v, q.v))
              * sqrt(list_dot_product(n.v, n.v))) AS sim
  FROM probes p
  JOIN lists l ON l.cid = p.cid AND l.neighbor_id <> p.query_id
  JOIN emb q ON q.vec_id = p.query_id
  JOIN emb n ON n.vec_id = l.neighbor_id
)
SELECT query_id, CAST(rnk AS INT) AS rank, neighbor_id,
       CAST(ROUND(sim * 1000000) AS BIGINT) AS sim_e6
FROM (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rnk
      FROM cand)
WHERE rnk <= 10
ORDER BY query_id, rank
"""


QUERY_REGISTRY["ivf_probe_crosscheck"] = QuerySpec(
    q_ivf_probe_crosscheck, ORACLE_IVF_PROBE_CROSSCHECK,
    "IVF assignment+probe+rank machinery vs independent SQL (oracle)",
)


def q_ivfpq_probe_crosscheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE cross-engine oracle for the COMPOSITE extreme-scale tier:
    ``ivfpq_cosine_topk`` with BOTH quantizers supplied as the same
    deterministic grids the single-tier crosschecks use — so the fused
    single-pass index build (top-1 centroid by dot product AND m PQ codes
    from one scan), the probe-pruned ADC scoring (a neighbor is scored
    only when its list is among the query's 3 probes), the shortlist, and
    the rerank are all re-derived independently by DuckDB. Together with
    the pq/ivf/lsh crosschecks this closes machinery verification over
    every ANN tier incl. their composition; Lloyd training alone stays
    fixture-pinned. Scale shape: identical to ivfpq_cosine_topk."""
    from covid19_spark.operators.similarity import ivfpq_cosine_topk

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 256)
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    queries = emb.filter(F.col("vec_id") < 8)
    cents = spark.range(16).select(
        F.col("id").cast("int").alias("centroid_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: (((F.col("id") * 17 + j * 29) % 19) - 9) / 9.0,
        ).alias("cvec"),
    )
    cb = (
        spark.range(8).select(F.col("id").cast("int").alias("sub"))
        .crossJoin(spark.range(16).select(F.col("id").cast("int").alias("code")))
        .select(
            "sub",
            "code",
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda j: (
                    ((F.col("sub") * 31 + F.col("code") * 7 + j * 13) % 21) - 10
                ) / 10.0,
            ).alias("cvec"),
        )
    )
    return (
        ivfpq_cosine_topk(emb, queries, centroids=cents, codebooks=cb)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.round(F.col("sim") * 1000000).cast("long").alias("sim_e6"),
        )
        .orderBy("query_id", "rank")
    )


ORACLE_IVFPQ_PROBE_CROSSCHECK = """
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 256
),
nrm AS (
  SELECT vec_id, v,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
  FROM emb
),
cent AS (
  SELECT c.cid,
         list_transform(range(0, 64), j ->
           (((c.cid * 17 + j * 29) % 19) - 9) / 9.0) AS cvec
  FROM (SELECT unnest(range(0, 16)) AS cid) c
),
cb AS (
  SELECT s.sub, c.code,
         list_transform(range(0, 8), j ->
           (((s.sub * 31 + c.code * 7 + j * 13) % 21) - 10) / 10.0) AS cvec
  FROM (SELECT unnest(range(0, 8)) AS sub) s,
       (SELECT unnest(range(0, 16)) AS code) c
),
cdots AS (
  SELECT e.vec_id, c.cid, list_dot_product(e.v, c.cvec) AS dp
  FROM emb e, cent c
),
lists AS (
  SELECT vec_id, cid
  FROM (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dp DESC, cid) AS rn
        FROM cdots)
  WHERE rn = 1
),
dists AS (
  SELECT n.vec_id, cb.sub, cb.code,
         list_sum(list_transform(range(1, 9), j ->
           (n.nv[cb.sub * 8 + j] - cb.cvec[j])
           * (n.nv[cb.sub * 8 + j] - cb.cvec[j]))) AS d2
  FROM nrm n, cb
),
codes AS (
  SELECT vec_id, sub, code
  FROM (SELECT vec_id, sub, code,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, code) AS rn
        FROM dists)
  WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cid
  FROM (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dp DESC, cid) AS rn
        FROM cdots WHERE vec_id < 8)
  WHERE rn <= 3
),
tab AS (
  SELECT n.vec_id AS query_id, cb.sub, cb.code,
         list_sum(list_transform(range(1, 9), j ->
           n.nv[cb.sub * 8 + j] * cb.cvec[j])) AS dp
  FROM nrm n, cb WHERE n.vec_id < 8
),
adc AS (
  SELECT c.vec_id AS neighbor_id, t.query_id, sum(t.dp) AS adc_score
  FROM codes c
  JOIN lists l ON l.vec_id = c.vec_id
  JOIN probes p ON p.cid = l.cid
  JOIN tab t ON t.query_id = p.query_id
             AND t.sub = c.sub AND t.code = c.code
  WHERE c.vec_id <> p.query_id
  GROUP BY c.vec_id, t.query_id
),
short AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_score DESC, neighbor_id) AS rn
        FROM adc)
  WHERE rn <= 50
),
rer AS (
  SELECT s.query_id, s.neighbor_id,
         list_dot_product(q.v, e.v)
           / (sqrt(list_dot_product(q.v, q.v))
              * sqrt(list_dot_product(e.v, e.v))) AS sim
  FROM short s
  JOIN emb e ON e.vec_id = s.neighbor_id
  JOIN emb q ON q.vec_id = s.query_id
)
SELECT query_id, CAST(rnk AS INT) AS rank, neighbor_id,
       CAST(ROUND(sim * 1000000) AS BIGINT) AS sim_e6
FROM (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rnk
      FROM rer)
WHERE rnk <= 10
ORDER BY query_id, rank
"""


QUERY_REGISTRY["ivfpq_probe_crosscheck"] = QuerySpec(
    q_ivfpq_probe_crosscheck, ORACLE_IVFPQ_PROBE_CROSSCHECK,
    "IVF-PQ composite index+probe+ADC+rerank vs independent SQL (oracle)",
)


def q_lshann_probe_crosscheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE cross-engine oracle for the sign-hyperplane LSH ANN — the
    third and last ANN tier's machinery: per-table sign-bit signatures,
    the (table, bucket) candidate equi-join, Hamming-1 multi-probe bucket
    expansion, candidate dedup, exact-cosine rank. The hyperplanes are not
    random state: ``_plane_component`` derives every component from a
    splitmix-style integer hash of (seed, i, j), so the ORACLE SQL is
    GENERATED at import with the identical plane constants inlined as
    list literals — DuckDB recomputes signatures and probes from scratch
    (its own dot products, its own xor/shift bit ops) while Spark runs the
    real ``ann_cosine_topk`` with its Arrow matmul kernel. A sign flip
    anywhere (projection near 0 is measure-zero on real embeddings), a
    probe-set bug, or a banding bug breaks the hash. 2 tables × 8 planes
    keeps the inlined-constant oracle ~25 KB. Scale shape: identical to
    ann_cosine_topk (broadcast query probes, corpus scanned once)."""
    from covid19_spark.operators.similarity import ann_cosine_topk

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 256)
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    queries = emb.filter(F.col("vec_id") < 8)
    return (
        ann_cosine_topk(emb, queries, num_planes=8, num_tables=2)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.round(F.col("sim") * 1000000).cast("long").alias("sim_e6"),
        )
        .orderBy("query_id", "rank")
    )


def _lshann_oracle_sql() -> str:
    """Build the DuckDB oracle with the exact plane constants the Spark
    kernel derives (seed 42, +1000 per table — see
    ``hyperplane_signatures_udf``), inlined as DOUBLE[] literals."""
    from covid19_spark.operators.similarity import _plane_component

    rows = []
    for t in range(2):
        for i in range(8):
            vals = ", ".join(
                repr(_plane_component(42 + 1000 * t, i, j)) for j in range(64)
            )
            rows.append(f"SELECT {t} AS tbl, {i} AS i, [{vals}]::DOUBLE[] AS plane")
    planes = "\nUNION ALL ".join(rows)
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 256
),
planes AS (
{planes}
),
bits AS (
  SELECT e.vec_id, p.tbl,
         CAST(sum(CASE WHEN list_dot_product(e.v, p.plane) >= 0
                       THEN 1 << p.i ELSE 0 END) AS BIGINT) AS bucket
  FROM emb e, planes p
  GROUP BY e.vec_id, p.tbl
),
qprobe AS (
  SELECT b.vec_id AS query_id, b.tbl,
         CASE WHEN pr.n = 0 THEN b.bucket
              ELSE xor(b.bucket, 1 << (pr.n - 1)) END AS bucket
  FROM bits b, (SELECT unnest(range(0, 9)) AS n) pr
  WHERE b.vec_id < 8
),
cand AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
  FROM qprobe q
  JOIN bits c ON c.tbl = q.tbl AND c.bucket = q.bucket
  WHERE c.vec_id <> q.query_id
),
scored AS (
  SELECT cd.query_id, cd.neighbor_id,
         list_dot_product(q.v, n.v)
           / (sqrt(list_dot_product(q.v, q.v))
              * sqrt(list_dot_product(n.v, n.v))) AS sim
  FROM cand cd
  JOIN emb q ON q.vec_id = cd.query_id
  JOIN emb n ON n.vec_id = cd.neighbor_id
)
SELECT query_id, CAST(rnk AS INT) AS rank, neighbor_id,
       CAST(ROUND(sim * 1000000) AS BIGINT) AS sim_e6
FROM (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rnk
      FROM scored)
WHERE rnk <= 10
ORDER BY query_id, rank
"""


QUERY_REGISTRY["lshann_probe_crosscheck"] = QuerySpec(
    q_lshann_probe_crosscheck, _lshann_oracle_sql(),
    "sign-LSH signature+multiprobe+rank machinery vs independent SQL (oracle)",
)


def q_knn_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force EXACT cosine top-k — the ground-truth baseline every ANN
    tier (LSH / IVF / PQ / IVF-PQ) is recall-measured against, as its own
    first-class query. One corpus scan, |Q| broadcast query vectors, cosine
    in codegen'd array HOFs, two-stage top-k (rank window over the scored
    frame — |corpus|·|Q| rows only ever exist as a streamed projection, no
    materialized cross product). This is the INDEPENDENTLY-oracled anchor
    of the similarity family: DuckDB recomputes the same cosine ranking
    from the raw ``embeddings`` view with its own ``list_dot_product``, so
    the check is a true cross-engine differential, not a fixture pin.

    Similarity is emitted micro-scaled (``CAST(ROUND(sim*1e6) AS BIGINT)``)
    so the compare is integer-exact: the two engines sum 64-term dot
    products in double with potentially different instruction orderings
    (ulp-scale drift), and stringified raw doubles would flag that noise as
    a mismatch. Scale: |Q| must be broadcast-small (the serving-path
    contract); corpus side is a single scan + per-partition partial top-k.
    """
    from covid19_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return (
        cosine_topk(emb, queries, k=10)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.round(F.col("sim") * 1000000).cast("long").alias("sim_e6"),
        )
        .orderBy("query_id", "rank")
    )


ORACLE_KNN_EXACT_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_dot_product(q.qv, c.cv)
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(c.cv, c.cv))) AS sim
  FROM q JOIN c ON c.neighbor_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
         ) AS rnk
  FROM scored
)
SELECT query_id, CAST(rnk AS INT) AS rank, neighbor_id,
       CAST(ROUND(sim * 1000000) AS BIGINT) AS sim_e6
FROM ranked WHERE rnk <= 10
ORDER BY query_id, rank
"""


QUERY_REGISTRY["knn_exact_topk"] = QuerySpec(
    q_knn_exact_topk, ORACLE_KNN_EXACT_TOPK,
    "exact brute-force cosine top-k (cross-engine oracle)",
)


def q_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (coarse-quantizer) approximate nearest neighbours — the
    clustering scale path next to the sign-hyperplane LSH ANN. Deterministic
    lowest-id seeds + one distributed Lloyd iteration; queries probe 3 of 16
    centroid lists. Rows-only (iterative k-means is not single-statement
    SQL); recall vs exact is asserted in tests/test_similarity.py."""
    from covid19_spark.operators.similarity import ivf_cosine_topk

    # single-file parquet scan pins the fold-heavy centroid scoring to 1-2
    # cores; spread the corpus across the executor threads first (at cluster
    # scale the corpus already arrives partitioned and this repartition goes
    # away)
    emb = _t(spark, sf_dir, "embeddings").repartition(32, "vec_id")
    queries = emb.filter(F.col("vec_id") < 8)
    return ivf_cosine_topk(emb, queries).orderBy("query_id", "rank")


# Fixture oracle (VERDICT r09 task #1): iterative k-means keeps the ANN
# family out of single-statement SQL, but the training is deterministic
# (lowest-id seeds over fixed parquet), so the checked-in expected ranking
# joined to the live embeddings domain gives the driver a full
# rows+schema+value-hash differential. The Lloyd/assignment/probe/ADC
# MACHINERY is independently SQL-oracled by the *_crosscheck queries above.
ORACLE_IVF_COSINE_TOPK = f"""
SELECT b.query_id, b.rank, b.neighbor_id, b.sim
FROM read_parquet('{fixture_path("ivf_cosine_topk_sf0.01.parquet")}') b
JOIN embeddings e ON b.neighbor_id = e.vec_id
ORDER BY b.query_id, b.rank
"""

QUERY_REGISTRY["ivf_cosine_topk"] = QuerySpec(
    q_ivf_cosine_topk, ORACLE_IVF_COSINE_TOPK,
    "IVF coarse-quantizer ANN top-k vs fixture oracle",
)


def q_pq_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) — the MEMORY scale path:
    the corpus lives as 8 code bytes per vector (64× smaller than raw
    floats), queries score codes via ADC table lookups, and only the
    shortlist touches full-precision vectors. Codebooks fit driver-side on
    a contract-small training sample (the "auto" sample bounds it
    at ~200k rows; at this SF that is the whole corpus, so results are
    unchanged) with deterministic lowest-id seeding + one Lloyd round —
    the FAISS build-index pattern; the distributed trainer stays reachable
    via ``codebooks=`` (the ``pq_adc_crosscheck`` path). Rows-only
    (iterative k-means); recall vs exact asserted in
    tests/test_similarity.py, values pinned by fixture."""
    from covid19_spark.operators.similarity import pq_cosine_topk

    emb = _t(spark, sf_dir, "embeddings").repartition(32, "vec_id")
    queries = emb.filter(F.col("vec_id") < 8)
    return pq_cosine_topk(emb, queries).orderBy("query_id", "rank")


ORACLE_PQ_COSINE_TOPK = f"""
SELECT b.query_id, b.rank, b.neighbor_id, b.sim
FROM read_parquet('{fixture_path("pq_cosine_topk_sf0.01.parquet")}') b
JOIN embeddings e ON b.neighbor_id = e.vec_id
ORDER BY b.query_id, b.rank
"""

QUERY_REGISTRY["pq_cosine_topk"] = QuerySpec(
    q_pq_cosine_topk, ORACLE_PQ_COSINE_TOPK,
    "product-quantization ADC ANN top-k vs fixture oracle",
)


def q_ivfpq_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition — the standard 1B+-vector index layout: coarse
    quantizer prunes to n_probes/n_centroids of the corpus, PQ codes make
    the resident index 64× smaller, ADC scores only probed lists, exact
    cosine reranks the shortlist. Rows-only (iterative training); recall
    asserted in tests, values pinned by fixture."""
    from covid19_spark.operators.similarity import ivfpq_cosine_topk

    emb = _t(spark, sf_dir, "embeddings").repartition(32, "vec_id")
    queries = emb.filter(F.col("vec_id") < 8)
    return ivfpq_cosine_topk(emb, queries).orderBy("query_id", "rank")


ORACLE_IVFPQ_COSINE_TOPK = f"""
SELECT b.query_id, b.rank, b.neighbor_id, b.sim
FROM read_parquet('{fixture_path("ivfpq_cosine_topk_sf0.01.parquet")}') b
JOIN embeddings e ON b.neighbor_id = e.vec_id
ORDER BY b.query_id, b.rank
"""

QUERY_REGISTRY["ivfpq_cosine_topk"] = QuerySpec(
    q_ivfpq_cosine_topk, ORACLE_IVFPQ_COSINE_TOPK,
    "IVF-PQ composed ANN top-k vs fixture oracle",
)


def q_ann_index_persist_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once/query-many ANN serving (operators/ann_index.py): the
    IVF-PQ index is WRITTEN as parquet — codes partitioned by IVF list id —
    reopened, and served against, with the probe pushed down as a static
    ``centroid_id IN (...)`` PartitionFilters so untouched list directories
    are never opened (the FAISS/Milvus deployment shape: at 100 TB the
    encode pass runs once, query batches read ~n_probes/n_centroids of the
    code files). Same params as ``ivfpq_cosine_topk`` and bit-identical to
    it by construction (shared encode/search expressions + exact parquet
    round-trip of ints/doubles), so the SAME fixture pins the round-trip:
    any divergence between the persisted and in-memory paths fails the
    hash. Index scratch lives under /tmp and is REUSED when its persisted
    fingerprint (source-file snapshot + quantizer params) matches — the
    build-once/query-many serving shape; a corpus or param change
    rebuilds (overwrite)."""
    import os

    from covid19_spark.operators.ann_index import (
        corpus_file_fingerprint, ensure_ivfpq_index, ivfpq_index_topk,
    )

    emb = _t(spark, sf_dir, "embeddings").repartition(32, "vec_id")
    queries = emb.filter(F.col("vec_id") < 8)
    path = f"/tmp/covid19_spark_ann_index_{os.path.basename(sf_dir.rstrip('/'))}"
    idx = ensure_ivfpq_index(emb, path, corpus_file_fingerprint(sf_dir))
    return ivfpq_index_topk(idx, emb, queries).orderBy("query_id", "rank")


ORACLE_ANN_INDEX_PERSIST_TOPK = f"""
SELECT b.query_id, b.rank, b.neighbor_id, b.sim
FROM read_parquet('{fixture_path("ivfpq_cosine_topk_sf0.01.parquet")}') b
JOIN embeddings e ON b.neighbor_id = e.vec_id
ORDER BY b.query_id, b.rank
"""

QUERY_REGISTRY["ann_index_persist_topk"] = QuerySpec(
    q_ann_index_persist_topk, ORACLE_ANN_INDEX_PERSIST_TOPK,
    "persisted IVF-PQ index round-trip top-k (ivfpq fixture pins bit-equality)",
)


def q_sq8_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantization ANN (operators/similarity.sq8_topk): byte-
    per-dimension codes (4× memory cut, no codebook — FAISS SQ8), INTEGER
    code-dot scan for the shortlist, exact-cosine rerank. Unlike the
    LSH/IVF/PQ tiers this carries a TRUE cross-engine oracle: the quantizer
    bounds are exact min/max selections, the quantize expression is a fixed
    IEEE dag, and the scan score is an integer sum — DuckDB re-derives the
    identical shortlist from raw embeddings with zero epsilon; only the
    knn-style rerank sim is micro-scaled."""
    from covid19_spark.operators.similarity import sq8_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return (
        sq8_topk(emb, queries)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.round(F.col("sim") * 1000000).cast("long").alias("sim_e6"),
        )
        .orderBy("query_id", "rank")
    )


ORACLE_SQ8_COSINE_TOPK = """
WITH nv AS (
  -- L2 normalization with the EXACT fold order of Spark's F.aggregate:
  -- list_reduce is the same left fold (init 0.0 + x1 == x1 for squares),
  -- so normalized values are bit-identical and floor boundaries safe
  SELECT vec_id,
         list_transform(v, x -> x / (CASE WHEN norm = 0 THEN 1.0 ELSE norm END)) AS v
  FROM (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
                            (a, b) -> a + b)) AS norm
    FROM embeddings
  )
),
el AS (
  SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS x
  FROM nv
),
mm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM el GROUP BY i),
code AS (
  SELECT vec_id, i,
         CAST(CASE WHEN mx > mn
              THEN greatest(0, least(255, floor((x - mn) / (mx - mn) * 256)))
              ELSE 0 END AS BIGINT) AS c
  FROM el JOIN mm USING (i)
),
-- decode once per corpus row and collapse back to ordered lists so the
-- ADC fold below runs in the SAME left-to-right operand order as Spark's
-- F.aggregate over zip_with products
codel AS (
  SELECT code.vec_id, list(mn + (c + 0.5) * (mx - mn) / 256.0 ORDER BY i) AS dv
  FROM code JOIN mm USING (i) GROUP BY code.vec_id
),
adc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_reduce(
           list_transform(range(1, 1 + len(q.v)), i -> q.v[i] * c.dv[i]),
           (a, b) -> a + b) AS adc
  FROM nv q, codel c
  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
),
short AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc DESC, neighbor_id ASC
         ) AS r
  FROM adc
),
rer AS (
  SELECT s.query_id, s.neighbor_id,
         list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS sim
  FROM short s
  JOIN embeddings q ON q.vec_id = s.query_id
  JOIN embeddings c ON c.vec_id = s.neighbor_id
  WHERE s.r <= 50
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
         ) AS rnk
  FROM rer
)
SELECT query_id, CAST(rnk AS INT) AS rank, neighbor_id,
       CAST(ROUND(sim * 1000000) AS BIGINT) AS sim_e6
FROM ranked WHERE rnk <= 10
ORDER BY query_id, rank
"""

QUERY_REGISTRY["sq8_cosine_topk"] = QuerySpec(
    q_sq8_cosine_topk, ORACLE_SQ8_COSINE_TOPK,
    "SQ8 scalar-quantization ANN: integer code scan + exact rerank (cross-engine oracle)",
)


def _feature_columns(feats: DataFrame, *cols: str, order=("media_id",)) -> DataFrame:
    """The decoded-feature fixture shape: ``cols`` plus the first and last
    feature components rounded to 4 places (``f0``/``f7``), sorted."""
    return feats.select(
        *cols,
        F.round(F.element_at("feature", 1), 4).alias("f0"),
        F.round(F.element_at("feature", 8), 4).alias("f7"),
    ).orderBy(*order)


def _feature_fixture_oracle(name: str, cols: str, order: str = "b.media_id") -> str:
    """Decoded-feature oracle (VERDICT r08 task #4, the
    permissive_decode_stats pattern): DuckDB cannot decode a codec payload,
    but it CAN read the checked-in per-blob expected-feature parquet —
    generated by tools/make_fixtures.py from the same decode the codec
    pytest vectors pin — and join it to the live documents domain. This
    upgrades the driver check from rows-only to a full
    rows+schema+value-hash match; an unintended codec/feature change fails
    the driver differential, not just the pytest fixture."""
    return f"""
SELECT {cols}, b.f0, b.f7
FROM read_parquet('{fixture_path(f"{name}_sf0.01.parquet")}') b
JOIN documents d ON b.media_id = d.doc_id
ORDER BY {order}
"""


def _variant_agreement(feats: DataFrame, feature: Column) -> DataFrame:
    """``(variant, n_docs, n_match)`` for a codec cross-validation matrix.
    ``feats`` holds one featurized blob per (doc, variant), with media_id
    ``doc_id * 100 + vi`` and the variant name in ``mime``; ``feature``
    (an expression over its ``feature`` column) must equal the same
    expression for the baseline of the variant's group on the same doc —
    vi 0 anchors vi 0-49, vi 50 anchors vi 50-99.

    Eager localCheckpoint: the baseline branch and the all-variants side
    both consume the features — without it the synth+decode pass runs
    twice (the q_minhash_lsh lifecycle; no CacheManager entry left)."""
    feats = feats.select(
        (F.col("media_id") / 100).cast("long").alias("doc_id"),
        F.pmod(F.col("media_id"), F.lit(100)).cast("int").alias("__vi"),
        F.col("mime").alias("variant"),
        feature.alias("__f"),
    ).localCheckpoint(eager=True)
    group = (F.col("__vi") / 50).cast("int").alias("__grp")
    base = feats.filter(F.col("__vi").isin(0, 50)).select(
        "doc_id", group, F.col("__f").alias("__base")
    )
    return (
        feats.select("*", group)
        .join(base, ["doc_id", "__grp"])
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("__f") == F.col("__base"), 1).otherwise(0))
            .cast("long").alias("n_match"),
        )
        .orderBy("variant")
    )


def _variant_agreement_oracle(*variants: str) -> str:
    """The matrix contract in SQL: every listed variant matches its
    baseline on every doc_id < 120, derived from the live documents domain
    rather than hardcoded counts. Each oracle passes its variant names as
    literals, never the query's own list, so it stays independent of the
    code it checks."""
    values = ", ".join(f"('{v}')" for v in variants)
    return f"""
SELECT v.variant,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_match
FROM (VALUES {values}) v(variant)
CROSS JOIN (SELECT doc_id FROM documents WHERE doc_id < 120) d
GROUP BY v.variant
ORDER BY v.variant
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: documents' text bytes treated as an
    opaque payload, featurized by ``fake_image_features`` (a byte histogram
    — text is no image format, so there is nothing to decode) through the
    same per-blob runner as the decoding kernels. Rows-only check."""
    from covid19_spark.operators.multimodal import (
        _image_features,
        fake_image_features,
    )

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    feats = _image_features(media, fake_image_features)
    return _feature_columns(feats, "media_id", "n_bytes")


def q_bmp_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec multimodal path end-to-end: synthesize valid uncompressed
    24-bpp BMP payloads whose pixels derive deterministically from doc_id
    (seeded generator inside a mapInPandas kernel), decode them with the
    pure-numpy BMP reader, and featurize the decoded pixel arrays. Bounded
    to 500 blobs so the payload synthesis stays a demo; the decode/feature
    plumbing is the production path. Non-SQL-expressible (binary format
    parsing) → the per-blob expected features are a checked-in parquet
    DuckDB joins to the live doc domain (full value-hash oracle) + exact
    fixture pytest."""
    import numpy as np

    from covid19_spark.operators.multimodal import (
        encode_bmp,
        extract_image_features,
        media_from_docs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 500)

    def blobs(d):
        rng = np.random.default_rng(d)
        h, w = 8 + d % 8, 8 + d % 5
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        return [(d, "image", "image/bmp", w, h, None, encode_bmp(img))]

    feats = extract_image_features(media_from_docs(docs, blobs))
    return _feature_columns(feats, "media_id", "width", "height", "n_bytes")


QUERY_REGISTRY["bmp_image_features"] = QuerySpec(
    q_bmp_image_features,
    _feature_fixture_oracle(
        "bmp_image_features", "b.media_id, b.width, b.height, b.n_bytes"
    ),
    "real BMP decode -> features vs fixture oracle",
)


def q_png_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec PNG path end-to-end — the chart format the reference
    actually serves (covid19-visualizer Visualizer.java:469,520 requests "png" charts via ChartRequest.java:23):
    synthesize valid 8-bit RGB PNGs whose pixels derive deterministically
    from doc_id, rotating through all five scanline filter types so every
    unfilter branch of the stdlib decoder runs distributed, decode and
    featurize. Non-SQL-expressible (binary format parsing) → the per-blob
    expected features are a checked-in parquet DuckDB joins to the live
    doc domain (full value-hash oracle) + exact fixture pytest."""
    import numpy as np

    from covid19_spark.operators.multimodal import (
        encode_png,
        extract_image_features,
        media_from_docs,
    )

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 500)
        # one parquet split would run the per-row codec synthesis (the
        # expensive part) as a single task — spread it (see q_image_near_dup)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def blobs(d):
        rng = np.random.default_rng(d + 1_000_000)
        h, w = 8 + d % 8, 8 + d % 5
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = encode_png(img, filter_type=d % 5)
        return [(d, "image", "image/png", w, h, None, payload)]

    feats = extract_image_features(media_from_docs(docs, blobs))
    return _feature_columns(feats, "media_id", "width", "height", "n_bytes")


QUERY_REGISTRY["png_image_features"] = QuerySpec(
    q_png_image_features,
    _feature_fixture_oracle(
        "png_image_features", "b.media_id, b.width, b.height, b.n_bytes"
    ),
    "real PNG decode (stdlib codec) -> features vs fixture oracle",
)


def q_gif_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec GIF path end-to-end — the web-crawl image format the
    other codecs don't cover: synthesize palette-bounded GIF89a payloads
    whose pixels derive deterministically from doc_id (palette size cycles
    4..64 so the LZW width machinery varies per row), decode through
    ``decode_image``'s GIF dispatch, featurize. The per-blob expected
    features are a checked-in parquet DuckDB joins to the live doc domain
    (full value-hash oracle) + exact fixture pytest. Same map-only scale
    shape as the PNG/BMP twins: synthesis+decode spread across cores, no
    shuffle but the output sort."""
    import numpy as np

    from covid19_spark.operators.multimodal import (
        encode_gif,
        extract_image_features,
        media_from_docs,
    )

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 500)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def blobs(d):
        rng = np.random.default_rng(d + 3_000_000)
        h, w = 8 + d % 8, 8 + d % 5
        n_colors = 4 + (d % 61)
        palette = rng.integers(0, 256, size=(n_colors, 3), dtype=np.uint8)
        img = palette[rng.integers(0, n_colors, size=(h, w))]
        return [(d, "image", "image/gif", w, h, None, encode_gif(img))]

    feats = extract_image_features(media_from_docs(docs, blobs))
    return _feature_columns(feats, "media_id", "width", "height", "n_bytes")


QUERY_REGISTRY["gif_image_features"] = QuerySpec(
    q_gif_image_features,
    _feature_fixture_oracle(
        "gif_image_features", "b.media_id, b.width, b.height, b.n_bytes"
    ),
    "real GIF decode (stdlib LZW codec) -> features vs fixture oracle",
)


def q_tiff_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec TIFF path end-to-end — the scan/archival format the web
    formats don't cover: synthesize baseline little-endian TIFFs whose
    pixels derive deterministically from doc_id, cycling the compression
    scheme (none / PackBits / LZW), the strip height, AND (every 4th doc)
    the TILED organization with a per-doc tile size plus predictor 2 — so
    every strip- and tile-reassembly branch of the stdlib decoder runs
    distributed. Decode through ``decode_image``'s TIFF dispatch,
    featurize. Non-SQL-expressible (binary format parsing) →
    fixture-parquet oracle (``_feature_fixture_oracle``). Same map-only
    scale shape as the PNG/BMP/GIF twins: synthesis+decode spread across
    cores, no shuffle but the output sort."""
    import numpy as np

    from covid19_spark.operators.multimodal import (
        encode_tiff,
        extract_image_features,
        media_from_docs,
    )

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 500)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def blobs(d):
        rng = np.random.default_rng(d + 4_000_000)
        h, w = 8 + d % 8, 8 + d % 5
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        comp = ("none", "packbits", "lzw")[d % 3]
        if d % 25 == 21:  # CCITT G4 bilevel scan (compression 4)
            ink = (img.mean(axis=2) < 128).astype(np.uint8)
            payload = encode_tiff(ink, compression="g4", rows_per_strip=4 + d % 5)
        elif d % 10 == 7:  # new-style JPEG-in-TIFF (compression 7)
            payload = encode_tiff(img, compression="jpeg", rows_per_strip=8)
        elif d % 10 == 3:  # Adobe deflate strips (compression 8)
            payload = encode_tiff(
                img, compression="deflate", rows_per_strip=2 + d % 7,
                predictor=2 if d % 20 == 3 else 1,
            )
        elif d % 4 == 0:  # tiled organization (TIFF 6.0 §15)
            payload = encode_tiff(
                img,
                compression=("none", "packbits", "lzw", "deflate")[(d // 4) % 4],
                tile=(4 + d % 5, 4 + d % 3),
                predictor=2 if d % 8 == 0 else 1,
            )
        else:
            payload = encode_tiff(img, compression=comp, rows_per_strip=2 + d % 7)
        return [(d, "image", "image/tiff", w, h, None, payload)]

    feats = extract_image_features(media_from_docs(docs, blobs))
    return _feature_columns(feats, "media_id", "width", "height", "n_bytes")


QUERY_REGISTRY["tiff_image_features"] = QuerySpec(
    q_tiff_image_features,
    _feature_fixture_oracle(
        "tiff_image_features", "b.media_id, b.width, b.height, b.n_bytes"
    ),
    "real TIFF decode (strip/tiled/deflate/JPEG/G4 variants) -> features vs fixture oracle",
)


# (variant name, encode_tiff kwargs) — every LOSSLESS organization the codec
# supports; decoded pixels must be bit-identical across all of them, so the
# feature vectors must match the baseline exactly.
_TIFF_MATRIX_VARIANTS = [
    ("a_none_strip", dict(compression="none", rows_per_strip=5)),
    ("b_packbits_strip", dict(compression="packbits", rows_per_strip=3)),
    ("c_lzw_strip", dict(compression="lzw", rows_per_strip=4)),
    ("d_deflate_strip", dict(compression="deflate", rows_per_strip=6)),
    ("e_none_tile", dict(compression="none", tile=(6, 5))),
    ("f_lzw_tile_pred2", dict(compression="lzw", tile=(7, 4), predictor=2)),
    ("g_deflate_planar", dict(compression="deflate", planar=2, rows_per_strip=5)),
    ("h_lzw_planar_tile", dict(compression="lzw", planar=2, tile=(5, 6))),
]

#: bilevel (fax) group — every CCITT coding of one 1-bit scan must decode
#: identically; baseline is MH (vi 50). g3_uncomp exercises the T.4
#: uncompressed-mode extension end-to-end (VERDICT r08 task #7).
_TIFF_BILEVEL_VARIANTS = [
    ("m_bilevel_mh", dict(compression="mh", rows_per_strip=5)),
    ("n_bilevel_g3", dict(compression="g3", rows_per_strip=6)),
    ("o_bilevel_g3_2d", dict(compression="g3_2d", rows_per_strip=4)),
    ("p_bilevel_g3_uncomp", dict(compression="g3_uncomp", rows_per_strip=5)),
    ("q_bilevel_g4", dict(compression="g4", rows_per_strip=7)),
]


def q_tiff_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-codec consistency audit: every LOSSLESS TIFF organization the
    engine supports (strip/tiled × none/PackBits/LZW/Deflate × chunky/
    planar × predictor) must decode the SAME pixels — so the distributed
    feature vectors of all 8 variants of one image must be bit-identical.
    The query encodes each doc's image 8 ways, decodes them all with the
    real codecs in ``mapInPandas``, and counts per-variant exact feature
    agreement against the uncompressed-strip baseline.

    Oracle: the expected counts derive from the documents table in SQL —
    every doc must agree under every variant, so n_match == n_docs per
    variant. A codec bug in ANY branch (tile padding, predictor restart,
    planar reassembly, LZW early-change, zlib framing) breaks the hash
    match. Scale shape: map-only synth+decode, one |variants|-row
    aggregate after an 8-row-per-doc broadcast-free groupBy."""
    import numpy as np

    from covid19_spark.operators.multimodal import (
        encode_tiff,
        extract_image_features,
        media_from_docs,
    )

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 120)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def blobs(d):
        rng = np.random.default_rng(d + 6_000_000)
        h, w = 9 + d % 7, 8 + d % 6
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        rows = [
            (d * 100 + vi, "image", vname, w, h, None, encode_tiff(img, **kwargs))
            for vi, (vname, kwargs) in enumerate(_TIFF_MATRIX_VARIANTS)
        ]
        # bilevel group (vi 50+): noisy ink so the g3_uncomp variant
        # actually takes the literal escape on most lines
        ink = rng.integers(0, 2, size=(h, w), dtype=np.uint8)
        rows += [
            (d * 100 + 50 + vi, "image", vname, w, h, None, encode_tiff(ink, **kwargs))
            for vi, (vname, kwargs) in enumerate(_TIFF_BILEVEL_VARIANTS)
        ]
        return rows

    feats = extract_image_features(media_from_docs(docs, blobs))
    return _variant_agreement(feats, F.col("feature"))


QUERY_REGISTRY["tiff_codec_matrix"] = QuerySpec(
    q_tiff_codec_matrix,
    _variant_agreement_oracle(
        "a_none_strip", "b_packbits_strip", "c_lzw_strip", "d_deflate_strip",
        "e_none_tile", "f_lzw_tile_pred2", "g_deflate_planar",
        "h_lzw_planar_tile", "m_bilevel_mh", "n_bilevel_g3",
        "o_bilevel_g3_2d", "p_bilevel_g3_uncomp", "q_bilevel_g4",
    ),
    "13-way lossless TIFF organization cross-validation incl. CCITT fax group (oracle)",
)


def q_image_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-FORMAT lossless consistency: the same pixels encoded as BMP,
    PNG, GIF (palette — every image here has < 256 pixels, hence < 256
    distinct colors), tiled-LZW TIFF, and lossless SOF3 JPEG at 8 and 16
    bits must produce the same features. The 16-bit JPEG image is x*257,
    whose peak-normalized features are algebraically identical to the
    8-bit ones, so it also pins the sample-peak contract. The c_png16
    variant is a second 8-bit PNG of the same pixels (the high byte of
    x*257 is x).
    Six INDEPENDENT codecs agreeing on every document is a far stronger
    decode-correctness check than any single round-trip. Features compare
    rounded to 4 decimals (the 16-bit JPEG path differs from the others by
    1 ulp of float32 — measured 9e-10).

    Oracle: expected full-agreement counts derived from the live documents
    domain, as in ``tiff_codec_matrix``. Scale shape: map-only
    synth+decode, |variants|-row aggregate."""
    import numpy as np

    from covid19_spark.operators.jpeg import encode_jpeg_lossless
    from covid19_spark.operators.multimodal import (
        encode_bmp,
        encode_gif,
        encode_png,
        encode_tiff,
        extract_image_features,
        media_from_docs,
    )

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 120)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def blobs(d):
        rng = np.random.default_rng(d + 6_500_000)
        h, w = 9 + d % 7, 8 + d % 6  # < 256 pixels -> GIF-safe
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        img16 = img.astype(np.uint16) * 257
        return [
            (d * 100 + vi, "image", vname, w, h, None, payload)
            for vi, (vname, payload) in enumerate([
                ("a_bmp", encode_bmp(img)),
                ("b_png8", encode_png(img)),
                # encode_png writes 8-bit samples: the high byte of x*257
                ("c_png16", encode_png((img16 >> 8).astype(np.uint8))),
                ("d_gif", encode_gif(img)),
                ("e_tiff_lzw_tile", encode_tiff(img, compression="lzw", tile=(6, 5))),
                ("f_jpeg_lossless8", encode_jpeg_lossless(img)),
                ("g_jpeg_lossless16", encode_jpeg_lossless(img16)),
            ])
        ]

    rounded = F.transform(F.col("feature"), lambda x: F.round(x, 4))
    feats = extract_image_features(media_from_docs(docs, blobs))
    return _variant_agreement(feats, rounded)


QUERY_REGISTRY["image_codec_matrix"] = QuerySpec(
    q_image_codec_matrix,
    _variant_agreement_oracle(
        "a_bmp", "b_png8", "c_png16", "d_gif", "e_tiff_lzw_tile",
        "f_jpeg_lossless8", "g_jpeg_lossless16",
    ),
    "6-codec cross-format lossless image consistency (oracle)",
)


def q_jpeg_entropy_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-ENTROPY-MODE consistency for the JPEG family: one image's
    quantized coefficients encoded through every entropy coder the repo
    implements — baseline Huffman (SOF0), progressive Huffman (SOF2,
    spectral-selection + successive-approximation scan script), and the
    T.81 Annex D/E/F adaptive arithmetic coder (SOF9, with and without
    restart intervals) — must decode to BIT-IDENTICAL pixels, because all
    four streams share the `_prepare_quantized_coefs` front half and
    entropy coding is lossless by construction. This pins the QM-coder
    (state machine, conditioning contexts, bit stuffing, restart
    reinitialization) against the two independently-tested Huffman paths
    on the live documents domain, as a driver-checked query rather than
    only a pytest (the compression edge itself is pinned in
    tests/test_jpeg_arith.py).

    Oracle: full-agreement counts over the same doc domain (DuckDB cannot
    decode JPEG; bit-equality of the decodes is the in-repo invariant and
    any failure shows as n_match < n_docs). Scale shape: map-only
    synth+decode behind one eager materialization, |variants|-row agg."""
    import numpy as np

    from covid19_spark.operators.jpeg import encode_jpeg
    from covid19_spark.operators.jpeg_arith import encode_jpeg_arith
    from covid19_spark.operators.multimodal import (
        extract_image_features,
        media_from_docs,
    )

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 120)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def blobs(d):
        rng = np.random.default_rng(d + 7_200_000)
        h, w = 12 + d % 9, 11 + d % 7
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        q = 60 + (d % 4) * 10
        return [
            (d * 100 + vi, "image", vname, w, h, None, payload)
            for vi, (vname, payload) in enumerate([
                ("a_huff_baseline", encode_jpeg(img, quality=q)),
                ("b_huff_progressive",
                 encode_jpeg(img, quality=q, progressive=True)),
                ("c_arith", encode_jpeg_arith(img, quality=q)),
                ("d_arith_restart",
                 encode_jpeg_arith(img, quality=q, restart_interval=2)),
            ])
        ]

    # entropy modes are losslessly interchangeable: compare UNROUNDED
    # features (bit-identical pixels -> bit-identical float32 features)
    feats = extract_image_features(media_from_docs(docs, blobs))
    return _variant_agreement(feats, F.col("feature"))


QUERY_REGISTRY["jpeg_entropy_matrix"] = QuerySpec(
    q_jpeg_entropy_matrix,
    _variant_agreement_oracle(
        "a_huff_baseline", "b_huff_progressive", "c_arith", "d_arith_restart"
    ),
    "JPEG entropy-mode cross-validation: Huffman vs arithmetic (oracle)",
)


def q_wav_depth_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM depth consistency: the same int16 signal stored at every PCM
    depth the WAV decoder supports — 16/24/32-bit integer (the signal
    shifted into the wider word) and 32/64-bit IEEE float (x/32768,
    exactly representable) — must decode to the BIT-IDENTICAL normalized
    float stream, so the distributed audio features must agree exactly.
    Pins the decoder's per-depth normalization constants (x/2^15, x/2^23,
    x/2^31, float passthrough) against each other.

    Oracle: derived expected counts, as in the image/TIFF matrices."""
    import numpy as np

    from covid19_spark.operators.multimodal import (
        encode_wav,
        extract_audio_features,
        media_from_docs,
    )

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 120)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def blobs(d):
        rng = np.random.default_rng(d + 6_600_000)
        t = np.arange(1600, dtype=np.float64)
        freq = 200 + (d % 17) * 40
        sig = (
            11000 * np.sin(2 * np.pi * freq * t / 8000)
            + rng.integers(-800, 800, 1600)
        ).astype(np.int16)
        return [
            (d * 100 + vi, "audio", f"{chr(97 + vi)}_{dt}", None, None, 200,
             encode_wav(sig, dtype=dt))
            for vi, dt in enumerate(("i16", "i24", "i32", "f32", "f64"))
        ]

    feats = extract_audio_features(media_from_docs(docs, blobs))
    return _variant_agreement(feats, F.col("feature"))


QUERY_REGISTRY["wav_depth_matrix"] = QuerySpec(
    q_wav_depth_matrix,
    _variant_agreement_oracle("a_i16", "b_i24", "c_i32", "d_f32", "e_f64"),
    "PCM depth cross-validation: 5 container depths, bit-identical decode (oracle)",
)


def permissive_decode_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-blob decode verdicts ``(media_id, mime, outcome)`` for the
    permissive-decode corpus: 500 deterministic image blobs (BMP/PNG/GIF/
    TIFF rotating per doc_id; every 7th truncated to a prefix, every 13th
    replaced by an alien format), decoded with ``on_error="permissive"``.
    ``outcome`` is the error class head: ``ok`` / ``corrupt`` /
    ``unsupported``. Shared by the registry aggregation AND the fixture
    generator that materializes these verdicts for the DuckDB oracle
    (tests/fixtures/permissive_decode_blobs.parquet — VERDICT r07 task #7:
    DuckDB cannot decode a TIFF, but it can aggregate the checked-in
    per-blob verdict parquet, upgrading the check from rows-only to a
    full value-hash match)."""
    import numpy as np

    from covid19_spark.operators.multimodal import (
        encode_bmp,
        encode_gif,
        encode_png,
        encode_tiff,
        extract_image_features,
        media_from_docs,
    )

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 500)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def blobs(d):
        rng = np.random.default_rng(d + 5_000_000)
        h, w = 8 + d % 8, 8 + d % 5
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        fmt = d % 4
        if fmt == 0:
            mime, payload = "image/bmp", encode_bmp(img)
        elif fmt == 1:
            mime, payload = "image/png", encode_png(img)
        elif fmt == 2:
            mime, payload = "image/gif", encode_gif(np.asarray(img) // 64 * 64)
        else:
            mime, payload = "image/tiff", encode_tiff(
                img, compression=("none", "packbits", "lzw")[d % 3]
            )
        if d % 13 == 0:
            mime, payload = "image/x-alien", b"\x7fALIEN" + payload[:16]
        elif d % 7 == 0:
            payload = payload[: max(4, len(payload) // 3)]
        return [(d, "image", mime, w, h, None, payload)]

    feats = extract_image_features(
        media_from_docs(docs, blobs), on_error="permissive"
    )
    return feats.select(
        "media_id",
        "mime",
        F.coalesce(
            F.split(F.col("error"), ":").getItem(0), F.lit("ok")
        ).alias("outcome"),
    )


def q_permissive_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-crawl robustness contract, end-to-end: a corpus where a
    deterministic subset of blobs is corrupt (truncated payloads) or in an
    unsupported format must still complete — ``on_error="permissive"``
    yields NULL features plus a classified ``error`` column instead of
    failing the task (at crawl scale a bad blob per billion is a
    certainty; a job that dies at 99% wastes the whole cluster pass).
    Decodes the ``permissive_decode_blobs`` corpus permissively and
    reports outcomes per (mime, error_kind) — the per-corpus health
    dashboard a curation run starts from. Oracle: DuckDB aggregates the
    checked-in per-blob verdict fixture over the same doc_id domain (the
    decode itself is pinned by the fixture generator + codec pytest
    vectors). Scale shape: map-only decode (metadata prunes first),
    |mime × kind|-sized aggregate."""
    return (
        permissive_decode_blobs(spark, sf_dir)
        .groupBy("mime", "outcome")
        .agg(F.count(F.lit(1)).cast("long").alias("n_blobs"))
        .orderBy("mime", "outcome")
    )


# The verdict fixture is the REPO's checked-in parquet (absolute path
# derived from the package location: the driver's DuckDB process has an
# unknown CWD, and a hardcoded root breaks other checkouts). Joining on
# documents keeps the oracle tied to the sf tables' actual doc_id domain.
ORACLE_PERMISSIVE_DECODE_STATS = f"""
SELECT b.mime, b.outcome, CAST(count(*) AS BIGINT) AS n_blobs
FROM read_parquet('{fixture_path("permissive_decode_blobs.parquet")}') b
JOIN documents d ON b.media_id = d.doc_id
WHERE d.doc_id < 500
GROUP BY b.mime, b.outcome
ORDER BY b.mime, b.outcome
"""


QUERY_REGISTRY["permissive_decode_stats"] = QuerySpec(
    q_permissive_decode_stats, ORACLE_PERMISSIVE_DECODE_STATS,
    "corrupt-blob-tolerant decode sweep -> per-mime outcome counts",
)


def q_wav_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec audio path end-to-end: synthesize valid RIFF/WAVE PCM
    payloads (a deterministic int16 tone per doc_id), decode them with the
    pure-stdlib WAV reader inside ``mapInPandas`` and featurize the sample
    stream (per-window RMS, peak-normalized). Non-SQL-expressible (binary
    container parsing) → the per-blob expected features are a checked-in
    parquet DuckDB joins to the live doc domain (full value-hash oracle) +
    exact fixture pytest."""
    import numpy as np

    from covid19_spark.operators.multimodal import (
        encode_wav,
        extract_audio_features,
        media_from_docs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 500)

    def blobs(d):
        n = 2000 + (d % 7) * 500
        t = np.arange(n)
        freq = 100 + (d % 40) * 10
        tone = (9000 * np.sin(2 * np.pi * freq * t / 8000)).astype(np.int16)
        return [
            (d, "audio", "audio/wav", None, None, int(n * 1000 / 8000),
             encode_wav(tone))
        ]

    feats = extract_audio_features(media_from_docs(docs, blobs), n_windows=8)
    return _feature_columns(feats, "media_id", "duration_ms", "n_bytes")


QUERY_REGISTRY["wav_audio_features"] = QuerySpec(
    q_wav_audio_features,
    _feature_fixture_oracle(
        "wav_audio_features", "b.media_id, b.duration_ms, b.n_bytes"
    ),
    "real WAV decode (stdlib codec) -> features vs fixture oracle",
)


def q_video_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec video path end-to-end: synthesize Motion-JPEG AVI
    payloads (3-6 deterministic gradient frames per doc_id, each a real
    baseline JPEG), walk the RIFF container, sample one frame per 500 ms of
    timeline, decode the sampled JPEGs and featurize the pixels — all
    inside ``mapInPandas``. Bounded to 200 blobs (the per-frame JPEG encode
    in the synthesizer is the demo part; the container walk + decode is the
    production path). Non-SQL-expressible → rows-only driver check + exact
    checked-in fixture."""
    import numpy as np

    from covid19_spark.operators.multimodal import (
        encode_mjpeg_avi,
        extract_video_frames,
        media_from_docs,
    )

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 200)
        .repartition(spark.sparkContext.defaultParallelism)  # see q_image_near_dup
    )

    def blobs(d):
        n_frames = 3 + d % 4
        frames = []
        for i in range(n_frames):
            yy, xx = np.mgrid[0:16, 0:16]
            img = np.stack(
                [(xx * 9 + i * 30 + d) % 256, (yy * 11 + d) % 256,
                 ((xx + yy) * 5 + i * 17) % 256],
                axis=2,
            ).astype(np.uint8)
            frames.append(img)
        payload = encode_mjpeg_avi(frames, quality=85)
        return [(d, "video", "video/avi", 16, 16, int(n_frames * 250), payload)]

    frames = extract_video_frames(media_from_docs(docs, blobs))
    return _feature_columns(
        frames, "media_id", "frame_ts_ms", "frame_index",
        order=("media_id", "frame_ts_ms"),
    )


QUERY_REGISTRY["video_frame_features"] = QuerySpec(
    q_video_frame_features,
    _feature_fixture_oracle(
        "video_frame_features", "b.media_id, b.frame_ts_ms, b.frame_index",
        order="b.media_id, b.frame_index",
    ),
    "real MJPEG-AVI decode (container walk + per-frame JPEG) -> sampled frame features vs fixture oracle",
)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (Sennrich et al. 2016,
    arXiv:1508.07909): one corpus scan aggregates word frequencies (the only
    corpus-scale step — map-side combined, vocabulary-sized output), then
    the inherently-sequential merge loop runs on the driver over that
    aggregate. Output: the learned merge table (rank, left, right) —
    deterministic (lexicographic tie-break), so it carries an exact
    checked-in fixture. Non-SQL-expressible (iterative algorithm) →
    rows-only driver check."""
    from covid19_spark.operators.bpe import train_bpe

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe(docs, "text")
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, left string, right string",
    ).orderBy("rank")


# Fixture oracle (VERDICT r09 task #1): the merge table has no per-doc key
# to join, so the live-domain anchor is a scalar documents aggregate — the
# oracle still touches the live corpus (an empty/moved documents table fails
# the differential) while the checked-in ranks pin the learned merges.
ORACLE_BPE_MERGES = f"""
SELECT b.rank, b."left", b."right"
FROM read_parquet('{fixture_path("bpe_merges_sf0.01.parquet")}') b
CROSS JOIN (SELECT count(*) AS _n FROM documents HAVING count(*) > 0) anchor
ORDER BY b.rank
"""

QUERY_REGISTRY["bpe_merges"] = QuerySpec(
    q_bpe_merges, ORACLE_BPE_MERGES,
    "BPE tokenizer training -> merge table vs fixture oracle",
)


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING with merges trained on the same corpus: the merge table
    ships in the task closure (KB-scale) and an Arrow-batched kernel
    applies the greedy lowest-rank merge per word with a per-batch word
    cache (Zipf amortization) — map-only, no shuffle at any corpus size.
    Deterministic; rows-only driver check + exact fixture."""
    from covid19_spark.operators.bpe import bpe_tokenize, train_bpe

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe(docs, "text")
    out = bpe_tokenize(docs, merges, "doc_id", "text")
    return out.select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.element_at("tokens", 1).alias("first_token"),
        F.element_at("tokens", -1).alias("last_token"),
    ).orderBy("doc_id")


ORACLE_BPE_TOKENIZE = f"""
SELECT b.doc_id, b.n_words, b.n_tokens, b.first_token, b.last_token
FROM read_parquet('{fixture_path("bpe_tokenize_sf0.01.parquet")}') b
JOIN documents d ON b.doc_id = d.doc_id
ORDER BY b.doc_id
"""

QUERY_REGISTRY["bpe_tokenize"] = QuerySpec(
    q_bpe_tokenize, ORACLE_BPE_TOKENIZE,
    "BPE encoding with corpus-trained merges vs fixture oracle",
)


def q_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual (dHash) image near-duplicate detection end-to-end with
    REAL codecs: synthesize a BMP per doc_id plus, for the first 60 ids, a
    JPEG RE-ENCODING of the same pixels (the classic multimodal dedup case:
    byte-level dedup misses format/quality changes; the perceptual hash
    survives them — smoke-measured Hamming ≈ 3 across a q85 re-encode vs
    ≈ 32 for unrelated images). Decode both formats, dHash the pixels, and
    find candidate pairs via the banded 64-bit Hamming probe shared with
    SimHash. Non-SQL-expressible → rows-only driver check + exact fixture."""
    import numpy as np

    from covid19_spark.operators.jpeg import encode_jpeg
    from covid19_spark.operators.multimodal import (
        encode_bmp,
        image_dhash,
        image_near_dup_pairs,
        media_from_docs,
    )

    # repartition: the documents scan is one parquet split, which would run
    # the per-row codec synthesis (the expensive part) as a single task
    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 250)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def blobs(d):
        rng = np.random.default_rng(d + 7_000_000)
        h, w = 24 + d % 9, 32 + d % 7
        # smooth random field (tiled blocks) so the perceptual hash
        # is meaningful — iid noise has no structure to survive
        base = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
        img = np.repeat(np.repeat(base, -(-h // 6), axis=0), -(-w // 8), axis=1)[:h, :w]
        rows = [(d, "image", "image/bmp", w, h, None, encode_bmp(img))]
        if d < 60:  # planted near-dup: same pixels, lossy re-encode
            rows.append(
                (100000 + d, "image", "image/jpeg", w, h, None,
                 encode_jpeg(img, quality=80))
            )
        return rows

    # eager localCheckpoint: the banded self-join + oversized-bucket count
    # consume the hash frame three times; it is |media| rows of 2 longs
    # (KB-scale), while one evaluation costs a full synth+decode pass
    # (the q_minhash_lsh lifecycle — no CacheManager entry left behind)
    hashes = image_dhash(media_from_docs(docs, blobs)).localCheckpoint(eager=True)
    return image_near_dup_pairs(hashes, "media_id").orderBy(
        "doc_a", "doc_b"
    )


# Fixture oracles (VERDICT r09 task #1): codec decode + perceptual hashing
# has no SQL twin, but the synthesized corpora are doc_id-seeded and
# deterministic, so the checked-in pair lists re-anchored onto the live doc
# ids (% 100000 strips the planted-variant offset) give the driver a full
# value-hash differential.
ORACLE_IMAGE_NEAR_DUP = f"""
SELECT b.doc_a, b.doc_b, b.hamming
FROM read_parquet('{fixture_path("image_near_dup_sf0.01.parquet")}') b
JOIN documents d ON (b.doc_a % 100000) = d.doc_id
ORDER BY b.doc_a, b.doc_b
"""

QUERY_REGISTRY["image_near_dup"] = QuerySpec(
    q_image_near_dup, ORACLE_IMAGE_NEAR_DUP,
    "perceptual dHash near-dup pairs across real BMP/JPEG re-encodes vs fixture oracle",
)


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio near-duplicate detection end-to-end with the REAL
    WAV codec: synthesize a chirp+AM tone per doc_id plus, for the first 60
    ids, a HALF-GAIN 8-BIT-REQUANTIZED copy (the classic audio-dedup case:
    byte-level dedup misses gain/quantization changes; the spectral
    delta-sign fingerprint survives both — planted copies land at Hamming
    0-8). The banded probe recalls 59/60 planted pairs: one Hamming-8 pair
    spreads its bits across all four 16-bit sub-bands, the documented
    pigeonhole recall bound (guaranteed only <= 3 with 4 bands) — this is a
    CANDIDATE generator, same contract as SimHash. The corpus also contains
    legitimate non-planted near-dups (parameter collisions: f0 repeats
    every 37 ids, the AM rate every 3). Decode, fingerprint
    (9 windows x 8 log-bands rfft energy deltas), and pair via the banded
    64-bit Hamming probe shared with SimHash/dHash. Non-SQL-expressible →
    rows-only driver check + exact fixture."""
    import numpy as np

    from covid19_spark.operators.multimodal import (
        audio_fingerprints,
        audio_near_dup_pairs,
        encode_wav,
        media_from_docs,
    )

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 250)
        .repartition(spark.sparkContext.defaultParallelism)  # see q_image_near_dup
    )

    def blobs(d):
        n = 6000 + (d % 5) * 1000
        t = np.arange(n)
        f0, rate_ = 150 + (d % 37) * 13, 2 + d % 3
        sig = np.sin(2 * np.pi * (f0 + t / 180) * t / 8000) * (
            0.5 + 0.5 * np.sin(2 * np.pi * rate_ * t / 8000)
        )
        s16 = (20000 * sig).astype(np.int16)
        rows = [
            (d, "audio", "audio/wav", None, None, int(n * 1000 / 8000),
             encode_wav(s16))
        ]
        if d < 60:  # planted near-dup: half gain + 8-bit requantize
            v16 = ((s16 // 2) // 256 * 256).astype(np.int16)
            rows.append(
                (100000 + d, "audio", "audio/wav", None, None,
                 int(n * 1000 / 8000), encode_wav(v16))
            )
        return rows

    # eager localCheckpoint: three consumers of a KB-scale frame (see
    # q_image_near_dup)
    fps = audio_fingerprints(media_from_docs(docs, blobs)).localCheckpoint(eager=True)
    return audio_near_dup_pairs(fps, "media_id").orderBy(
        "doc_a", "doc_b"
    )


ORACLE_AUDIO_NEAR_DUP = f"""
SELECT b.doc_a, b.doc_b, b.hamming
FROM read_parquet('{fixture_path("audio_near_dup_sf0.01.parquet")}') b
JOIN documents d ON (b.doc_a % 100000) = d.doc_id
ORDER BY b.doc_a, b.doc_b
"""

QUERY_REGISTRY["audio_near_dup"] = QuerySpec(
    q_audio_near_dup, ORACLE_AUDIO_NEAR_DUP,
    "perceptual audio fingerprint near-dup pairs across gain/requant copies vs fixture oracle",
)


def q_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-level near-duplicate detection with REAL codecs end-to-end:
    synthesize an MJPEG AVI per doc_id plus, for the first 40 ids, a
    QUALITY-70 RE-ENCODING of the same frames; sample frames on a shared
    timeline, dHash each decoded frame, align on frame rank, and verify
    pairs on >= 3 aligned frames within Hamming 10 — the composition of the
    container codec, the per-frame JPEG decoder, the perceptual hash, and
    the banded Hamming probe. The join is keyed (rank, band, key16): video
    pairs never meet unless an aligned frame pair shares an exact sub-band.
    Non-SQL-expressible → rows-only driver check + exact fixture (39/40
    planted re-encodes recalled, zero false positives — one video's
    drifting-field frames land past the per-frame threshold at q70, the
    candidate-generator recall contract shared with the audio probe)."""
    import numpy as np

    from covid19_spark.operators.multimodal import (
        encode_mjpeg_avi,
        media_from_docs,
        video_frame_hashes,
        video_near_dup_pairs,
    )

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 120)
        .repartition(spark.sparkContext.defaultParallelism)  # see q_image_near_dup
    )

    def blobs(d):
        rng = np.random.default_rng(d + 9_000_000)
        n_frames = 4 + d % 3
        base = rng.integers(0, 256, size=(8, 10, 3), dtype=np.uint8)
        # smooth tiled field drifting per frame: structured content the
        # perceptual hash can track. 80x64 frames: large enough that the
        # 1/8-scale DC-only decode path covers the 8x9 dHash grid
        # (video_frame_hashes engages it above 64x72), so the benched
        # workload measures the thumbnail-decode fast path a real corpus
        # would ride.
        frames = [
            np.repeat(np.repeat(np.roll(base, i, axis=1), 8, axis=0), 8, axis=1)
            for i in range(n_frames)
        ]
        rows = [
            (d, "video", "video/avi", 80, 64, int(n_frames * 250),
             encode_mjpeg_avi(frames, quality=88))
        ]
        if d < 40:  # planted near-dup: same frames, harsher quality
            rows.append(
                (100000 + d, "video", "video/avi", 80, 64,
                 int(n_frames * 250), encode_mjpeg_avi(frames, quality=70))
            )
        return rows

    # eager localCheckpoint: three consumers of a KB-scale frame (see
    # q_image_near_dup)
    hashes = video_frame_hashes(media_from_docs(docs, blobs)).localCheckpoint(eager=True)
    return video_near_dup_pairs(hashes, "media_id").orderBy("doc_a", "doc_b")


ORACLE_VIDEO_NEAR_DUP = f"""
SELECT b.doc_a, b.doc_b, b.matching_frames, b.mean_hamming
FROM read_parquet('{fixture_path("video_near_dup_sf0.01.parquet")}') b
JOIN documents d ON (b.doc_a % 100000) = d.doc_id
ORDER BY b.doc_a, b.doc_b
"""

QUERY_REGISTRY["video_near_dup"] = QuerySpec(
    q_video_near_dup, ORACLE_VIDEO_NEAR_DUP,
    "video near-dup via aligned per-frame dHash across real re-encodes vs fixture oracle",
)


# Fixture oracles for the non-SQL-expressible dedup/ANN family (VERDICT r09
# task #1, the proven png_image_features pattern): the expected output at
# sf0.01 is a checked-in parquet (tools/make_fixtures.py regenerates it from
# the same deterministic xxhash64-seeded pipeline the exact pytest fixtures
# pin), and the oracle SQL joins it back to the LIVE table domain — so the
# driver differential now fails on any drift in shingling, banding, hashing,
# candidate capping or the testdata itself, instead of burning a sweep slot
# on err:no_oracle. Pair ids above 100000 are the planted-variant twins
# (doc_id + 100000), hence the `% 100000` re-anchor onto the live doc ids.
ORACLE_MINHASH_LSH = f"""
SELECT b.doc_a, b.doc_b, b.est_jaccard
FROM read_parquet('{fixture_path("minhash_lsh_sf0.01.parquet")}') b
JOIN documents d ON (b.doc_a % 100000) = d.doc_id
ORDER BY b.doc_a, b.doc_b
"""

ORACLE_SIMHASH_PAIRS = f"""
SELECT b.doc_a, b.doc_b, b.hamming
FROM read_parquet('{fixture_path("simhash_pairs_sf0.01.parquet")}') b
JOIN documents d ON (b.doc_a % 100000) = d.doc_id
ORDER BY b.doc_a, b.doc_b
"""

ORACLE_ANN_COSINE_TOPK = f"""
SELECT b.query_id, b.rank, b.neighbor_id, b.sim
FROM read_parquet('{fixture_path("ann_cosine_topk_sf0.01.parquet")}') b
JOIN embeddings e ON b.neighbor_id = e.vec_id
ORDER BY b.query_id, b.rank
"""

QUERY_REGISTRY.update(
    {
        "text_quality": QuerySpec(q_text_quality, ORACLE_TEXT_QUALITY, "text quality scoring"),
        "lang_id": QuerySpec(q_lang_id, _lang_id_oracle(), "heuristic language-ID"),
        "doc_fingerprint": QuerySpec(q_doc_fingerprint, ORACLE_DOC_FINGERPRINT, "document fingerprint"),
        "dedup_exact": QuerySpec(q_dedup_exact, ORACLE_DEDUP_EXACT, "exact hash dedup"),
        "ngram_jaccard": QuerySpec(q_ngram_jaccard, ORACLE_NGRAM_JACCARD, "n-gram Jaccard pairs"),
        "cosine_topk": QuerySpec(q_cosine_topk, ORACLE_COSINE_TOPK, "brute-force cosine top-k"),
        "minhash_lsh": QuerySpec(
            q_minhash_lsh, ORACLE_MINHASH_LSH, "MinHash+LSH candidates vs fixture oracle"
        ),
        "simhash_pairs": QuerySpec(
            q_simhash_pairs, ORACLE_SIMHASH_PAIRS, "SimHash candidates vs fixture oracle"
        ),
        "ann_cosine_topk": QuerySpec(
            q_ann_cosine_topk, ORACLE_ANN_COSINE_TOPK, "LSH ANN top-k vs fixture oracle"
        ),
        "multimodal_features": QuerySpec(
            q_multimodal_features,
            _feature_fixture_oracle("multimodal_features", "b.media_id, b.n_bytes"),
            "binary payload features vs fixture oracle",
        ),
    }
)




def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-100 corpus bigrams by pointwise mutual
    information, min count 5 — the classic phrase-discovery pass a
    tokenizer/phrase-merger pipeline runs before vocabulary induction.

    One tokenize + explode produces the bigram stream; ONE aggregation per
    granularity (unigram, bigram) with map-side partial counts, then the
    bigram frame joins two broadcast unigram counts. PMI is reported as
    the RAW probability ratio p(ab)/(p(a)p(b)) = c_ab*N/(c_a*c_b) rather
    than its log: products and divisions of exactly-representable counts
    are IEEE-deterministic across engines, while log is not required to be
    correctly rounded — the same determinism contract as the DEC(38,6)
    money sums. The cutoff order (ratio desc, then words) is fully
    tiebroken. Scale: shuffle carries |distinct bigrams| (vocabulary-
    bounded, not corpus-bounded); unigram side is broadcast."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias("__w")
    )
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice("__w", 1, F.greatest(F.size("__w") - 1, F.lit(0))),
                F.slice("__w", 2, F.greatest(F.size("__w") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    unigrams = toks.select(F.explode("__w").alias("w"))
    uni_counts = unigrams.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_tokens = unigrams.groupBy().agg(F.count(F.lit(1)).alias("n"))
    bg_counts = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    scored = (
        bg_counts.join(
            F.broadcast(uni_counts.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))),
            "w1",
        )
        .join(
            F.broadcast(uni_counts.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))),
            "w2",
        )
        .crossJoin(F.broadcast(n_tokens))
        .select(
            "w1",
            "w2",
            "c_ab",
            ((F.col("c_ab") * F.col("n")) / (F.col("c_a") * F.col("c_b"))).alias(
                "pmi_ratio"
            ),
        )
    )
    return scored.orderBy(
        F.col("pmi_ratio").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(100)


ORACLE_BIGRAM_PMI = """
WITH toks AS (
  SELECT list_filter(string_split(lower(text), ' '), t -> t <> '') AS w
  FROM documents
),
uni AS (
  SELECT u.x AS w, count(*) AS c
  FROM toks, unnest(toks.w) AS u(x)
  GROUP BY u.x
),
n AS (SELECT sum(c) AS n FROM uni),
bg AS (
  SELECT w[i] AS w1, w[i + 1] AS w2, count(*) AS c_ab
  FROM toks, unnest(range(1, len(w))) AS r(i)
  GROUP BY w[i], w[i + 1]
  HAVING count(*) >= 5
)
SELECT bg.w1, bg.w2, bg.c_ab,
       (bg.c_ab * n.n) / CAST(a.c * b.c AS DOUBLE) AS pmi_ratio
FROM bg
JOIN uni a ON a.w = bg.w1
JOIN uni b ON b.w = bg.w2
CROSS JOIN n
ORDER BY pmi_ratio DESC, bg.w1 ASC, bg.w2 ASC
LIMIT 100
"""


QUERY_REGISTRY["bigram_pmi"] = QuerySpec(
    q_bigram_pmi, ORACLE_BIGRAM_PMI, "top bigram collocations by PMI ratio"
)


def q_dup_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals from the MassiveText/RefinedWeb
    rule battery (Rae et al. 2021 A1.1; Penedo et al. 2023): per document,
    the fraction of characters covered by the single most frequent 2-gram
    (``top_bigram_frac``) and by all 5-grams occurring more than once
    (``dup_5gram_frac``) — the standard intra-doc repetition filters that
    complement the corpus-level dedup family.

    Shape: one tokenize, two gram explodes, each aggregated per
    (doc_id, gram) with map-side combine — the shuffle is keyed by doc and
    carries each doc's distinct grams, so it parallelizes across docs and
    never builds a corpus-global structure. Ratios are exact divisions of
    counts (IEEE-deterministic, no log)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias("__w"),
    )

    def grams(n):
        slices = [
            F.slice("__w", i + 1, F.greatest(F.size("__w") - n + 1, F.lit(0)))
            for i in range(n)
        ]
        z = slices[0]
        for s in slices[1:]:
            z = F.zip_with(z, s, lambda a, b: F.concat_ws(" ", a, b))
        return toks.select("doc_id", "n_chars", F.explode(z).alias("g"))

    g2 = (
        grams(2)
        .groupBy("doc_id", "n_chars", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # deterministic top pick: order by (c desc, g asc) via min_by on a
    # sortable struct — Spark max_by has no tiebreak, so invert: min_by over
    # (-c, g)
    top2 = g2.groupBy("doc_id", "n_chars").agg(
        F.min_by(F.struct("g", "c"), F.struct((-F.col("c")).alias("nc"), F.col("g"))).alias("__x")
    )
    top2 = top2.select(
        "doc_id",
        "n_chars",
        F.col("__x.g").alias("top_bigram"),
        ((F.col("__x.c") * F.length("__x.g")) / F.col("n_chars")).alias("top_bigram_frac"),
    )
    g5 = (
        grams(5)
        .groupBy("doc_id", "n_chars", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dup5 = g5.groupBy("doc_id", "n_chars").agg(
        (
            F.sum(F.when(F.col("c") > 1, F.col("c") * F.length("g")).otherwise(0))
            / F.first("n_chars")
        ).alias("dup_5gram_frac")
    ).select("doc_id", "dup_5gram_frac")
    return (
        top2.join(dup5, "doc_id", "left")
        .select(
            "doc_id", "n_chars", "top_bigram", "top_bigram_frac",
            F.coalesce("dup_5gram_frac", F.lit(0.0)).alias("dup_5gram_frac"),
        )
        .orderBy("doc_id")
    )


ORACLE_DUP_NGRAM_STATS = """
WITH toks AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS w
  FROM documents
),
g2 AS (
  SELECT doc_id, n_chars, w[i] || ' ' || w[i + 1] AS g, count(*) AS c
  FROM toks, unnest(range(1, len(w))) AS r(i)
  GROUP BY doc_id, n_chars, w[i] || ' ' || w[i + 1]
),
top2 AS (
  SELECT doc_id, n_chars, g AS top_bigram,
         (c * length(g)) / CAST(n_chars AS DOUBLE) AS top_bigram_frac
  FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
    FROM g2
  ) WHERE rn = 1
),
g5 AS (
  SELECT doc_id, n_chars,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS g,
         count(*) AS c
  FROM toks, unnest(range(1, len(w) - 3)) AS r(i)
  GROUP BY doc_id, n_chars,
           w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
),
dup5 AS (
  SELECT doc_id,
         sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END)
           / CAST(any_value(n_chars) AS DOUBLE) AS dup_5gram_frac
  FROM g5 GROUP BY doc_id
)
SELECT t.doc_id, t.n_chars, t.top_bigram, t.top_bigram_frac,
       coalesce(d.dup_5gram_frac, 0.0) AS dup_5gram_frac
FROM top2 t LEFT JOIN dup5 d USING (doc_id)
ORDER BY t.doc_id
"""


QUERY_REGISTRY["dup_ngram_stats"] = QuerySpec(
    q_dup_ngram_stats, ORACLE_DUP_NGRAM_STATS,
    "per-doc repetition: top-bigram and duplicated-5-gram char fractions",
)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (Robertson/Sparck Jones probabilistic weighting,
    k1=1.2, b=0.75): top-20 documents for a fixed 4-term query — the
    standard lexical search op a corpus store serves next to the ANN
    family.  Served from the persisted inverted index (`sources/index`): the
    postings scan is statically pruned to the 4 query terms' hash
    buckets, df is a 4-row broadcast, n/avgdl are driver literals — the
    build runs once per corpus and is shared by the whole lexical family
    (`hybrid_rrf_topk`, `prf_expanded_bm25`).

    Determinism: idf's log is NOT guaranteed correctly rounded across
    engines, so the final score is rounded to 6 decimals in BOTH engines
    (documented exception to the exact-ratio rule — BM25 without log is
    not BM25) and the order fully tiebreaks on doc_id.  The index stores
    exact integral statistics, so index-served scores are bit-equal to
    the inline tokenize the oracle replays."""
    from covid19_spark.operators.retrieval import bm25_scores_from_index
    from covid19_spark.sources.index import ensure_inverted_index

    terms = ("spark", "hash", "window", "vector")
    idx = ensure_inverted_index(spark, sf_dir)
    return (
        bm25_scores_from_index(spark, idx, terms)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
    )


ORACLE_BM25_TOPK = """
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
avgdl AS (SELECT avg(dl) AS avgdl FROM dl)
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
ORDER BY score DESC, tf.doc_id ASC
LIMIT 20
"""


QUERY_REGISTRY["bm25_topk"] = QuerySpec(
    q_bm25_topk, ORACLE_BM25_TOPK, "BM25 lexical retrieval top-k"
)


def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: the 50 terms whose frequency differs
    most between two corpus slices (English vs non-English documents),
    scored by the chi-square statistic over the 2x2 (term, slice)
    contingency table — the standard data-quality gate a training
    pipeline runs between corpus snapshots. All arithmetic is exact
    ratios of counts (no log), so scores hash bit-identically.

    Shape: one tokenize + one (term, slice) count agg (map-side combine,
    vocabulary-bounded shuffle), then per-term chi-square from broadcast
    slice totals. Top-50 fully tiebroken."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("lang") == "en").cast("int").alias("is_en"),
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
        ).alias("t"),
    )
    counts = toks.groupBy("t").agg(
        F.sum("is_en").cast("double").alias("a"),  # term count in EN slice
        F.sum(1 - F.col("is_en")).cast("double").alias("b"),  # term count elsewhere
    )
    totals = counts.groupBy().agg(
        F.sum("a").alias("na"), F.sum("b").alias("nb")
    )
    # chi-square for the 2x2 table [[a, na-a], [b, nb-b]] with Yates-free
    # exact formula: N*(a*(nb-b) - b*(na-a))^2 / (na*nb*(a+b)*(N-a-b))
    scored = counts.crossJoin(F.broadcast(totals)).select(
        "t",
        F.col("a").cast("long").alias("en_count"),
        F.col("b").cast("long").alias("other_count"),
        (
            (F.col("na") + F.col("nb"))
            # explicit self-multiply, NOT pow(x, 2): both engines square the
            # same double with one IEEE multiply, while a general pow may
            # route through exp/ln above 2^53 and diverge in the last ulp
            * (
                (F.col("a") * (F.col("nb") - F.col("b")) - F.col("b") * (F.col("na") - F.col("a")))
                * (F.col("a") * (F.col("nb") - F.col("b")) - F.col("b") * (F.col("na") - F.col("a")))
            )
            / (
                F.col("na") * F.col("nb") * (F.col("a") + F.col("b"))
                * (F.col("na") + F.col("nb") - F.col("a") - F.col("b"))
            )
        ).alias("chi2"),
    )
    return scored.orderBy(F.col("chi2").desc(), F.col("t").asc()).limit(50)


ORACLE_CORPUS_DRIFT = """
WITH toks AS (
  SELECT CAST(lang = 'en' AS INT) AS is_en, u.x AS t
  FROM documents,
       unnest(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS u(x)
),
counts AS (
  SELECT t, CAST(sum(is_en) AS DOUBLE) AS a, CAST(sum(1 - is_en) AS DOUBLE) AS b
  FROM toks GROUP BY t
),
totals AS (SELECT sum(a) AS na, sum(b) AS nb FROM counts)
SELECT t,
       CAST(a AS BIGINT) AS en_count,
       CAST(b AS BIGINT) AS other_count,
       (na + nb) * ((a * (nb - b) - b * (na - a)) * (a * (nb - b) - b * (na - a)))
         / (na * nb * (a + b) * (na + nb - a - b)) AS chi2
FROM counts CROSS JOIN totals
ORDER BY chi2 DESC, t ASC
LIMIT 50
"""


QUERY_REGISTRY["corpus_drift"] = QuerySpec(
    q_corpus_drift, ORACLE_CORPUS_DRIFT,
    "chi-square term drift between corpus slices",
)


def q_lsh_guard_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observable skew-guard audit (VERDICT r06 task #3 made first-class):
    plant a degenerate boilerplate cluster — every doc_id % 10 == 0 gets
    the SAME text, the black-frames/silence/boilerplate failure mode — and
    run the MinHash banded probe with a low bucket cap (40, under the
    50-doc planted cluster at sf0.01) and
    ``dropped_report``. Output is what a 100 TB pipeline owner alerts on:
    each dropped (band, bucket) with its size, exactly the identical-text
    cluster in every band (|corpus|/10 rows each) and nothing else.

    Rows-only (xxhash64 bucket keys have no DuckDB twin); the planted
    cluster size and band coverage are pinned by test. Scale: the report
    is the guard's own broadcast-side aggregation — evaluating it costs
    one banded-frame aggregation, nothing quadratic."""
    from covid19_spark.operators.dedup import (
        lsh_candidate_pair_ids,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.lit("lorem ipsum boilerplate footer all rights reserved contact us"),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # eager localCheckpoint: the banded frame feeds the report agg, the
    # guard's own agg, AND both self-join sides — racing consumers would
    # each recompute the shingle+hash pass (the q_minhash_lsh lifecycle)
    sigs = minhash_signatures(docs, "doc_id", "text").localCheckpoint(eager=True)
    report: list = []
    # id pairs only (no est_jaccard consumer) — the scored form's two
    # signature re-joins are unprunable inner joins (r14)
    pairs = lsh_candidate_pair_ids(
        sigs, "doc_id", max_bucket=40, dropped_report=report
    )
    kept = pairs.agg(F.count(F.lit(1)).alias("kept_pairs"))
    return (
        report[0]
        .crossJoin(F.broadcast(kept))
        .select("band", "bucket", "bucket_size", "kept_pairs")
        .orderBy("band", "bucket")
    )


# Fixture oracle (VERDICT r09 task #1): the xxhash64 bucket keys have no
# DuckDB twin, but the planted-cluster report is deterministic over the
# fixed sf0.01 corpus; the live-domain anchor re-derives the planted
# boilerplate cluster size (|doc_id % 10 == 0|) from the live documents
# table and requires every dropped bucket to be exactly that size — so the
# oracle independently verifies the guard's one semantic invariant while
# the checked-in band/bucket ids pin the hash machinery.
ORACLE_LSH_GUARD_REPORT = f"""
SELECT b.band, b.bucket, b.bucket_size, b.kept_pairs
FROM read_parquet('{fixture_path("lsh_guard_report_sf0.01.parquet")}') b
JOIN (SELECT count(*) AS planted FROM documents WHERE doc_id % 10 = 0) p
  ON b.bucket_size = p.planted
ORDER BY b.band, b.bucket
"""

QUERY_REGISTRY["lsh_guard_report"] = QuerySpec(
    q_lsh_guard_report,
    ORACLE_LSH_GUARD_REPORT,
    "dropped-bucket skew-guard audit over a planted boilerplate cluster vs fixture oracle",
)


def q_old_jpeg_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-FORM consistency for deprecated old-style JPEG-in-TIFF (TIFF
    6.0 §22) — every real-world framing of the SAME entropy stream must
    decode bit-identical pixels: (a) tag-513 JPEGInterchangeFormat whole
    stream, (b) per-chunk complete-SOI stream (writers that omitted 513),
    (c) §22 tables-split — raw tag-519/520/521 tables + bare entropy
    strip, (d) the same tables-split under §15 TILED framing (VERDICT r08
    task #7, new this round), and (e) tables-split with a restart
    interval (tag 515 → DRI, live RSTn markers). One ``encode_jpeg``
    stream per doc underlies all five (gray and YCbCr 4:2:0 alternating
    by doc arithmetic), so decode equality is exact, not approximate —
    this turns the pytest-only §22 decode paths into a driver-checked
    oracle query (the ``jpeg_entropy_matrix`` pattern).

    Oracle: full-agreement counts over the doc domain (DuckDB cannot
    parse TIFF; any framing bug shows as n_match < n_docs). Scale shape:
    map-only synth+decode behind one eager materialization,
    |variants|-row aggregate."""
    import struct

    import numpy as np

    from covid19_spark.operators.jpeg import encode_jpeg
    from covid19_spark.operators.multimodal import (
        extract_image_features,
        media_from_docs,
    )

    def jpeg_split(stream: bytes):
        """Raw tables + bare entropy of a baseline interchange stream."""
        qt, dc, ac, dri = {}, {}, {}, 0
        pos = 2
        while pos + 4 <= len(stream):
            marker = stream[pos + 1]
            pos += 2
            ln = int.from_bytes(stream[pos : pos + 2], "big")
            body = stream[pos + 2 : pos + ln]
            if marker == 0xDB:
                b = 0
                while b < len(body):
                    qt[body[b] & 0xF] = body[b + 1 : b + 65]
                    b += 65
            elif marker == 0xC4:
                b = 0
                while b < len(body):
                    tc, th = body[b] >> 4, body[b] & 0xF
                    n = sum(body[b + 1 : b + 17])
                    (dc if tc == 0 else ac)[th] = body[b + 1 : b + 17 + n]
                    b += 17 + n
            elif marker == 0xDD:
                dri = int.from_bytes(body[:2], "big")
            elif marker == 0xDA:
                return qt, dc, ac, dri, stream[pos + ln : -2]
            pos += ln
        raise ValueError("no SOS")

    def tiff_le(tags):
        """Minimal little-endian TIFF writer; tag values may be
        ("b", blob_bytes) placeholders resolved to file offsets."""
        blobs, spec = [], []
        for tag, typ, vals in sorted(tags):
            rv = []
            for v in vals:
                if isinstance(v, tuple):
                    blobs.append(v[1])
                    rv.append(("b", len(blobs) - 1))
                else:
                    rv.append(v)
            spec.append((tag, typ, rv))
        n = len(spec)
        ifd_end = 8 + 2 + 12 * n + 4
        tsize = {3: 2, 4: 4}
        val_area = sum(
            tsize[t] * len(v) for _, t, v in spec if tsize[t] * len(v) > 4
        )
        val_area += val_area % 2
        off = ifd_end + val_area
        blob_offs = []
        for b in blobs:
            blob_offs.append(off)
            off += len(b) + (len(b) % 2)
        ents, vals_out = [], b""
        for tag, typ, rv in spec:
            ints = [blob_offs[i] if isinstance(v, tuple) else v
                    for v in rv for i in [v[1] if isinstance(v, tuple) else 0]]
            fmt = {3: "H", 4: "I"}[typ]
            body = struct.pack("<" + str(len(ints)) + fmt, *ints)
            if len(body) <= 4:
                ents.append(
                    struct.pack("<HHI", tag, typ, len(ints)) + body.ljust(4, b"\0")
                )
            else:
                ents.append(
                    struct.pack("<HHII", tag, typ, len(ints), ifd_end + len(vals_out))
                )
                vals_out += body
        vals_out = vals_out.ljust(val_area, b"\0")
        blob_area = b"".join(b + b"\0" * (len(b) % 2) for b in blobs)
        return (b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", n)
                + b"".join(ents) + struct.pack("<I", 0) + vals_out + blob_area)

    def base_tags(w, h, spp, photo):
        return [
            (256, 4, [w]), (257, 4, [h]), (258, 3, [8] * spp),
            (259, 3, [6]), (262, 3, [photo]), (277, 3, [spp]),
            (512, 3, [1]),
        ]

    def split_tags(qt, dc, ac, spp, sub):
        tsel = lambda ci: 0 if ci == 0 else 1  # noqa: E731
        tags = [
            (519, 4, [("b", bytes(qt[tsel(ci)])) for ci in range(spp)]),
            (520, 4, [("b", bytes(dc[tsel(ci)])) for ci in range(spp)]),
            (521, 4, [("b", bytes(ac[tsel(ci)])) for ci in range(spp)]),
        ]
        if sub:
            tags.append((530, 3, list(sub)))
        return tags

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 120)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def blobs(d):
        rng = np.random.default_rng(d + 8_300_000)
        h, w = 13 + d % 8, 12 + d % 6
        gray = d % 3 == 0
        img = rng.integers(
            0, 256, size=(h, w) if gray else (h, w, 3), dtype=np.uint8
        )
        spp = 1 if gray else 3
        photo = 1 if gray else 6
        subs = "444" if gray or d % 2 else "420"
        sub = None if gray else {"444": (1, 1), "420": (2, 2)}[subs]
        q = 70 + (d % 3) * 10
        full = encode_jpeg(img, quality=q, subsampling=subs)
        qt, dc, ac, _, entropy = jpeg_split(full)
        fr = encode_jpeg(img, quality=q, subsampling=subs, restart_interval=2)
        _, _, _, dri_r, entropy_r = jpeg_split(fr)
        common = base_tags(w, h, spp, photo)
        variants = [
            ("a_interchange", tiff_le(
                common + [(513, 4, [("b", full)]), (514, 4, [len(full)]),
                          (278, 3, [h])])),
            ("b_chunk_soi", tiff_le(
                common + [(273, 4, [("b", full)]), (279, 4, [len(full)]),
                          (278, 3, [h])])),
            ("c_split_strip", tiff_le(
                common + split_tags(qt, dc, ac, spp, sub)
                + [(273, 4, [("b", entropy)]), (279, 4, [len(entropy)]),
                   (278, 3, [h])])),
            ("d_split_tiled", tiff_le(
                common + split_tags(qt, dc, ac, spp, sub)
                + [(322, 4, [w]), (323, 4, [h]),
                   (324, 4, [("b", entropy)]), (325, 4, [len(entropy)])])),
            ("e_split_restart", tiff_le(
                common + split_tags(qt, dc, ac, spp, sub)
                + [(515, 4, [dri_r]),
                   (273, 4, [("b", entropy_r)]), (279, 4, [len(entropy_r)]),
                   (278, 3, [h])])),
        ]
        return [
            (d * 100 + vi, "image", vname, w, h, None, payload)
            for vi, (vname, payload) in enumerate(variants)
        ]

    feats = extract_image_features(media_from_docs(docs, blobs))
    return _variant_agreement(feats, F.col("feature"))


QUERY_REGISTRY["old_jpeg_matrix"] = QuerySpec(
    q_old_jpeg_matrix,
    _variant_agreement_oracle(
        "a_interchange", "b_chunk_soi", "c_split_strip", "d_split_tiled",
        "e_split_restart",
    ),
    "old-style JPEG-in-TIFF: 5 framings of one entropy stream decode identically (oracle)",
)


def q_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFLATE compression-ratio quality signal (operators/text.py
    ``compression_features``) — the cheap repetitiveness proxy next to the
    exact ``repetition_stats``/``gopher_quality`` rules: every doc plus a
    planted boilerplate twin for the first 40 ids (the same sentence
    repeated — the failure mode the signal exists to catch; planted twins
    compress several times harder than their originals). Flag = ratio
    below 0.35. Map-only Arrow kernel, one pass, no shuffle.

    Non-SQL-expressible (DEFLATE) → fixture oracle joined to the live doc
    domain (the png_image_features pattern); the planted/organic ratio
    separation is additionally pinned by pytest."""
    from covid19_spark.operators.text import compression_features

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 400
    )
    planted = docs.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(
            " ", F.array_repeat(F.lit("subscribe to our newsletter today"), 60)
        ).alias("text"),
    )
    base = docs.unionByName(planted)
    feats = compression_features(base, "doc_id", "text")
    return (
        feats.select(
            "doc_id",
            "n_bytes",
            "z_bytes",
            F.round("ratio", 6).alias("ratio"),
            (F.col("ratio") < 0.35).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


ORACLE_COMPRESSION_QUALITY = f"""
SELECT b.doc_id, b.n_bytes, b.z_bytes, b.ratio, b.repetitive
FROM read_parquet('{fixture_path("compression_quality_sf0.01.parquet")}') b
JOIN documents d ON (b.doc_id % 100000) = d.doc_id
ORDER BY b.doc_id
"""

QUERY_REGISTRY["compression_quality"] = QuerySpec(
    q_compression_quality, ORACLE_COMPRESSION_QUALITY,
    "DEFLATE compression-ratio repetitiveness signal vs fixture oracle",
)


def q_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering
    (operators/dedup.prefix_filter_join) over the perturbed corpus — the
    guaranteed-complete complement to the MinHash-LSH candidate generator:
    every pair with 3-gram-shingle Jaccard ≥ 0.6 is found (the planted
    drop-3-tokens variants land near 1.0, the organic corpus near 0 —
    shingles, not word sets, because the synthetic ~31-word vocabulary
    saturates word-set similarity: at word level 70% of ALL pairs clear
    0.5). TRUE cross-
    engine oracle: DuckDB computes ground truth by ALL-PAIRS exact Jaccard
    (deliberately quadratic at toy scale — the asymmetry documented in
    SCALING.md), so any pair the prefix filter missed or invented is a
    row-count mismatch, and the double division ``i/(|a|+|b|-i)`` is the
    identical expression in both engines."""
    from covid19_spark.operators.dedup import prefix_filter_join

    docs = _perturbed_docs(spark, sf_dir).filter(
        (F.col("doc_id") % 100000) < 300
    )
    return prefix_filter_join(docs, "doc_id", "text").orderBy("doc_a", "doc_b")


ORACLE_SETSIM_PREFIX_JOIN = """
WITH base AS (
  SELECT doc_id, lower(text) AS text FROM documents WHERE doc_id < 300
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         array_to_string(string_split(lower(text), ' ')[4:], ' ') AS text
  FROM documents WHERE doc_id < 50
),
toks AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, len(string_split(text, ' ')) - 1),
    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
         || ' ' || string_split(text, ' ')[i+2]))) AS tok
  FROM base
),
sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       i.i / CAST(sa.sz + sb.sz - i.i AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE i.i / CAST(sa.sz + sb.sz - i.i AS DOUBLE) >= 0.6
ORDER BY doc_a, doc_b
"""

QUERY_REGISTRY["setsim_prefix_join"] = QuerySpec(
    q_setsim_prefix_join, ORACLE_SETSIM_PREFIX_JOIN,
    "exact prefix-filtered set-similarity join vs all-pairs oracle",
)


def q_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (Kudo 2018, arXiv:1804.10959 — the
    SentencePiece ``unigram`` model): one distributed word-frequency scan
    (map-side combined, vocabulary-sized, top-N-capped — the same
    sanctioned two-phase split as ``bpe_merges``), then seed-substring
    extraction + Viterbi-EM + prune-to-size on the driver over that
    aggregate. Output: the fitted (piece, logprob) vocabulary —
    deterministic (total-order tie-breaks throughout), so it carries an
    exact checked-in fixture. Non-SQL-expressible (iterative EM) →
    fixture oracle."""
    from covid19_spark.operators.unigram import train_unigram

    docs = _t(spark, sf_dir, "documents")
    vocab = train_unigram(docs, "text")
    return spark.createDataFrame(
        vocab, "piece string, logprob double"
    ).orderBy("piece")


ORACLE_UNIGRAM_VOCAB = f"""
SELECT v.piece, v.logprob
FROM read_parquet('{fixture_path("unigram_vocab_sf0.01.parquet")}') v
CROSS JOIN (SELECT count(*) AS _n FROM documents HAVING count(*) > 0) anchor
ORDER BY v.piece
"""

QUERY_REGISTRY["unigram_vocab"] = QuerySpec(
    q_unigram_vocab, ORACLE_UNIGRAM_VOCAB,
    "unigram-LM (SentencePiece-style) tokenizer training -> piece/logprob vocab vs fixture oracle",
)


def q_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi ENCODING under the corpus-trained unigram LM: the vocab
    ships in the task closure (KB-scale) and an Arrow-batched kernel
    best-path-segments per word with a per-batch cache (Zipf
    amortization) — map-only, no shuffle at any corpus size. ``nll`` is
    the per-doc negative log-likelihood, the LM-quality signal
    SentencePiece exposes. Deterministic → exact fixture oracle."""
    from covid19_spark.operators.unigram import train_unigram, unigram_tokenize

    docs = _t(spark, sf_dir, "documents")
    vocab = train_unigram(docs, "text")
    out = unigram_tokenize(docs, vocab, "doc_id", "text")
    return out.select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.round(F.col("nll"), 6).alias("nll"),
        F.element_at("tokens", 1).alias("first_token"),
        F.element_at("tokens", -1).alias("last_token"),
    ).orderBy("doc_id")


ORACLE_UNIGRAM_TOKENIZE = f"""
SELECT u.doc_id, u.n_words, u.n_tokens, u.nll, u.first_token, u.last_token
FROM read_parquet('{fixture_path("unigram_tokenize_sf0.01.parquet")}') u
JOIN documents d ON u.doc_id = d.doc_id
ORDER BY u.doc_id
"""

QUERY_REGISTRY["unigram_tokenize"] = QuerySpec(
    q_unigram_tokenize, ORACLE_UNIGRAM_TOKENIZE,
    "unigram-LM Viterbi encoding with corpus-trained vocab vs fixture oracle",
)


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-duplication — Jaccard CONTAINMENT (Broder 1997)
    over word bigrams: the corpus is doc_id < 100 plus a deterministic
    one-third-prefix EXCERPT of each (doc_id + 10000), and every excerpt
    must surface with containment_a_in_b = 1.0 against its source while
    resemblance dedup would score the pair low (the union dilutes it).
    Same blocked-verify shape as ngram_jaccard (operators/dedup.py
    containment_pairs): pairwise work only inside (lang) blocks, oversized
    blocks dropped by the broadcast anti-join guard.

    Determinism: shingle sets are exact; both containments are
    int/int double divisions — identical IEEE results cross-engine. Docs
    shorter than 3 words are excluded up front (an empty bigram set would
    hit 0/0, where Spark nulls and DuckDB NaNs diverge)."""
    from covid19_spark.operators.dedup import containment_pairs

    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .filter(F.size(F.split(F.col("text"), " ")) >= 3)
        .select("doc_id", "lang", "text")
    )
    words = F.split(F.col("text"), " ")
    exc_len = F.greatest(F.lit(2), F.floor(F.size(words) / F.lit(3)).cast("int"))
    excerpts = base.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        "lang",
        F.array_join(F.slice(words, 1, exc_len), " ").alias("text"),
    )
    corpus = base.unionByName(excerpts)
    return containment_pairs(
        corpus, "doc_id", "text", ["lang"]
    ).orderBy("doc_a", "doc_b")


ORACLE_CONTAINMENT_PAIRS = """
WITH base AS (
  SELECT doc_id, lang, text FROM documents
  WHERE doc_id < 100 AND len(string_split(text, ' ')) >= 3
),
exc AS (
  SELECT doc_id + 10000 AS doc_id, lang,
         array_to_string(
           list_slice(string_split(text, ' '), 1,
                      greatest(2, len(string_split(text, ' ')) // 3)), ' ') AS text
  FROM base
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM exc),
d AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(range(1, len(string_split(text, ' '))),
             i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS sh
  FROM corpus
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
       len(list_intersect(a.sh, b.sh)) / CAST(len(a.sh) AS DOUBLE) AS containment_a_in_b,
       len(list_intersect(a.sh, b.sh)) / CAST(len(b.sh) AS DOUBLE) AS containment_b_in_a
FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE greatest(len(list_intersect(a.sh, b.sh)) / CAST(len(a.sh) AS DOUBLE),
               len(list_intersect(a.sh, b.sh)) / CAST(len(b.sh) AS DOUBLE)) >= 0.6
ORDER BY doc_a, doc_b
"""

QUERY_REGISTRY["containment_pairs"] = QuerySpec(
    q_containment_pairs, ORACLE_CONTAINMENT_PAIRS,
    "asymmetric near-dup: Jaccard containment (excerpt/quotation detection) vs exact oracle",
)


def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search over the persisted IVF-PQ index (the
    production ANN feature every serving stack grows next: Milvus/Qdrant
    filtered queries, FAISS IDSelector): the index is built with the label
    column stored alongside the codes (``attr_cols``), and the query batch
    serves top-10 under ``label = 2`` — the predicate applies to the code
    rows after partition pruning and BEFORE any distance work (pre-filter
    semantics: exact top-k over the matching subset; every neighbor
    satisfies the predicate).  Pinned bit-identical to the in-memory ivfpq
    path over the pre-filtered corpus with the same quantizers in
    tests/test_ann_index.py; the fixture oracle freezes the values.
    The /tmp index is fingerprint-cached like ``ann_index_persist_topk``
    (rebuilt only on corpus/param change)."""
    import os

    from covid19_spark.operators.ann_index import (
        corpus_file_fingerprint, ensure_ivfpq_index, ivfpq_index_topk,
    )

    emb = _t(spark, sf_dir, "embeddings").repartition(32, "vec_id")
    queries = emb.filter(F.col("vec_id") < 8)
    path = f"/tmp/covid19_spark_ann_fidx_{os.path.basename(sf_dir.rstrip('/'))}"
    idx = ensure_ivfpq_index(
        emb, path, corpus_file_fingerprint(sf_dir), attr_cols=("label",)
    )
    return ivfpq_index_topk(idx, emb, queries, codes_filter="label = 2").orderBy(
        "query_id", "rank"
    )


ORACLE_ANN_FILTERED_TOPK = f"""
SELECT b.query_id, b.rank, b.neighbor_id, b.sim
FROM read_parquet('{fixture_path("ann_filtered_topk_sf0.01.parquet")}') b
JOIN embeddings e ON b.neighbor_id = e.vec_id AND e.label = 2
ORDER BY b.query_id, b.rank
"""

QUERY_REGISTRY["ann_filtered_topk"] = QuerySpec(
    q_ann_filtered_topk, ORACLE_ANN_FILTERED_TOPK,
    "filtered vector search on the persisted index (label predicate pre-filters codes)",
)
