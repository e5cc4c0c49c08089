"""Corpus curation: sampling, mixture, redaction, decontamination, packing."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid19_spark.plans.base import QUERY_REGISTRY, QuerySpec, _t, fixture_path


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli sample (rate 0.25) keyed on md5(doc_id) —
    map-only, no RNG state, same rows on every engine/run (the reproducible
    corpus-freeze primitive). Filter pushes to the scan's residual; no
    shuffle at all besides the output sort."""
    from covid19_spark.operators.curation import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id").select("doc_id", "source").orderBy("doc_id")


ORACLE_DETERMINISTIC_SAMPLE = """
SELECT doc_id, source
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
ORDER BY doc_id
"""


QUERY_REGISTRY["deterministic_sample"] = QuerySpec(
    q_deterministic_sample, ORACLE_DETERMINISTIC_SAMPLE, "md5 Bernoulli sample (map-only)"
)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-stratum quota (30 docs per lang) drawn in md5-of-id order —
    deterministic pseudo-random stratified sampling. One shuffle on the
    stratum key; see stratified_quota_sample's docstring for the hash_sample
    pre-thin that bounds the per-stratum sort at 100 TB."""
    from covid19_spark.operators.curation import stratified_quota_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_quota_sample(docs, ["lang"], "doc_id")
    return out.select(
        "lang", "doc_id", F.col("sample_rank").cast("long").alias("sample_rank")
    ).orderBy("lang", "sample_rank")


ORACLE_STRATIFIED_SAMPLE = """
SELECT lang, doc_id, CAST(rn AS BIGINT) AS sample_rank
FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
WHERE rn <= 30
ORDER BY lang, sample_rank
"""


QUERY_REGISTRY["stratified_sample"] = QuerySpec(
    q_stratified_sample, ORACLE_STRATIFIED_SAMPLE, "per-stratum quota sample"
)


def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: per-source keep rate
    min(1, share_s * K / |s|) with shares derived from a per-source weight,
    applied as the same map-only md5 compare as hash_sample. The only
    aggregates touch |domains| rows (counts + total weight), broadcast back;
    the corpus pass has zero shuffle. Output is per-domain (total, kept)
    counts so the mixture is directly auditable."""
    from covid19_spark.operators.curation import HASH_CHARS, _BUCKETS, md5_uniform

    docs = _t(spark, sf_dir, "documents")
    target_rows = F.lit(200.0)
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_domain"))
    rates = counts.withColumn(
        "weight",
        (F.substring(F.col("source"), 4, 8).cast("int") % 3 + 1).cast("double"),
    )
    total = rates.agg(F.sum("weight").alias("total_w"))
    rates = rates.crossJoin(F.broadcast(total)).withColumn(
        "thr",
        F.floor(
            F.least(
                F.lit(1.0),
                F.col("weight") / F.col("total_w") * target_rows / F.col("n_domain"),
            )
            * F.lit(_BUCKETS)
        ).cast("long"),
    )
    joined = docs.join(F.broadcast(rates), "source")
    keep = (F.col("thr") >= F.lit(_BUCKETS)) | (
        md5_uniform(F.col("doc_id")) < F.format_string(f"%0{HASH_CHARS}x", F.col("thr"))
    )
    return (
        joined.filter(keep)
        .groupBy("source")
        .agg(
            F.max("n_domain").cast("long").alias("n_total"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
        )
        .orderBy("source")
    )


ORACLE_DOMAIN_MIX_SAMPLE = """
WITH counts AS (SELECT source, count(*) AS n_domain FROM documents GROUP BY source),
w AS (
  SELECT source, n_domain,
         CAST((CAST(substr(source, 4) AS INT) % 3) + 1 AS DOUBLE) AS weight
  FROM counts
),
t AS (SELECT sum(weight) AS total_w FROM w),
r AS (
  SELECT source, n_domain,
         CAST(floor(least(1.0, weight / total_w * 200.0 / n_domain) * 65536) AS BIGINT) AS thr
  FROM w, t
),
kept AS (
  SELECT d.source, r.n_domain
  FROM documents d JOIN r USING (source)
  WHERE r.thr >= 65536
     OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < printf('%04x', r.thr)
)
SELECT source, CAST(max(n_domain) AS BIGINT) AS n_total, CAST(count(*) AS BIGINT) AS n_kept
FROM kept
GROUP BY source
ORDER BY source
"""


QUERY_REGISTRY["domain_mix_sample"] = QuerySpec(
    q_domain_mix_sample, ORACLE_DOMAIN_MIX_SAMPLE, "target-mixture domain resampling"
)


def q_grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 80/10/10 split of documents by GROUP (a synthetic
    url-domain stand-in, doc_id mod 97): all of a group's docs land in one
    split because the draw hashes the group, not the row — per-row
    `randomSplit` is the classic train/eval contamination bug. Per-split
    doc and distinct-group counts; group-atomicity itself is pinned by
    test (sum of per-split distinct groups == global distinct groups).
    Map-only assignment + one |splits|-sized aggregate; scales as a scan."""
    from covid19_spark.operators.curation import grouped_split

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.pmod(F.col("doc_id"), F.lit(97)).alias("grp")
    )
    assigned = grouped_split(
        docs, "grp", [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("grp").cast("long").alias("n_groups"),
        )
        .orderBy("split")
    )


# thresholds are hex_threshold(0.8)='cccc' and hex_threshold(0.9)='e666'
# over the 4-hex-char draw — inlined so the SQL is self-contained
ORACLE_GROUPED_SPLIT = """
WITH g AS (SELECT doc_id, doc_id % 97 AS grp FROM documents),
a AS (
  SELECT doc_id, grp,
         CASE WHEN substr(md5(CAST(grp AS VARCHAR) || '#split'), 1, 4) < 'cccc'
                THEN 'train'
              WHEN substr(md5(CAST(grp AS VARCHAR) || '#split'), 1, 4) < 'e666'
                THEN 'val'
              ELSE 'test' END AS split
  FROM g
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT grp) AS BIGINT) AS n_groups
FROM a GROUP BY split ORDER BY split
"""


QUERY_REGISTRY["grouped_split"] = QuerySpec(
    q_grouped_split, ORACLE_GROUPED_SPLIT,
    "leakage-safe group-atomic train/val/test split (oracle)",
)


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over synthetic PII-bearing text (emails/IPs/phones/SSNs
    injected deterministically from doc_id, since the synthetic corpus has
    none): regexp_replace chain + per-type audit counts. Map-only JVM
    expressions, codegen'd — embarrassingly parallel at 100 TB."""
    from covid19_spark.operators.curation import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents")
    synth = F.concat_ws(
        " ",
        F.concat(F.lit("user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        F.concat(F.lit("10."), (F.col("doc_id") % 250 + 1).cast("string"), F.lit(".0.1")),
        F.lit("call 555-867-5309"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("ssn 123-45-6789")).otherwise(F.lit("no ssn")),
        F.substring(F.col("text"), 1, 48),
    )
    base = docs.select("doc_id", synth.alias("synth"))
    counts = pii_counts(F.col("synth"))
    return base.select(
        "doc_id",
        redact_pii(F.col("synth")).alias("redacted"),
        *[expr.alias(name) for name, expr in counts.items()],
    ).orderBy("doc_id")


ORACLE_PII_REDACTION = r"""
WITH base AS (
  SELECT doc_id,
         concat_ws(' ',
           'user' || CAST(doc_id AS VARCHAR) || '@example.com',
           '10.' || CAST((doc_id % 250) + 1 AS VARCHAR) || '.0.1',
           'call 555-867-5309',
           CASE WHEN doc_id % 3 = 0 THEN 'ssn 123-45-6789' ELSE 'no ssn' END,
           substr(text, 1, 48)
         ) AS synth
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(synth,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
           '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
         '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g') AS redacted,
       CAST(len(regexp_extract_all(synth, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(synth, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(synth, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(synth, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn
FROM base
ORDER BY doc_id
"""


QUERY_REGISTRY["pii_redaction"] = QuerySpec(
    q_pii_redaction, ORACLE_PII_REDACTION, "regex PII scrub + audit counts"
)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-document count of distinct word
    4-grams shared with a benchmark split (doc_id % 13 == 0 plays the eval
    set). Benchmark shingle set is broadcast (eval suites are MBs); the
    corpus side is map-only explode + broadcast-hash probe, so the only
    shuffle carries hit rows grouped by doc id."""
    from covid19_spark.operators.curation import benchmark_shingles, contamination_hits

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    # Single-file local scans pin the CPU-heavy shingle explode to 1-2 tasks;
    # spread by id first (a real corpus arrives pre-partitioned — drop this).
    corpus = docs.filter(F.col("doc_id") % 13 != 0).repartition(F.col("doc_id"))
    hits = contamination_hits(
        corpus, benchmark_shingles(bench, "text"), "doc_id", "text"
    )
    return hits.orderBy("doc_id")


ORACLE_DECONTAMINATE = """
WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(t[i:i+3], ' ') FOR i IN range(1, len(t) - 2)])) AS shingle
  FROM tok
  WHERE len(t) >= 4
),
b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 13 = 0),
c AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 13 <> 0)
SELECT c.doc_id AS doc_id, CAST(count(DISTINCT c.shingle) AS BIGINT) AS bench_hits
FROM c JOIN b USING (shingle)
GROUP BY c.doc_id
ORDER BY doc_id
"""


QUERY_REGISTRY["decontaminate"] = QuerySpec(
    q_decontaminate, ORACLE_DECONTAMINATE, "benchmark n-gram decontamination"
)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: blocked Jaccard pairs (threshold 0.1) → connected
    components → per-document cluster id, size, and the canonical-keep flag.
    The pair graph is tiny relative to the corpus, so the iterative min-label
    propagation shuffles only pair rows; the corpus itself is scanned once.
    Bounded to doc_id < 500 so the pairwise verify stage stays a verify
    stage at every sf (discovery at scale is MinHash-LSH)."""
    from covid19_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", block_cols=["lang"], threshold=0.1
    )
    return dedup_clusters(pairs.select("doc_a", "doc_b")).orderBy("doc_id")


ORACLE_DEDUP_CLUSTERS = """
WITH RECURSIVE d AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(range(1, len(string_split(text, ' '))),
             i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS sh
  FROM documents WHERE doc_id < 500
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh)) / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.1
),
sym AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p),
reach AS (
  SELECT u AS node, v AS r FROM sym
  UNION
  SELECT reach.node, sym.v FROM reach JOIN sym ON reach.r = sym.u
),
cc AS (SELECT node, least(node, min(r)) AS cluster FROM reach GROUP BY node),
sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size FROM cc GROUP BY cluster)
SELECT node AS doc_id, cluster AS cluster_id, cluster_size,
       CAST(node = cluster AS BIGINT) AS is_canonical
FROM cc JOIN sizes USING (cluster)
ORDER BY doc_id
"""


QUERY_REGISTRY["dedup_clusters"] = QuerySpec(
    q_dedup_clusters, ORACLE_DEDUP_CLUSTERS, "near-dup connected components"
)


def q_dedup_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full discovery→verify→cluster dedup over the WHOLE documents table —
    no doc_id caps, no cheap-key blocking: MinHash-LSH (32 hashes, 8 bands)
    generates candidates, exact 3-gram Jaccard ≥ 0.5 verifies only those
    pairs, connected components assign clusters; singletons keep themselves.

    The oracle is exact all-pairs Jaccard + recursive-CTE closure: it matches
    because LSH recall at this banding is ~1 for the j ≥ 0.9 near-dup pairs
    the corpus actually contains (P(miss) = (1-j^4)^8 ≈ 2e-5 per pair), and
    the pipeline verifies candidates with the same exact Jaccard the oracle
    computes — LSH false positives are filtered identically on both sides.
    Reference capability: DeduplicationTransformer.java:37-88 generalized
    from exact-key first-wins to similarity clusters."""
    from covid19_spark.operators.dedup import lsh_dedup_pipeline

    docs = _t(spark, sf_dir, "documents")
    return lsh_dedup_pipeline(docs, "doc_id", "text").orderBy("doc_id")


ORACLE_DEDUP_PIPELINE_E2E = """
WITH RECURSIVE d AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, greatest(len(string_split(lower(text), ' ')) - 2, 0) + 1),
             i -> string_split(lower(text), ' ')[i] || ' ' ||
                  string_split(lower(text), ' ')[i+1] || ' ' ||
                  string_split(lower(text), ' ')[i+2])) AS sh
  FROM documents
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM d a JOIN d b ON a.doc_id < b.doc_id
  WHERE len(list_distinct(a.sh || b.sh)) > 0
    AND len(list_intersect(a.sh, b.sh))
        / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.5
),
sym AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p),
reach AS (
  SELECT u AS node, v AS r FROM sym
  UNION
  SELECT reach.node, sym.v FROM reach JOIN sym ON reach.r = sym.u
),
cc AS (SELECT node, least(node, min(r)) AS cluster FROM reach GROUP BY node),
sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
          FROM cc GROUP BY cluster),
clustered AS (
  SELECT node, cluster, cluster_size FROM cc JOIN sizes USING (cluster)
)
SELECT documents.doc_id,
       COALESCE(clustered.cluster, documents.doc_id) AS cluster_id,
       CAST(COALESCE(clustered.cluster_size, 1) AS BIGINT) AS cluster_size,
       CAST(COALESCE(documents.doc_id = clustered.cluster, TRUE) AS BIGINT)
         AS is_canonical
FROM documents LEFT JOIN clustered ON documents.doc_id = clustered.node
ORDER BY documents.doc_id
"""


QUERY_REGISTRY["dedup_pipeline_e2e"] = QuerySpec(
    q_dedup_pipeline_e2e,
    ORACLE_DEDUP_PIPELINE_E2E,
    "full-table MinHash-LSH discovery -> exact-Jaccard verify -> clusters",
)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: screen a NEW document batch (doc_id % 4 == 3)
    against the EXISTING corpus (doc_id % 4 < 3) — exact digest first-wins
    plus LSH probe + exact-Jaccard/containment verify, never pairing
    corpus↔corpus or batch↔batch. The production pattern for continuously
    arriving data: cost scales with the batch, the corpus side is a
    precomputed bucket index. Oracle = exhaustive batch×corpus compare
    (same recall-1 argument as dedup_pipeline_e2e)."""
    from covid19_spark.operators.dedup import incremental_dedup_against_corpus

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 < 3)
    batch = docs.filter(F.col("doc_id") % 4 == 3)
    # the screen evaluates eagerly for cache hygiene — see
    # tests/test_cache_hygiene.py
    return incremental_dedup_against_corpus(corpus, batch, "doc_id", "text").orderBy(
        "doc_id"
    )


ORACLE_DEDUP_INCREMENTAL = """
WITH shingled AS (
  SELECT doc_id, md5(text) AS th,
         list_distinct(list_transform(
             range(1, greatest(len(string_split(lower(text), ' ')) - 2, 0) + 1),
             i -> string_split(lower(text), ' ')[i] || ' ' ||
                  string_split(lower(text), ' ')[i+1] || ' ' ||
                  string_split(lower(text), ' ')[i+2])) AS sh
  FROM documents
),
c AS (SELECT * FROM shingled WHERE doc_id % 4 < 3),
b AS (SELECT * FROM shingled WHERE doc_id % 4 = 3),
cd AS (SELECT DISTINCT th FROM c),
verified AS (
  SELECT b.doc_id AS bid, c.doc_id AS cid,
         len(list_intersect(b.sh, c.sh))
           / CAST(len(list_distinct(b.sh || c.sh)) AS DOUBLE) AS j,
         CASE WHEN len(b.sh) > 0
              THEN len(list_intersect(b.sh, c.sh)) / CAST(len(b.sh) AS DOUBLE)
              ELSE 0.0 END AS cont
  FROM b CROSS JOIN c
  WHERE len(list_distinct(b.sh || c.sh)) > 0
    AND len(list_intersect(b.sh, c.sh))
        / CAST(len(list_distinct(b.sh || c.sh)) AS DOUBLE) >= 0.5
),
hits AS (
  SELECT bid, CAST(min(cid) AS BIGINT) AS ndof, max(j) AS bj, max(cont) AS bc
  FROM verified GROUP BY bid
)
SELECT b.doc_id,
       CAST(CASE WHEN cd.th IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_exact_dup,
       CAST(COALESCE(hits.ndof, -1) AS BIGINT) AS near_dup_of,
       COALESCE(hits.bj, 0.0) AS best_jaccard,
       COALESCE(hits.bc, 0.0) AS best_containment,
       CAST(CASE WHEN cd.th IS NULL AND hits.ndof IS NULL THEN 1 ELSE 0 END AS BIGINT)
         AS keep
FROM b LEFT JOIN cd ON b.th = cd.th LEFT JOIN hits ON b.doc_id = hits.bid
ORDER BY b.doc_id
"""


QUERY_REGISTRY["dedup_incremental"] = QuerySpec(
    q_dedup_incremental,
    ORACLE_DEDUP_INCREMENTAL,
    "new-batch screening against an existing corpus index (exact + LSH)",
)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing audit: shard by md5(doc_id), pack documents
    contiguously into 256-token bins in deterministic md5 order, report
    per-(shard, bin) doc and token counts. One shuffle on the shard key;
    per-shard window sum (16 independent streams here)."""
    from covid19_spark.operators.curation import pack_greedy
    from covid19_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    packed = pack_greedy(docs, "doc_id", "n_tokens")
    return (
        packed.groupBy("shard", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens_packed"),
        )
        .orderBy("shard", "bin")
    )


ORACLE_PACK_SEQUENCES = """
WITH d AS (
  SELECT doc_id,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
b AS (
  SELECT shard, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id) - n_tokens) / 256.0) AS BIGINT) AS bin
  FROM d
)
SELECT shard, bin, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens_packed
FROM b
GROUP BY shard, bin
ORDER BY shard, bin
"""


QUERY_REGISTRY["pack_sequences"] = QuerySpec(
    q_pack_sequences, ORACLE_PACK_SEQUENCES, "greedy sequence packing audit"
)


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score (Wenzek et al., 2020): per-document
    negative log-likelihood under the corpus' own unigram LM, plus the
    head/middle/tail perplexity band the CCNet recipe filters on.

    Scale: token-keyed vocab aggregation (output ≪ corpus), token-keyed
    score join (broadcast at this vocab size, AQE shuffle join beyond), one
    groupBy per doc. Per-token -ln(p) goes through the DECIMAL(38,6)
    determinism contract before summation (ln differs in the last ulp across
    engines)."""
    from covid19_spark.operators.curation import unigram_logprob_score

    docs = _t(spark, sf_dir, "documents")
    scored = unigram_logprob_score(docs)
    # CCNet bands by percentile cutoffs, not fixed thresholds: the 1-row
    # cutoff frame is broadcast back (Spark percentile ≡ DuckDB quantile_cont
    # bit-for-bit, so the band edges are engine-identical).
    cuts = scored.agg(
        F.expr("percentile(nats_per_token, 0.33)").alias("c_head"),
        F.expr("percentile(nats_per_token, 0.67)").alias("c_mid"),
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "neg_logprob_sum",
            "nats_per_token",
            F.when(F.col("nats_per_token") < F.col("c_head"), F.lit("head"))
            .when(F.col("nats_per_token") < F.col("c_mid"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ppl_band"),
        )
        .orderBy("doc_id")
    )


ORACLE_UNIGRAM_LOGPROB = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token
  FROM documents
),
vocab AS (SELECT token, count(*) AS tf FROM toks GROUP BY token),
tot AS (SELECT sum(tf) AS total FROM vocab),
scored AS (
  SELECT t.doc_id,
         CAST(-ln(CAST(v.tf AS DOUBLE) / CAST(tot.total AS DOUBLE)) AS DECIMAL(38,6)) AS nl
  FROM toks t JOIN vocab v USING (token) CROSS JOIN tot
),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(nl) AS DOUBLE) AS neg_logprob_sum,
         CAST(sum(nl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS nats_per_token
  FROM scored GROUP BY doc_id
),
cuts AS (
  SELECT quantile_cont(nats_per_token, 0.33) AS c_head,
         quantile_cont(nats_per_token, 0.67) AS c_mid
  FROM agg
)
SELECT doc_id, n_tokens, neg_logprob_sum, nats_per_token,
       CASE WHEN nats_per_token < c_head THEN 'head'
            WHEN nats_per_token < c_mid THEN 'middle'
            ELSE 'tail' END AS ppl_band
FROM agg CROSS JOIN cuts
ORDER BY doc_id
"""


QUERY_REGISTRY["unigram_logprob"] = QuerySpec(
    q_unigram_logprob, ORACLE_UNIGRAM_LOGPROB, "unigram-LM perplexity-proxy quality score"
)


def q_bigram_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff bigram LM scoring (Brants et al. 2007) in the CCNet
    held-out shape: the LM trains on the even-doc_id half (the "reference"
    split) and scores EVERY document — odd docs exercise the backoff path
    (their unseen bigrams fall to alpha·unigram), the transition-structure
    signal the unigram proxy cannot see.

    Scale: map-only bigram zip (no self-join), vocabulary-sized model
    aggregations, two token-keyed scoring joins (AQE broadcast at this
    vocab), one per-doc groupBy. The -ln(S) DECIMAL(38,6) contract makes
    the sum engine-exact."""
    from covid19_spark.operators.curation import bigram_backoff_score

    docs = _t(spark, sf_dir, "documents")
    model_half = docs.filter(F.col("doc_id") % 2 == 0)
    return (
        bigram_backoff_score(docs, model_docs=model_half)
        .select(
            "doc_id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            "neg_logprob_sum",
            "nats_per_bigram",
        )
        .orderBy("doc_id")
    )


ORACLE_BIGRAM_BACKOFF_LM = """
WITH base AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
  FROM documents
),
pairs AS (
  SELECT doc_id,
         unnest(toks[1:len(toks)-1]) AS w1,
         unnest(toks[2:len(toks)]) AS w2
  FROM base WHERE len(toks) >= 2
),
bg AS (
  SELECT w1, w2, count(*) AS c12 FROM pairs WHERE doc_id % 2 = 0 GROUP BY w1, w2
),
mtoks AS (SELECT unnest(toks) AS token FROM base WHERE doc_id % 2 = 0),
uni AS (SELECT token, count(*) AS tf FROM mtoks GROUP BY token),
tot AS (SELECT sum(tf) AS total FROM uni),
scored AS (
  SELECT p.doc_id,
         CASE WHEN bg.c12 IS NOT NULL THEN
                CAST(-ln(CAST(bg.c12 AS DOUBLE) / CAST(u1.tf AS DOUBLE)) AS DECIMAL(38,6))
              WHEN u2.tf IS NOT NULL THEN
                CAST(-ln(0.4 * CAST(u2.tf AS DOUBLE) / CAST(tot.total AS DOUBLE)) AS DECIMAL(38,6))
         END AS nl
  FROM pairs p
  LEFT JOIN bg ON p.w1 = bg.w1 AND p.w2 = bg.w2
  LEFT JOIN uni u1 ON p.w1 = u1.token
  LEFT JOIN uni u2 ON p.w2 = u2.token
  CROSS JOIN tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(nl) AS DOUBLE) AS neg_logprob_sum,
       CAST(sum(nl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS nats_per_bigram
FROM scored
WHERE nl IS NOT NULL
GROUP BY doc_id
ORDER BY doc_id
"""


QUERY_REGISTRY["bigram_backoff_lm"] = QuerySpec(
    q_bigram_backoff_lm,
    ORACLE_BIGRAM_BACKOFF_LM,
    "Stupid-Backoff bigram-LM held-out perplexity score",
)


def q_range_join_price_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless points→intervals range join: lineitem unit prices matched to
    part retail-price brackets (±0.05) — price-anomaly candidate generation
    with NO equi-key. A naive BETWEEN join is BroadcastNestedLoopJoin
    (O(points·intervals)); ``binned_range_join`` manufactures a bin equi-key
    so the plan is one hash shuffle (plan-asserted in test_plans.py).

    All arithmetic in IEEE doubles (no sums), so no decimal contract needed:
    min/max/count are exact picks."""
    from covid19_spark.operators.rangejoin import binned_range_join

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice").cast("double") / F.col("l_quantity").cast("double")).alias(
            "unit_price"
        )
    )
    parts = _t(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_retailprice").cast("double") - F.lit(0.05)).alias("lo"),
        (F.col("p_retailprice").cast("double") + F.lit(0.05)).alias("hi"),
    )
    joined = binned_range_join(li, parts, "unit_price", "lo", "hi")
    return (
        joined.groupBy("p_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.min("unit_price").alias("min_unit_price"),
            F.max("unit_price").alias("max_unit_price"),
        )
        .orderBy("p_partkey")
    )


ORACLE_RANGE_JOIN_PRICE_MATCH = """
WITH pts AS (
  SELECT CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE) AS unit_price
  FROM lineitem
),
iv AS (
  SELECT p_partkey,
         CAST(p_retailprice AS DOUBLE) - 0.05 AS lo,
         CAST(p_retailprice AS DOUBLE) + 0.05 AS hi
  FROM part
)
SELECT p_partkey,
       CAST(count(*) AS BIGINT) AS n_matches,
       min(unit_price) AS min_unit_price,
       max(unit_price) AS max_unit_price
FROM pts JOIN iv ON unit_price >= lo AND unit_price <= hi
GROUP BY p_partkey
ORDER BY p_partkey
"""


QUERY_REGISTRY["range_join_price_match"] = QuerySpec(
    q_range_join_price_match,
    ORACLE_RANGE_JOIN_PRICE_MATCH,
    "keyless binned range join (points→intervals)",
)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style line-level boilerplate removal. The synthetic corpus
    has no newlines, so lined documents are synthesized deterministically
    (shared per-source banner + word-slice body lines + footer shared by
    doc_id%4==0 — same technique as q_pii_redaction's injected PII); then
    ``line_dedup`` strips every line appearing in ≥2 distinct docs.

    Scale: md5 line keys, broadcast boilerplate set, order restored via
    sort_array(collect_list(struct)) — see operators/curation.line_dedup."""
    from covid19_spark.operators.curation import line_dedup

    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    lined = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("src-banner "), F.col("source")),
            F.array_join(F.slice(words, 1, 8), " "),
            F.array_join(F.slice(words, 9, 8), " "),
            F.when(F.col("doc_id") % 4 == 0, F.lit("standard footer line")).otherwise(
                F.concat(F.lit("sig "), F.col("doc_id").cast("string"))
            ),
        ).alias("text"),
    )
    return line_dedup(lined).orderBy("doc_id")


ORACLE_LINE_DEDUP = """
WITH lined AS (
  SELECT doc_id, concat_ws(chr(10),
    'src-banner ' || source,
    array_to_string(list_slice(string_split(text, ' '), 1, 8), ' '),
    array_to_string(list_slice(string_split(text, ' '), 9, 16), ' '),
    CASE WHEN doc_id % 4 = 0 THEN 'standard footer line'
         ELSE 'sig ' || CAST(doc_id AS VARCHAR) END
  ) AS text
  FROM documents
),
lines AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(parts) + 1),
                i -> {'pos': i, 'line': parts[i]}), recursive := true)
  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM lined)
),
boiler AS (
  SELECT md5(line) AS lk FROM lines GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
),
kept AS (SELECT * FROM lines WHERE md5(line) NOT IN (SELECT lk FROM boiler)),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, len(string_split(text, chr(10))) AS n_lines FROM lined)
SELECT t.doc_id, coalesce(r.text, '') AS text,
       CAST(t.n_lines AS BIGINT) AS n_lines,
       CAST(t.n_lines - coalesce(r.n_kept, 0) AS BIGINT) AS n_lines_removed
FROM tot t LEFT JOIN rebuilt r USING (doc_id)
ORDER BY doc_id
"""


QUERY_REGISTRY["line_dedup"] = QuerySpec(
    q_line_dedup, ORACLE_LINE_DEDUP, "corpus line-level boilerplate dedup"
)


def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy match: customer-name pairs within ≤2 edits,
    blocked on (nation, name-prefix) — the sorted-neighborhood blocking a
    real ER pipeline uses so pairwise edit distance never goes O(n²).
    Spark's 3-arg ``levenshtein(a, b, k)`` early-exits the DP at k."""
    from covid19_spark.operators.dedup import blocked_edit_distance_pairs

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.substring(F.col("c_name"), 1, 15).alias("name_blk"),
    )
    pairs = blocked_edit_distance_pairs(
        cust, "c_custkey", "c_name", ["c_nationkey", "name_blk"]
    )
    return pairs.select(
        F.col("id_a").alias("cust_a"),
        F.col("id_b").alias("cust_b"),
        F.col("c_nationkey").cast("long").alias("nation"),
        F.col("edit_distance").cast("int").alias("edit_distance"),
    ).orderBy("cust_a", "cust_b")


ORACLE_FUZZY_NAME_MATCH = """
WITH c AS (
  SELECT c_custkey, c_name, c_nationkey, substr(c_name, 1, 15) AS name_blk
  FROM customer
)
SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
       CAST(a.c_nationkey AS BIGINT) AS nation,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_distance
FROM c a JOIN c b
  ON a.c_nationkey = b.c_nationkey AND a.name_blk = b.name_blk
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
ORDER BY cust_a, cust_b
"""


QUERY_REGISTRY["fuzzy_name_match"] = QuerySpec(
    q_fuzzy_name_match, ORACLE_FUZZY_NAME_MATCH, "blocked Levenshtein entity resolution"
)




def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter rules (Rae et al. 2021, arXiv:2112.11446,
    Appendix A1.1) as ONE declarative map-only pass — the standard
    pretraining-corpus heuristic battery: word-count bounds, mean word
    length, symbol-to-word ratio, alpha-word fraction, stop-word floor,
    and the line-shape rules (bullet-start / ellipsis-end fractions).
    Every rule is a JVM-side expression over one tokenization (no UDFs,
    no shuffle); ``keep`` is the conjunction. Thresholds are the paper's.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "text",
        F.filter(F.split("text", " "), lambda t: t != "").alias("__w"),
        F.split("text", "\n").alias("__l"),
    )
    stops = ("the", "be", "to", "of", "and", "that", "have", "with")
    base = toks.select(
        "doc_id",
        F.size("__w").cast("long").alias("n_words"),
        (
            F.aggregate("__w", F.lit(0).cast("long"), lambda a, w: a + F.length(w))
            / F.size("__w")
        ).alias("mean_word_len"),
        (
            (F.regexp_count("text", F.lit("#")) + F.regexp_count("text", F.lit(r"\.\.\.")))
            / F.size("__w")
        ).alias("symbol_word_ratio"),
        (
            F.size(F.filter("__w", lambda w: w.rlike("[A-Za-z]"))) / F.size("__w")
        ).alias("frac_alpha_words"),
        F.size(F.filter("__w", lambda w: F.lower(w).isin(*stops)))
        .cast("long")
        .alias("n_stop_hits"),
        (
            F.size(F.filter("__l", lambda ln: F.trim(ln).rlike("^[-*•]")))
            / F.size("__l")
        ).alias("bullet_frac"),
        (
            F.size(F.filter("__l", lambda ln: F.trim(ln).rlike(r"\.\.\.$")))
            / F.size("__l")
        ).alias("ellipsis_frac"),
    )
    keep = (
        F.col("n_words").between(50, 100_000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("n_stop_hits") >= 2)
        & (F.col("bullet_frac") <= 0.9)
        & (F.col("ellipsis_frac") <= 0.3)
    )
    return base.select("*", keep.cast("long").alias("keep")).orderBy("doc_id")


ORACLE_GOPHER_QUALITY = """
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), t -> t <> '') AS w,
         string_split(text, chr(10)) AS l
  FROM documents
),
base AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         list_sum(list_transform(w, x -> len(x))) / CAST(len(w) AS DOUBLE) AS mean_word_len,
         (len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')))
           / CAST(len(w) AS DOUBLE) AS symbol_word_ratio,
         len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
           / CAST(len(w) AS DOUBLE) AS frac_alpha_words,
         CAST(len(list_filter(w, x -> lower(x) IN
           ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stop_hits,
         len(list_filter(l, x -> regexp_matches(trim(x), '^[-*•]')))
           / CAST(len(l) AS DOUBLE) AS bullet_frac,
         len(list_filter(l, x -> regexp_matches(trim(x), '\\.\\.\\.$')))
           / CAST(len(l) AS DOUBLE) AS ellipsis_frac
  FROM toks
)
SELECT *,
       CAST(n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3 AND 10
            AND symbol_word_ratio <= 0.1
            AND frac_alpha_words >= 0.8
            AND n_stop_hits >= 2
            AND bullet_frac <= 0.9
            AND ellipsis_frac <= 0.3 AS BIGINT) AS keep
FROM base
ORDER BY doc_id
"""


QUERY_REGISTRY["gopher_quality"] = QuerySpec(
    q_gopher_quality, ORACLE_GOPHER_QUALITY,
    "Gopher rule battery: pretraining quality filter flags",
)


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix token allocator — the planning step every pretraining
    data recipe runs (domain weights -> per-source token quotas): apportion
    a fixed token budget (half the corpus) across sources proportionally
    to document count using LARGEST-REMAINDER apportionment (exact integer
    arithmetic: floor allocations, then +1 token to the R largest
    remainders, R = budget - sum(floors), ties broken by source name), cap
    each quota at the source's available tokens and report the shortfall.
    Deterministic and engine-exact: no floating point anywhere — BIGINT
    multiply/div/mod only. Scale shape: one map-side-partial aggregation
    to |sources| rows, a broadcast single-row totals join, and a window
    over |sources| (tiny) — the 100 TB cost is the one corpus scan."""
    from covid19_spark.operators.text import token_count
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("avail_tokens"),
    )
    totals = per_src.agg(
        F.sum("n_docs").cast("long").alias("total_docs"),
        F.sum("avail_tokens").cast("long").alias("total_tokens"),
    )
    base = per_src.crossJoin(F.broadcast(totals)).select(
        "source", "n_docs", "avail_tokens", "total_docs",
        F.expr("total_tokens div 2").cast("long").alias("budget"),
    )
    fl = base.select(
        "*",
        F.expr("(budget * n_docs) div total_docs").cast("long").alias("floor_alloc"),
        ((F.col("budget") * F.col("n_docs")) % F.col("total_docs"))
        .cast("long").alias("rem"),
    )
    w = Window.orderBy(F.desc("rem"), F.asc("source"))  # |sources| rows only
    wall = Window.partitionBy()
    ranked = fl.select(
        "*",
        F.row_number().over(w).alias("rnk"),
        F.sum("floor_alloc").over(wall).cast("long").alias("floor_sum"),
    )
    alloc = ranked.select(
        "source", "n_docs", "avail_tokens",
        (
            F.col("floor_alloc")
            + F.when(
                F.col("rnk") <= F.col("budget") - F.col("floor_sum"), F.lit(1)
            ).otherwise(F.lit(0))
        ).cast("long").alias("alloc_tokens"),
    )
    return alloc.select(
        "source", "n_docs", "avail_tokens", "alloc_tokens",
        F.least("alloc_tokens", "avail_tokens").cast("long").alias("quota_tokens"),
        F.greatest(
            F.col("alloc_tokens") - F.col("avail_tokens"), F.lit(0)
        ).cast("long").alias("shortfall"),
    ).orderBy("source")


ORACLE_TOKEN_BUDGET_MIX = """
WITH tc AS (
  SELECT source,
         len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tc
  FROM documents
), per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(tc) AS BIGINT) AS avail_tokens
  FROM tc GROUP BY source
), tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
         CAST(sum(avail_tokens) AS BIGINT) AS total_tokens
  FROM per_src
), base AS (
  SELECT source, n_docs, avail_tokens, total_docs,
         CAST(total_tokens // 2 AS BIGINT) AS budget
  FROM per_src, tot
), fl AS (
  SELECT *,
         CAST((budget * n_docs) // total_docs AS BIGINT) AS floor_alloc,
         CAST((budget * n_docs) % total_docs AS BIGINT) AS rem
  FROM base
), ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY rem DESC, source) AS rnk,
         CAST(sum(floor_alloc) OVER () AS BIGINT) AS floor_sum
  FROM fl
), alloc AS (
  SELECT source, n_docs, avail_tokens,
         CAST(floor_alloc
              + CASE WHEN rnk <= budget - floor_sum THEN 1 ELSE 0 END
              AS BIGINT) AS alloc_tokens
  FROM ranked
)
SELECT source, n_docs, avail_tokens, alloc_tokens,
       CAST(least(alloc_tokens, avail_tokens) AS BIGINT) AS quota_tokens,
       CAST(greatest(alloc_tokens - avail_tokens, 0) AS BIGINT) AS shortfall
FROM alloc
ORDER BY source
"""


QUERY_REGISTRY["token_budget_mix"] = QuerySpec(
    q_token_budget_mix, ORACLE_TOKEN_BUDGET_MIX,
    "largest-remainder token-budget apportionment across sources",
)


def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-URL canonicalization + dedup grouping (operators/web.py spec:
    lowercased scheme/host, default-port and fragment removal, trailing-
    slash strip, tracking-parameter strip with surviving-order preserved).
    Synthesizes a deterministic messy URL per doc (mixed-case host,
    explicit :443 / :8080 ports, trailing slashes, utm_ params, fragments)
    so distinct raw URLs COLLIDE after canonicalization — the group_size
    column is the dedup payoff a crawl frontier/dedup stage keys on.

    The DuckDB oracle derives the canonical form INDEPENDENTLY from the
    doc_id arithmetic (it never runs the normalization machinery), so the
    driver differential cross-checks two implementations of the written
    spec. Scale shape: map-only expression over the scan + one groupBy on
    the canonical key (the same shuffle the real dedup pays), broadcast-
    free."""
    from covid19_spark.operators.web import canonical_url

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 600)
    )
    # SQL-text twin of the former F.concat/F.when template (one parse —
    # the construction-cost discipline of operators/web.py r14); identical
    # literals and CASE arms, so URLs and hashes are unchanged
    url_sql = (
        "concat('HTTPS://WWW.Site', CAST(doc_id % 5 AS STRING), '.Com', "
        "CASE WHEN doc_id % 3 = 0 THEN ':443' WHEN doc_id % 3 = 1 THEN '' "
        "ELSE ':8080' END, '/A/b', CAST(doc_id % 10 AS STRING), "
        "CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END, "
        "CASE WHEN doc_id % 3 = 0 THEN concat('?utm_source=x&id=', "
        "CAST(doc_id % 20 AS STRING)) WHEN doc_id % 3 = 1 THEN "
        "concat('?id=', CAST(doc_id % 20 AS STRING)) ELSE '' END, "
        "CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END)"
    )
    urls = docs.select(
        F.col("doc_id"),
        F.expr(url_sql).alias("url"),
        canonical_url(f"({url_sql})").alias("canonical"),
    )
    groups = urls.groupBy("canonical").agg(
        F.count(F.lit(1)).cast("long").alias("group_size")
    )
    return (
        urls.join(groups, "canonical")
        .select("doc_id", "url", "canonical", "group_size")
        .orderBy("doc_id")
    )


ORACLE_URL_CANONICAL_DEDUP = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 600),
raw AS (
  SELECT doc_id,
         'HTTPS://WWW.Site' || CAST(doc_id % 5 AS VARCHAR) || '.Com'
         || CASE doc_id % 3 WHEN 0 THEN ':443' WHEN 1 THEN '' ELSE ':8080' END
         || '/A/b' || CAST(doc_id % 10 AS VARCHAR)
         || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
         || CASE doc_id % 3
              WHEN 0 THEN '?utm_source=x&id=' || CAST(doc_id % 20 AS VARCHAR)
              WHEN 1 THEN '?id=' || CAST(doc_id % 20 AS VARCHAR)
              ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url,
         -- canonical form derived straight from the spec + the arithmetic:
         -- scheme/host lowercased, :443 dropped (:8080 kept), trailing
         -- slash stripped, utm_ params dropped (id survives), fragment off
         'https://www.site' || CAST(doc_id % 5 AS VARCHAR) || '.com'
         || CASE WHEN doc_id % 3 = 2 THEN ':8080' ELSE '' END
         || '/A/b' || CAST(doc_id % 10 AS VARCHAR)
         || CASE WHEN doc_id % 3 IN (0, 1)
                 THEN '?id=' || CAST(doc_id % 20 AS VARCHAR) ELSE '' END
           AS canonical
  FROM d
)
SELECT doc_id, url, canonical,
       CAST(count(*) OVER (PARTITION BY canonical) AS BIGINT) AS group_size
FROM raw
ORDER BY doc_id
"""


QUERY_REGISTRY["url_canonical_dedup"] = QuerySpec(
    q_url_canonical_dedup, ORACLE_URL_CANONICAL_DEDUP,
    "URL canonicalization + dedup grouping vs spec-derived oracle",
)


def q_html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> visible-text extraction (operators/web.py strip_html):
    comment/script/style subtrees removed wholesale, tags stripped,
    universal entities decoded, whitespace collapsed — plus the anchor
    count feeding the link-density boilerplate heuristic. Each doc's text
    is wrapped in a deterministic HTML shell whose script body contains a
    '<' comparison (the classic naive-regex trap: the tag stripper must
    not eat from `if (x<2)` to the next '>' — subtree removal runs FIRST).

    The oracle never parses HTML: it states the EXPECTED visible text
    directly from the document words, so the driver differential checks
    the extraction machinery against a spec-level answer. Scale shape:
    map-only regexp chain in one codegen stage; no shuffle but the output
    sort."""
    from covid19_spark.operators.web import html_link_count, strip_html

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id", "text")
        .filter(F.col("doc_id") < 400)
    )
    d = F.col("doc_id")
    body = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 12), " ")
    html = F.concat(
        F.lit(
            '<html><head><title>T</title><style>p{color:#000}</style>'
            '<script type="text/javascript">var x=1; if (x<2) { x = 3; }'
            "</script></head><body><h1>Doc "
        ),
        d.cast("string"),
        F.lit('</h1><!-- hidden comment --><p class="main">'),
        body,
        F.lit(
            ' &amp; more &lt;tags&gt;</p><a href="/next">next page</a>'
            '<A HREF="/prev">prev</A></body></html>'
        ),
    )
    vis = strip_html(html)
    return docs.select(
        "doc_id",
        vis.alias("text_visible"),
        html_link_count(html).alias("n_links"),
        F.length(vis).cast("long").alias("n_chars"),
    ).orderBy("doc_id")


ORACLE_HTML_TEXT_EXTRACT = """
SELECT doc_id,
       'Doc ' || CAST(doc_id AS VARCHAR) || ' '
         || array_to_string(string_split(text, ' ')[1:12], ' ')
         || ' & more <tags> next page prev' AS text_visible,
       CAST(2 AS BIGINT) AS n_links,
       CAST(length('Doc ' || CAST(doc_id AS VARCHAR) || ' '
         || array_to_string(string_split(text, ' ')[1:12], ' ')
         || ' & more <tags> next page prev') AS BIGINT) AS n_chars
FROM documents
WHERE doc_id < 400
ORDER BY doc_id
"""


QUERY_REGISTRY["html_text_extract"] = QuerySpec(
    q_html_text_extract, ORACLE_HTML_TEXT_EXTRACT,
    "HTML visible-text extraction + link count vs spec-level oracle",
)


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl-archive ingest end-to-end (sources/warc.py): synthesize a
    spec-shaped WARC blob per document (warcinfo + request + response
    records; odd doc_ids use the Common Crawl member-per-record gzip
    layout, even ones plain — BOTH layouts flow through one reader),
    explode records distributed via the Arrow-batched ``warc_records``
    kernel, and reduce to per-archive facts (record count, HTTP status,
    extracted response body). A single-stream gunzip bug — the classic
    WARC reader error — would drop 2 of 3 records on every odd doc and
    break the oracle's n_records.

    Oracle: spec-level expectation derived from doc_id arithmetic + the
    raw document text (DuckDB never parses WARC). Scale shape: map-only
    synth+parse, one groupBy on the archive id."""
    import numpy as np  # noqa: F401 — parity with sibling synth kernels
    import pandas as pd

    from covid19_spark.sources.warc import (
        WARC_RECORD_SCHEMA,
        encode_warc,
        encode_warc_record,
        http_response_block,
        warc_records,
    )
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id", "text")
        .filter(F.col("doc_id") < 400)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    synth_schema = StructType(
        [StructField("warc_id", LongType()), StructField("payload", BinaryType())]
    )

    def synth(it):
        for pdf in it:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(did)
                uri = f"https://site{d % 9}.example/{d}"
                if d % 7 == 0:
                    block = http_response_block(404, "Not Found", b"not found")
                else:
                    body = " ".join(str(text).split(" ")[:10]).encode()
                    block = http_response_block(200, "OK", body)
                recs = [
                    encode_warc_record(
                        "warcinfo", f"i{d}", b"software: covid19_spark\r\n",
                        content_type="application/warc-fields",
                    ),
                    encode_warc_record(
                        "request", f"q{d}",
                        b"GET / HTTP/1.1\r\nHost: x\r\n\r\n", target_uri=uri,
                        content_type="application/http; msgtype=request",
                    ),
                    encode_warc_record(
                        "response", f"r{d}", block, target_uri=uri,
                        content_type="application/http; msgtype=response",
                    ),
                ]
                rows.append((d, encode_warc(recs, gzip_per_record=d % 2 == 1)))
            yield pd.DataFrame(rows, columns=["warc_id", "payload"])

    blobs = docs.mapInPandas(synth, schema=synth_schema)
    recs = warc_records(blobs)
    return (
        recs.groupBy("warc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_records"),
            F.max("http_status").cast("long").alias("http_status"),
            F.max(F.when(F.col("rec_type") == "response", F.col("body")))
            .alias("body"),
            F.max("target_uri").alias("target_uri"),
        )
        .select(
            F.col("warc_id").alias("doc_id"),
            "n_records", "http_status", "body", "target_uri",
        )
        .orderBy("doc_id")
    )


ORACLE_WARC_INGEST = """
SELECT doc_id,
       CAST(3 AS BIGINT) AS n_records,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS BIGINT)
         AS http_status,
       CASE WHEN doc_id % 7 = 0 THEN 'not found'
            ELSE array_to_string(string_split(text, ' ')[1:10], ' ') END
         AS body,
       'https://site' || CAST(doc_id % 9 AS VARCHAR) || '.example/'
         || CAST(doc_id AS VARCHAR) AS target_uri
FROM documents
WHERE doc_id < 400
ORDER BY doc_id
"""


QUERY_REGISTRY["warc_ingest"] = QuerySpec(
    q_warc_ingest, ORACLE_WARC_INGEST,
    "WARC archive ingest (plain + member-gzip) vs spec-level oracle",
)


def q_warc_permissive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-robustness contract for WARC ingest, end-to-end: a corpus
    where a deterministic subset of archives is torn (truncated mid-record,
    doc_id % 11 == 3) or not WARC at all (doc_id % 13 == 0) must still
    complete — ``on_error="permissive"`` yields one classified error row
    per bad archive instead of failing the task, and healthy archives
    still explode into their records. Reports outcomes per (outcome,
    rec_type) — the ingest health dashboard a crawl run starts from.

    Oracle: outcome classes derive from the doc_id arithmetic alone
    (DuckDB never parses WARC). Scale shape: map-only synth+parse, one
    tiny-grain aggregate."""
    import pandas as pd

    from covid19_spark.sources.warc import (
        encode_warc,
        encode_warc_record,
        http_response_block,
        warc_records,
    )
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 400)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    synth_schema = StructType(
        [StructField("warc_id", LongType()), StructField("payload", BinaryType())]
    )

    def synth(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                d = int(did)
                recs = [
                    encode_warc_record(
                        "request", f"q{d}",
                        b"GET / HTTP/1.1\r\nHost: x\r\n\r\n",
                        target_uri=f"https://h{d}.example/",
                        content_type="application/http; msgtype=request",
                    ),
                    encode_warc_record(
                        "response", f"r{d}",
                        http_response_block(200, "OK", f"body {d}".encode()),
                        target_uri=f"https://h{d}.example/",
                        content_type="application/http; msgtype=response",
                    ),
                ]
                blob = encode_warc(recs, gzip_per_record=d % 2 == 1)
                if d % 13 == 0:
                    blob = b"\x7fNOTWARC" + blob[:24]
                elif d % 11 == 3:
                    # cut the TAIL so the wound is always strictly inside
                    # the final record/gzip member (a fractional cut can
                    # land exactly on a member boundary and "parse clean")
                    blob = blob[:-10]
                rows.append((d, blob))
            yield pd.DataFrame(rows, columns=["warc_id", "payload"])

    blobs = docs.mapInPandas(synth, schema=synth_schema)
    recs = warc_records(blobs, on_error="permissive")
    return (
        recs.select(
            F.coalesce(
                F.split(F.col("error"), ":").getItem(0), F.lit("ok")
            ).alias("outcome"),
            F.coalesce(F.col("rec_type"), F.lit("-")).alias("rec_type"),
        )
        .groupBy("outcome", "rec_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("outcome", "rec_type")
    )


# Outcome classes from the synthesis arithmetic: non-WARC magic and
# truncation both classify as ValueError (one row per bad archive);
# healthy archives yield one request + one response row each. Truncation
# cuts the SECOND record's tail: for plain archives the terminator/block
# check fails; for gzip ones the member stream ends early — both
# ValueError by the parser's contract.
ORACLE_WARC_PERMISSIVE_STATS = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN 'bad'
              WHEN doc_id % 11 = 3 THEN 'bad'
              ELSE 'ok' END AS cls
  FROM documents WHERE doc_id < 400
)
SELECT outcome, rec_type, CAST(n AS BIGINT) AS n FROM (
  SELECT 'ValueError' AS outcome, '-' AS rec_type, count(*) AS n
  FROM d WHERE cls = 'bad'
  UNION ALL
  SELECT 'ok', 'request', count(*) FROM d WHERE cls = 'ok'
  UNION ALL
  SELECT 'ok', 'response', count(*) FROM d WHERE cls = 'ok'
)
ORDER BY outcome, rec_type
"""


QUERY_REGISTRY["warc_permissive_stats"] = QuerySpec(
    q_warc_permissive_stats, ORACLE_WARC_PERMISSIVE_STATS,
    "torn-archive-tolerant WARC ingest -> outcome counts (oracle)",
)


def q_typography_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-preserving typographic normalization
    (operators/text.py ``normalize_typography``): curly quotes/primes ->
    ASCII quotes, dash/minus family -> '-', exotic-space family -> space,
    fullwidth ASCII -> ASCII, zero-width chars + soft hyphens deleted,
    ellipsis char -> '...', whitespace runs collapsed, trimmed. The
    standard crawl-corpus cleanup ahead of tokenization/dedup (CCNet/
    RefinedWeb-style), beyond-reference LLM-pipeline mandate.

    Synthesizes a deterministic messy string per doc (five templates by
    doc_id arithmetic, each exercising a different fold class) and emits
    the normalized text + its char length. The DuckDB oracle states the
    expected normalized output DIRECTLY from the template arithmetic —
    spec-level, it never runs the fold machinery — so the driver
    differential cross-checks implementation against written spec.

    Scale shape: one translate pass + three regexps over the scan,
    map-only, zero shuffle beyond the output sort.
    """
    from covid19_spark.operators.text import normalize_typography

    d = F.col("doc_id")
    raw = F.concat(
        # “..” curly quotes, — em-dash
        F.when(d % 5 == 0, F.lit("“Deep — learning”"))
        # ’ curly apostrophe, ​ ZWSP, … ellipsis char
        .when(d % 5 == 1, F.lit("it’s café​ … ok"))
        # fullwidth MODEL + ideographic space + fullwidth 42
        .when(d % 5 == 2, F.lit("ＭＯＤＥＬ　４２"))
        # soft hyphen inside a word, NBSP between words
        .when(d % 5 == 3, F.lit("pre­train data"))
        # plain whitespace runs incl. a tab
        .otherwise(F.lit("multi   space\trun")),
        F.lit(" #"),
        d.cast("string"),
        F.lit("  "),  # trailing run: exercises the final trim
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(d < 500)
    norm = normalize_typography(raw)
    return docs.select(
        d.alias("doc_id"),
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("norm_len"),
    ).orderBy("doc_id")


ORACLE_TYPOGRAPHY_NORMALIZE = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 500),
n AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN '"Deep - learning"'
           WHEN 1 THEN 'it''s café ... ok'
           WHEN 2 THEN 'MODEL 42'
           WHEN 3 THEN 'pretrain data'
           ELSE 'multi space run'
         END || ' #' || CAST(doc_id AS VARCHAR) AS norm_text
  FROM d
)
SELECT doc_id, norm_text, CAST(length(norm_text) AS BIGINT) AS norm_len
FROM n
ORDER BY doc_id
"""


QUERY_REGISTRY["typography_normalize"] = QuerySpec(
    q_typography_normalize, ORACLE_TYPOGRAPHY_NORMALIZE,
    "typographic normalization vs spec-derived oracle (map-only)",
)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document paragraph dedup (operators/text.py
    ``dedup_paragraphs``): repeated paragraphs inside one document (nav
    blocks, footers — the MassiveText/RefinedWeb in-doc cleanup) are
    removed keeping the first occurrence, order preserved. Complementary
    to corpus-level ``line_dedup`` (frequent ACROSS documents).

    Synthesizes three paragraph layouts by doc_id arithmetic — repeated
    boilerplate around unique content, pure repetition, no repetition —
    and emits the cleaned text plus before/after paragraph counts. The
    DuckDB oracle states the expected cleaned text and counts DIRECTLY
    from the layout arithmetic (spec-level; it never runs the dedup).

    Scale shape: higher-order array expressions over the scan, map-only,
    zero shuffle beyond the output sort; per-row cost O(paragraphs²)
    string compares with paragraphs bounded per document.
    """
    from covid19_spark.operators.text import dedup_paragraphs

    d = F.col("doc_id")
    x = F.concat(F.lit("alpha"), (d % 5).cast("string"))
    raw = (
        F.when(d % 3 == 0, F.concat_ws("\n\n", x, F.lit("beta"), x, F.lit("gamma")))
        .when(d % 3 == 1, F.concat_ws("\n\n", x, x, x))
        .otherwise(F.concat_ws("\n\n", x, F.lit("beta"), F.lit("gamma")))
    )
    clean = dedup_paragraphs(raw)
    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(d < 500)
    nonempty = lambda arr: F.size(F.filter(arr, lambda p: p != ""))  # noqa: E731
    return docs.select(
        d.alias("doc_id"),
        clean.alias("clean_text"),
        nonempty(F.split(raw, r"\n\n")).cast("long").alias("n_paras"),
        nonempty(F.split(clean, r"\n\n")).cast("long").alias("n_kept"),
    ).orderBy("doc_id")


ORACLE_PARAGRAPH_DEDUP = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 500),
n AS (
  SELECT doc_id,
         'alpha' || CAST(doc_id % 5 AS VARCHAR) AS x,
         chr(10) || chr(10) AS s
  FROM d
)
SELECT doc_id,
       CASE WHEN doc_id % 3 = 1 THEN x
            ELSE x || s || 'beta' || s || 'gamma' END AS clean_text,
       CAST(CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 3 ELSE 3 END AS BIGINT)
         AS n_paras,
       CAST(CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 1 ELSE 3 END AS BIGINT)
         AS n_kept
FROM n
ORDER BY doc_id
"""


QUERY_REGISTRY["paragraph_dedup"] = QuerySpec(
    q_paragraph_dedup, ORACLE_PARAGRAPH_DEDUP,
    "intra-doc paragraph dedup vs layout-arithmetic oracle (map-only)",
)


def q_text_cleanup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed crawl text-cleanup chain: split to paragraphs ->
    typographic normalization PER PARAGRAPH (``normalize_typography``
    inside ``F.transform`` — document-level normalization would collapse
    the paragraph separators themselves) -> intra-document first-
    occurrence dedup (``dedup_paragraphs``). The composition is the point:
    paragraphs that differ only typographically (curly vs ASCII quotes,
    em-dash vs hyphen, NBSP vs space) COLLIDE after normalization and the
    duplicate is removed — running the stages in the other order misses
    them.

    Three layouts by doc_id arithmetic: messy boilerplate repeated around
    unique content where the REPEAT differs typographically (ASCII vs
    curly quotes) from the original, pure repetition, no repetition; the
    single paragraphs also carry dash/apostrophe mess. The oracle states
    the cleaned text and counts directly from the layout arithmetic.

    Scale shape: still one map-only pass — higher-order array expressions
    over the scan, zero shuffle beyond the output sort.
    """
    from covid19_spark.operators.text import dedup_paragraphs, normalize_typography

    d = F.col("doc_id")
    # curly-quoted boilerplate; its repeat uses ASCII quotes — a
    # typographic near-duplicate that only normalization makes exact
    x_curly = F.concat(F.lit("“alpha”"), (d % 5).cast("string"))
    x_ascii = F.concat(F.lit('"alpha"'), (d % 5).cast("string"))
    y = F.lit("it’s — beta")
    raw = (
        F.when(d % 3 == 0, F.concat_ws("\n\n", x_curly, y, x_ascii))
        .when(d % 3 == 1, F.concat_ws("\n\n", x_curly, x_ascii))
        .otherwise(F.concat_ws("\n\n", x_curly, y))
    )
    paras = F.filter(F.split(raw, r"\n\n"), lambda p: p != "")
    normed = F.transform(paras, lambda p: normalize_typography(p))
    clean = dedup_paragraphs(F.array_join(normed, "\n\n"))
    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(d < 500)
    return docs.select(
        d.alias("doc_id"),
        clean.alias("clean_text"),
        F.size(paras).cast("long").alias("n_paras"),
        F.size(F.split(clean, r"\n\n")).cast("long").alias("n_kept"),
    ).orderBy("doc_id")


ORACLE_TEXT_CLEANUP_PIPELINE = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 500),
n AS (
  SELECT doc_id,
         '"alpha"' || CAST(doc_id % 5 AS VARCHAR) AS x,
         'it''s - beta' AS y,
         chr(10) || chr(10) AS s
  FROM d
)
SELECT doc_id,
       CASE doc_id % 3
         WHEN 0 THEN x || s || y
         WHEN 1 THEN x
         ELSE x || s || y END AS clean_text,
       CAST(CASE doc_id % 3 WHEN 0 THEN 3 ELSE 2 END AS BIGINT) AS n_paras,
       CAST(CASE doc_id % 3 WHEN 1 THEN 1 ELSE 2 END AS BIGINT) AS n_kept
FROM n
ORDER BY doc_id
"""


QUERY_REGISTRY["text_cleanup_pipeline"] = QuerySpec(
    q_text_cleanup_pipeline, ORACLE_TEXT_CLEANUP_PIPELINE,
    "normalize-then-dedup composed cleanup vs layout oracle (map-only)",
)


def q_crawl_to_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE crawl-to-corpus flagship (VERDICT r08 task #3): the full
    WARC-to-training-corpus chain composed into ONE query — the first
    thing a real LLM-pipeline user runs. Stages, in pipeline order:

      1. WARC ingest (``sources/warc.py``): one spec-shaped archive per
         document (warcinfo + request + response; odd doc_ids use the
         Common Crawl member-per-record gzip layout, even ones plain);
      2. HTTP gate: keep 200-status response records (every 7th doc 404s);
      3. block-aware HTML extraction (``html_paragraphs``): head/script/
         style/comment subtrees off, block tags become paragraph breaks;
      4. per-paragraph typographic normalization (curly quotes / em-dash
         folded to ASCII) then intra-document first-occurrence paragraph
         dedup — the repeated "Home" nav block and the typographic repeat
         of the lead paragraph collapse;
      5. quality gate: cleaned word count >= 5 (every doc with
         doc_id % 8 == 3 is built 3 words short and drops here);
      6. URL dedup: canonicalize (case/port/trailing-slash/utm_*/fragment)
         and keep the LOWEST surviving doc_id per canonical URL
         (construction aliases doc_ids mod 120 onto one URL);
      7. content-fingerprint dedup: every doc with doc_id % 6 == 5 is pure
         boilerplate whose cleaned text is IDENTICAL corpus-wide — one
         survivor. Exact text is the window key at this fixture size; at
         100 TB the key is ``fingerprint(clean_text)`` (md5-16) so the
         exchange hashes 16 chars, not documents (the row still travels —
         that is the output contract either way).

    Oracle: spec-level, the ``html_text_extract`` pattern — DuckDB never
    parses WARC or HTML; it restates the expected cleaned text and the
    gate/dedup outcomes from the construction arithmetic plus the raw
    document words, and replays the two keep-lowest-doc_id dedups as
    QUALIFY windows over that arithmetic. Two implementations of the same
    written spec, cross-checked by the driver.

    Scale shape: documents is scanned ONCE (plan-pinned in
    tests/test_plans.py); synth+parse+extract+cleanup is one map-only
    Arrow/codegen chain over that scan; the only shuffles are the two
    dedup exchanges (canonical key, content key) and the output sort.
    """
    docs = (
        _t(spark, sf_dir, "documents").select("doc_id", "text")
        .filter(F.col("doc_id") < 400)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return crawl_corpus_build(docs).orderBy("doc_id")


def crawl_corpus_build(docs: DataFrame) -> DataFrame:
    """The parameterized WARC→corpus chain behind ``crawl_to_corpus``
    (input: a ``(doc_id, text)`` frame), split out so tools/scale_probe.py
    can drive the SAME pipeline past the registry query's 400-doc fixture
    cap (VERDICT r09 task #5) — the probe measures this function, the
    driver oracle pins its semantics."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from covid19_spark.operators.text import dedup_paragraphs, normalize_typography
    from covid19_spark.operators.web import canonical_url, html_paragraphs
    from covid19_spark.sources.warc import (
        encode_warc,
        encode_warc_record,
        http_response_block,
        warc_records,
    )
    synth_schema = StructType(
        [StructField("warc_id", LongType()), StructField("payload", BinaryType())]
    )

    def synth(it):
        for pdf in it:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(did)
                ukey = d % 120
                uri = (
                    f"HTTPS://Crawl{ukey % 6}.Example:443/page/{ukey}/"
                    "?utm_source=x&ref=9#top"
                )
                if d % 7 == 0:
                    block = http_response_block(404, "Not Found", b"gone")
                else:
                    words = str(text).split(" ")
                    if d % 6 == 5:
                        inner = (
                            "<p>“Free” news</p>"
                            "<p>Subscribe — today</p>"
                            '<p>"Free" news</p>'
                        )
                    elif d % 8 == 3:
                        inner = "<p>" + " ".join(words[:2]) + "</p>"
                    else:
                        inner = (
                            "<h1>Doc " + str(d) + "</h1>"
                            "<p>" + " ".join(words[:12]) + "</p>"
                            "<!-- boilerplate -->"
                            "<p>was — cited</p><p>was - cited</p>"
                        )
                    html = (
                        "<html><head><title>T</title>"
                        "<script>if (a<2) {b=3}</script></head>"
                        "<body><div>Home</div>" + inner
                        + "<div>Home</div></body></html>"
                    )
                    block = http_response_block(200, "OK", html.encode())
                recs = [
                    encode_warc_record(
                        "warcinfo", f"i{d}", b"software: covid19_spark\r\n",
                        content_type="application/warc-fields",
                    ),
                    encode_warc_record(
                        "request", f"q{d}",
                        b"GET / HTTP/1.1\r\nHost: x\r\n\r\n", target_uri=uri,
                        content_type="application/http; msgtype=request",
                    ),
                    encode_warc_record(
                        "response", f"r{d}", block, target_uri=uri,
                        content_type="application/http; msgtype=response",
                    ),
                ]
                rows.append((d, encode_warc(recs, gzip_per_record=d % 2 == 1)))
            yield pd.DataFrame(rows, columns=["warc_id", "payload"])

    pages = (
        warc_records(docs.mapInPandas(synth, schema=synth_schema))
        .filter((F.col("rec_type") == "response") & (F.col("http_status") == 200))
        .select(
            F.col("warc_id").alias("doc_id"),
            F.col("target_uri").alias("url"),
            F.col("body").alias("__html"),
        )
    )
    paras = html_paragraphs(F.col("__html"))
    clean = dedup_paragraphs(
        F.array_join(F.transform(paras, lambda p: normalize_typography(p)), "\n\n")
    )
    cleaned = pages.select(
        "doc_id",
        "url",
        canonical_url("url").alias("canonical"),
        clean.alias("clean_text"),
    ).withColumn(
        "n_words", F.size(F.split(F.col("clean_text"), r"\s+")).cast("long")
    ).filter(F.col("n_words") >= 5)
    url_kept = (
        cleaned.withColumn(
            "__mu", F.min("doc_id").over(Window.partitionBy("canonical"))
        )
        .filter(F.col("doc_id") == F.col("__mu"))
        .drop("__mu")
    )
    corpus = (
        url_kept.withColumn(
            "__mc", F.min("doc_id").over(Window.partitionBy("clean_text"))
        )
        .filter(F.col("doc_id") == F.col("__mc"))
        .drop("__mc")
    )
    return corpus


ORACLE_CRAWL_TO_CORPUS = """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
cand AS (
  SELECT doc_id,
         doc_id % 120 AS ukey,
         'HTTPS://Crawl' || CAST((doc_id % 120) % 6 AS VARCHAR)
           || '.Example:443/page/' || CAST(doc_id % 120 AS VARCHAR)
           || '/?utm_source=x&ref=9#top' AS url,
         'https://crawl' || CAST((doc_id % 120) % 6 AS VARCHAR)
           || '.example/page/' || CAST(doc_id % 120 AS VARCHAR)
           || '?ref=9' AS canonical,
         CASE
           WHEN doc_id % 6 = 5 THEN
             'Home' || chr(10) || chr(10) || '"Free" news'
                    || chr(10) || chr(10) || 'Subscribe - today'
           WHEN doc_id % 8 = 3 THEN
             'Home' || chr(10) || chr(10)
                    || array_to_string(string_split(text, ' ')[1:2], ' ')
           ELSE
             'Home' || chr(10) || chr(10) || 'Doc ' || CAST(doc_id AS VARCHAR)
                    || chr(10) || chr(10)
                    || array_to_string(string_split(text, ' ')[1:12], ' ')
                    || chr(10) || chr(10) || 'was - cited'
         END AS clean_text,
         CASE
           WHEN doc_id % 6 = 5 THEN 6
           WHEN doc_id % 8 = 3 THEN 3
           ELSE len(string_split(text, ' ')[1:12]) + 6
         END AS n_words
  FROM d
  WHERE doc_id % 7 <> 0
),
gated AS (SELECT * FROM cand WHERE n_words >= 5),
url_kept AS (
  SELECT * FROM gated
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY ukey)
),
fp_kept AS (
  SELECT * FROM url_kept
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY clean_text)
)
SELECT doc_id, url, canonical, clean_text, CAST(n_words AS BIGINT) AS n_words
FROM fp_kept
ORDER BY doc_id
"""


QUERY_REGISTRY["crawl_to_corpus"] = QuerySpec(
    q_crawl_to_corpus, ORACLE_CRAWL_TO_CORPUS,
    "WARC -> HTTP gate -> HTML paragraphs -> normalize+dedup -> quality "
    "gate -> URL dedup -> content dedup, one composed corpus query",
)


def q_corpus_shuffle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout audit of the deterministic corpus shuffle (VERDICT r08 task
    #8, the ``zorder_layout`` pattern): per shard — row count (no straggler
    shards: md5 keys are uniform, so 64 shards of the top-12-bit key space
    stay balanced), the key span, and an ORDER FINGERPRINT (md5 of the
    doc_ids concatenated in shuffle order) that pins the exact permutation.

    The oracle recomputes everything from first principles in DuckDB —
    same md5, same 3-hex-char shard arithmetic (via strpos-based hex
    decode), same ordered aggregation — so the driver differential checks
    the full shuffle contract: membership, balance, AND order. A
    nondeterministic shuffle (rand()-keyed, sample-based boundaries) could
    never pass this.

    Scale shape: map-only key/shard derivation on the scan + one groupBy
    on the 64-value shard id; the ordered collect is per-shard bounded
    (|docs|/64)."""
    from covid19_spark.operators.curation import corpus_shard, shuffle_key

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        F.col("doc_id"),
        shuffle_key(F.col("doc_id"), "audit").alias("__k"),
        corpus_shard(F.col("doc_id"), 64, "audit").alias("shard"),
    )
    return (
        keyed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("__k").alias("key_min"),
            F.max("__k").alias("key_max"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("__k"),
                                    F.col("doc_id").cast("string").alias("__id"),
                                )
                            )
                        ),
                        lambda s: s["__id"],
                    ),
                )
            ).alias("order_md5"),
        )
        .orderBy("shard")
    )


ORACLE_CORPUS_SHUFFLE_AUDIT = """
WITH keyed AS (
  SELECT doc_id,
         md5('audit#' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
), sharded AS (
  SELECT doc_id, k,
         CAST(floor((
             (strpos('0123456789abcdef', substring(k, 1, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substring(k, 2, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substring(k, 3, 1)) - 1)
         ) / 64.0) AS INT) AS shard
  FROM keyed
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(k) AS key_min,
       max(k) AS key_max,
       md5(string_agg(CAST(doc_id AS VARCHAR), ','
                      ORDER BY k, CAST(doc_id AS VARCHAR))) AS order_md5
FROM sharded
GROUP BY shard
ORDER BY shard
"""


QUERY_REGISTRY["corpus_shuffle_audit"] = QuerySpec(
    q_corpus_shuffle_audit, ORACLE_CORPUS_SHUFFLE_AUDIT,
    "deterministic corpus shuffle: per-shard balance + exact order fingerprint",
)


def q_crawl_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-data build, end-to-end in one query: the
    ``crawl_to_corpus`` chain (WARC -> HTTP gate -> HTML paragraphs ->
    normalize + dedup -> quality gate -> URL dedup -> content dedup)
    feeding the deterministic corpus shuffle (``corpus_shard`` /
    ``shuffle_key``), audited per shard - row count, key span, and the md5
    fingerprint of the clean texts concatenated in shuffle order. This is
    what a user runs to go from raw crawl archives to training-ready
    shards; every stage's outcome is pinned by ONE DuckDB oracle that
    composes the crawl construction arithmetic with the same md5 shard
    arithmetic.

    Scale shape: the crawl pipeline's plan (single documents scan, two
    dedup exchanges) plus the shuffle's one groupBy on the 16-value shard
    id; the ordered collect is per-shard bounded."""
    corpus = q_crawl_to_corpus(spark, sf_dir).select("doc_id", "clean_text")
    return crawl_shards_audit(corpus)


def crawl_shards_audit(corpus: DataFrame) -> DataFrame:
    """The 16-shard audit stage behind ``crawl_to_shards`` (input: a
    ``(doc_id, clean_text)`` corpus frame) — split out for the same
    scale-probe reason as ``crawl_corpus_build``."""
    from covid19_spark.operators.curation import corpus_shard, shuffle_key

    keyed = corpus.select(
        "doc_id",
        "clean_text",
        shuffle_key(F.col("doc_id"), "crawl9").alias("__k"),
        corpus_shard(F.col("doc_id"), 16, "crawl9").alias("shard"),
    )
    return (
        keyed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("__k").alias("key_min"),
            F.max("__k").alias("key_max"),
            F.md5(
                F.concat_ws(
                    "\u0001",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("__k"), F.col("clean_text")))
                        ),
                        lambda s: s["clean_text"],
                    ),
                )
            ).alias("order_md5"),
        )
        .orderBy("shard")
    )


# the crawl CTEs restate q_crawl_to_corpus's construction arithmetic (see
# ORACLE_CRAWL_TO_CORPUS); the shard/key arithmetic is the
# shuffle_key/corpus_shard contract replayed in SQL - one oracle pins the
# WHOLE build
ORACLE_CRAWL_TO_SHARDS = """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
cand AS (
  SELECT doc_id,
         doc_id % 120 AS ukey,
         CASE
           WHEN doc_id % 6 = 5 THEN
             'Home' || chr(10) || chr(10) || '"Free" news'
                    || chr(10) || chr(10) || 'Subscribe - today'
           WHEN doc_id % 8 = 3 THEN
             'Home' || chr(10) || chr(10)
                    || array_to_string(string_split(text, ' ')[1:2], ' ')
           ELSE
             'Home' || chr(10) || chr(10) || 'Doc ' || CAST(doc_id AS VARCHAR)
                    || chr(10) || chr(10)
                    || array_to_string(string_split(text, ' ')[1:12], ' ')
                    || chr(10) || chr(10) || 'was - cited'
         END AS clean_text,
         CASE
           WHEN doc_id % 6 = 5 THEN 6
           WHEN doc_id % 8 = 3 THEN 3
           ELSE len(string_split(text, ' ')[1:12]) + 6
         END AS n_words
  FROM d
  WHERE doc_id % 7 <> 0
),
gated AS (SELECT * FROM cand WHERE n_words >= 5),
url_kept AS (
  SELECT * FROM gated
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY ukey)
),
corpus AS (
  SELECT * FROM url_kept
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY clean_text)
),
keyed AS (
  SELECT doc_id, clean_text,
         md5('crawl9#' || CAST(doc_id AS VARCHAR)) AS k
  FROM corpus
),
sharded AS (
  SELECT doc_id, clean_text, k,
         CAST(floor((
             (strpos('0123456789abcdef', substring(k, 1, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substring(k, 2, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substring(k, 3, 1)) - 1)
         ) / 256.0) AS INT) AS shard
  FROM keyed
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(k) AS key_min,
       max(k) AS key_max,
       md5(string_agg(clean_text, chr(1) ORDER BY k, clean_text)) AS order_md5
FROM sharded
GROUP BY shard
ORDER BY shard
"""


QUERY_REGISTRY["crawl_to_shards"] = QuerySpec(
    q_crawl_to_shards, ORACLE_CRAWL_TO_SHARDS,
    "crawl archives -> clean corpus -> deterministic shards, one oracle "
    "pinning every stage",
)


def q_domain_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-policy filtering — the crawl-curation gate every production
    corpus applies before any content work (spam/adult/malware domain
    lists): a blocklist entry blocks a URL iff it matches the host on a
    LABEL BOUNDARY, so ``dom3.com`` blocks ``s1.dom3.com`` but never
    ``notdom3.com``. Implementation: ``domain_suffixes_sql`` expands each host
    into its <= 6 label-suffix candidates (one split + array expressions,
    map-only) and membership-tests them against the broadcast blocklist —
    the 100 TB shape (hash semi-join per short suffix; a regex-per-entry
    scan would be |blocklist| x |corpus| full-string work). ``rule`` is
    the lexicographically-smallest matched entry (deterministic; by
    construction every blocked URL here matches exactly one).

    Oracle: spec-level — DuckDB restates blocked/rule straight from the
    URL construction arithmetic, never running the suffix machinery, so
    the driver cross-checks two implementations of the written policy."""
    from covid19_spark.operators.web import domain_suffixes_sql, host_of

    blocklist = ["dom3.com", "dom7.com", "s1.dom4.com", "evil.net"]
    # SQL-text twin of the former F.concat template (see url_canonical_dedup)
    url_sql = (
        "concat('HTTPS://S', CAST(doc_id % 4 AS STRING), '.Dom', "
        "CAST(doc_id % 10 AS STRING), '.Com:443/p/', "
        "CAST(doc_id AS STRING), '?utm_source=x')"
    )
    docs = (
        _t(spark, sf_dir, "documents").select("doc_id")
        .filter(F.col("doc_id") < 600)
    )
    in_list = ", ".join(f"'{b}'" for b in blocklist)
    matched = (
        f"filter({domain_suffixes_sql(f'({url_sql})')}, s -> s IN ({in_list}))"
    )
    return docs.select(
        "doc_id",
        host_of(f"({url_sql})").alias("host"),
        F.expr(f"CAST(size({matched}) > 0 AS BIGINT)").alias("blocked"),
        F.expr(f"array_min({matched})").alias("rule"),
    ).orderBy("doc_id")


ORACLE_DOMAIN_BLOCKLIST_FILTER = """
SELECT doc_id,
       's' || CAST(doc_id % 4 AS VARCHAR) || '.dom'
           || CAST(doc_id % 10 AS VARCHAR) || '.com' AS host,
       CAST(CASE WHEN doc_id % 10 IN (3, 7)
                   OR (doc_id % 4 = 1 AND doc_id % 10 = 4)
                 THEN 1 ELSE 0 END AS BIGINT) AS blocked,
       CASE WHEN doc_id % 10 IN (3, 7)
              THEN 'dom' || CAST(doc_id % 10 AS VARCHAR) || '.com'
            WHEN doc_id % 4 = 1 AND doc_id % 10 = 4 THEN 's1.dom4.com'
            ELSE NULL END AS rule
FROM documents
WHERE doc_id < 600
ORDER BY doc_id
"""


QUERY_REGISTRY["domain_blocklist_filter"] = QuerySpec(
    q_domain_blocklist_filter, ORACLE_DOMAIN_BLOCKLIST_FILTER,
    "label-boundary domain blocklist gate vs spec-derived oracle",
)


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination gate (operators/bloom.py) — the 100 TB
    ingest pre-filter: fingerprint the holdout partition (every doc with
    ``doc_id % 10 == 7`` stands in for the benchmark corpus) into a
    broadcast-sized bitmap ONCE, then flag every incoming document whose
    content fingerprint might be in it, map-only per batch. Contract:
    ZERO false negatives (every true holdout doc flags), false positives
    at the Bloom rate (m=2^18 bits over ~|docs|/10 keys ⇒ well under 1%).

    Output per doc: ``is_holdout`` (exact membership, restated by the
    oracle from the id arithmetic) and ``flagged`` (the Bloom verdict —
    deterministic xxhash64, pinned by the checked-in fixture parquet the
    oracle joins to the live doc domain, the ``png_image_features``
    pattern).

    Scale shape: one holdout scan → ≤ M_BITS/64-row bitmap (ONE bounded
    exchange), broadcast probe join + per-doc k-bit fold — the corpus is
    never joined against the holdout set row-for-row."""
    from covid19_spark.operators.bloom import bloom_build, bloom_might_contain
    from covid19_spark.operators.text import fingerprint

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("__fp")
    )
    holdout = docs.filter(F.col("doc_id") % 10 == 7).select("__fp")
    bloom = bloom_build(holdout, "__fp")
    flagged = bloom_might_contain(docs, bloom, "__fp")
    return (
        flagged.select(
            "doc_id",
            (F.col("doc_id") % 10 == 7).cast("long").alias("is_holdout"),
            F.col("might_contain").alias("flagged"),
        )
        .orderBy("doc_id")
    )


# Fixture oracle: the Bloom verdicts are deterministic (fixed xxhash64
# seeds over the fixed corpus); the live-domain join re-derives exact
# membership from the id arithmetic and cross-checks the fixture's
# is_holdout column against it — a fixture from a stale corpus fails the
# differential. The no-false-negative contract is ALSO stated relationally:
# the WHERE clause would drop any row whose fixture verdict missed a true
# holdout doc, forcing a row-count mismatch.
ORACLE_BLOOM_DECONTAMINATE = f"""
SELECT b.doc_id, CAST(d.doc_id % 10 = 7 AS BIGINT) AS is_holdout, b.flagged
FROM read_parquet('{fixture_path("bloom_decontaminate_sf0.01.parquet")}') b
JOIN documents d ON b.doc_id = d.doc_id
WHERE b.flagged OR d.doc_id % 10 <> 7
ORDER BY b.doc_id
"""

QUERY_REGISTRY["bloom_decontaminate"] = QuerySpec(
    q_bloom_decontaminate, ORACLE_BLOOM_DECONTAMINATE,
    "broadcast Bloom membership gate, zero-false-negative decontamination",
)


# ---------------------------------------------------------------------------
# robots.txt crawl-policy gate (operators/web.py robots_rules/robots_allowed)
# ---------------------------------------------------------------------------

_ROBOTS_BODIES = [
    # h % 3 == 0: wildcard group, longest-match allow carve-out + comment
    "User-agent: *\n# staff only\nDisallow: /private\nAllow: /private/ok\n",
    # h % 3 == 1: agent-specific group preempts the total '*' lockout
    "User-agent: crawler\nDisallow: /p/1\n\nUser-agent: *\nDisallow: /\n",
    # h % 3 == 2: only an unrelated agent's group -> fail-open for ours
    "User-agent: other\nDisallow: /\n",
]


def q_robots_policy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt policy gate — the politeness filter every crawler applies
    before fetch (RFC 9309): parse per-host robots bodies into rule rows
    (declarative: posexplode + regexp + per-host windows), then gate a URL
    frame under group-selection (agent-specific group preempts ``*``;
    neither → fail-open) and longest-match semantics (allow beats disallow
    on equal length). The corpus side is MAP-ONLY: each host's effective
    rule group pre-aggregates into a broadcast array and the winner is an
    array-expression reduction — scan-speed at 100 TB, like the blocklist
    gate.

    Oracle: spec-level — DuckDB restates allowed/matched_rule straight
    from the URL/robots construction arithmetic, never running the
    parser, so the driver cross-checks two implementations of RFC 9309's
    written semantics."""
    from covid19_spark.operators.web import host_of, path_of, robots_allowed, robots_rules

    robots = spark.createDataFrame(
        [(f"dom{h}.com", _ROBOTS_BODIES[h % 3]) for h in range(10)],
        "host string, robots_txt string",
    )
    d = F.col("doc_id")
    path = (
        F.when(d % 4 == 0, F.concat(F.lit("/p/"), (d % 5).cast("string")))
        .when(d % 4 == 1, F.lit("/private"))
        .when(d % 4 == 2, F.concat(F.lit("/private/ok/"), (d % 7).cast("string")))
        .otherwise(F.lit("/"))
    )
    url = F.concat(F.lit("https://dom"), (d % 10).cast("string"), F.lit(".com"), path)
    urls = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 600)
        .select("doc_id", url.alias("url"))
    )
    rules = robots_rules(robots)
    return (
        robots_allowed(urls, rules, agent="crawler")
        .select(
            "doc_id",
            host_of("url").alias("host"),
            path_of("url").alias("path"),
            F.col("allowed"),
            "matched_rule",
        )
        .orderBy("doc_id")
    )


ORACLE_ROBOTS_POLICY_FILTER = """
WITH u AS (
  SELECT doc_id, doc_id % 10 AS h, doc_id % 4 AS p,
         CASE doc_id % 4
           WHEN 0 THEN '/p/' || CAST(doc_id % 5 AS VARCHAR)
           WHEN 1 THEN '/private'
           WHEN 2 THEN '/private/ok/' || CAST(doc_id % 7 AS VARCHAR)
           ELSE '/'
         END AS path
  FROM documents WHERE doc_id < 600
)
SELECT doc_id,
       'dom' || CAST(h AS VARCHAR) || '.com' AS host,
       path,
       CASE
         WHEN h % 3 = 0 AND p = 1 THEN FALSE                       -- /private blocked
         WHEN h % 3 = 1 AND p = 0 AND doc_id % 5 = 1 THEN FALSE    -- crawler: /p/1
         ELSE TRUE                                                 -- incl. h%3=2 fail-open
       END AS allowed,
       CASE
         WHEN h % 3 = 0 AND p = 1 THEN '/private'
         WHEN h % 3 = 0 AND p = 2 THEN '/private/ok'               -- allow wins by length
         WHEN h % 3 = 1 AND p = 0 AND doc_id % 5 = 1 THEN '/p/1'
       END AS matched_rule
FROM u
ORDER BY doc_id
"""

QUERY_REGISTRY["robots_policy_filter"] = QuerySpec(
    q_robots_policy_filter, ORACLE_ROBOTS_POLICY_FILTER,
    "RFC 9309 robots.txt gate (declarative parse + map-only longest-match) vs spec-level oracle",
)


_POLITE_ROBOTS = [
    # h % 3 == 0: wildcard Crawl-delay 2s
    "User-agent: *\nCrawl-delay: 2\nDisallow: /private\n",
    # h % 3 == 1: agent-specific 0.5s preempts the punitive wildcard 10s
    "User-agent: crawler\nCrawl-delay: 0.5\n\nUser-agent: *\nCrawl-delay: 10\n",
    # h % 3 == 2: only an unrelated agent -> our crawler uses the default
    "User-agent: other\nCrawl-delay: 9\n",
]


def q_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier politeness scheduling: per-host fetch slots spaced by
    the host's effective Crawl-delay (agent-specific group over ``*`` over
    the 1 s default) — the layer between robots policy and the fetch pool
    in every production crawler. ``robots_crawl_delays`` parses the
    directive with the same declarative group machinery as the rule
    parser; ``politeness_schedule`` broadcasts the dimension-sized delay
    table and assigns slots with ONE window partitioned by host (the
    per-host serialization IS the politeness semantics).

    Oracle: spec-level — DuckDB recomputes slots with its own
    ``row_number`` over the identical URL construction and restates the
    effective delay straight from the host arithmetic."""
    from covid19_spark.operators.web import politeness_schedule, robots_crawl_delays

    robots = spark.createDataFrame(
        [(f"dom{h}.com", _POLITE_ROBOTS[h % 3]) for h in range(10)],
        "host string, robots_txt string",
    )
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://dom"), (d % 10).cast("string"), F.lit(".com/p/"), d.cast("string")
    )
    urls = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", url.alias("url"))
    )
    delays = robots_crawl_delays(robots)
    return (
        politeness_schedule(urls, delays, agent="crawler")
        .select("doc_id", "host", "slot", "delay_s", "fetch_offset_s")
        .orderBy("doc_id")
    )


ORACLE_POLITENESS_SCHEDULE = """
WITH u AS (
  SELECT doc_id, doc_id % 10 AS h,
         'https://dom' || CAST(doc_id % 10 AS VARCHAR) || '.com/p/'
             || CAST(doc_id AS VARCHAR) AS url
  FROM documents WHERE doc_id < 400
),
s AS (
  SELECT doc_id, h, url,
         row_number() OVER (PARTITION BY h ORDER BY url) - 1 AS slot,
         CASE h % 3 WHEN 0 THEN 2.0 WHEN 1 THEN 0.5 ELSE 1.0 END AS delay_s
  FROM u
)
SELECT doc_id,
       'dom' || CAST(h AS VARCHAR) || '.com' AS host,
       CAST(slot AS INT) AS slot,
       delay_s,
       CAST(slot AS DOUBLE) * delay_s AS fetch_offset_s
FROM s
ORDER BY doc_id
"""

QUERY_REGISTRY["politeness_schedule"] = QuerySpec(
    q_politeness_schedule, ORACLE_POLITENESS_SCHEDULE,
    "Crawl-delay politeness scheduling (per-host slots x effective delay) vs spec-level oracle",
)


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-atomic train/val/test split — the contamination guarantee a
    per-GROUP split gives only if the group IS the duplicate cluster: the
    corpus (documents plus a re-keyed copy of doc_id < 50, planting 50
    known multi-document clusters) is clustered by exact content
    fingerprint (``md5(lower(text))``), every cluster takes its MINIMUM
    doc_id as representative (one window exchange), and the whole cluster
    draws its split from ``md5(rep # salt)`` via ``grouped_split`` — so
    near-identical documents can never straddle the train/eval boundary
    (the classic eval-leakage bug of row-wise ``randomSplit``).

    Output pins both the split sizes AND the guarantee itself:
    ``no_leakage`` counts fingerprints spanning >1 split (stated TRUE by
    the oracle, so a single straddling cluster is a value-hash mismatch).

    Scale: one fingerprint window + the map-only split draw; clusters of
    EXACT duplicates only here (SQL-expressible oracle) — the same
    composition runs with MinHash/CC cluster ids for near-dup atomicity
    (operators/dedup.dedup_clusters supplies them)."""
    from covid19_spark.operators.curation import grouped_split
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 20000).alias("doc_id"), "text"
        )
    )
    fp = F.md5(F.lower(F.col("text")))
    clustered = corpus.withColumn("fp", fp).withColumn(
        "rep", F.min("doc_id").over(Window.partitionBy("fp"))
    )
    split = grouped_split(
        clustered, "rep", [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    )
    crossings = (
        split.groupBy("fp")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .agg(F.count(F.lit(1)).alias("n_leaks"))
    )
    return (
        split.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(crossings))
        .select(
            "split",
            "n_docs",
            "n_clusters",
            (F.col("n_leaks") == 0).alias("no_leakage"),
        )
        .orderBy("split")
    )


ORACLE_LEAKAGE_SAFE_SPLIT = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 20000, text FROM documents WHERE doc_id < 50
),
c AS (
  SELECT doc_id, md5(lower(text)) AS fp FROM corpus
),
r AS (
  SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS rep FROM c
),
a AS (
  SELECT doc_id, fp,
         CASE WHEN substr(md5(CAST(rep AS VARCHAR) || '#split'), 1, 4) < 'cccc'
                THEN 'train'
              WHEN substr(md5(CAST(rep AS VARCHAR) || '#split'), 1, 4) < 'e666'
                THEN 'val'
              ELSE 'test' END AS split
  FROM r
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_clusters,
       TRUE AS no_leakage
FROM a GROUP BY split ORDER BY split
"""

QUERY_REGISTRY["leakage_safe_split"] = QuerySpec(
    q_leakage_safe_split, ORACLE_LEAKAGE_SAFE_SPLIT,
    "cluster-atomic split: exact-dup clusters never straddle train/eval (oracle-pinned guarantee)",
)


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration report — the reliability diagram every
    quality-filter deployment reads before trusting a score as a keep
    probability: the hashed linear classifier's score maps to p ∈ [0,1],
    docs bucket into 10 equal-width confidence bins, and each bin reports
    volume, mean confidence, and the observed positive rate (outcome here:
    the n_chars ≥ 400 length gate) plus the |confidence − accuracy| gap —
    the per-bin term of Expected Calibration Error.

    Determinism: p is an identical IEEE expression in both engines; its
    per-bin mean rides the pagerank-style 1e-15 floor-grid integer sum
    (double→DECIMAL casts round differently cross-engine, integer grids
    do not); bin ids and rates are integer math. One aggregate pass.

    Scale: map-only scoring (the classifier fold) + one |bins|-row
    aggregate — the report costs one scan at any corpus size."""
    from covid19_spark.operators.curation import linear_classifier_columns

    docs = _t(spark, sf_dir, "documents")
    cols = linear_classifier_columns(F.col("text"))
    score = cols["score"]
    p = (score + 1.0) / 2.0
    binc = F.least(F.lit(9), F.floor(p * 10).cast("int"))
    outcome = (F.col("n_chars") >= 400).cast("long")
    grid = F.floor(p * 1e15).cast("long")
    scored = docs.select(
        binc.alias("bin"), grid.alias("p_grid"), outcome.alias("pos")
    ).filter(F.col("bin").isNotNull())
    return (
        scored.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("p_grid") / 1e15 / F.count(F.lit(1))).alias("mean_confidence"),
            (F.sum("pos") / F.count(F.lit(1))).alias("positive_rate"),
        )
        .select(
            "bin",
            "n_docs",
            "mean_confidence",
            "positive_rate",
            F.abs(F.col("mean_confidence") - F.col("positive_rate")).alias("calibration_gap"),
        )
        .orderBy("bin")
    )


ORACLE_CALIBRATION_BINS = """
WITH t AS (
  SELECT doc_id, n_chars,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, n_chars, len(toks) AS n_tokens,
         coalesce(CAST(list_aggregate(
             list_transform(toks,
                 x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % 2001 - 1000),
             'sum') AS BIGINT), 0) AS weight_sum
  FROM t
),
p AS (
  SELECT n_chars,
         (weight_sum / (1000.0 * n_tokens) + 1.0) / 2.0 AS p
  FROM s WHERE n_tokens > 0
),
b AS (
  SELECT least(9, CAST(floor(p * 10) AS INT)) AS bin,
         CAST(floor(p * 1e15) AS BIGINT) AS p_grid,
         CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END AS pos
  FROM p
)
SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
       sum(p_grid) / 1e15 / count(*) AS mean_confidence,
       CAST(sum(pos) AS DOUBLE) / count(*) AS positive_rate,
       abs(sum(p_grid) / 1e15 / count(*)
           - CAST(sum(pos) AS DOUBLE) / count(*)) AS calibration_gap
FROM b GROUP BY bin ORDER BY bin
"""

QUERY_REGISTRY["calibration_bins"] = QuerySpec(
    q_calibration_bins, ORACLE_CALIBRATION_BINS,
    "classifier reliability bins (confidence vs observed rate, floor-grid exact means)",
)


def q_frontier_policy_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE crawl-frontier policy pipeline in ONE plan — the four
    gates every fetch candidate passes, composed: (1) URL
    canonicalization (tracking params off, case/port normalized), (2)
    label-boundary domain blocklist, (3) RFC 9309 robots verdict, (4)
    Crawl-delay politeness slot for the survivors — emitting per URL its
    canonical form, each gate's outcome, and the fetch offset (null for
    refused URLs). One broadcast per policy table, one per-host window
    for the slots, a single pass over the frontier otherwise.

    Oracle: spec-level — DuckDB restates every gate and the slot
    arithmetic straight from the synthesis (the component queries'
    oracles, composed), never running the operators."""
    from covid19_spark.operators.web import (
        canonical_url,
        host_of,
        politeness_schedule,
        robots_allowed,
        robots_crawl_delays,
        robots_rules,
    )

    # SQL-text twin of the former F.concat/F.when template (one parse)
    raw_url_sql = (
        "concat('HTTPS://Dom', CAST(doc_id % 10 AS STRING), '.com:443', "
        "CASE WHEN doc_id % 4 = 0 THEN concat('/p/', CAST(doc_id % 5 AS STRING)) "
        "WHEN doc_id % 4 = 1 THEN '/private' "
        "WHEN doc_id % 4 = 2 THEN concat('/private/ok/', CAST(doc_id % 7 AS STRING)) "
        "ELSE '/' END, '?utm_source=x')"
    )
    frontier = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", canonical_url(f"({raw_url_sql})").alias("url"))
    )
    blocklist = ["dom3.com", "dom7.com"]
    robots = spark.createDataFrame(
        [(f"dom{h}.com", _ROBOTS_BODIES[h % 3]) for h in range(10)],
        "host string, robots_txt string",
    )
    polite = spark.createDataFrame(
        [(f"dom{h}.com", _POLITE_ROBOTS[h % 3]) for h in range(10)],
        "host string, robots_txt string",
    )
    rules = robots_rules(robots)
    delays = robots_crawl_delays(polite)

    gated = frontier.withColumn(
        "blocked", host_of("url").isin(*blocklist)
    )
    # verdicts feeds BOTH the final select and the eligible→schedule branch;
    # without the lineage cut the whole canonicalize+robots subtree (the
    # repo's largest codegen text, ~63k chars) appears twice in the plan
    # and COMPILES twice (r05 multi-branch rule + r12 codegen-size tax:
    # first-run ~14.7 → 12.2 s; warm cost is stage scheduling, unchanged)
    verdicts = robots_allowed(gated, rules, agent="crawler").localCheckpoint(
        eager=False
    )
    eligible = verdicts.filter(~F.col("blocked") & F.col("allowed"))
    # the canonical frontier CONTAINS duplicate URLs (many docs share
    # /p/0) — doc_id tiebreaks the slot order into a total order
    scheduled = politeness_schedule(
        eligible.select("doc_id", "url"), delays, agent="crawler",
        tiebreak_cols=["doc_id"],
    ).select("doc_id", "slot", "fetch_offset_s")
    return (
        verdicts.join(scheduled, "doc_id", "left")
        .select(
            "doc_id",
            "url",
            "blocked",
            "allowed",
            "matched_rule",
            F.col("slot").cast("long").alias("slot"),
            "fetch_offset_s",
        )
        .orderBy("doc_id")
    )


ORACLE_FRONTIER_POLICY_PIPELINE = """
WITH u AS (
  SELECT doc_id, doc_id % 10 AS h, doc_id % 4 AS p,
         CASE doc_id % 4
           WHEN 0 THEN '/p/' || CAST(doc_id % 5 AS VARCHAR)
           WHEN 1 THEN '/private'
           WHEN 2 THEN '/private/ok/' || CAST(doc_id % 7 AS VARCHAR)
           ELSE '/'
         END AS path
  FROM documents WHERE doc_id < 400
),
v AS (
  SELECT doc_id, h, p, path,
         'https://dom' || CAST(h AS VARCHAR) || '.com' || path AS url,
         h IN (3, 7) AS blocked,
         CASE
           WHEN h % 3 = 0 AND p = 1 THEN FALSE
           WHEN h % 3 = 1 AND p = 0 AND doc_id % 5 = 1 THEN FALSE
           ELSE TRUE
         END AS allowed,
         CASE
           WHEN h % 3 = 0 AND p = 1 THEN '/private'
           WHEN h % 3 = 0 AND p = 2 THEN '/private/ok'
           WHEN h % 3 = 1 AND p = 0 AND doc_id % 5 = 1 THEN '/p/1'
         END AS matched_rule,
         CASE h % 3 WHEN 0 THEN 2.0 WHEN 1 THEN 0.5 ELSE 1.0 END AS delay_s
  FROM u
),
sched AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY h ORDER BY url, doc_id) - 1 AS slot,
         delay_s
  FROM v WHERE NOT blocked AND allowed
)
SELECT v.doc_id, v.url, v.blocked, v.allowed, v.matched_rule,
       CAST(s.slot AS BIGINT) AS slot,
       CAST(s.slot AS DOUBLE) * s.delay_s AS fetch_offset_s
FROM v LEFT JOIN sched s ON v.doc_id = s.doc_id
ORDER BY v.doc_id
"""

QUERY_REGISTRY["frontier_policy_pipeline"] = QuerySpec(
    q_frontier_policy_pipeline, ORACLE_FRONTIER_POLICY_PIPELINE,
    "composed crawl-frontier policy: canonicalize -> blocklist -> robots -> politeness, one plan vs spec-level oracle",
)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement
    (operators/curation.weighted_sample): 20 docs per source, inclusion
    odds proportional to document length — the corpus-mixing upsample that
    never duplicates a row. The ranking key ln(u)/w uses the exact
    integer-derived md5 uniform (md5_u01_exact), so DuckDB re-derives the
    identical keys and the identical sample; ln is the only float op and
    both engines' 1-ulp agreement has the knn precedent."""
    from covid19_spark.operators.curation import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        weighted_sample(docs, ["source"], "doc_id", "n_chars")
        .select("source", "doc_id", F.col("n_chars").cast("long").alias("n_chars"),
                F.col("sample_rank").cast("int").alias("sample_rank"))
        .orderBy("source", "sample_rank")
    )


def _hexval_sql(expr: str) -> str:
    """ascii-decoded integer of the first 8 hex chars of md5(expr) — the
    SQL twin of md5_u01_exact's decode, generated from the same walk."""
    terms = []
    for i in range(1, 9):
        d = (f"(CASE WHEN ascii(substr(md5(CAST({expr} AS VARCHAR)), {i}, 1)) <= 57 "
             f"THEN ascii(substr(md5(CAST({expr} AS VARCHAR)), {i}, 1)) - 48 "
             f"ELSE ascii(substr(md5(CAST({expr} AS VARCHAR)), {i}, 1)) - 87 END)")
        terms.append(f"CAST({d} AS BIGINT) * {16 ** (8 - i)}")
    return " + ".join(terms)


ORACLE_WEIGHTED_SAMPLE = f"""
WITH keyed AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         ln(({_hexval_sql('doc_id')} + 0.5) / 4294967296.0)
           / CAST(n_chars AS DOUBLE) AS es_key
  FROM documents WHERE n_chars > 0
),
ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY source ORDER BY es_key DESC, doc_id ASC
         ) AS r
  FROM keyed
)
SELECT source, doc_id, n_chars, CAST(r AS INT) AS sample_rank
FROM ranked WHERE r <= 20
ORDER BY source, sample_rank
"""

QUERY_REGISTRY["weighted_sample"] = QuerySpec(
    q_weighted_sample, ORACLE_WEIGHTED_SAMPLE,
    "Efraimidis-Spirakis weighted sample per source (exact md5 uniforms, cross-engine oracle)",
)


def q_k_anonymity_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy gate (operators/privacy): k-anonymity / l-diversity risk of
    the customer extract under two generalization levels of the balance
    quasi-identifier (fine: 500-wide bands; generalized: 2000-wide), quasi
    = (nation, balance band), sensitive = market segment.  One |classes|
    groupBy per level + a one-row risk report each — the ladder quantifies
    what coarsening buys (min_k rises, rows_at_risk falls; monotonicity
    pinned in tests).  Exact integer counts, one IEEE ratio per row."""
    from covid19_spark.operators.privacy import (
        anonymity_report,
        equivalence_classes,
    )

    cust = _t(spark, sf_dir, "customer")

    def level(name: str, width: int) -> DataFrame:
        quasi = cust.select(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / F.lit(float(width))).alias("band"),
            "c_mktsegment",
        )
        classes = equivalence_classes(
            quasi, ["c_nationkey", "band"], sensitive_col="c_mktsegment"
        )
        return anonymity_report(classes).select(
            F.lit(name).alias("level"),
            "n_classes", "min_k", "max_k", "n_rows",
            "rows_at_risk", "rows_homogeneous", "pct_at_risk",
        )

    return level("band500", 500).unionByName(level("band2000", 2000)).orderBy(
        "level"
    )


ORACLE_K_ANONYMITY_LADDER = """
WITH c5 AS (
  SELECT c_nationkey, CAST(floor(c_acctbal / 500.0) AS BIGINT) AS band,
         count(*) AS k, count(DISTINCT c_mktsegment) AS l
  FROM customer GROUP BY 1, 2
),
c20 AS (
  SELECT c_nationkey, CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS band,
         count(*) AS k, count(DISTINCT c_mktsegment) AS l
  FROM customer GROUP BY 1, 2
),
r5 AS (
  SELECT 'band500' AS level,
         CAST(count(*) AS BIGINT) AS n_classes,
         CAST(min(k) AS BIGINT) AS min_k,
         CAST(max(k) AS BIGINT) AS max_k,
         CAST(sum(k) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS rows_at_risk,
         CAST(sum(CASE WHEN l < 2 THEN k ELSE 0 END) AS BIGINT) AS rows_homogeneous
  FROM c5
),
r20 AS (
  SELECT 'band2000' AS level,
         CAST(count(*) AS BIGINT) AS n_classes,
         CAST(min(k) AS BIGINT) AS min_k,
         CAST(max(k) AS BIGINT) AS max_k,
         CAST(sum(k) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS rows_at_risk,
         CAST(sum(CASE WHEN l < 2 THEN k ELSE 0 END) AS BIGINT) AS rows_homogeneous
  FROM c20
)
SELECT level, n_classes, min_k, max_k, n_rows, rows_at_risk, rows_homogeneous,
       CAST(rows_at_risk AS DOUBLE) / CAST(n_rows AS DOUBLE) AS pct_at_risk
FROM (SELECT * FROM r5 UNION ALL SELECT * FROM r20)
ORDER BY level
"""

QUERY_REGISTRY["k_anonymity_ladder"] = QuerySpec(
    q_k_anonymity_ladder, ORACLE_K_ANONYMITY_LADDER,
    "k-anonymity / l-diversity risk report across a generalization ladder",
)
