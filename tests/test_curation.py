"""Curation operators: deterministic sampling, quotas, PII redaction,
contamination probes (operators/curation.py)."""

import pytest
from pyspark.sql import functions as F

from covid19_spark.operators.curation import (
    PII_PATTERNS,
    benchmark_shingles,
    contamination_hits,
    hash_sample,
    hex_threshold,
    md5_uniform,
    pii_counts,
    redact_pii,
    stratified_quota_sample,
)


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(0, 10_000).withColumnRenamed("id", "doc_id")


def test_hex_threshold_bounds():
    assert hex_threshold(0.0) == "0000"
    assert hex_threshold(0.25) == "4000"
    assert hex_threshold(1.0) == "g"
    assert hex_threshold(2.0) == "g"
    assert hex_threshold(-0.5) == "0000"


def test_hash_sample_deterministic_and_unbiased(ids):
    a = hash_sample(ids, "doc_id")
    b = hash_sample(ids, "doc_id")
    na, nb = a.count(), b.count()
    assert na == nb
    # md5 uniformity: 10k draws at p=0.25 → ±5 sigma ≈ ±216
    assert abs(na - 2500) < 250
    assert a.exceptAll(b).count() == 0


def test_hash_sample_monotone_and_partitioning(ids):
    kept = hash_sample(ids, "doc_id")
    # a row kept at rate 0.25 is kept by every wider md5 threshold
    wider = ids.filter(md5_uniform(F.col("doc_id")) < F.lit(hex_threshold(0.5)))
    assert kept.exceptAll(wider).count() == 0
    # complement partitions the input exactly
    dropped = ids.filter(~(md5_uniform(F.col("doc_id")) < F.lit(hex_threshold(0.25))))
    assert kept.count() + dropped.count() == ids.count()
    assert kept.intersect(dropped).count() == 0


def test_grouped_split_is_group_atomic_and_deterministic(spark):
    """Every group lands wholly in ONE split (the leakage-safety
    contract), assignments are deterministic across runs, fractions are
    approximately honored at the group level."""
    from covid19_spark.operators.curation import grouped_split

    df = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 250).alias("grp")
    )
    fr = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    a = grouped_split(df, "grp", fr)
    # group-atomic: each grp maps to exactly one split
    per_group = a.groupBy("grp").agg(F.countDistinct("split").alias("n"))
    assert per_group.filter(F.col("n") > 1).count() == 0
    # deterministic
    b = grouped_split(df, "grp", fr)
    assert a.exceptAll(b).count() == 0
    # fractions ~honored over 250 groups (binomial ±5 sigma)
    counts = {r["split"]: r["n"] for r in
              a.select("grp", "split").distinct().groupBy("split")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(counts.get("train", 0) - 200) < 32
    # degenerate single split + validation
    assert grouped_split(df, "grp", [("all", 1.0)]).filter(
        F.col("split") != "all"
    ).count() == 0
    with pytest.raises(ValueError, match="sum to 1"):
        grouped_split(df, "grp", [("a", 0.5)])
    # leakage audit the registry query relies on: per-split distinct
    # groups sum to the global distinct count
    agg = a.groupBy("split").agg(F.countDistinct("grp").alias("g")).collect()
    assert sum(r["g"] for r in agg) == 250


def test_stratified_quota_exact(spark):
    df = spark.range(0, 900).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("lang")
    )
    out = stratified_quota_sample(df, ["lang"], "doc_id")
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"0": 30, "1": 30, "2": 30}
    # deterministic: same draw twice
    again = stratified_quota_sample(df, ["lang"], "doc_id")
    assert out.exceptAll(again).count() == 0


def test_stratified_quota_small_stratum(spark):
    df = spark.range(0, 10).select(
        F.col("id").alias("doc_id"), F.lit("only").alias("lang")
    )
    assert stratified_quota_sample(df, ["lang"], "doc_id").count() == 10


def test_stratified_quota_prethin_stable(spark):
    """hash_sample pre-thin keeps the same final quota set as ranking the
    full stratum (md5 order of survivors ⊂ md5 order of stratum)."""
    df = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"), F.lit("s").alias("lang")
    )
    full = stratified_quota_sample(df, ["lang"], "doc_id").select("doc_id")
    thinned = stratified_quota_sample(
        hash_sample(df, "doc_id"), ["lang"], "doc_id"
    ).select("doc_id")
    # identical iff every final pick survives the pre-thin; with quota 30 and
    # 0.25*5000=1250 survivors the top-30 md5 prefixes are far below the 0.25
    # threshold, so the sets coincide.
    assert sorted(r.doc_id for r in full.collect()) == sorted(
        r.doc_id for r in thinned.collect()
    )


def test_redact_pii_goldens(spark):
    rows = spark.createDataFrame(
        [
            ("mail bob.smith+x@corp.example.org now", "mail <EMAIL> now"),
            ("from 192.168.001.1 port", "from <IP> port"),
            ("call 555-123-4567 or 555-987-6543", "call <PHONE> or <PHONE>"),
            ("ssn 123-45-6789 end", "ssn <SSN> end"),
            ("clean text stays clean", "clean text stays clean"),
            ("a@b.io at 10.0.0.1 tel 111-222-3333", "<EMAIL> at <IP> tel <PHONE>"),
        ],
        "raw string, want string",
    )
    bad = rows.filter(redact_pii(F.col("raw")) != F.col("want"))
    assert bad.count() == 0, bad.collect()


def test_pii_counts_columns(spark):
    df = spark.createDataFrame(
        [("a@b.io c@d.io 10.0.0.1 555-123-4567 123-45-6789",)], "t string"
    )
    got = df.select(*[c.alias(k) for k, c in pii_counts(F.col("t")).items()]).first()
    assert (got.n_email, got.n_ipv4, got.n_phone, got.n_ssn) == (2, 1, 1, 1)
    assert [name for name, _, _ in PII_PATTERNS] == ["email", "ipv4", "phone", "ssn"]


@pytest.fixture(scope="module")
def contamination_corpus(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix alpha beta gamma delta suffix words here"),  # shares a 4-gram
            (2, "totally unrelated content with no overlap at all"),
            (3, "alpha beta and gamma delta separately mentioned"),  # no shared 4-gram
            (4, "tiny doc"),  # shorter than the shingle window
        ],
        "doc_id long, text string",
    )
    return corpus, bench


def test_contamination_hits(contamination_corpus):
    corpus, bench = contamination_corpus
    hits = contamination_hits(
        corpus, benchmark_shingles(bench, "text"), "doc_id", "text"
    )
    got = {r.doc_id: r.bench_hits for r in hits.collect()}
    assert got == {1: 1}  # only "alpha beta gamma delta"


def test_decontaminate_empty_benchmark(spark, contamination_corpus):
    """An empty benchmark contaminates nothing: no document gets a hit."""
    corpus, _ = contamination_corpus
    empty_bench = spark.createDataFrame([], "doc_id long, text string")
    hits = contamination_hits(
        corpus, benchmark_shingles(empty_bench, "text"), "doc_id", "text"
    )
    assert hits.count() == 0


def test_connected_components_chain_and_islands(spark):
    from covid19_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (4, 6), (10, 11), (20, 20)],
        "src long, dst long",
    )
    got = {r.node: r.comp for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10, 20: 20}


def test_dedup_clusters_canonical_flags(spark):
    from covid19_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame([(7, 3), (3, 9), (12, 15)], "doc_a long, doc_b long")
    rows = {r.doc_id: r for r in dedup_clusters(pairs).collect()}
    assert rows[3].cluster_id == 3 and rows[3].is_canonical == 1
    assert rows[7].cluster_id == 3 and rows[7].is_canonical == 0
    assert rows[9].cluster_size == 3
    assert rows[12].cluster_id == 12 and rows[15].cluster_size == 2
    # exactly one canonical doc per cluster
    assert sum(r.is_canonical for r in rows.values()) == 2


def test_pack_greedy_invariants(spark):
    from covid19_spark.operators.curation import pack_greedy

    df = spark.range(0, 300).select(
        F.col("id").alias("doc_id"), (F.col("id") % 90 + 10).cast("long").alias("n_tokens")
    )
    packed = pack_greedy(df, "doc_id", "n_tokens")
    # every document is assigned exactly once; token mass is preserved
    assert packed.count() == 300
    assert (
        packed.agg(F.sum("n_tokens")).first()[0]
        == df.agg(F.sum("n_tokens")).first()[0]
    )
    # bins are contiguous from 0 within each shard
    per_shard = packed.groupBy("shard").agg(
        F.min("bin").alias("lo"), F.count_distinct("bin").alias("nbins"), F.max("bin").alias("hi")
    )
    bad = per_shard.filter((F.col("lo") != 0) | (F.col("nbins") != F.col("hi") + 1))
    assert bad.count() == 0
    # a bin only exceeds the budget by at most one straddling document:
    # its exclusive prefix start is < (bin+1)*ctx by construction
    overfull = (
        packed.groupBy("shard", "bin")
        .agg(F.sum("n_tokens").alias("tok"), F.max("n_tokens").alias("biggest"))
        .filter(F.col("tok") - F.col("biggest") >= 256 + 99)
    )
    assert overfull.count() == 0
    # deterministic
    again = pack_greedy(df, "doc_id", "n_tokens")
    assert packed.exceptAll(again).count() == 0


def test_unigram_logprob_hand_computed(spark):
    import math

    from covid19_spark.operators.curation import unigram_logprob_score

    # corpus: 6 tokens total — p(a)=3/6, p(b)=2/6, p(c)=1/6
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in unigram_logprob_score(docs).collect()}
    def dec6(x):  # the per-token DECIMAL(38,6) rounding the contract applies
        return round(x, 6)
    exp1 = dec6(-math.log(3 / 6)) * 2 + dec6(-math.log(2 / 6))
    exp2 = dec6(-math.log(3 / 6)) + dec6(-math.log(2 / 6)) + dec6(-math.log(1 / 6))
    assert out[1].n_tokens == 3 and out[2].n_tokens == 3
    assert abs(out[1].neg_logprob_sum - exp1) < 1e-9
    assert abs(out[2].neg_logprob_sum - exp2) < 1e-9
    # doc 2 contains the rare token → higher (more surprising) score
    assert out[2].nats_per_token > out[1].nats_per_token


def test_line_dedup_removes_boilerplate(spark):
    from covid19_spark.operators.curation import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nunique one\nFOOTER"),
            (2, "COOKIE BANNER\nunique two\nFOOTER"),
            (3, "COOKIE BANNER\nunique three"),
            (4, "all mine\nonly here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup(docs).collect()}
    assert out[1].text == "unique one" and out[1].n_lines_removed == 2
    assert out[2].text == "unique two"
    assert out[3].text == "unique three" and out[3].n_lines == 2
    assert out[4].text == "all mine\nonly here" and out[4].n_lines_removed == 0


def test_line_dedup_preserves_order_and_handles_fully_removed(spark):
    from covid19_spark.operators.curation import line_dedup

    docs = spark.createDataFrame(
        [(1, "B\na\nB\nz\nB"), (2, "B\nq"), (3, "B\nB")],
        "doc_id long, text string",
    ).repartition(8)
    out = {r.doc_id: r for r in line_dedup(docs).collect()}
    # only 'B' crosses the 2-doc threshold; duplicates within one doc keep order
    assert out[1].text == "a\nz"
    assert out[2].text == "q"
    assert out[3].text == "" and out[3].n_lines_removed == 2


def test_linear_classifier_score_hand_case(spark):
    from covid19_spark.operators.curation import linear_classifier_columns
    import hashlib

    df = spark.createDataFrame([(1, "alpha beta"), (2, ""), (3, "alpha")], "id long, text string")
    cols = linear_classifier_columns(F.col("text"))
    out = {r["id"]: r for r in df.select("id", *[v.alias(k) for k, v in cols.items()]).collect()}

    def w(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 2001 - 1000

    expected = w("alpha") + w("beta")
    assert out[1]["weight_sum"] == expected and out[1]["n_tokens"] == 2
    assert out[1]["score"] == expected / 2000.0
    assert out[2]["weight_sum"] == 0 and out[2]["score"] is None and out[2]["label"] == "drop"
    assert out[3]["weight_sum"] == w("alpha")
    assert out[3]["label"] == ("keep" if w("alpha") > 0 else "drop")


def test_linear_classifier_is_map_only(spark):
    from covid19_spark.operators.curation import linear_classifier_columns

    df = spark.createDataFrame([(1, "a b c")], "id long, text string")
    cols = linear_classifier_columns(F.col("text"))
    plan = (
        df.select("id", *[v.alias(k) for k, v in cols.items()])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure per-row pass: no shuffle at any scale


def test_bigram_backoff_score_hand_case(spark):
    """Stupid Backoff semantics on a hand corpus: seen bigrams score
    c12/c(w1), unseen-bigram-with-known-words backs off to alpha*tf/T,
    OOV words drop, and sub-2-token docs emit no row."""
    import math

    from covid19_spark.operators.curation import bigram_backoff_score

    model = spark.createDataFrame(
        [(0, "the cat sat"), (2, "the cat ran")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [
            (0, "the cat sat"),      # all bigrams seen
            (1, "cat the"),          # unseen bigram, both words known -> backoff
            (2, "zork the"),         # w1 OOV, w2 known -> backoff on w2
            (3, "the zork"),         # w2 OOV -> dropped entirely
            (4, "single"),           # < 2 tokens -> no row
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r
        for r in bigram_backoff_score(docs, model_docs=model).collect()
    }
    assert set(got) == {0, 1, 2}  # doc 3 all-dropped, doc 4 too short
    # model: T=6, tf(the)=2 tf(cat)=2 tf(sat)=1, c(the cat)=2 c(cat sat)=1
    q6 = lambda x: round(x, 6)  # the DECIMAL(38,6) per-pair contract
    assert got[0].n_bigrams == 2
    assert got[0].neg_logprob_sum == pytest.approx(
        q6(-math.log(2 / 2)) + q6(-math.log(1 / 2)), abs=1e-9
    )
    assert got[1].n_bigrams == 1
    assert got[1].neg_logprob_sum == pytest.approx(
        q6(-math.log(0.4 * 2 / 6)), abs=1e-9
    )
    assert got[2].n_bigrams == 1
    assert got[2].neg_logprob_sum == pytest.approx(
        q6(-math.log(0.4 * 2 / 6)), abs=1e-9
    )
    # self-scoring: backoff never fires, every bigram seen
    self_scored = bigram_backoff_score(model).collect()
    assert all(r.n_bigrams == 2 for r in self_scored)


def test_bigram_backoff_self_scoring_properties(spark):
    """Self-scored corpus invariants: every doc with >= 2 tokens emits a
    row with n_bigrams = n_tokens - 1 (no OOV possible against itself),
    and every score is strictly positive (seen: c12 <= c(w1); backoff:
    alpha * tf/T < 1)."""
    from covid19_spark.operators.curation import bigram_backoff_score

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(100)
        .cache()
    )
    n_tok = {
        r.doc_id: r.n
        for r in docs.selectExpr(
            "doc_id", "size(filter(split(lower(text), ' '), t -> t != '')) AS n"
        ).collect()
    }
    got = {r.doc_id: r for r in bigram_backoff_score(docs).collect()}
    expected_ids = {d for d, n in n_tok.items() if n >= 2}
    assert set(got) == expected_ids
    for d in expected_ids:
        assert got[d].n_bigrams == n_tok[d] - 1, d
        assert got[d].neg_logprob_sum >= 0
        assert got[d].nats_per_bigram >= 0
    docs.unpersist()


def test_token_budget_mix_invariants(spark):
    """Largest-remainder apportionment: allocations sum EXACTLY to the
    budget (floor(total/2)), every quota <= avail, shortfall only where
    capped."""
    from covid19_spark.plans.registry import QUERY_REGISTRY

    rows = QUERY_REGISTRY["token_budget_mix"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "no sources"
    total = sum(r.avail_tokens for r in rows)
    assert sum(r.alloc_tokens for r in rows) == total // 2
    for r in rows:
        assert 0 <= r.quota_tokens <= r.avail_tokens
        assert r.shortfall == max(r.alloc_tokens - r.avail_tokens, 0)
        assert r.quota_tokens == min(r.alloc_tokens, r.avail_tokens)


def test_weighted_sample_matches_python_replay_and_biases_heavy(spark):
    """E-S weighted sample: (1) the Spark top-k per stratum equals a pure-
    Python replay of the same md5 uniforms + ln(u)/w ranking (exactness);
    (2) heavier rows are sampled more often (the semantics)."""
    import hashlib
    import math

    from covid19_spark.operators.curation import weighted_sample

    rows = [(i, "s", 10.0 if i % 10 == 0 else 1.0) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, st string, w double")
    got = sorted(
        r["id"] for r in weighted_sample(df, ["st"], "id", "w").collect()
    )

    def u01(i):
        v = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        return (v + 0.5) / 4294967296.0

    keyed = sorted(
        ((math.log(u01(i)) / w, -i), i) for i, _, w in rows
    )[::-1]
    want = sorted(i for _, i in keyed[:20])
    assert got == want
    # 20 of 400 drawn; the 40 weight-10 rows should be over-represented
    heavy = sum(1 for i in got if i % 10 == 0)
    # observed 12; a uniform draw of 20 from 400 would include ~2 of the
    # heavy rows
    assert heavy >= 8, heavy


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from covid19_spark.operators.curation import weighted_sample

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 0.0), (3, "a", -1.0), (4, "a", 1.0)],
        "id long, st string, w double",
    )
    ids = {r["id"] for r in weighted_sample(df, ["st"], "id", "w").collect()}
    assert ids == {1, 4}
