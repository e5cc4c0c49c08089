"""Bloom membership gate: the zero-false-negative contract, the bounded
false-positive rate, bitmap compactness, and determinism across
partitionings."""

from pyspark.sql import functions as F

from covid19_spark.operators.bloom import K, M_BITS, bloom_build, bloom_might_contain


def _keys(spark, lo, hi, parts=4):
    return spark.range(lo, hi).repartition(parts).select(
        F.concat(F.lit("doc:"), F.col("id").cast("string")).alias("key")
    )


def test_no_false_negatives(spark):
    indexed = _keys(spark, 0, 2000)
    bloom = bloom_build(indexed, "key")
    flagged = bloom_might_contain(indexed, bloom, "key")
    assert flagged.filter(~F.col("might_contain")).count() == 0


def test_false_positive_rate_within_bound(spark):
    import math

    # ~10 bits per key, the design point: a ~0.8 % rate is measurable on
    # 10k outsiders
    n, m, k = 26_000, M_BITS, K
    bloom = bloom_build(_keys(spark, 0, n), "key")
    outsiders = _keys(spark, 100_000, 110_000)
    fp = bloom_might_contain(outsiders, bloom, "key").filter(
        F.col("might_contain")
    ).count()
    theory = (1 - math.exp(-k * n / m)) ** k
    # 3x headroom over the Bloom 1970 estimate (hash family is not the
    # idealized independent-uniform one)
    assert fp / 10_000 <= 3 * max(theory, 1e-4), (fp, theory)


def test_bitmap_is_contract_bounded(spark):
    # 350k probe bits fold into at most M_BITS/64 = 4096 words
    bloom = bloom_build(_keys(spark, 0, 50_000), "key")
    assert bloom.count() <= M_BITS // 64  # words only, regardless of corpus size


def test_deterministic_across_partitionings(spark):
    a = bloom_build(_keys(spark, 0, 500, parts=1), "key")
    b = bloom_build(_keys(spark, 0, 500, parts=13), "key")
    ra = {r.word: r.bits for r in a.collect()}
    rb = {r.word: r.bits for r in b.collect()}
    assert ra == rb


def test_probe_misses_empty_words(spark):
    """A candidate probing a word absent from the bitmap frame must read
    as bit-not-set (left join null path), not null-poison the AND."""
    bloom = bloom_build(_keys(spark, 0, 4), "key")
    out = bloom_might_contain(_keys(spark, 1_000_000, 1_000_050), bloom, "key")
    rows = out.collect()
    assert len(rows) == 50
    assert all(r.might_contain is False for r in rows)  # sparse bitmap, no FPs here



def test_probe_handles_awkward_column_names(spark):
    """A key column whose name needs backticks in SQL (space, hyphen)
    binds correctly in the probe and gives the same verdicts as a plainly
    named column."""
    bloom = bloom_build(_keys(spark, 0, 500), "key")
    cands = _keys(spark, 0, 1000).withColumnRenamed("key", "doc key-1")
    got = {
        r["doc key-1"]: r.might_contain
        for r in bloom_might_contain(cands, bloom, "doc key-1").collect()
    }
    ref = {
        r.key: r.might_contain
        for r in bloom_might_contain(_keys(spark, 0, 1000), bloom, "key").collect()
    }
    assert got == ref
    assert all(got[f"doc:{i}"] for i in range(500))
