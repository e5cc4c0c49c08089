"""Dedup family: exact, MinHash-LSH recall vs exact Jaccard, SimHash."""

from pyspark.sql import functions as F

from covid19_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    lsh_candidate_pair_ids,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_candidate_pairs,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again", "en"),
    (1, "the quick brown fox jumps over the lazy dog again and again", "en"),  # exact dup of 0
    (2, "quick brown fox jumps over the lazy dog again and again today", "en"),  # near dup
    (3, "completely different words describing machine learning pipelines at scale", "en"),
    (4, "der schnelle braune fuchs springt ueber den faulen hund schon wieder", "de"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text", "lang"])


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark), "text", "doc_id").collect()
    by_canon = {r.canonical_id: r.n_dupes for r in out}
    assert by_canon[0] == 2  # docs 0,1 identical
    assert len(out) == 4


def test_ngram_jaccard_finds_near_dups(spark):
    pairs = ngram_jaccard_pairs(
        _docs(spark), "doc_id", "text", block_cols=["lang"], threshold=0.3
    ).collect()
    found = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    assert found[(0, 1)] == 1.0
    assert (0, 2) in found and found[(0, 2)] > 0.5
    assert all(a != 3 and b != 3 for a, b in found)


def test_minhash_lsh_recall(spark):
    docs = _docs(spark)
    sigs = minhash_signatures(docs, "doc_id", "text")
    cands = lsh_candidate_pairs(sigs, "doc_id").collect()
    got = {(r.doc_a, r.doc_b): r.est_jaccard for r in cands}
    # identical docs must collide in every band with est 1.0
    assert got[(0, 1)] == 1.0
    # near-dup pair should be a candidate (high jaccard → some band agrees)
    assert (0, 2) in got
    # unrelated docs must not estimate high similarity
    for (a, b), est in got.items():
        if 3 in (a, b):
            assert est < 0.5


def test_simhash_near_dups(spark):
    docs = _docs(spark)
    sigs = simhash(docs, "doc_id", "text")
    rows = {r.doc_id: r.simhash for r in sigs.collect()}
    assert rows[0] == rows[1]  # identical text → identical signature

    def ham(a, b):
        return bin((rows[a] ^ rows[b]) & (2**64 - 1)).count("1")

    # similar docs land closer in Hamming space than dissimilar ones
    assert ham(0, 2) < ham(0, 3)
    # identical pair must surface as a candidate with distance 0
    pairs = simhash_candidate_pairs(sigs, "doc_id", max_hamming=16).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert got[(0, 1)] == 0


def test_minhash_est_tracks_exact_jaccard(spark):
    """MinHash estimate within ~0.25 of exact Jaccard for candidate pairs."""
    docs = _docs(spark)
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", ["lang"], threshold=0.0
        ).collect()
    }
    sigs = minhash_signatures(docs, "doc_id", "text")
    for r in lsh_candidate_pairs(sigs, "doc_id").collect():
        if (r.doc_a, r.doc_b) in exact:
            assert abs(r.est_jaccard - exact[(r.doc_a, r.doc_b)]) < 0.3


def test_lsh_bucket_cap_drops_degenerate_buckets(spark):
    """A giant cluster of identical docs must not go quadratic: with
    max_bucket below the cluster size its pairs are dropped, while the
    normal near-dup pair still surfaces."""
    rows = [(i, "same boilerplate text repeated again and again forever", "en") for i in range(20)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog today", "en"),
        (101, "the quick brown fox jumps over the lazy dog tonight", "en"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    sigs = minhash_signatures(df, "doc_id", "text").cache()
    capped = lsh_candidate_pair_ids(sigs, "doc_id", max_bucket=10).collect()
    uncapped = lsh_candidate_pair_ids(sigs, "doc_id", max_bucket=None).collect()
    capped_pairs = {(r.doc_a, r.doc_b) for r in capped}
    uncapped_pairs = {(r.doc_a, r.doc_b) for r in uncapped}
    # degenerate 20-doc cluster: 190 pairs uncapped, none capped
    assert sum(1 for a, b in uncapped_pairs if a < 100) == 190
    assert all(a >= 100 for a, b in capped_pairs)
    # the genuine near-dup pair survives the cap
    assert (100, 101) in capped_pairs
    sigs.unpersist()


def test_hamming_probe_bucket_cap_drops_degenerate_buckets(spark):
    """The banded Hamming probe shared by SimHash/dHash/audio/video must not
    go quadratic on degenerate media (black frames, silence — identical
    hashes): with max_bucket below the cluster size the identical-hash
    cluster's pairs drop, while a genuine near-dup pair (distinct hashes,
    shared sub-band) survives."""
    rows = [(i, 0x1234_5678_9ABC_0000) for i in range(20)]  # degenerate cluster
    rows += [(100, 0x7FFF_0000_0000_0001), (101, 0x7FFF_0000_0000_0003)]  # hamming 2
    sigs = spark.createDataFrame(rows, ["doc_id", "simhash"]).cache()
    capped = {
        (r.doc_a, r.doc_b)
        for r in simhash_candidate_pairs(
            sigs, "doc_id", max_hamming=3, max_bucket=10
        ).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in simhash_candidate_pairs(
            sigs, "doc_id", max_hamming=3, max_bucket=None
        ).collect()
    }
    assert sum(1 for a, b in uncapped if a < 100) == 190  # 20-doc cluster, all pairs
    assert all(a >= 100 for a, b in capped)
    assert (100, 101) in capped
    sigs.unpersist()


def test_video_near_dup_bucket_cap(spark):
    """Constant frames at the same rank across the corpus form one giant
    (rank, band, key) bucket; the cap drops them while an aligned genuine
    near-dup pair survives."""
    from covid19_spark.operators.multimodal import video_near_dup_pairs

    rows = [(i, r, 0x0F0F_0F0F_0F0F_0F0F) for i in range(15) for r in range(3)]
    rows += [(100, r, 0x7FFF_0000_0000_0001) for r in range(3)]
    rows += [(101, r, 0x7FFF_0000_0000_0003) for r in range(3)]
    fh = spark.createDataFrame(rows, ["media_id", "frame_rank", "dhash"]).cache()
    capped = {
        (r.doc_a, r.doc_b)
        for r in video_near_dup_pairs(
            fh, max_bucket=10
        ).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in video_near_dup_pairs(
            fh, max_bucket=None
        ).collect()
    }
    assert sum(1 for a, b in uncapped if a < 100) == 105  # C(15,2) constant videos
    assert capped == {(100, 101)}
    fh.unpersist()


def test_bucket_cap_reports_dropped_buckets(spark):
    """VERDICT r06 task #3: the oversized-bucket guard must be observable.
    Planting one degenerate identical-hash cluster, the probe must BOTH drop
    its pairs AND surface the dropped (band, key) buckets with their sizes
    via ``dropped_report`` — all four 16-bit sub-bands of the planted hash,
    each of cluster size (the report is read from the guard the probe runs,
    ``drop_oversized_buckets`` over the Hamming sub-band keys)."""
    from covid19_spark.operators.dedup import (
        drop_oversized_buckets,
        hamming_band_keys,
    )

    rows = [(i, 0x1234_5678_9ABC_0000) for i in range(20)]
    rows += [(100, 0x7FFF_0000_0000_0001), (101, 0x7FFF_0000_0000_0003)]
    sigs = spark.createDataFrame(rows, ["doc_id", "simhash"]).cache()
    pairs = {
        (r.doc_a, r.doc_b)
        for r in simhash_candidate_pairs(
            sigs, "doc_id", max_hamming=3, max_bucket=10
        ).collect()
    }
    assert pairs == {(100, 101)}  # cluster dropped, genuine pair survives
    banded = sigs.select(
        "doc_id", F.explode(hamming_band_keys("simhash")).alias("bb")
    ).select("doc_id", "bb.band", "bb.key")
    report = []
    drop_oversized_buckets(banded, ["band", "key"], 10, report)
    assert len(report) == 1
    dropped = report[0].collect()
    assert set(report[0].columns) == {"band", "key", "bucket_size"}
    # the planted hash occupies one oversized bucket per 16-bit sub-band
    assert {(r.band, r.key) for r in dropped} == {
        (0, 0x0000), (1, 0x9ABC), (2, 0x5678), (3, 0x1234)
    }
    assert all(r.bucket_size == 20 for r in dropped)
    sigs.unpersist()


def test_bucket_cap_report_empty_when_guard_disabled(spark):
    """max_bucket=None keeps the API contract: nothing dropped, and the
    report frame is present but empty (same schema) so callers can always
    count it."""
    sigs = spark.createDataFrame(
        [(1, 0x7FFF_0000_0000_0001), (2, 0x7FFF_0000_0000_0003)],
        ["doc_id", "simhash"],
    )
    from covid19_spark.operators.dedup import (
        drop_oversized_buckets,
        hamming_band_keys,
    )

    banded = sigs.select(
        "doc_id", F.explode(hamming_band_keys("simhash")).alias("bb")
    ).select("doc_id", "bb.band", "bb.key")
    report = []
    drop_oversized_buckets(banded, ["band", "key"], None, report)
    assert len(report) == 1
    assert report[0].count() == 0
    assert "bucket_size" in report[0].columns


def test_lsh_candidate_pairs_reports_dropped_buckets(spark):
    """MinHash banded join: a 20-doc identical-text cluster fills all 8 band
    buckets past the cap; every dropped bucket surfaces with its size."""
    rows = [(i, "same boilerplate text repeated again and again forever", "en") for i in range(20)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog today", "en"),
        (101, "the quick brown fox jumps over the lazy dog tonight", "en"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    sigs = minhash_signatures(df, "doc_id", "text").cache()
    report = []
    pairs = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pair_ids(
            sigs, "doc_id", max_bucket=10, dropped_report=report
        ).collect()
    }
    assert (100, 101) in pairs and all(a >= 100 for a, _ in pairs)
    dropped = report[0].collect()
    assert set(report[0].columns) == {"band", "bucket", "bucket_size"}
    assert len(dropped) == 8  # identical docs: one oversized bucket per band
    assert all(r.bucket_size == 20 for r in dropped)
    sigs.unpersist()


def test_ngram_jaccard_refuses_empty_blocks(spark):
    import pytest

    with pytest.raises(ValueError, match="block_cols"):
        ngram_jaccard_pairs(_docs(spark), "doc_id", "text", block_cols=[])


def test_ngram_jaccard_caps_oversized_blocks(spark):
    # One degenerate block of 30 docs (would be 435 pairs) is dropped by the
    # cap; the small block still produces its pairs.
    rows = [(i, "the quick brown fox jumps over the lazy dog", "big") for i in range(30)]
    rows += [(100, "alpha beta gamma delta epsilon", "small"),
             (101, "alpha beta gamma delta zeta", "small")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = ngram_jaccard_pairs(
        df, "doc_id", "text", block_cols=["lang"], threshold=0.0, max_block=10
    ).collect()
    langs = {r.lang for r in out}
    assert langs == {"small"}, out
    assert len(out) == 1
    # cap disabled -> the quadratic block comes back
    full = ngram_jaccard_pairs(
        df, "doc_id", "text", block_cols=["lang"], threshold=0.0, max_block=None
    ).count()
    assert full == 435 + 1


def _assert_matches_fixture(spark, query_name, sort_cols):
    """Self-oracle: exact value comparison against the checked-in parquet
    (regenerate via tools/make_fixtures.py after intentional changes)."""
    import os

    import pandas as pd

    from covid19_spark.plans.registry import QUERY_REGISTRY

    fixture = os.path.join(
        os.path.dirname(__file__), "fixtures", f"{query_name}_sf0.01.parquet"
    )
    expected = pd.read_parquet(fixture).sort_values(sort_cols, ignore_index=True)
    got = (
        QUERY_REGISTRY[query_name]
        .fn(spark, "/root/testdata/sf0.01")
        .toPandas()
        .sort_values(sort_cols, ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, expected, check_exact=True)


def test_minhash_lsh_matches_fixture(spark):
    _assert_matches_fixture(spark, "minhash_lsh", ["doc_a", "doc_b"])


def test_simhash_pairs_matches_fixture(spark):
    _assert_matches_fixture(spark, "simhash_pairs", ["doc_a", "doc_b"])


def test_ann_cosine_topk_matches_fixture(spark):
    _assert_matches_fixture(spark, "ann_cosine_topk", ["query_id", "rank"])


def test_ivf_cosine_topk_matches_fixture(spark):
    _assert_matches_fixture(spark, "ivf_cosine_topk", ["query_id", "rank"])


def test_multimodal_features_matches_fixture(spark):
    _assert_matches_fixture(spark, "multimodal_features", ["media_id"])


def test_blocked_edit_distance_pairs(spark):
    from covid19_spark.operators.dedup import blocked_edit_distance_pairs

    df = spark.createDataFrame(
        [
            (1, "b1", "kitten"),
            (2, "b1", "sitten"),   # 1 edit from kitten
            (3, "b1", "sittings"), # 3+ edits from kitten/sitten
            (4, "b2", "kitten"),   # right name, different block → excluded
        ],
        "id long, blk string, name string",
    )
    out = blocked_edit_distance_pairs(df, "id", "name", ["blk"]).collect()
    assert [(r.id_a, r.id_b, r.edit_distance) for r in out] == [(1, 2, 1)]


def test_blocked_edit_distance_refuses_empty_blocks(spark):
    import pytest as _pytest

    from covid19_spark.operators.dedup import blocked_edit_distance_pairs

    df = spark.createDataFrame([(1, "x")], "id long, name string")
    with _pytest.raises(ValueError, match="non-empty block_cols"):
        blocked_edit_distance_pairs(df, "id", "name", [])


def test_blocked_edit_distance_drops_oversized_blocks(spark):
    from covid19_spark.operators.dedup import blocked_edit_distance_pairs

    rows = [(i, "big", f"name{i:03d}") for i in range(50)] + [
        (100, "small", "alpha"),
        (101, "small", "alphb"),
    ]
    df = spark.createDataFrame(rows, "id long, blk string, name string")
    out = blocked_edit_distance_pairs(
        df, "id", "name", ["blk"], max_block=10
    ).collect()
    # the 50-row block is dropped by the cap; only the small block pairs
    assert [(r.id_a, r.id_b) for r in out] == [(100, 101)]


def test_semantic_dedup_matches_fixture(spark):
    _assert_matches_fixture(spark, "semantic_dedup", ["vec_id"])


def test_semantic_dedup_paper_policy_matches_fixture(spark):
    _assert_matches_fixture(spark, "semantic_dedup_paper_policy", ["vec_id"])


def test_semantic_dedup_policies_agree_on_structure(spark):
    """Both keep policies see the SAME clusters — they may pick different
    keepers, but the kept-count and the duplicate-group membership match
    (paper policy is a per-cluster argmin swap, not a different dedup)."""
    from covid19_spark.plans.registry import QUERY_REGISTRY

    sf = "/root/testdata/sf0.01"
    a = QUERY_REGISTRY["semantic_dedup"].fn(spark, sf).toPandas()
    b = QUERY_REGISTRY["semantic_dedup_paper_policy"].fn(spark, sf).toPandas()
    assert a["is_canonical"].sum() == b["is_canonical"].sum()
    ga = a.groupby("cluster_id")["vec_id"].apply(sorted).to_dict()
    gb = b.groupby("cluster_id")["vec_id"].apply(sorted).to_dict()
    assert ga == gb  # identical duplicate-group membership


def test_lsh_dedup_pipeline_matches_exact_all_pairs(spark):
    """End-to-end discovery→verify→cluster equals exact all-pairs clustering
    on the real documents table (sf0.001): LSH recall is 1 for the j≥0.9
    near-dups the corpus contains, and verification is the same exact Jaccard
    — so the pipeline must reproduce the brute-force result exactly."""
    from covid19_spark.operators.dedup import dedup_clusters, lsh_dedup_pipeline
    from covid19_spark.operators.text import word_shingles
    from covid19_spark.sources.tables import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    got = {
        r.doc_id: (r.cluster_id, r.cluster_size, r.is_canonical)
        for r in lsh_dedup_pipeline(docs, "doc_id", "text").collect()
    }

    # brute-force truth: all-pairs exact Jaccard >= 0.5 -> components
    sh = docs.select("doc_id", word_shingles(F.col("text"), 3).alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size(F.array_union("sa", "sb"))
    pairs = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", (inter / union).alias("j"), union.alias("u"))
        .filter((F.col("u") > 0) & (F.col("j") >= 0.5))
    )
    truth_clusters = dedup_clusters(pairs.select("doc_a", "doc_b"))
    truth = {
        r.doc_id: (r.cluster_id, r.cluster_size, r.is_canonical)
        for r in truth_clusters.collect()
    }
    n_docs = docs.count()
    assert len(got) == n_docs
    clustered = {k: v for k, v in got.items() if v[1] > 1}
    assert clustered, "corpus should contain at least one near-dup cluster"
    for doc_id, vals in truth.items():
        assert got[doc_id] == vals
    # non-clustered docs are singletons pointing at themselves
    for doc_id, (cid, size, canon) in got.items():
        if doc_id not in truth:
            assert (cid, size, canon) == (doc_id, 1, 1)


def test_dedup_clusters_survives_giant_cluster_without_forced_broadcast(spark):
    """The per-cluster size frame is O(#clusters) and must NOT carry a forced
    broadcast hint (a pathological everything-is-a-dup corpus would exceed
    broadcast limits); AQE decides at runtime. Correctness pinned on a graph
    with one giant cluster plus scattered small ones."""
    from covid19_spark.operators.dedup import dedup_clusters

    # dedup-shaped graph: LSH+verify emits near-cliques, so the giant cluster
    # is a star around its min node (a 500-hop chain is NOT a dedup shape —
    # that regime is documented as needing large-star/small-star instead)
    edges = [(0, i) for i in range(1, 501)] + [(1000 + 2 * i, 1001 + 2 * i) for i in range(50)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    out = dedup_clusters(pairs).collect()
    by_doc = {r.doc_id: r for r in out}
    assert by_doc[500].cluster_id == 0 and by_doc[500].cluster_size == 501
    assert by_doc[1001].cluster_id == 1000 and by_doc[1001].cluster_size == 2
    assert sum(1 for r in out if r.is_canonical) == 1 + 50
    # plan-level: no user-forced ResolvedHint survives to the optimized plan
    plan = dedup_clusters(pairs)._jdf.queryExecution().optimizedPlan().toString()
    assert "UnresolvedHint" not in plan and "ResolvedHint" not in plan


def test_png_image_features_matches_fixture(spark):
    _assert_matches_fixture(spark, "png_image_features", ["media_id"])


def test_gif_image_features_matches_fixture(spark):
    _assert_matches_fixture(spark, "gif_image_features", ["media_id"])


def test_tiff_image_features_matches_fixture(spark):
    _assert_matches_fixture(spark, "tiff_image_features", ["media_id"])


def test_image_codec_matrix_all_formats_agree(spark):
    """Six independent lossless image codecs (BMP/PNG8/PNG16/GIF/TIFF/
    lossless-JPEG 8+16 bit) must produce agreeing features on every doc —
    including the 16-bit variants, which also pin the sample-peak
    normalization contract."""
    from covid19_spark.plans.registry import QUERY_REGISTRY
    from tests.conftest import SF_DIR

    rows = QUERY_REGISTRY["image_codec_matrix"].fn(spark, SF_DIR).collect()
    assert len(rows) == 7
    assert all(r.n_docs == 120 and r.n_match == 120 for r in rows), rows


def test_wav_depth_matrix_all_depths_agree(spark):
    """Every PCM container depth (i16/i24/i32/f32/f64) of the same int16
    signal decodes bit-identically, so the features agree exactly."""
    from covid19_spark.plans.registry import QUERY_REGISTRY
    from tests.conftest import SF_DIR

    rows = QUERY_REGISTRY["wav_depth_matrix"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5
    assert all(r.n_docs == 120 and r.n_match == 120 for r in rows), rows


def test_tiff_codec_matrix_all_variants_agree(spark):
    """Every lossless TIFF organization decodes the same pixels: the 13-way
    cross-validation query (8 RGB organizations + the CCITT fax group incl.
    T.4 uncompressed mode) must report full agreement on every doc (the
    DuckDB oracle pins the same contract at the driver)."""
    from covid19_spark.plans.registry import QUERY_REGISTRY
    from tests.conftest import SF_DIR

    rows = QUERY_REGISTRY["tiff_codec_matrix"].fn(spark, SF_DIR).collect()
    assert len(rows) == 13  # 8 RGB organizations + 5-way CCITT bilevel group
    assert all(r.n_docs == 120 and r.n_match == 120 for r in rows), rows


def test_permissive_decode_stats_matches_fixture(spark):
    _assert_matches_fixture(spark, "permissive_decode_stats", ["mime", "outcome"])


def test_bmp_image_features_matches_fixture(spark):
    _assert_matches_fixture(spark, "bmp_image_features", ["media_id"])


def test_incremental_dedup_against_corpus(spark):
    """Batch screening against a corpus: exact dup flagged, near-dup matched
    to the smallest corpus id, subset doc surfaces high containment, unique
    doc keeps. Corpus↔corpus dups must NOT affect the batch verdicts."""
    from covid19_spark.operators.dedup import incremental_dedup_against_corpus

    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again and again"),
            (1, "the quick brown fox jumps over the lazy dog again and again"),  # corpus-internal dup
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 0/1
            (11, "the quick brown fox jumps over the lazy dog again and again today"),  # near dup
            (12, "machine learning pipelines at petabyte scale need partitioning"),  # unique
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in incremental_dedup_against_corpus(
            corpus, batch, "doc_id", "text"
        ).collect()
    }
    assert out[10].is_exact_dup == 1 and out[10].near_dup_of == 0 and out[10].keep == 0
    assert out[10].best_jaccard == 1.0 and out[10].best_containment == 1.0
    assert out[11].is_exact_dup == 0 and out[11].near_dup_of == 0 and out[11].keep == 0
    assert 0.5 <= out[11].best_jaccard < 1.0
    # the batch doc's shingles are a strict superset -> containment of the
    # batch doc in the corpus doc is below 1 but above jaccard
    assert out[11].best_containment >= out[11].best_jaccard
    assert out[12].is_exact_dup == 0 and out[12].near_dup_of == -1 and out[12].keep == 1
    assert out[12].best_jaccard == 0.0


def test_pq_cosine_topk_matches_fixture(spark):
    _assert_matches_fixture(spark, "pq_cosine_topk", ["query_id", "rank"])


def test_ivfpq_cosine_topk_matches_fixture(spark):
    _assert_matches_fixture(spark, "ivfpq_cosine_topk", ["query_id", "rank"])


def test_approx_aggregates_matches_fixture(spark):
    # sketches (HLL++, t-digest-ish percentile) are deterministic for fixed
    # input — merge order does not change the result (verified across
    # parallelism levels), so exact value pinning is sound
    _assert_matches_fixture(spark, "approx_aggregates", ["event_type"])


def test_wav_audio_features_matches_fixture(spark):
    _assert_matches_fixture(spark, "wav_audio_features", ["media_id"])


def test_video_frame_features_matches_fixture(spark):
    _assert_matches_fixture(spark, "video_frame_features", ["media_id", "frame_ts_ms"])


def test_bpe_merges_matches_fixture(spark):
    _assert_matches_fixture(spark, "bpe_merges", ["rank"])


def test_bpe_tokenize_matches_fixture(spark):
    _assert_matches_fixture(spark, "bpe_tokenize", ["doc_id"])


def test_incremental_materialize_equals_lazy(spark):
    """The incremental screen's eager evaluation (localCheckpoint + cache
    release) changes only cache lifecycle, never the verdicts of the lazy
    screen it checkpoints."""
    from covid19_spark.operators.dedup import (
        _incremental_screen_with_handle,
        incremental_dedup_against_corpus,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 40)
    batch = docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 80))
    screen, caches = _incremental_screen_with_handle(
        corpus, batch, "doc_id", "text"
    )
    lazy = sorted(tuple(r) for r in screen.collect())
    for c in caches:
        c.unpersist()
    eager = sorted(
        tuple(r)
        for r in incremental_dedup_against_corpus(
            corpus, batch, "doc_id", "text"
        ).collect()
    )
    assert lazy == eager


def test_image_near_dup_matches_fixture(spark):
    _assert_matches_fixture(spark, "image_near_dup", ["doc_a", "doc_b"])


def test_audio_near_dup_matches_fixture(spark):
    _assert_matches_fixture(spark, "audio_near_dup", ["doc_a", "doc_b"])


def test_video_near_dup_matches_fixture(spark):
    _assert_matches_fixture(spark, "video_near_dup", ["doc_a", "doc_b"])


def test_lsh_guard_report_query_surfaces_planted_cluster(spark):
    """The registered guard-audit query: the planted boilerplate cluster
    (|docs|/10 identical texts) must surface as ONE oversized bucket per
    band — size = cluster size, all 8 bands — while the corpus' genuine
    near-dup pairs survive the cap."""
    from covid19_spark.plans.registry import QUERY_REGISTRY

    rows = QUERY_REGISTRY["lsh_guard_report"].fn(spark, "/root/testdata/sf0.01").collect()
    assert [r.band for r in rows] == list(range(8))
    assert all(r.bucket_size == 50 for r in rows)  # 500 docs / 10
    assert all(r.kept_pairs > 0 for r in rows)


def test_prefix_filter_join_complete_vs_bruteforce(spark):
    """PPJoin completeness: the prefix-filtered result must equal brute-force
    all-pairs word-3-gram Jaccard exactly (pairs AND values) — the
    operator's whole contract is exactness."""
    from covid19_spark.operators.dedup import prefix_filter_join
    from covid19_spark.operators.text import word_shingles

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),      # 3/5 with doc 1
        (3, "one two three four five six"),
        (4, "one two three four five six"),             # identical to 3
        (5, "alpha beta gamma delta epsilon zeta eta"), # superset of 1
        (6, "totally different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.6
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filter_join(df, "doc_id", "text").collect()
    }
    sets = {
        r.doc_id: set(r.s)
        for r in df.select("doc_id", word_shingles(F.col("text"), 3).alias("s")).collect()
    }
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= t:
                want[(a, b)] = j
    assert got == want and (3, 4) in got and (1, 2) in got


def test_prefix_filter_join_prunes_candidates(spark):
    """The point of the prefix: the candidate join must touch far fewer
    pairs than all-pairs — rare-first ordering keeps frequent tokens out
    of the join key entirely."""
    from covid19_spark.operators.dedup import prefix_filter_join

    # 40 docs sharing a universal stopword head + distinct rare tails:
    # a naive 3-gram join would bucket all 40 on 'the of and'
    rows = [
        (i, "the of and " + " ".join(f"w{i}_{j}" for j in range(8)))
        for i in range(40)
    ] + [(100, "the of and " + " ".join(f"w7_{j}" for j in range(8)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = prefix_filter_join(df, "doc_id", "text").collect()
    assert {(r.doc_a, r.doc_b) for r in out} == {(7, 100)}


def test_prefix_filter_join_shingle_mode_matches_word_shingles(spark):
    from covid19_spark.operators.dedup import prefix_filter_join

    rows = [
        (1, "a b c d e f g h"),
        (2, "x y a b c d e f g h"),   # shares the long run -> high shingle overlap
        (3, "h g f e d c b a"),       # same WORDS, reversed: shingles disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.doc_a, r.doc_b)
        for r in prefix_filter_join(df, "doc_id", "text").collect()
    }
    assert (1, 2) in out and (1, 3) not in out


def test_containment_asymmetry_and_exactness(spark):
    """An excerpt wholly inside a longer doc: containment(excerpt→doc)=1.0
    while resemblance stays low; the reverse direction reports the true
    fraction; blocking is honored."""
    from covid19_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    long = "a b c d e f g h i j k l"
    excerpt = "a b c d"          # bigrams: ab bc cd — all inside long
    df = spark.createDataFrame(
        [(1, "en", long), (2, "en", excerpt), (3, "fr", excerpt)],
        "doc_id long, lang string, text string",
    )
    rows = containment_pairs(df, "doc_id", "text", ["lang"]).collect()
    assert len(rows) == 1  # the fr copy is in another block
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.containment_b_in_a == 1.0          # excerpt fully contained
    assert r.containment_a_in_b == 3 / 11       # 3 shared of long's 11 bigrams
    jac = ngram_jaccard_pairs(
        df, "doc_id", "text", ["lang"], threshold=0.0
    ).collect()[0]
    assert jac.jaccard == 3 / 11                # resemblance diluted by the union
    import pytest

    with pytest.raises(ValueError):
        containment_pairs(df, "doc_id", "text", [])


def test_adaptive_block_assignment_escalates_and_saturates(spark):
    from covid19_spark.operators.dedup import adaptive_block_assignment

    # block A: 2 rows (fits at level 0); block B: 400 rows (over the
    # 300-row cap at level 0, splits into two 200-row blocks at level 1);
    # block C: 301 rows identical to the finest level -> saturated
    rows = [(1, "A", "A1"), (2, "A", "A2")]
    rows += [(100 + i, "B", f"B{i % 2 + 1}") for i in range(400)]
    rows += [(1000 + i, "C", "C1") for i in range(301)]
    df = spark.createDataFrame(rows, "id long, coarse string, fine string")
    out = {
        r.id: (r.block_level, r.block_key, r.saturated)
        for r in adaptive_block_assignment(df, [F.col("coarse"), F.col("fine")]).collect()
    }
    assert out[1] == (0, "A", False) and out[2] == (0, "A", False)
    assert out[100] == (1, "B1", False) and out[101] == (1, "B2", False)
    # C: coarse block of 301 > 300, fine block of 301 > 300 -> saturated at level 1
    assert out[1000] == (1, "C1", True)
    # bound: every non-saturated assigned block fits the cap
    from collections import Counter

    sizes = Counter((lvl, key) for lvl, key, sat in out.values() if not sat)
    assert max(sizes.values()) <= 300


def test_adaptive_block_assignment_requires_levels(spark):
    import pytest

    from covid19_spark.operators.dedup import adaptive_block_assignment

    df = spark.createDataFrame([(1, "x")], "id long, k string")
    with pytest.raises(ValueError):
        adaptive_block_assignment(df, [])


def test_adaptive_block_assignment_null_keys_not_dropped(spark):
    """ADVICE r10: a NULL key at any level must not vanish through the
    inner size-join — null-keyed rows block together under the sentinel
    and stay subject to the 300-row escalation/saturation rules."""
    from covid19_spark.operators.dedup import adaptive_block_assignment

    rows = [(1, "A", "A1"), (2, "A", "A2")]
    rows += [(3 + i, None, "N1") for i in range(300)]
    rows += [(1000, None, None)]
    df = spark.createDataFrame(rows, "id long, coarse string, fine string")
    out = {
        r.id: (r.block_level, r.block_key, r.saturated)
        for r in adaptive_block_assignment(df, [F.col("coarse"), F.col("fine")]).collect()
    }
    assert len(out) == len(rows)  # nothing silently dropped
    assert out[1] == (0, "A", False) and out[2] == (0, "A", False)
    # the 301 null-coarse rows share one oversized level-0 block -> escalate:
    # the 300 "N1" rows fit at level 1; id 1000's fine key is ALSO null ->
    # the level-1 sentinel block of size 1 fits the cap
    assert out[3] == (1, "N1", False) and out[302] == (1, "N1", False)
    lvl, key, sat = out[1000]
    assert lvl == 1 and sat is False and key == "\x00null"
