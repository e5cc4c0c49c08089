"""Similarity search: exact brute-force correctness + ANN recall on clustered
data (where LSH locality exists; random corpora degrade toward scan by
construction — the exact operator is the gold path there)."""

import math

import numpy as np

from covid19_spark.operators.similarity import ann_cosine_topk, cosine_topk


def test_cosine_topk_hand_case(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),   # closest to 0
        (2, [0.0, 1.0]),   # orthogonal
        (3, [-1.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter("vec_id = 0")
    out = cosine_topk(df, q, k=3).orderBy("rank").collect()
    assert [r.neighbor_id for r in out] == [1, 2, 3]
    assert abs(out[0].sim - 0.9 / math.sqrt(0.82)) < 1e-12
    assert out[1].sim == 0.0
    assert out[2].sim == -1.0


def test_cosine_topk_exact_ties_rank_by_neighbor_id(spark):
    """Duplicate corpus vectors give bit-identical sims; the rank breaks
    the tie by neighbor_id ascending, also when k cuts inside the tie set
    and the corpus is spread over several partitions."""
    rows = [
        (0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
        (4, [1.0, 0.0]), (5, [-1.0, 0.0]), (6, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id = 0")
    out = cosine_topk(df.repartition(3), q, k=2).orderBy("rank").collect()
    assert [(r.rank, r.neighbor_id) for r in out] == [(1, 1), (2, 4)]


def _inline_assignment(corpus, n_centroids):
    """The (centroids, assigned) pair ``semantic_dedup`` reads, trained in
    memory (one Lloyd round, lowest-id seeds) instead of through the
    ``ensure_semantic_assignment`` parquet cache."""
    from covid19_spark.operators.similarity import ivf_assign, ivf_train_centroids

    centroids = ivf_train_centroids(corpus, n_centroids).localCheckpoint(eager=False)
    assigned = ivf_assign(corpus, centroids, n_probes=1).localCheckpoint(eager=False)
    return centroids, assigned


def _clustered(spark, n_clusters=8, per_cluster=40, dim=16, noise=0.15):
    rng = np.random.default_rng(123)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for ci in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[ci] + noise * rng.normal(size=dim)
            rows.append((vid, [float(x) for x in v], ci))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_ann_recall_on_clustered_data(spark):
    emb = _clustered(spark, dim=64, noise=0.075)
    queries = emb.filter("vec_id IN (0, 40, 80, 120)")
    exact = cosine_topk(emb, queries, k=10).collect()
    approx = ann_cosine_topk(emb, queries, num_planes=8, num_tables=4).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.8


def test_ann_sims_are_exact_for_returned_pairs(spark):
    """ANN returns true cosine values (only the candidate set is approximate)."""
    emb = _clustered(spark, n_clusters=4, per_cluster=20, dim=64, noise=0.075)
    queries = emb.filter("vec_id IN (0, 20)")
    exact = {
        (r.query_id, r.neighbor_id): r.sim
        for r in cosine_topk(emb, queries, k=80).collect()
    }
    for r in ann_cosine_topk(emb, queries, num_planes=8, num_tables=2).collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert abs(r.sim - exact[key]) < 1e-12


def test_cosine_near_dup_guardrails(spark):
    import pytest

    from covid19_spark.operators.similarity import cosine_near_dup_pairs

    rows = [(i, [1.0, 0.0, 0.0], i % 2) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    with pytest.raises(ValueError, match="block_cols"):
        cosine_near_dup_pairs(df, "vec_id", "embedding", 0.9)
    # full-scan opt-in works on small frames: all 15 pairs are identical vecs
    full = cosine_near_dup_pairs(
        df, "vec_id", "embedding", 0.9, allow_full_scan=True
    ).collect()
    assert len(full) == 15 and all(abs(r.sim - 1.0) < 1e-12 for r in full)
    # blocked: only within-label pairs (3 per label)
    blocked = cosine_near_dup_pairs(
        df, "vec_id", "embedding", 0.9, block_cols=["label"]
    ).collect()
    assert len(blocked) == 6
    # degenerate-block cap drops the oversized label
    capped = cosine_near_dup_pairs(
        df, "vec_id", "embedding", 0.9, block_cols=["label"], max_block=2
    ).count()
    assert capped == 0


def test_ivf_recall_vs_exact(spark):
    from covid19_spark.operators.similarity import cosine_topk, ivf_cosine_topk
    from covid19_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    queries = emb.filter("vec_id < 8")
    exact = cosine_topk(emb, queries, k=10)
    approx = ivf_cosine_topk(emb, queries)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 3/16 probes on loosely clustered synthetic data: recall well above the
    # 3/16 ≈ 0.19 random-scan floor proves the coarse quantizer clusters.
    assert recall >= 0.5, recall
    # determinism: same seeds, same result
    a2 = {(r.query_id, r.neighbor_id)
          for r in ivf_cosine_topk(emb, queries).collect()}
    assert a == a2


def test_ivf_centroids_deterministic_and_refined(spark):
    from covid19_spark.operators.similarity import ivf_assign, ivf_train_centroids
    from covid19_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    c1 = ivf_train_centroids(emb, 8)
    assert c1.count() == 8
    vals1 = sorted((r.centroid_id, tuple(r.cvec)) for r in c1.collect())
    vals2 = sorted(
        (r.centroid_id, tuple(r.cvec))
        for r in ivf_train_centroids(emb, 8).collect()
    )
    assert vals1 == vals2  # fully deterministic, no RNG
    # every corpus vector lands in exactly one list with 1 probe
    assigned = ivf_assign(emb, c1, n_probes=1)
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()


def test_semantic_dedup_hand_clusters(spark):
    """Two tight semantic groups + two isolated vectors: groups collapse to
    min-id clusters, singletons stay canonical, every input labeled once."""
    from covid19_spark.operators.similarity import semantic_dedup

    def vec(axis, nudge=0.0):
        v = [0.0, 0.0, 0.0, 0.0]
        v[axis] = 1.0
        v[(axis + 1) % 4] = nudge
        return v

    # seeds are the two lowest ids: 1 (group A, axis 0) and 2 (group B, axis 1)
    rows = [
        (1, vec(0)), (3, vec(0, 0.02)), (4, vec(0, -0.02)), (5, vec(0, 0.04)),
        (2, vec(1)), (10, vec(1, 0.03)), (11, vec(1, -0.03)),
        (20, vec(2)), (21, vec(3)),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(
        corpus, "vec_id", "embedding",
        assignment=_inline_assignment(corpus, 2),
    )
    got = {r["vec_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
           for r in out.collect()}
    assert len(got) == len(rows)  # every vector labeled exactly once
    assert got[1] == (1, 4, 1)
    assert got[3] == (1, 4, 0) and got[4] == (1, 4, 0) and got[5] == (1, 4, 0)
    assert got[2] == (2, 3, 1)
    assert got[10] == (2, 3, 0) and got[11] == (2, 3, 0)
    assert got[20] == (20, 1, 1) and got[21] == (21, 1, 1)
    # dedup keeps exactly one canonical per cluster
    assert sum(v[2] for v in got.values()) == 4


def test_semantic_dedup_cached_assignment_bit_identical(spark, tmp_path):
    """The shared-clustering seam (VERDICT r12 task #6): semantic_dedup
    over an ensure_semantic_assignment cache is bit-identical to the
    recomputed path for BOTH keep policies (parquet round-trips IEEE
    doubles exactly), the cache is reused on a fingerprint match, and an
    empty fingerprint is refused."""
    import os

    import pytest as _pytest

    from covid19_spark import measure
    from covid19_spark.operators.similarity import (
        ensure_semantic_assignment, semantic_dedup,
    )

    def vec(axis, nudge=0.0):
        v = [0.0, 0.0, 0.0, 0.0]
        v[axis] = 1.0
        v[(axis + 1) % 4] = nudge
        return v

    rows = [
        (1, vec(0)), (3, vec(0, 0.02)), (4, vec(0, -0.02)), (5, vec(0, 0.04)),
        (2, vec(1)), (10, vec(1, 0.03)), (11, vec(1, -0.03)),
        (20, vec(2)), (21, vec(3)),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "semassign")

    with _pytest.raises(ValueError, match="fingerprint"):
        ensure_semantic_assignment(corpus, path, "")

    assignment = ensure_semantic_assignment(corpus, path, "fp1")
    marker = os.path.getmtime(f"{path}/meta")
    # fingerprint matches: no rebuild, and no Spark job
    j0 = measure.next_job_id(spark)
    ensure_semantic_assignment(corpus, path, "fp1")
    assert measure.next_job_id(spark) - j0 == 0
    assert os.path.getmtime(f"{path}/meta") == marker
    for policy in ("min_id", "low_centroid_sim"):
        got = sorted(
            tuple(r) for r in semantic_dedup(
                corpus, "vec_id", "embedding",
                keep_policy=policy, assignment=assignment,
            ).collect()
        )
        want = sorted(
            tuple(r) for r in semantic_dedup(
                corpus, "vec_id", "embedding",
                keep_policy=policy, assignment=_inline_assignment(corpus, 8),
            ).collect()
        )
        assert got == want
    # fingerprint change: rebuild
    ensure_semantic_assignment(corpus, path, "fp2")
    assert os.path.getmtime(f"{path}/meta") > marker


def test_pq_recall_vs_exact_and_determinism(spark):
    from covid19_spark.operators.similarity import cosine_topk, pq_cosine_topk
    from covid19_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    queries = emb.filter("vec_id < 8")
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=10).collect()}
    approx = pq_cosine_topk(emb, queries)
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact & a) / len(exact)
    # 8-byte codes + 50-candidate rerank: recall must beat any shortlist-
    # sized random draw by a wide margin (50/N is ~0.01 here)
    assert recall >= 0.6, recall
    a2 = {
        (r.query_id, r.neighbor_id)
        for r in pq_cosine_topk(emb, queries).collect()
    }
    assert a == a2
    # reported sims are the EXACT cosine of the reranked pairs
    ex_sims = {(r.query_id, r.neighbor_id): r.sim for r in cosine_topk(emb, queries, k=10).collect()}
    for r in approx.collect():
        if (r.query_id, r.neighbor_id) in ex_sims:
            assert abs(r.sim - ex_sims[(r.query_id, r.neighbor_id)]) < 1e-12


def test_pq_codes_contract(spark):
    """Codes are m ints in [0, k); codebooks are m*k vectors of dim/m; the
    whole pipeline is collect-free until the caller materializes."""
    from covid19_spark.operators.similarity import pq_encode, pq_train_codebooks
    from covid19_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    cb = pq_train_codebooks(emb, m=8, k=16)
    rows = cb.collect()
    assert len(rows) == 8 * 16
    assert all(len(r.cvec) == 8 for r in rows)  # 64 dims / 8 subspaces
    codes = pq_encode(emb, cb, 8).collect()
    assert len(codes) == emb.count()
    assert all(len(r.codes) == 8 and all(0 <= c < 16 for c in r.codes) for r in codes)


def test_ivfpq_recall_and_determinism(spark):
    from covid19_spark.operators.similarity import cosine_topk, ivfpq_cosine_topk
    from covid19_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    queries = emb.filter("vec_id < 8")
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=10).collect()}
    approx = ivfpq_cosine_topk(emb, queries)
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    # composed losses (3/16 probes AND 8-byte codes AND 50-shortlist) must
    # still beat the 3/16 ≈ 0.19 probe-only random floor decisively
    recall = len(exact & a) / len(exact)
    assert recall >= 0.5, recall
    a2 = {
        (r.query_id, r.neighbor_id)
        for r in ivfpq_cosine_topk(emb, queries).collect()
    }
    assert a == a2


def test_pq_sample_trained_codebooks(spark):
    """Quantizers can train on a deterministic hash-sample of the corpus
    (the production practice at 1B vectors — fit on a sample, encode
    everything). At sf0.01 a half-sample still gives useful recall and the
    result stays fully deterministic; the sample must remain >> n_codes per
    subspace, which is why the tiny-SF registry queries train on the full
    corpus."""
    from covid19_spark.operators.similarity import (
        cosine_topk,
        pq_cosine_topk,
        quantizer_training_sample,
    )
    from covid19_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    n = emb.count()
    sampled = quantizer_training_sample(emb, "vec_id", 2).count()
    assert 0.3 * n < sampled < 0.7 * n  # ~1/2, deterministic
    queries = emb.filter("vec_id < 8")
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=10).collect()}
    a = {
        (r.query_id, r.neighbor_id)
        for r in pq_cosine_topk(emb, queries, train_sample_mod=2).collect()
    }
    assert len(exact & a) / len(exact) >= 0.4
    a2 = {
        (r.query_id, r.neighbor_id)
        for r in pq_cosine_topk(emb, queries, train_sample_mod=2).collect()
    }
    assert a == a2


def test_pq_handles_non_unit_norm_corpus(spark):
    """Codebooks and codes must live on the same (normalized) scale. Scaling
    every vector by a per-row factor leaves cosine neighborhoods unchanged,
    so PQ recall must hold. Before the shared normalize-then-slice fix the
    codebooks were fitted on RAW subvectors while encode normalized first —
    a scale mismatch that silently degraded quantization for any corpus not
    already unit-norm (the standard fixtures are unit-norm, masking it)."""
    from pyspark.sql import functions as F

    from covid19_spark.operators.similarity import cosine_topk, pq_cosine_topk
    from covid19_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    scaled = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: x * (F.col("vec_id") % 7 + 1)
        ).alias("embedding"),
    )
    queries = scaled.filter("vec_id < 8")
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(scaled, queries, k=10).collect()
    }
    a = {
        (r.query_id, r.neighbor_id)
        for r in pq_cosine_topk(scaled, queries).collect()
    }
    recall = len(exact & a) / len(exact)
    assert recall >= 0.6, recall


def test_pq_codebooks_stay_dense_with_empty_clusters(spark):
    """Duplicate-heavy corpora empty code clusters during Lloyd rounds (two
    identical seed codewords — one absorbs every assignment, the other gets
    none). The (sub, code) grid must stay dense — exactly m*k rows with codes
    0..k-1 per subspace — because the ADC table is indexed positionally as
    sub*k+code; a dropped row would shift every later entry and silently
    corrupt adc_score."""
    from covid19_spark.operators.similarity import pq_encode, pq_train_codebooks

    base = [[1.0 if i == j * 2 else 0.0 for i in range(8)] for j in range(4)]
    rows = [(i, base[i % 4]) for i in range(64)]  # 4 distinct vectors, repeated
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cb = pq_train_codebooks(df, m=4, k=8, iterations=2)
    rows_cb = cb.collect()
    assert len(rows_cb) == 4 * 8, "empty clusters dropped codebook rows"
    per_sub = {}
    for r in rows_cb:
        per_sub.setdefault(r.sub, set()).add(r.code)
    assert all(codes == set(range(8)) for codes in per_sub.values())
    encoded = pq_encode(df, cb, 4).collect()
    assert len(encoded) == 64
    assert all(0 <= c < 8 for r in encoded for c in r.codes)


def test_semantic_dedup_paper_keep_policy(spark):
    """keep_policy='low_centroid_sim' implements the SemDeDup paper's §3
    choice: within each duplicate group keep the member with the LOWEST
    cosine to its cluster centroid (the least-prototypical one). Cluster
    structure must be identical to the default; only is_canonical moves."""
    from covid19_spark.operators.similarity import semantic_dedup

    def vec(axis, nudge=0.0):
        v = [0.0, 0.0, 0.0, 0.0]
        v[axis] = 1.0
        v[(axis + 1) % 4] = nudge
        return v

    rows = [
        (1, vec(0)), (3, vec(0, 0.02)), (4, vec(0, -0.02)), (5, vec(0, 0.04)),
        (2, vec(1)), (10, vec(1, 0.03)), (11, vec(1, -0.03)),
        (20, vec(2)), (21, vec(3)),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assignment = _inline_assignment(corpus, 2)
    base = {
        r["vec_id"]: (r["cluster_id"], r["cluster_size"])
        for r in semantic_dedup(
            corpus, "vec_id", "embedding", assignment=assignment
        ).collect()
    }
    out = semantic_dedup(
        corpus, "vec_id", "embedding",
        keep_policy="low_centroid_sim", assignment=assignment,
    )
    got = {r["vec_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"]) for r in out.collect()}
    # identical cluster structure
    assert {k: v[:2] for k, v in got.items()} == base
    # group A centroid sits at the members' mean (+0.01 nudge), so doc 4
    # (-0.02 nudge, opposite side) is least prototypical — NOT min-id 1
    canonicals = {cid: vid for vid, (cid, _, can) in got.items() if can}
    assert canonicals[1] == 4
    assert canonicals[2] in (10, 11)  # symmetric nudges; tie broken deterministically
    assert got[20][2] == 1 and got[21][2] == 1  # singletons stay canonical
    assert sum(v[2] for v in got.values()) == 4

    import pytest

    with pytest.raises(ValueError, match="keep_policy"):
        semantic_dedup(
            corpus, "vec_id", "embedding", keep_policy="nope",
            assignment=assignment,
        )


def test_lloyd_early_exit_records_rounds_and_matches_full_run(spark):
    """VERDICT r06 task #5: with iterations > 1 the PQ trainer stops at the
    assignment fixed point and produces EXACTLY the codebooks a run pinned
    to the recorded round count gives — the early exit skips only
    provably-redundant updates."""
    from covid19_spark.operators.similarity import pq_train_codebooks
    from covid19_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")

    pq_rounds = []
    cbs = pq_train_codebooks(emb, m=8, k=8, iterations=12, rounds_out=pq_rounds)
    got_cb = sorted((r.sub, r.code, tuple(r.cvec)) for r in cbs.collect())
    assert len(pq_rounds) == 1 and 1 <= pq_rounds[0] <= 12
    pinned_cb = pq_train_codebooks(emb, m=8, k=8, iterations=pq_rounds[0])
    assert got_cb == sorted((r.sub, r.code, tuple(r.cvec)) for r in pinned_cb.collect())


def test_pq_encode_map_only_matches_assign_reassembly(spark):
    """The map-only encoder (broadcast codebooks, per-row subspace argmin)
    must be BIT-identical to the reference explode → _pq_assign →
    groupBy(id) reassembly it replaced — same metric, slicing, and
    lowest-code tie-break."""
    from pyspark.sql import functions as F

    from covid19_spark.operators.similarity import (
        _pq_assign,
        _pq_subvectors,
        pq_encode,
        pq_train_codebooks,
    )
    from covid19_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    cb = pq_train_codebooks(emb, m=8, k=16).localCheckpoint(eager=True)
    fast = {r.vec_id: tuple(r.codes) for r in pq_encode(emb, cb, 8).collect()}
    subs = _pq_subvectors(emb, 8, "vec_id", "embedding")
    slow_df = _pq_assign(subs, cb, "vec_id").groupBy("vec_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("sub", "code"))), lambda s: s["code"]
        ).alias("codes")
    )
    slow = {r.vec_id: tuple(r.codes) for r in slow_df.collect()}
    assert fast == slow


def test_driver_fit_matches_distributed_trainers(spark):
    """VERDICT r08 task #1: the driver-side numpy quantizer fit used by
    ``ivfpq_cosine_topk`` must replicate the distributed trainers'
    semantics — same lowest-id seeds, same tie-breaks, same empty-cluster
    handling — differing at most in floating-point reduction order (ulps).
    Pin both tiers against ``ivf_train_centroids``/``pq_train_codebooks``
    on the live sf0.01 corpus."""
    import numpy as np
    from pyspark.sql import functions as F

    from covid19_spark.operators.similarity import (
        _fit_quantizers_driver,
        ivf_train_centroids,
        pq_train_codebooks,
    )
    from covid19_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    rows = emb.select(
        F.col("vec_id").alias("__id"),
        F.col("embedding").cast("array<double>").alias("__v"),
    ).collect()
    cents, cbs = _fit_quantizers_driver(
        [r["__id"] for r in rows], [r["__v"] for r in rows]
    )
    dist_c = {r.centroid_id: np.array(r.cvec) for r in ivf_train_centroids(emb, 16).collect()}
    assert sorted(dist_c) == list(range(1, 17))
    for i in range(16):
        assert np.allclose(cents[i], dist_c[i + 1], rtol=0, atol=1e-12), i
    dist_cb = {(r.sub, r.code): np.array(r.cvec) for r in pq_train_codebooks(emb, 8, 16).collect()}
    assert len(dist_cb) == 8 * 16
    for s in range(8):
        for j in range(16):
            assert np.allclose(cbs[s][j], dist_cb[(s, j)], rtol=0, atol=1e-12), (s, j)


def test_driver_fit_zero_norm_vector_matches_distributed(spark):
    """ADVICE r09: a zero embedding must not NaN-poison either trainer —
    both normalize 0-vector -> 0-vector (norm guard), so codebook fits stay
    finite and the driver twin still matches the distributed trainers."""
    import numpy as np
    from pyspark.sql import functions as F

    from covid19_spark.operators.similarity import (
        _fit_quantizers_driver,
        ivf_train_centroids,
        pq_train_codebooks,
    )

    # 40 rows of 16 dims: 16 IVF centroids, 8 PQ subvectors of 2 dims with
    # 16 codes each (the registry's shape), so clusters hold several rows
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(40)]
    rows[3] = (3, [0.0] * 16)  # the zero-norm row, one of the seeds
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents, cbs = _fit_quantizers_driver([r[0] for r in rows], [r[1] for r in rows])
    assert np.isfinite(cents).all() and np.isfinite(cbs).all()

    dist_c = {r.centroid_id: np.array(r.cvec) for r in ivf_train_centroids(emb, 16).collect()}
    for i in range(16):
        assert np.allclose(cents[i], dist_c[i + 1], rtol=0, atol=1e-12), i
    dist_cb = {(r.sub, r.code): np.array(r.cvec) for r in pq_train_codebooks(emb, 8, 16).collect()}
    for s in range(8):
        for j in range(16):
            assert np.isfinite(dist_cb[(s, j)]).all(), (s, j)
            assert np.allclose(cbs[s][j], dist_cb[(s, j)], rtol=0, atol=1e-12), (s, j)


def test_quantizer_training_sample_auto_bounds(spark):
    """VERDICT r10 #3: ``sample_mod="auto"`` bounds the training set near
    _TRAIN_TARGET_ROWS regardless of corpus size, and degenerates to the
    FULL corpus (mod=1, bit-identical fits) when the corpus is already
    under the target."""
    from pyspark.sql import functions as F

    from covid19_spark.operators.similarity import (
        _TRAIN_TARGET_ROWS,
        quantizer_training_sample,
    )

    small = spark.range(1000).select(F.col("id").alias("vec_id"))
    assert quantizer_training_sample(small, "vec_id", "auto").count() == 1000

    big = spark.range(_TRAIN_TARGET_ROWS * 3).select(F.col("id").alias("vec_id"))
    n = quantizer_training_sample(big, "vec_id", "auto").count()
    # mod = 3 -> ~1/3 of the corpus; the xxhash split is uniform
    assert 0.25 * _TRAIN_TARGET_ROWS * 3 / 3 * 3 / 3 < n  # sanity: nonzero
    assert abs(n - _TRAIN_TARGET_ROWS) < 0.15 * _TRAIN_TARGET_ROWS


def test_pq_driver_fit_default_matches_distributed_trainer_results(spark):
    """The default (auto/driver-fit) pq_cosine_topk must return the SAME
    top-k as the distributed-trainer path fed through the ``codebooks=``
    seam — at this SF the training set is the full corpus either way, and
    codebooks differ only in summation-order ulps, which never move a
    rank."""
    from covid19_spark.operators.similarity import (
        pq_cosine_topk,
        pq_train_codebooks,
    )
    from covid19_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    queries = emb.filter("vec_id < 5")
    default = [
        (r.query_id, r.rank, r.neighbor_id)
        for r in pq_cosine_topk(emb, queries)
        .orderBy("query_id", "rank").collect()
    ]
    dist_cb = pq_train_codebooks(emb, 8, 16)
    seam = [
        (r.query_id, r.rank, r.neighbor_id)
        for r in pq_cosine_topk(emb, queries, codebooks=dist_cb)
        .orderBy("query_id", "rank").collect()
    ]
    assert default == seam


def test_pq_default_plan_has_no_checkpoint_barrier(spark):
    """VERDICT r10 #3 'done' criterion: the default pq_cosine_topk plan
    carries no localCheckpoint scan — the codebooks arrive as a
    LocalRelation from the driver-side fit."""
    from covid19_spark.operators.similarity import pq_cosine_topk
    from covid19_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    out = pq_cosine_topk(emb, emb.filter("vec_id < 3"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Checkpoint" not in plan and "ExistingRDD" not in plan, plan


def test_sq8_recall_and_hand_quantizer(spark):
    """SQ8 on clustered data: high recall vs exact (byte quantization is the
    gentlest compression tier), plus the quantizer arithmetic on a hand
    case — constant dimensions code to 0, max values saturate at 255."""
    from covid19_spark.operators.similarity import sq8_minmax, sq8_topk

    emb = _clustered(spark)
    queries = emb.filter("vec_id IN (0, 40, 80, 120)")
    exact = cosine_topk(emb, queries, k=10).collect()
    approx = sq8_topk(emb, queries).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.9

    # hand case on NORMALIZED vectors: (0,7)->(0,1), (7,0)->(1,0),
    # (7,7)->(~0.7071, ~0.7071); per-dim bounds span [0,1]
    hand = spark.createDataFrame(
        [(0, [0.0, 7.0]), (1, [7.0, 0.0]), (2, [7.0, 7.0])],
        ["vec_id", "embedding"],
    )
    mm = sq8_minmax(hand).collect()[0]
    assert mm["mins"] == [0.0, 0.0] and mm["maxs"] == [1.0, 1.0]
    from pyspark.sql import functions as F
    from covid19_spark.operators.similarity import _sq8_codes_expr

    codes = {
        r["vec_id"]: r["cc"]
        for r in hand.crossJoin(F.broadcast(sq8_minmax(hand)))
        .select("vec_id", _sq8_codes_expr("embedding").alias("cc")).collect()
    }
    assert codes[0] == [0, 255]    # min -> 0; max saturates via least(255, floor(256))
    assert codes[1] == [255, 0]
    assert codes[2] == [181, 181]  # floor(0.70710678... * 256)


def test_sq8_pretrained_minmax_seam(spark):
    """Bounds trained once (``sq8_minmax``) encode vectors they were not
    trained on: codes of out-of-range vectors stay inside the byte range."""
    from covid19_spark.operators.similarity import sq8_minmax

    emb = _clustered(spark, n_clusters=4, per_cluster=20)
    mm = sq8_minmax(emb)
    # round-11 review fix: serving-time vectors OUTSIDE the trained bounds
    # clamp to the byte range on both ends (below-min was going negative)
    from pyspark.sql import functions as F
    from covid19_spark.operators.similarity import _sq8_codes_expr

    wild = spark.createDataFrame(
        [(9001, [100.0] * 16), (9002, [-100.0] * 16)], ["vec_id", "embedding"]
    )
    codes = [
        r["cc"]
        for r in wild.crossJoin(F.broadcast(mm))
        .select(_sq8_codes_expr("embedding").alias("cc")).collect()
    ]
    assert all(0 <= c <= 255 for cc in codes for c in cc), codes
