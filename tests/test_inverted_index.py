"""Persisted inverted index (sources/index.py): build/reuse/staleness
contract + the static term-bucket pruning pin."""

import os

import pytest

from pyspark.sql import functions as F


@pytest.fixture()
def sf_dir(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "spark hash spark table"),
            (2, "hash window row"),
            (3, "spark spark spark filter"),
            (4, "agg join scan"),
            (5, ""),  # zero-token doc: counted in n/avgdl, absent from postings
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "sf")
    os.makedirs(d)
    docs.toPandas().to_parquet(f"{d}/documents.parquet")
    return d


def test_build_stats_exact(spark, sf_dir, tmp_path):
    from covid19_spark.sources.index import build_inverted_index, read_inverted_index

    path = str(tmp_path / "idx")
    build_inverted_index(spark, sf_dir, path)
    idx = read_inverted_index(spark, path)
    assert idx.n_docs == 5.0
    # 4+3+4+3+0 tokens over 5 docs
    assert idx.avgdl == 14.0 / 5.0
    rows = {
        (r.t, r.doc_id): (r.tf, r.dl)
        for r in idx.postings.collect()
    }
    assert rows[("spark", 1)] == (2.0, 4.0)  # dl denormalized onto the row
    assert rows[("spark", 3)] == (3.0, 4.0)
    stats = {r.t: (r.df, r.cg) for r in idx.termstats.collect()}
    assert stats["spark"] == (2.0, 5)
    assert stats["hash"] == (2.0, 2)


def test_ensure_reuses_then_rebuilds_on_staleness(spark, sf_dir, tmp_path):
    from covid19_spark.sources.index import ensure_inverted_index

    path = str(tmp_path / "idx")
    ensure_inverted_index(spark, sf_dir, path)
    marker = os.path.getmtime(f"{path}/scalars")
    ensure_inverted_index(spark, sf_dir, path)  # fingerprint match: no rebuild
    assert os.path.getmtime(f"{path}/scalars") == marker
    # touch the corpus → fingerprint mismatch → rebuild
    os.utime(f"{sf_dir}/documents.parquet")
    ensure_inverted_index(spark, sf_dir, path)
    assert os.path.getmtime(f"{path}/scalars") > marker


def test_inplace_append_seen_by_next_ensure(spark, sf_dir, tmp_path):
    """An in-place append re-creates the store's derived datasets under its
    root (keeping the store's fingerprint), which changes the root's stamp:
    the next ensure reopens the store and serves base + delta documents."""
    from covid19_spark.sources.index import append_inverted_index, ensure_inverted_index

    path = str(tmp_path / "idx")
    assert ensure_inverted_index(spark, sf_dir, path).n_docs == 5.0
    delta = spark.createDataFrame(
        [(6, "spark window"), (7, "hash join")], "doc_id long, text string"
    )
    append_inverted_index(delta, path)
    assert ensure_inverted_index(spark, sf_dir, path).n_docs == 7.0


def test_concurrent_cold_ensure_builds(spark, sf_dir, tmp_path):
    """Two sessions cold-missing the same cache path concurrently (VERDICT
    r12 task #4): each builds into its own scratch dir and atomic-renames
    it in — both callers get a servable index with the exact stats, and no
    scratch/old dirs leak."""
    import glob
    from concurrent.futures import ThreadPoolExecutor

    from covid19_spark.sources.index import ensure_inverted_index

    path = str(tmp_path / "idx")
    with ThreadPoolExecutor(2) as ex:
        futs = [
            ex.submit(ensure_inverted_index, spark, sf_dir, path)
            for _ in range(2)
        ]
        idxs = [f.result(timeout=300) for f in futs]
    for idx in idxs:
        assert idx.n_docs == 5.0
        assert idx.avgdl == 14.0 / 5.0
        stats = {r.t: (r.df, r.cg) for r in idx.termstats.collect()}
        assert stats["spark"] == (2.0, 5)
    assert glob.glob(f"{path}__build_*") == []
    assert glob.glob(f"{path}__old_*") == []


def test_literal_terms_prune_partitions(spark, sf_dir, tmp_path):
    """The scale contract: a literal-term query's postings scan must carry
    a static tb PartitionFilters — it opens ≤|terms| bucket dirs at any
    corpus size."""
    from covid19_spark.sources.index import (
        build_inverted_index, literal_term_buckets, read_inverted_index,
        postings_for_terms,
    )

    path = str(tmp_path / "idx")
    build_inverted_index(spark, sf_dir, path)
    idx = read_inverted_index(spark, path)
    pruned = postings_for_terms(spark, idx, ["spark", "hash"])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tb" in plan
    buckets = literal_term_buckets(spark, ["spark", "hash"])
    assert str(buckets[0]) in plan
    # and the pruned frame still returns every matching posting
    assert pruned.count() == 4  # spark:{1,3} hash:{1,2}


def test_bucket_cache_matches_catalyst(spark):
    from covid19_spark.sources.index import _BUCKET_CACHE, literal_term_buckets, term_bucket

    got = literal_term_buckets(spark, ["window", "vector"])
    again = literal_term_buckets(spark, ["window", "vector"])  # cache path
    assert got == again
    truth = [
        int(v)
        for v in spark.range(1)
        .select(term_bucket(F.lit("window")), term_bucket(F.lit("vector")))
        .collect()[0]
    ]
    assert got == sorted(set(truth))
    assert "window" in _BUCKET_CACHE


def test_phrase_match_positions(spark, sf_dir, tmp_path):
    """Positional phrase retrieval: adjacency counts, 3-term phrases, and
    repeated-term phrases, hand-checked on the fixture corpus."""
    from covid19_spark.operators.retrieval import phrase_match_from_index
    from covid19_spark.sources.index import build_inverted_index, read_inverted_index

    # doc 1: "spark hash spark table"  doc 3: "spark spark spark filter"
    path = str(tmp_path / "idx")
    build_inverted_index(spark, sf_dir, path)
    idx = read_inverted_index(spark, path)

    got = {
        r.doc_id: r.n_occurrences
        for r in phrase_match_from_index(spark, idx, ["spark", "hash"]).collect()
    }
    assert got == {1: 1}
    got3 = {
        r.doc_id: r.n_occurrences
        for r in phrase_match_from_index(
            spark, idx, ["spark", "hash", "spark"]
        ).collect()
    }
    assert got3 == {1: 1}
    # repeated term: "spark spark" occurs twice in doc 3 (positions 0-1, 1-2)
    rep = {
        r.doc_id: r.n_occurrences
        for r in phrase_match_from_index(spark, idx, ["spark", "spark"]).collect()
    }
    assert rep == {3: 2}
    with pytest.raises(ValueError, match="phrase"):
        phrase_match_from_index(spark, idx, ["spark"])


def test_snippet_windows(spark, sf_dir, tmp_path):
    """Best-window snippet extraction hand-checked: max query-term hits,
    snippet cut at the token slice."""
    from covid19_spark.operators.retrieval import snippet_windows_from_index
    from covid19_spark.sources.index import build_inverted_index, read_inverted_index

    path = str(tmp_path / "idx")
    build_inverted_index(spark, sf_dir, path)
    idx = read_inverted_index(spark, path)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # the 10-token window swallows every hit; slice truncates at the doc end
    wide = {
        r.doc_id: (r.best_start, r.n_hits, r.snippet)
        for r in snippet_windows_from_index(
            spark, idx, docs, ["spark", "hash"]
        ).collect()
    }
    assert wide[1] == (0, 3, "spark hash spark table")
    assert wide[3] == (0, 3, "spark spark spark filter")


def _doc_of(length, hits):
    """A ``length``-token text: ``hits`` maps position -> term, filler
    tokens ``f<pos>`` elsewhere."""
    return " ".join(hits.get(p, f"f{p}") for p in range(length))


def test_snippet_window_choice(spark, tmp_path):
    """The best 10-token window has the most hits, and the earliest start
    among windows that tie on the most.  Doc 1 hits at 0 4 | 15 19 24 26
    29: the window at 0 holds 2, the windows at 15, 19 and 24 hold 3 each
    (the one at 15 only because its last token, 24, is in), so 15 wins;
    a 9-token window would pick 19.  Doc 2 hits at 2 5 | 16 19: two
    windows tie at 2 hits, the earlier (2) wins."""
    from covid19_spark.operators.retrieval import snippet_windows_from_index
    from covid19_spark.sources.index import (
        build_inverted_index_from, read_inverted_index,
    )

    a, b = "alpha", "beta"
    text = {
        1: _doc_of(30, {0: a, 4: b, 15: a, 19: b, 24: a, 26: b, 29: a}),
        2: _doc_of(25, {2: a, 5: b, 16: a, 19: b}),
    }
    docs = spark.createDataFrame(sorted(text.items()), "doc_id long, text string")
    path = str(tmp_path / "winidx")
    build_inverted_index_from(docs, path)
    idx = read_inverted_index(spark, path)
    got = {
        r.doc_id: (r.best_start, r.n_hits, r.snippet)
        for r in snippet_windows_from_index(spark, idx, docs, [a, b]).collect()
    }
    words = {i: t.split(" ") for i, t in text.items()}
    assert got == {
        1: (15, 3, " ".join(words[1][15:25])),
        2: (2, 2, " ".join(words[2][2:12])),
    }


def test_unordered_window_counts(spark, sf_dir, tmp_path):
    """SDM uw(8) feature: pair counts hand-checked on the fixture corpus,
    including the same-term case where both (p, q) and (q, p) count."""
    from covid19_spark.operators.retrieval import (
        unordered_window_count_from_index,
    )
    from covid19_spark.sources.index import build_inverted_index, read_inverted_index

    # doc 1: "spark hash spark table"  doc 3: "spark spark spark filter"
    path = str(tmp_path / "idx")
    build_inverted_index(spark, sf_dir, path)
    idx = read_inverted_index(spark, path)

    def uw(a, b):
        return {
            r.doc_id: r.n_uw
            for r in unordered_window_count_from_index(spark, idx, a, b).collect()
        }

    # spark{0,2} x hash{1}: both pairs within the 8-token window
    assert uw("spark", "hash") == {1: 2}
    # order of args is symmetric for distinct terms
    assert uw("hash", "spark") == {1: 2}
    # same term: ordered pairs both ways — doc3 spark{0,1,2}: 6 pairs;
    # doc1 spark{0,2}: 2 pairs
    assert uw("spark", "spark") == {3: 6, 1: 2}


def test_window_edges(spark, tmp_path):
    """The 8-token uw window counts pairs at distance 7 but not 8, and
    slop 2 proximity matches a gap of 3 positions but not 4.  Doc 1:
    apple 0, berry 7, cherry 10, apple 15; doc 2: berry 0, cherry 4."""
    from covid19_spark.operators.retrieval import (
        proximity_match_from_index, unordered_window_count_from_index,
    )
    from covid19_spark.sources.index import (
        build_inverted_index_from, read_inverted_index,
    )

    text = {
        1: _doc_of(16, {0: "apple", 7: "berry", 10: "cherry", 15: "apple"}),
        2: _doc_of(5, {0: "berry", 4: "cherry"}),
    }
    docs = spark.createDataFrame(sorted(text.items()), "doc_id long, text string")
    path = str(tmp_path / "edgeidx")
    build_inverted_index_from(docs, path)
    idx = read_inverted_index(spark, path)

    def uw(a, b):
        return {
            r.doc_id: r.n_uw
            for r in unordered_window_count_from_index(spark, idx, a, b).collect()
        }

    def prox(terms):
        return {
            r.doc_id: r.n_matches
            for r in proximity_match_from_index(spark, idx, terms).collect()
        }

    # apple{0,15} x berry{7}: distance 7 counts, distance 8 does not
    assert uw("apple", "berry") == {1: 1}
    # apple 0 and 15 are 15 apart: no same-term pair in the window
    assert uw("apple", "apple") == {}
    # berry -> cherry: 3 positions on in doc 1 (2 tokens between), 4 in doc 2
    assert prox(["berry", "cherry"]) == {1: 1}


def test_proximity_match_within_slop(spark, sf_dir, tmp_path):
    """Sloppy-phrase retrieval: within-slop-2 ordered matches hand-checked
    on the fixture corpus."""
    from covid19_spark.operators.retrieval import proximity_match_from_index
    from covid19_spark.sources.index import build_inverted_index, read_inverted_index

    # doc 1: "spark hash spark table"  doc 3: "spark spark spark filter"
    path = str(tmp_path / "idx")
    build_inverted_index(spark, sf_dir, path)
    idx = read_inverted_index(spark, path)

    def prox(terms):
        return {
            r.doc_id: r.n_matches
            for r in proximity_match_from_index(spark, idx, terms).collect()
        }

    # "hash … table" needs one intervening token in doc 1 (p=1 → p=3)
    assert prox(["hash", "table"]) == {1: 1}
    # 3-term chain across the doc: spark(0) hash(1) table(3)
    assert prox(["spark", "hash", "table"]) == {1: 1}
    # distinct match-END positions: doc 3 "spark spark spark" —
    # ends at p=1 (from 0) and p=2 (from 0 or 1): 2, not 3
    assert prox(["spark", "spark"]) == {3: 2, 1: 1}
    with pytest.raises(ValueError, match="proximity"):
        proximity_match_from_index(spark, idx, ["spark"])


def test_postings_offsets_substr_roundtrip(spark, tmp_path):
    """Index v4 offsets contract: for every posting occurrence,
    substr(lower(text), off+1, len(t)) recovers the token exactly —
    including under runs of separators, leading/trailing spaces, and
    repeated terms (offsets are into the single-space raw split, where
    empty tokens are zero-length but still consume their separator)."""
    from covid19_spark.sources.index import (
        build_inverted_index_from, read_inverted_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark   hash  spark"),
            (2, " leading and trailing "),
            (3, "tabs\tstay inside tokens"),
            (4, ""),
            (5, "x"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "offidx")
    build_inverted_index_from(docs, path)
    idx = read_inverted_index(spark, path)
    cut = (
        idx.postings.select("doc_id", "t", F.explode("off").alias("o"))
        .join(docs, "doc_id")
        .select(
            "t",
            F.lower("text").substr(F.col("o") + 1, F.length("t")).alias("cut"),
        )
    )
    assert cut.filter(F.col("cut") != F.col("t")).count() == 0
    assert cut.count() == 10  # every occurrence checked, not a vacuous pass
    # doclen's per-doc arrays align with the filtered token sequence
    row = {r.doc_id: r for r in idx.doclen.collect()}
    assert row[1].toff == [0, 8, 14] and row[1].tlen == [5, 4, 5]
    assert row[2].toff == [1, 9, 13] and row[2].tlen == [7, 3, 8]
    assert 4 not in row  # zero-token doc: no doclen row (pre-v4 contract)


def test_snippet_offsets_path_equals_retokenize(spark, tmp_path):
    """VERDICT r13 task #4 'done' pin: the offset-served snippet cut is
    bit-identical to re-tokenizing the document text (lowercase, split
    on single spaces, drop empties) on a separator-hostile corpus: multi-space runs collapse to array_join's
    single spaces because extraction is token-wise, never start-to-end."""
    from covid19_spark.operators.retrieval import snippet_windows_from_index
    from covid19_spark.sources.index import (
        build_inverted_index_from, read_inverted_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "Spark   hash JOIN  shuffle exchange partition spark hash"),
            (2, "window  row frame hash"),
            (3, " leading space  and    multi   spaces hash spark "),
            (4, "no query terms at all"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "snipidx")
    build_inverted_index_from(docs, path)
    idx = read_inverted_index(spark, path)
    text = {r.doc_id: r.text for r in docs.collect()}
    rows = snippet_windows_from_index(spark, idx, docs, ["hash", "spark"]).collect()
    assert rows  # non-vacuous
    for r in rows:
        toks = [t for t in text[r.doc_id].lower().split(" ") if t != ""]
        want = " ".join(toks[r.best_start:r.best_start + 10])
        assert r.snippet == want, r.doc_id
