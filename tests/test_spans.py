"""Duplicated-substring span dedup (operators/spans.py).

Hand-built corpus with a known shared 8-token run, so expected spans are
derivable on paper. Windows are 8 tokens: the shared run "a b c d e f g h"
contributes one window, at d1 pos 1 and d2 pos 3.
"""

import pytest
from pyspark.sql import functions as F

from covid19_spark.operators.spans import duplicated_spans, kgram_stream, span_dedup

DOCS = [
    (1, "a b c d e f g h i j"),          # shared run at pos 1-8
    (2, "x y a b c d e f g h z"),        # same run at pos 3-10
    (3, "totally unrelated words only here"),
    (4, "tiny"),                          # shorter than k -> no windows
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_kgram_stream_counts_and_positions(spark, docs):
    g = kgram_stream(docs)
    # windows per doc: max(len - 8 + 1, 0): 3, 4, 0, 0
    counts = {r["doc_id"]: r["n"] for r in g.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {1: 3, 2: 4}
    # identical windows hash identically across docs
    h1 = {r["pos"]: r["kh"] for r in g.filter("doc_id = 1").collect()}
    h2 = {r["pos"]: r["kh"] for r in g.filter("doc_id = 2").collect()}
    assert h1[1] == h2[3] and h1[2] != h2[4]


def test_duplicated_spans_merge(spark, docs):
    spans = duplicated_spans(docs).orderBy("doc_id").collect()
    got = [(r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"]) for r in spans]
    assert got == [(1, 1, 8, 8), (2, 3, 10, 8)]


def test_keep_first_exempts_min_doc(spark, docs):
    """The keep-one policy ``span_dedup`` strips by."""
    from covid19_spark.operators.spans import _spans_from_grams

    spans = _spans_from_grams(kgram_stream(docs), "doc_id", True).collect()
    got = [(r["doc_id"], r["span_start"], r["span_end"]) for r in spans]
    assert got == [(2, 3, 10)]


def test_two_islands_do_not_merge_across_gap(spark):
    # shared run A at pos 1-8 and shared run B at pos 18-25; gap of 9 unique
    # tokens (> 8) between them, so two separate spans in doc 1.
    rows = [
        (1, "p q r s t u v w u1 u2 u3 u4 u5 u6 u7 u8 u9 a b c d e f g h"),
        (2, "p q r s t u v w later tokens differ"),
        (3, "other head a b c d e f g h"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_spans(df).orderBy("doc_id", "span_start").collect()
    ]
    assert got == [(1, 1, 8), (1, 18, 25), (2, 1, 8), (3, 3, 10)]


def test_span_dedup_strip_and_stats(spark, docs):
    out = {r["doc_id"]: r for r in span_dedup(docs).collect()}
    # doc 1 is the canonical (min-id) owner: untouched
    assert out[1]["text"] == "a b c d e f g h i j"
    assert out[1]["dup_tokens"] == 0 and out[1]["n_spans"] == 0
    # doc 2 loses the shared run
    assert out[2]["text"] == "x y z"
    assert (out[2]["n_tokens"], out[2]["dup_tokens"], out[2]["n_spans"]) == (11, 8, 1)
    assert out[2]["dup_frac"] == pytest.approx(8 / 11)
    # untouched docs pass through (lowercased token join)
    assert out[3]["text"] == "totally unrelated words only here"
    assert out[4]["text"] == "tiny"


def test_detection_is_exact_for_long_duplicates(spark):
    # any duplicated run of >= 8 tokens is fully covered: random-ish filler
    # around an injected 12-token passage in 3 docs.
    passage = " ".join(f"dup{i}" for i in range(12))
    rows = [
        (i, f"head{i}a head{i}b {passage} tail{i}a tail{i}b") for i in range(1, 4)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = duplicated_spans(df).collect()
    assert len(spans) == 3
    for r in spans:
        assert (r["span_start"], r["span_end"]) == (3, 14)


def test_materialize_equals_lazy(spark):
    """The eager evaluation (localCheckpoint + cache release) must change
    only cache lifecycle, never the results of the lazy frame it
    checkpoints."""
    from covid19_spark.operators.spans import (
        _duplicated_spans_with_handle,
        _span_dedup_with_handle,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for fn, lazy_fn in (
        (duplicated_spans, _duplicated_spans_with_handle),
        (span_dedup, _span_dedup_with_handle),
    ):
        frame, caches = lazy_fn(docs)
        lazy = sorted(tuple(r) for r in frame.collect())
        for c in caches:
            c.unpersist()
        eager = sorted(tuple(r) for r in fn(docs).collect())
        assert lazy == eager, fn.__name__
