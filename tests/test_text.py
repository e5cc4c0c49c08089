"""Text analysis: token counting, fingerprint, language-ID, quality."""

from pyspark.sql import functions as F

from covid19_spark.operators.text import (
    fingerprint,
    normalize_text,
    token_count,
    word_shingles,
)


def one(spark, text, col):
    return spark.createDataFrame([(text,)], ["t"]).select(col.alias("x")).collect()[0].x


def test_token_count(spark):
    assert one(spark, "a b  c", token_count(F.col("t"))) == 3  # double space
    assert one(spark, "", token_count(F.col("t"))) == 0


def test_normalize_and_fingerprint(spark):
    a = one(spark, "Hello,   World!", fingerprint(F.col("t")))
    b = one(spark, "hello world", fingerprint(F.col("t")))
    assert a == b and len(a) == 16
    assert one(spark, "Hello,   World!", normalize_text(F.col("t"))) == "hello world"


def test_word_shingles(spark):
    out = one(spark, "a b c d", word_shingles(F.col("t"), 2))
    assert out == ["a b", "b c", "c d"]
    out3 = one(spark, "a b c d", word_shingles(F.col("t"), 3))
    assert out3 == ["a b c", "b c d"]


def test_word_shingles_short_docs(spark):
    # Docs with fewer than n tokens must yield [] — sequence(1, 0) steps
    # DOWNWARD in Spark and used to throw INVALID_ARRAY_INDEX_IN_ELEMENT_AT.
    assert one(spark, "solo", word_shingles(F.col("t"), 2)) == []
    assert one(spark, "", word_shingles(F.col("t"), 2)) == []
    assert one(spark, "two words", word_shingles(F.col("t"), 3)) == []
    assert one(spark, "exactly two", word_shingles(F.col("t"), 2)) == ["exactly two"]


def test_repetition_stats_hand_case(spark):
    from covid19_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a b"),          # max tok 3/4; bigrams [a a, a a, a b] -> dup 1/3
            (2, "w x y z"),          # no repetition
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in repetition_stats(df, "doc_id", "text").collect()}
    r1 = rows[1]
    assert r1.n_tokens == 4 and r1.n_distinct_tokens == 2
    assert abs(r1.max_token_frac - 0.75) < 1e-12
    assert abs(r1.dup_bigram_frac - (1 - 2 / 3)) < 1e-12
    r2 = rows[2]
    assert r2.max_token_frac == 0.25 and r2.dup_bigram_frac == 0.0


def test_tfidf_top_terms_hand_case(spark):
    from covid19_spark.operators.text import tf_idf_top_terms

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "durian durian banana")],
        "doc_id long, text string",
    )
    out = tf_idf_top_terms(docs, "doc_id", "text")
    rows = {(r["doc_id"], r["rank"]): r for r in out.collect()}
    # doc 1: apple tf=2 df=1 -> 2*(4/2)=4.0 beats banana tf=1 df=3 -> 1.0
    assert rows[(1, 1)]["term"] == "apple" and rows[(1, 1)]["score"] == 4.0
    assert rows[(1, 2)]["term"] == "banana" and rows[(1, 2)]["score"] == 1.0
    # doc 2: cherry tf=1 df=1 -> 2.0 beats banana 1.0
    assert rows[(2, 1)]["term"] == "cherry"
    # doc 3: durian tf=2 df=1 -> 4.0
    assert rows[(3, 1)]["term"] == "durian" and rows[(3, 1)]["df"] == 1


def test_chunk_documents_hand_case_and_coverage(spark):
    from covid19_spark.operators.text import chunk_documents

    words = [f"w{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(words)),  # 40 tokens
            (2, "a b c"),  # shorter than one chunk
            (3, ""),  # empty -> no chunks
            (4, "solo"),  # single token
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, "doc_id", "text")
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_text"], r["chunk_n_tokens"])
        for r in out.collect()
    )
    # doc 1, stride 16: starts 0,16 kept (s+16 < 40), s=32 dropped (32+16 >= 40,
    # window fully inside previous chunk's coverage)
    assert rows == [
        (1, 0, " ".join(words[:32]), 32),
        (1, 1, " ".join(words[16:]), 24),
        (2, 0, "a b c", 3),
        (4, 0, "solo", 1),
    ]
    # coverage property: every token of every doc appears in >= 1 chunk
    # (reconstruct token positions covered by each chunk)
    covered = {}
    for doc_id, chunk_id, _text, n in rows:
        s = chunk_id * 16
        covered.setdefault(doc_id, set()).update(range(s, s + n))
    assert covered[1] == set(range(40))
    assert covered[2] == set(range(3))
    assert covered[4] == {0}


def test_chunk_documents_is_map_only(spark):
    from covid19_spark.operators.text import chunk_documents

    docs = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    plan = chunk_documents(docs, "doc_id", "text")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan  # chunking must never shuffle


def test_freq_items_superset_of_exact_heavy_hitters(spark):
    """Approximate heavy-hitters scale path (df.stat.freqItems, one-pass
    KPS95): guaranteed superset of every term with frequency > support."""
    terms = spark.createDataFrame(
        [("common",)] * 60 + [("mid",)] * 25 + [("rare%d" % i,) for i in range(15)],
        "term string",
    )
    support = 0.2
    approx = set(terms.stat.freqItems(["term"], support).collect()[0][0])
    exact = {
        r["term"]
        for r in terms.groupBy("term").count().filter(F.col("count") > 100 * support).collect()
    }
    assert exact <= approx  # no false negatives above the support threshold


def test_normalize_typography_fold_classes(spark):
    """Each fold class of the written spec: quotes/dashes fold to ASCII,
    zero-width + soft hyphen delete, fullwidth -> ASCII, exotic spaces ->
    space, ellipsis char -> '...', whitespace collapse + trim; accents pass
    through; NULL stays NULL. The registry query's DuckDB oracle checks the
    same spec cross-engine; this pins it at unit granularity."""
    from covid19_spark.operators.text import normalize_typography

    cases = [
        ("“Quoted” — title", '"Quoted" - title'),
        ("café​ menu …", "café menu ..."),
        ("ＦＵＬＬ１２３", "FULL123"),
        ("soft­hyphen word", "softhyphen word"),
        ("it’s a test – really", "it's a test - really"),
        ("  a \t\n b  ", "a b"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(cases)], "i int, t string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select("i", normalize_typography(F.col("t")).alias("n")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want


def test_normalize_typography_is_map_only(spark):
    from covid19_spark.operators.text import normalize_typography

    docs = spark.createDataFrame([(1, "a — b")], "doc_id long, text string")
    plan = docs.select(
        normalize_typography(F.col("text"))
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_dedup_paragraphs_first_occurrence_order(spark):
    """First occurrence wins, order preserved; empty paragraphs (separator
    runs) dropped; all-unique passes through; NULL stays NULL."""
    from covid19_spark.operators.text import dedup_paragraphs

    cases = [
        ("A\n\nB\n\nA\n\nC\n\nB", "A\n\nB\n\nC"),
        ("X\n\nX\n\nX", "X"),
        ("one\n\ntwo", "one\n\ntwo"),
        ("A\n\n\n\nA", "A"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(cases)], "i int, t string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select("i", dedup_paragraphs(F.col("t")).alias("n")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want


def test_dedup_paragraphs_is_map_only(spark):
    from covid19_spark.operators.text import dedup_paragraphs

    docs = spark.createDataFrame([(1, "a\n\na")], "doc_id long, text string")
    plan = docs.select(
        dedup_paragraphs(F.col("text"))
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_normalize_typography_idempotent_property(spark):
    """Normalization must be IDEMPOTENT — normalize(normalize(x)) ==
    normalize(x) — or a pipeline that re-normalizes at multiple stages
    keeps mutating text. Property-checked over generated soup mixing every
    fold class (curly quotes, dashes, exotic spaces, fullwidth, zero-width,
    ellipsis, whitespace runs) with plain text."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from covid19_spark.operators.text import normalize_typography

    pieces = st.sampled_from(
        [
            "word", "café", "１２", "“q”", "it’s", "—", "–", " ", " ",
            "　", "​", "­", "…", "\t", "  ", "a-b", '"x"',
        ]
    )
    soups = st.lists(pieces, min_size=0, max_size=12).map("".join)
    collected = []

    @settings(max_examples=80, deadline=None)
    @given(soups)
    def gather(t):
        collected.append(t)

    gather()
    df = spark.createDataFrame([(t,) for t in collected], "t string")
    once = df.select(normalize_typography(F.col("t")).alias("n1"))
    twice = once.select(
        "n1", normalize_typography(F.col("n1")).alias("n2")
    ).collect()
    for r in twice:
        assert r.n1 == r.n2, r


def test_dedup_paragraphs_idempotent_property(spark):
    """Paragraph dedup must be idempotent, and its output paragraphs must
    be exactly the input's distinct non-empty paragraphs in first-seen
    order (checked against a Python reference)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from covid19_spark.operators.text import dedup_paragraphs

    para = st.sampled_from(["a", "b", "c", "nav bar", "footer", "x y"])
    docs = st.lists(para, min_size=0, max_size=10).map("\n\n".join)
    collected = []

    @settings(max_examples=80, deadline=None)
    @given(docs)
    def gather(t):
        collected.append(t)

    gather()
    df = spark.createDataFrame([(t,) for t in collected], "t string")
    rows = df.select(
        "t",
        dedup_paragraphs(F.col("t")).alias("d1"),
    ).select("t", "d1", dedup_paragraphs(F.col("d1")).alias("d2")).collect()
    for r in rows:
        assert r.d1 == r.d2, r
        seen, want = set(), []
        for p in r.t.split("\n\n"):
            if p and p not in seen:
                seen.add(p)
                want.append(p)
        assert r.d1 == "\n\n".join(want), (r.t, r.d1)


def test_compression_features_separate_repetitive_text(spark):
    """The DEFLATE ratio signal: repeated-boilerplate text compresses far
    harder than mixed prose; empty text is ratio 1.0 by definition; the
    kernel is deterministic across partitionings."""
    from covid19_spark.operators.text import compression_features

    rows = [
        (1, "subscribe now " * 80),
        (2, "The quick brown fox jumps over a lazy dog while seventeen "
            "other animals watch quietly from thirty-two distinct vantage "
            "points, each described once and never repeated verbatim here."),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in compression_features(df, "doc_id", "text").collect()}
    assert out[1].ratio < 0.2 < out[2].ratio  # boilerplate vs prose
    assert out[3].n_bytes == 0 and out[3].ratio == 1.0
    assert out[2].z_bytes < out[2].n_bytes
    a = sorted(map(tuple, compression_features(df.repartition(1), "doc_id", "text").collect()))
    b = sorted(map(tuple, compression_features(df.repartition(7), "doc_id", "text").collect()))
    assert a == b


def test_compression_quality_planted_twins_flag(spark):
    """Registry query: every planted boilerplate twin flags repetitive;
    the organic corpus majority does not."""
    from covid19_spark.plans.registry import QUERY_REGISTRY

    rows = QUERY_REGISTRY["compression_quality"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    planted = [r for r in rows if r.doc_id >= 100000]
    organic = [r for r in rows if r.doc_id < 100000]
    assert planted and all(r.repetitive for r in planted)
    frac = sum(1 for r in organic if r.repetitive) / len(organic)
    assert frac < 0.2, frac
