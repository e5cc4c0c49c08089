"""Hybrid retrieval: reciprocal-rank fusion (RRF) of heterogeneous rankers.

Modern RAG / search stacks answer a query with SEVERAL retrievers — lexical
(BM25 over an inverted index), dense (ANN over embeddings), sometimes
recency or metadata rankers — and fuse the rank lists.  Reciprocal-rank
fusion (Cormack, Clarke & Buettcher, SIGIR 2009) is the standard
score-free fusion: each list contributes ``1 / (k0 + rank)`` for every
document it ranked, and documents are re-ordered by the summed
contribution.  Being rank-based it needs no score calibration between
retrievers whose raw scores live on incomparable scales (BM25 vs cosine).

Reference analogue: the bot answers a user query from several derived
topics at once (SURVEY §3.2 — stats, delta, testing history); generalized
to the multi-retriever fusion every corpus-serving deployment runs.

Scale shape: the inputs are ALREADY-REDUCED rank lists (|queries| × k rows
each — the corpus-sized work happened inside the upstream retrievers,
index-served at 100 TB: BM25 from the inverted stats, dense from the
persisted IVF-PQ index in ``operators/ann_index``).  Fusion is a chain of
full-outer joins over those tiny frames — broadcastable, no corpus scan,
and the per-query re-rank window runs over ≤ Σk rows per query.

Determinism (cross-engine hash contract): ranks are integers, each
contribution ``1.0 / (k0 + rank)`` is ONE IEEE double division, and the
fused score is a FIXED-ORDER expression sum over the (static) list of
retrievers — never a cross-row float aggregation — so Spark and DuckDB
produce bit-identical doubles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

LMD_MU = 2000.0  # Dirichlet smoothing mass (Zhai & Lafferty's default)
PREFIX_CAP = 8  # terms a prefix query expands to
RRF_K0 = 60  # RRF constant (Cormack et al. 2009)
RRF_TOP = 15  # fused rows kept per query

#: BM25 term-frequency saturation and length normalization (the Robertson
#: defaults), shared by every index scorer below.
K1, B = 1.2, 0.75


def bm25_scores_from_index(
    spark,
    index,
    terms,
) -> DataFrame:
    """BM25 (doc_id, score) for a term set served from a persisted
    inverted index (``sources/index.InvertedIndex``) — the production
    twin of the inline-tokenize BM25 plans, hash-identical to them
    because the index stores exact integral statistics and the score
    expression (idf · tf·(K1+1) / (tf + K1·(1−B+B·dl/avgdl)), DEC-summed
    per doc, round(6)) lives HERE, not in the files.

    ``terms``: literal list/tuple (→ static term-bucket PartitionFilters
    on the postings scan) or a DataFrame with column ``t`` (→ broadcast
    (tb, t) join — the data-dependent relevance-feedback seam).

    Scale: ONE term-pruned postings scan and nothing else — dl rides on
    the posting rows (the index's Lucene-norms denormalization), df is a
    window count over ``t`` on the pruned frame itself (the very rows
    whose count defines document frequency), and n/avgdl are driver
    literals from the index's collected scalar row.  The only shuffle is
    the |matching postings|-sized window/groupBy pair on the already
    term-filtered rows."""
    from covid19_spark.sources.index import postings_for_terms

    tf = postings_for_terms(spark, index, terms)
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("t")).cast("double")
    )
    idf = F.log(
        (F.lit(index.n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    per_term = tf.select(
        "doc_id",
        (
            idf
            * (F.col("tf") * (K1 + 1))
            / (
                F.col("tf")
                + K1 * (1 - B + B * F.col("dl") / F.lit(index.avgdl))
            )
        ).alias("s"),
    )
    return per_term.groupBy("doc_id").agg(
        F.round(
            F.sum(F.col("s").cast("decimal(38,18)")).cast("double"), 6
        ).alias("score")
    )


def lm_dirichlet_scores_from_index(
    spark,
    index,
    terms: Sequence[str],
) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing (Zhai &
    Lafferty, SIGIR 2001 — Lucene's ``LMDirichletSimilarity``) served
    from the persisted inverted index, μ = ``LMD_MU``:

        score(q, d) = Σ_{t ∈ q∩C} log(1 + tf(t,d) / (μ·p(t|C)))
                      + |q| · log(μ / (dl + μ))

    with ``p(t|C) = cg(t) / total_tokens`` (collection statistics the
    index's ``termstats``/``scalars`` already store).  Conventions, both
    replayed by the oracle: query terms absent from the collection
    contribute nothing to the sum (p(t|C)=0 has no finite smoothed
    value), and ``|q|`` is the count of DISTINCT query terms — a literal,
    so an out-of-vocabulary term shifts every candidate by the same
    constant and never reorders.  Candidates are docs matching ≥1 query
    term (the matched-postings frame itself).

    Scale shape: the BM25 discipline — one term-bucket-pruned postings
    scan (dl denormalized, so no doclen join), one ≤|terms|-row broadcast
    from the equally-pruned termstats for cg, DEC-summed per-doc total.
    Determinism: each per-term contribution is a fixed expression of
    exact integral tf/cg/total, the sum is DECIMAL(38,18), and the
    length correction is one expression appended after the aggregate —
    round(6) last."""
    from covid19_spark.sources.index import (
        literal_term_buckets, postings_for_terms,
    )

    terms = list(dict.fromkeys(terms))
    if not index.total_tokens:
        raise ValueError(
            "index carries no total_tokens scalar (pre-v4 build?)"
        )
    tf = postings_for_terms(spark, index, terms)
    buckets = literal_term_buckets(spark, terms)
    cg = index.termstats.filter(
        F.col("tb").isin(buckets) & F.col("t").isin(terms)
    ).select("t", "cg")
    nq = float(len(terms))
    # μ·p(t|C) — exact integral cg over exact integral total, one IEEE
    # division then one multiply, identical order in the oracle
    mu_pc = F.lit(LMD_MU) * (
        F.col("cg").cast("double") / F.lit(index.total_tokens)
    )
    per_term = tf.join(F.broadcast(cg), "t").select(
        "doc_id",
        "dl",
        F.log(F.lit(1.0) + F.col("tf") / mu_pc).alias("s"),
    )
    return per_term.groupBy("doc_id").agg(
        F.round(
            (
                F.sum(F.col("s").cast("decimal(38,18)")).cast("double")
                + F.lit(nq)
                * F.log(F.lit(LMD_MU) / (F.max("dl") + F.lit(LMD_MU)))
            ),
            6,
        ).alias("score")
    )


def prefix_expand_terms(
    spark,
    index,
    prefix: str,
) -> DataFrame:
    """Prefix-query term expansion (Lucene ``PrefixQuery`` with the
    blended-rewrite cap): every indexed term starting with ``prefix``,
    capped at the ``PREFIX_CAP`` highest-df terms (ties → term asc —
    fully deterministic, unlike Lucene's seg-order tiebreak).  Returns a
    one-column frame ``t`` for the data-dependent BM25 path
    (``bm25_scores_from_index`` broadcasts it onto the postings scan).

    Scale honesty: a PREFIX cannot prune hash buckets (xxhash scatters
    lexicographic neighbors by design), so the expansion scans
    ``termstats`` — VOCABULARY-sized, not corpus-sized (the reason the
    stats dataset exists separately from postings; Lucene walks its term
    dictionary the same way).  The cap is a two-stage top-k, so the
    driver never sees more than ``PREFIX_CAP`` terms anywhere."""
    from covid19_spark.operators.series import top_k

    if not prefix:
        raise ValueError("empty prefix would expand the whole vocabulary")
    matched = index.termstats.filter(
        F.col("t").startswith(prefix)
    ).select("t", "df")
    capped = top_k(matched, "df", PREFIX_CAP, tiebreak_cols=["t"])
    return capped.select("t")


def bm25f_scores_from_index(
    spark,
    index,
    terms: Sequence[str],
    weights: dict,
) -> DataFrame:
    """BM25F (doc_id, score) for a term set served from a persisted
    FIELDED index (``sources/index.FieldedIndex``) — the weighted
    multi-field extension of Robertson, Zaragoza & Taylor (CIKM 2004,
    "Simple BM25 extension to multiple weighted fields"), the Lucene
    multi-field query shape: per-field term frequencies are
    length-normalized with THEIR field's avgdl (``B`` for every field),
    combined as the weighted sum ``tfc = Σ_f w_f · tf_f / (1 − b_f + b_f·dl_f/avgdl_f)``,
    then saturated ONCE per (term, doc):
    ``score = Σ_t idf(t) · tfc·(K1+1) / (K1 + tfc)``.

    ``weights``: field → weight (fields absent from the dict score 0 and
    are pruned from the scan).  idf uses the document frequency over ANY field
    (count of distinct docs containing the term — the combined frame's
    window count), with the main index's (N − df + 0.5)/(df + 0.5) + 1
    shape.  Degenerate equivalence pinned by test: ONE field covering
    the whole text ≡ plain BM25.

    Scale shape: the main index's one-scan discipline — a single
    term-bucket-pruned fpostings scan (static ``tb IN``/``t IN`` +
    ``field IN`` filters), per-field normalization as a when-chain over
    the few static fields (JVM expressions, no stats join), DEC-summed
    combine and total so the shuffle's order cannot move the hash."""
    from covid19_spark.sources.index import literal_term_buckets

    terms = list(dict.fromkeys(terms))
    fields = list(weights)
    if not fields:
        raise ValueError("bm25f needs at least one weighted field")
    b_of = {f: B for f in fields}
    missing = [f for f in fields if f not in index.avgdl]
    if missing:
        raise ValueError(f"fields absent from the index: {missing}")
    buckets = literal_term_buckets(spark, terms)
    pruned = index.postings.filter(
        F.col("tb").isin(buckets)
        & F.col("t").isin(terms)
        & F.col("field").isin(fields)
    ).select("t", "field", "doc_id", "tf", "dl")

    def chain(mapping):
        expr = F.lit(None).cast("double")
        for f in fields:
            expr = F.when(F.col("field") == f, F.lit(float(mapping[f]))).otherwise(expr)
        return expr

    avgdl = chain({f: index.avgdl[f] for f in fields})
    bb = chain(b_of)
    wgt = chain({f: float(weights[f]) for f in fields})
    tfn = F.col("tf") / (F.lit(1.0) - bb + bb * F.col("dl") / avgdl)
    combined = (
        pruned.select("t", "doc_id", (wgt * tfn).alias("wtfn"))
        .groupBy("t", "doc_id")
        .agg(
            F.sum(F.col("wtfn").cast("decimal(38,18)"))
            .cast("double")
            .alias("tfc")
        )
    )
    combined = combined.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("t")).cast("double")
    )
    idf = F.log(
        (F.lit(index.n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    per_term = combined.select(
        "doc_id",
        (idf * F.col("tfc") * (K1 + 1) / (F.col("tfc") + K1)).alias("s"),
    )
    return per_term.groupBy("doc_id").agg(
        F.round(
            F.sum(F.col("s").cast("decimal(38,18)")).cast("double"), 6
        ).alias("score")
    )


def dismax_scores_from_index(
    spark,
    index,
    terms: Sequence[str],
    weights: dict,
) -> DataFrame:
    """Disjunction-max fielded scoring (Lucene ``DisjunctionMaxQuery``,
    the other half of the fielded surface next to BM25F): per (term,
    doc) the score is the BEST single field's weighted contribution plus
    a tie-break of 0.3 times the others —

        dmax(t, d) = max_f s_f + 0.3 · (Σ_f s_f − max_f s_f),
        s_f = w_f · idf_f-free per-field BM25 kernel
            = w_f · tfn_f·(K1+1)/(K1 + tfn_f),
        tfn_f = tf_f / (1 − B + B·dl_f/avgdl_f)

    and the document score is ``Σ_t idf(t) · dmax(t, d)`` (idf over
    any-field df, as BM25F): a title hit is reinforced by the same word
    in the body at 0.3 of its kernel (BM25F instead sums before
    saturating).

    Plan shape is ``bm25f_scores_from_index`` exactly: one statically
    pruned fpostings scan, per-field when-chain stats, a (t, doc)
    combine whose max/sum pair is computed from the same DEC-exact
    per-field values, df window, DEC-summed total.  Determinism: the max
    is over ≤|fields| DEC-cast values, the tie-break applies as one fixed
    expression."""
    from covid19_spark.sources.index import literal_term_buckets

    terms = list(dict.fromkeys(terms))
    fields = list(weights)
    if not fields:
        raise ValueError("dismax needs at least one weighted field")
    b_of = {f: B for f in fields}
    missing = [f for f in fields if f not in index.avgdl]
    if missing:
        raise ValueError(f"fields absent from the index: {missing}")
    buckets = literal_term_buckets(spark, terms)
    pruned = index.postings.filter(
        F.col("tb").isin(buckets)
        & F.col("t").isin(terms)
        & F.col("field").isin(fields)
    ).select("t", "field", "doc_id", "tf", "dl")

    def chain(mapping):
        expr = F.lit(None).cast("double")
        for f in fields:
            expr = F.when(F.col("field") == f, F.lit(float(mapping[f]))).otherwise(expr)
        return expr

    avgdl = chain({f: index.avgdl[f] for f in fields})
    bb = chain(b_of)
    wgt = chain({f: float(weights[f]) for f in fields})
    tfn = F.col("tf") / (F.lit(1.0) - bb + bb * F.col("dl") / avgdl)
    kernel = wgt * (tfn * (K1 + 1) / (tfn + K1))
    combined = (
        pruned.select("t", "doc_id", kernel.alias("s_f"))
        .groupBy("t", "doc_id")
        .agg(
            F.max(F.col("s_f").cast("decimal(38,18)")).cast("double").alias("mx"),
            F.sum(F.col("s_f").cast("decimal(38,18)")).cast("double").alias("sm"),
        )
        .select(
            "t",
            "doc_id",
            (
                F.col("mx")
                + F.lit(0.3) * (F.col("sm") - F.col("mx"))
            ).alias("dmax"),
        )
    )
    combined = combined.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("t")).cast("double")
    )
    idf = F.log(
        (F.lit(index.n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    per_term = combined.select("doc_id", (idf * F.col("dmax")).alias("s"))
    return per_term.groupBy("doc_id").agg(
        F.round(
            F.sum(F.col("s").cast("decimal(38,18)")).cast("double"), 6
        ).alias("score")
    )


def phrase_match_from_index(
    spark,
    index,
    phrase: Sequence[str],
) -> DataFrame:
    """Exact phrase retrieval from the positional inverted index
    (``sources/index`` — the Lucene PhraseQuery shape): a document
    matches when the phrase's terms appear at CONSECUTIVE positions.
    Returns (doc_id, n_occurrences) for every matching document.

    Plan shape: one term-bucket-pruned postings scan per phrase term
    (≤|phrase| bucket directories opened, positions column read only
    here), inner-joined on doc_id — candidate docs shrink at every join
    (a doc lacking ANY term drops immediately), then the adjacency test
    is a per-row array fold: fold_i = intersect(shift(fold_{i-1}), pos_i)
    — after step i the fold holds the positions where the (i+1)-term
    prefix ENDS, so |fold_last| counts whole-phrase occurrences.  All
    JVM array expressions, zero shuffles beyond the |matching postings|
    joins; exact integer counts (positions are distinct within a doc).

    Repeated terms are fine (``["spark", "spark"]`` self-joins the same
    pruned posting list under per-step aliases)."""
    phrase = list(phrase)
    if len(phrase) < 2:
        raise ValueError(f"a phrase needs >= 2 terms, got {phrase!r}")
    from covid19_spark.sources.index import literal_term_buckets

    literal_term_buckets(spark, phrase)  # ONE constant select resolves all
    joined = None
    for i, t in enumerate(phrase):
        b = literal_term_buckets(spark, [t])  # memoized: no job
        side = index.postings.filter(
            F.col("tb").isin(b) & (F.col("t") == F.lit(t))
        ).select("doc_id", F.col("pos").alias(f"__pos{i}"))
        joined = side if joined is None else joined.join(side, "doc_id")
    fold = F.col("__pos0")
    for i in range(1, len(phrase)):
        fold = F.array_intersect(
            F.transform(fold, lambda p: p + 1), F.col(f"__pos{i}")
        )
    return (
        joined.select(
            "doc_id", F.size(fold).cast("long").alias("n_occurrences")
        )
        .filter(F.col("n_occurrences") > 0)
    )


def bm25_topk_multi(
    spark,
    index,
    queries: DataFrame,
) -> DataFrame:
    """BM25 top-10 for a BATCH of queries from the persisted inverted
    index — one pruned postings scan answers every query at once.
    ``queries``: (query_id, terms ARRAY<STRING>).  Output:
    (query_id, doc_id, rank, score), rank 1-based per query
    (score desc, doc_id asc — fully tiebroken), rows with rank > 10
    dropped.  A query whose terms match no postings contributes no
    output rows.

    Plan shape: the batch's DISTINCT terms prune the postings ONCE
    (broadcast (tb, t) join via ``postings_for_terms``); df and the
    per-(term, doc) partial score are computed on that per-(t, doc)-unique
    frame BEFORE the query join (joining first would duplicate posting
    rows per query and corrupt the df window count — the
    ``postings_for_terms`` dedup contract, applied at the plan level);
    then one broadcast join fans partials out to the queries and a
    per-query DEC-summed aggregate + top-k window finishes.  Per-query
    scores are bit-identical to ``bm25_scores_from_index`` run alone:
    same per-term doubles, and DECIMAL(38,18) addition is exact and
    associative, so the sum order the multi-query shuffle picks cannot
    change the result (pinned by test)."""
    from covid19_spark.sources.index import postings_for_terms

    qt = queries.select(
        F.col("query_id"), F.explode("terms").alias("t")
    ).dropDuplicates(["query_id", "t"])
    tf = postings_for_terms(spark, index, qt.select("t"))
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("t")).cast("double")
    )
    idf = F.log(
        (F.lit(index.n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    per_term = tf.select(
        "t",
        "doc_id",
        (
            idf
            * (F.col("tf") * (K1 + 1))
            / (
                F.col("tf")
                + K1 * (1 - B + B * F.col("dl") / F.lit(index.avgdl))
            )
        ).alias("s"),
    )
    scores = (
        per_term.join(F.broadcast(qt), "t")
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(
                F.sum(F.col("s").cast("decimal(38,18)")).cast("double"), 6
            ).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "doc_id", "rank", "score")
    )


def proximity_match_from_index(
    spark,
    index,
    terms: Sequence[str],
) -> DataFrame:
    """Ordered proximity (sloppy-phrase) retrieval from the positional
    inverted index — the within-slop-2 companion to
    ``phrase_match_from_index`` that completes the Lucene PhraseQuery
    surface (VERDICT r12 task #7).  A document matches when the terms
    appear IN ORDER with at most 2 intervening tokens between each
    consecutive pair.
    Returns (doc_id, n_matches) where n_matches counts the DISTINCT
    positions at which a valid match ends — the set-fold generalization
    of the exact-phrase occurrence count (deterministic and
    double-count-free where enumerating full position tuples is not).

    Plan shape is identical to the exact phrase: one term-bucket-pruned
    postings scan per term (≤|terms| bucket directories opened),
    doc_id inner joins shrink candidates at every step, then a per-row
    array fold — fold_i = filter(pos_i, q → ∃p∈fold_{i-1}: 1 ≤ q−p ≤
    3) — all JVM array expressions, zero extra shuffles.  Positions
    are distinct within a doc, so each fold is a set and the final size
    is exact."""
    terms = list(terms)
    if len(terms) < 2:
        raise ValueError(f"a proximity query needs >= 2 terms, got {terms!r}")
    from covid19_spark.sources.index import literal_term_buckets

    literal_term_buckets(spark, terms)  # ONE constant select resolves all
    joined = None
    for i, t in enumerate(terms):
        b = literal_term_buckets(spark, [t])  # memoized: no job
        side = index.postings.filter(
            F.col("tb").isin(b) & (F.col("t") == F.lit(t))
        ).select("doc_id", F.col("pos").alias(f"__pos{i}"))
        joined = side if joined is None else joined.join(side, "doc_id")
    gap = 3  # slop 2 + 1

    # factory (not a default-arg lambda: PySpark introspects lambda ARITY,
    # and a second parameter would select filter's (element, index) form)
    def _step(prev: Column, pos_col: Column) -> Column:
        return F.filter(
            pos_col,
            lambda q: F.exists(
                prev, lambda p: (q - p >= 1) & (q - p <= F.lit(gap))
            ),
        )

    fold = F.col("__pos0")
    for i in range(1, len(terms)):
        fold = _step(fold, F.col(f"__pos{i}"))
    return (
        joined.select(
            "doc_id", F.size(fold).cast("long").alias("n_matches")
        )
        .filter(F.col("n_matches") > 0)
    )


def unordered_window_count_from_index(
    spark,
    index,
    term_a: str,
    term_b: str,
) -> DataFrame:
    """Unordered-window co-occurrence counts from the positional index —
    the ``uw(N)`` feature of the Sequential Dependence Model (Metzler &
    Croft 2005, "A Markov random field model for term dependencies"):
    for each document, the number of position pairs (p ∈ pos(term_a),
    q ∈ pos(term_b)) with p ≠ q and |p − q| ≤ 7 (window N = 8).  Exact integer
    counts, engine-portable (the DuckDB twin is a position self-join with
    the same predicate — for term_a == term_b both (p, q) and (q, p)
    count, consistently in both engines).

    Plan shape: two term-bucket-pruned postings scans, one doc_id inner
    join, one per-row array fold (aggregate over pos_a of the pos_b
    within-window filter size) — zero shuffles beyond the candidate
    join.  Returns (doc_id, n_uw) for docs containing both terms with at
    least one qualifying pair."""
    from covid19_spark.sources.index import literal_term_buckets

    literal_term_buckets(spark, [term_a, term_b])
    sides = []
    for i, t in enumerate((term_a, term_b)):
        b = literal_term_buckets(spark, [t])
        sides.append(
            index.postings.filter(
                F.col("tb").isin(b) & (F.col("t") == F.lit(t))
            ).select("doc_id", F.col("pos").alias(f"__pos{i}"))
        )
    joined = sides[0].join(sides[1], "doc_id")
    w = 7
    n_uw = F.aggregate(
        F.col("__pos0"),
        F.lit(0),
        lambda acc, p: acc
        + F.size(
            F.filter(
                F.col("__pos1"),
                lambda q: (F.abs(q - p) <= F.lit(w)) & (q != p),
            )
        ),
    )
    return (
        joined.select("doc_id", n_uw.cast("long").alias("n_uw"))
        .filter(F.col("n_uw") > 0)
    )


def snippet_windows_from_index(
    spark,
    index,
    docs: DataFrame,
    terms: Sequence[str],
) -> DataFrame:
    """Search-result snippet extraction (hit highlighting) from the
    positional index: for the BM25 top-10 documents, find the
    10-token window containing the MOST query-term occurrences
    (ties → earliest start) and cut the snippet text from the document.
    Output: (doc_id, score, rank, best_start, n_hits, snippet).

    Deterministic by construction: candidate window starts are exactly
    the query-term positions (an optimal window can always be shifted to
    start ON a hit), hits are exact integers, and the (max hits, min
    start) argmax is a lexicographic struct max — no floats beyond the
    BM25 score itself.

    Scale shape: ranking + positions are index-served (term-pruned
    scans), and (index v4, VERDICT r13 task #4) the cut itself is too: the window's tokens are sliced from
    the index's per-doc start-offset/length arrays (``doclen.toff`` /
    ``doclen.tlen`` — Lucene's stored offsets) and extracted with
    per-token ``substr`` against the document text, so NOTHING is
    re-tokenized — the serve reads 10 tokens' worth of chars from
    each of the 10 winners however long the documents are.  Token-wise
    extraction (not one start-to-end substring) is what keeps the output
    bit-identical to re-tokenizing the ``text``: runs of separators
    collapse to the single spaces ``array_join`` emits (pinned by test
    against a re-tokenize reference).

    The 10 winners are COLLECTED driver-side (10 rows — the sanctioned
    bounded class of the PRF term collect / the ANN probed-list collect)
    and re-seeded as a literal frame whose ids prune every downstream
    scan with a static ``doc_id IN (...)``: the doc-store text read and
    the doclen offset read touch 10 documents' row groups, not the
    corpus — without the pushdown both stores are corpus-scanned just to
    keep 10 rows after the broadcast join, which is the difference between
    10 seeks and a full pass at 100 TB."""
    from covid19_spark.operators.series import top_k
    from covid19_spark.sources.index import literal_term_buckets

    terms = list(dict.fromkeys(terms))
    # two-stage top-k (TakeOrderedAndProject), never a full-frame rank —
    # the matched-docs frame grows with df at scale
    ranked = top_k(
        bm25_scores_from_index(spark, index, terms),
        "score", 10, tiebreak_cols=["doc_id"],
    )
    winners = ranked.collect()  # ≤ 10 rows, by construction
    top = spark.createDataFrame(winners, schema=ranked.schema)
    doc_ids = [r["doc_id"] for r in winners]
    # per-term positions for the top docs only (left: a top doc may lack
    # some terms), merged into one sorted hit-position list per doc
    merged = top
    for i, t in enumerate(terms):
        b = literal_term_buckets(spark, [t])
        side = index.postings.filter(
            F.col("tb").isin(b)
            & (F.col("t") == F.lit(t))
            # winners-only row groups on top of the term-bucket pruning
            & F.col("doc_id").isin(doc_ids)
        ).select("doc_id", F.col("pos").alias(f"__pos{i}"))
        merged = merged.join(side, "doc_id", "left")
    all_pos = F.array_sort(
        F.array_distinct(
            F.concat(
                *[
                    F.coalesce(F.col(f"__pos{i}"), F.array().cast("array<int>"))
                    for i in range(len(terms))
                ]
            )
        )
    )
    merged = merged.withColumn("__hits", all_pos)
    w = 9  # window width 10
    best = F.array_max(
        F.transform(
            F.col("__hits"),
            lambda p: F.struct(
                F.size(
                    F.filter(
                        F.col("__hits"), lambda q: (q >= p) & (q <= p + F.lit(w))
                    )
                ).alias("h"),
                (-p).alias("negp"),
            ),
        )
    )
    scored = merged.select(
        "doc_id", "score", "rank",
        (-best["negp"]).cast("long").alias("best_start"),
        best["h"].cast("long").alias("n_hits"),
    )
    joined = scored.join(
        docs.filter(F.col("doc_id").isin(doc_ids)).select("doc_id", "text"),
        "doc_id",
    )
    # slice the window's (start, len) pairs from the index's per-doc offset
    # arrays and substr each token out of the text — zero tokenization at
    # serve time.  The doclen scan is statically pruned to the k winners
    # (column pruning keeps dl-only readers unaffected by toff/tlen).
    joined = joined.join(
        index.doclen.filter(F.col("doc_id").isin(doc_ids)).select(
            "doc_id", "toff", "tlen"
        ),
        "doc_id",
    )
    lowered = F.lower(F.col("text"))
    snippet = F.array_join(
        F.zip_with(
            F.slice("toff", F.col("best_start") + 1, 10),
            F.slice("tlen", F.col("best_start") + 1, 10),
            lambda o, l: lowered.substr(o + 1, l),
        ),
        " ",
    )
    return (
        joined.select(
            "doc_id", "score",
            F.col("rank").cast("long").alias("rank"),
            "best_start", "n_hits",
            snippet.alias("snippet"),
        )
        .orderBy("rank")
    )


def rrf_fuse(ranked: Sequence[tuple[str, DataFrame]]) -> DataFrame:
    """Fuse named rank lists into one RRF-ordered list per query
    (``1 / (RRF_K0 + rank)`` per list).

    ``ranked``: (name, frame) pairs; each frame has ``query_id``,
    ``doc_id`` and an integer ``rank`` (1-based, UNIQUE per query —
    a duplicated (query, id) row would fan out through the full-outer
    merge chain).
    Output: one row per (query, doc) seen by ANY retriever, with each
    retriever's rank as ``<name>_rank`` (NULL where it did not rank the
    doc), the fused ``rrf_score``, and ``fused_rank`` (row_number over
    score desc, id asc — fully tiebroken); rows with fused_rank >
    ``RRF_TOP`` are dropped.

    The join is full-outer on (query, id) so a doc surfaced by only one
    retriever still competes — that is RRF's point; an inner join would
    silently demand consensus.  With ``n`` retrievers the fused score is
    the expression ``c_1 + (c_2 + ...)`` in the given list order —
    deterministic regardless of row order or partitioning.
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    names = [name for name, _ in ranked]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate retriever names: {names}")

    out: DataFrame | None = None
    for name, df in ranked:
        side = df.select(
            F.col("query_id"),
            F.col("doc_id"),
            F.col("rank").cast("long").alias(f"{name}_rank"),
        )
        out = side if out is None else out.join(
            side, ["query_id", "doc_id"], "full_outer"
        )

    score: Column | None = None
    for name in names:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(float(RRF_K0)) + F.col(f"{name}_rank")),
            F.lit(0.0),
        )
        score = term if score is None else score + term
    out = out.withColumn("rrf_score", score)

    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return (
        out.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= RRF_TOP)
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
) -> DataFrame:
    """Maximal-marginal-relevance diversified re-ranking (Carbonell &
    Goldstein, SIGIR 1998): greedily pick 8 of a 20-candidate shortlist,
    each the candidate maximizing
    ``λ·sim(q, d) − (1−λ)·max_{s ∈ selected} sim(d, s)`` with λ = 0.75 —
    the standard redundancy-suppressing re-rank a RAG stack runs after
    retrieval.

    Scale shape: the corpus-sized work is the shortlist retrieval
    (``cosine_topk`` here; the persisted ANN index at 100 TB); MMR itself
    is inherently sequential but only over each query's ≤20
    candidates, so it runs as a per-row JVM fold (``F.aggregate`` over the
    step sequence, the ``holt_winters`` ring-state discipline) on the
    collected candidate array — zero Python, zero extra shuffles beyond
    the one |queries|-sized groupBy.

    Determinism: binary-exact λ = 0.75, left-to-right
    double folds for every dot product, and the argmax tiebreaks on
    ``-id`` via lexicographic struct max — the DuckDB twin replays the
    identical list expressions inside a recursive CTE.

    Output: query_id, mmr_rank (1-based selection order), doc_id,
    rel (query-candidate cosine), mmr (marginal score at selection).

    Constraint: ``vec_id`` must be an integral type that fits in BIGINT —
    the fold state is typed ``struct<id:bigint,...>`` and the argmax
    tiebreak negates the id (``-id``), so string or wider ids are
    rejected here rather than silently cast.
    """
    from covid19_spark.operators.similarity import cosine, cosine_topk

    id_t = dict(corpus.dtypes).get("vec_id")
    if id_t not in {"tinyint", "smallint", "int", "bigint"}:
        raise TypeError(
            "mmr_rerank requires an integral 'vec_id' (fold state is "
            f"struct<id:bigint,...> and the tiebreak negates it); got {id_t}"
        )
    cands = cosine_topk(corpus, queries, k=20)
    cvecs = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    perq = (
        cands.join(cvecs, "neighbor_id")
        .groupBy("query_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("rank").alias("r"),
                        F.col("neighbor_id").alias("id"),
                        F.col("sim").alias("sim"),
                        F.col("v").alias("v"),
                    )
                )
            ).alias("cands")
        )
    )

    sel_t = "array<struct<id:bigint,v:array<double>>>"
    out_t = "array<struct<id:bigint,rel:double,mmr:double,step:int>>"
    # NULL-seeded arrays would poison concat; the fold starts from true
    # EMPTY typed arrays
    init = F.struct(
        F.array().cast(sel_t).alias("sel"), F.array().cast(out_t).alias("out")
    )

    def step(acc, stepno):
        rem = F.filter(
            F.col("cands"),
            lambda cnd: ~F.array_contains(
                F.transform(acc["sel"], lambda s: s["id"]), cnd["id"]
            ),
        )

        def score(cnd):
            pen = F.coalesce(
                F.array_max(
                    F.transform(acc["sel"], lambda s: cosine(cnd["v"], s["v"]))
                ),
                F.lit(0.0),
            )
            sc = F.lit(0.75) * cnd["sim"] - F.lit(0.25) * pen
            return F.struct(
                sc.alias("s"), (-cnd["id"]).alias("negid"), cnd.alias("c")
            )

        best = F.array_max(F.transform(rem, score))
        sel2 = F.concat(
            acc["sel"],
            F.array(
                F.struct(
                    best["c"]["id"].alias("id"), best["c"]["v"].alias("v")
                )
            ),
        )
        out2 = F.concat(
            acc["out"],
            F.array(
                F.struct(
                    best["c"]["id"].alias("id"),
                    best["c"]["sim"].alias("rel"),
                    best["s"].alias("mmr"),
                    stepno.cast("int").alias("step"),
                )
            ),
        )
        return F.struct(sel2.alias("sel"), out2.alias("out"))

    steps = F.sequence(F.lit(1), F.least(F.lit(8), F.size("cands")))
    folded = F.aggregate(steps, init, step)
    return (
        perq.select("query_id", F.explode(folded["out"]).alias("o"))
        .select(
            "query_id",
            F.col("o.step").alias("mmr_rank"),
            F.col("o.id").alias("doc_id"),
            F.col("o.rel").alias("rel"),
            F.col("o.mmr").alias("mmr"),
        )
    )
