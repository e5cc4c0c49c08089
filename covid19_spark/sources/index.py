"""Persisted inverted index for the lexical retrieval family.

Build ONCE per corpus, serve every lexical query from the index — the
production posture of any BM25 stack (Lucene's segments, the inverted
statistics every IR paper assumes): at 100 TB, re-tokenizing the corpus
per query is a corpus-sized pass that the index replaces with a
term-pruned scan over grouped postings.  One tokenize pass produces four
engine-portable parquet datasets under ``<path>/``:

    postings/   (t STRING, doc_id, tf DOUBLE, dl DOUBLE,
                 pos ARRAY<INT>, off ARRAY<INT>)         PARTITIONED BY tb
    doclen/     (doc_id, dl DOUBLE, toff ARRAY<INT>, tlen ARRAY<INT>)
    termstats/  (t STRING, df DOUBLE, cg BIGINT) PARTITIONED BY tb
    scalars/    one row: n, avgdl, total_tokens, fingerprint, n_buckets

``dl`` is DENORMALIZED into every posting row (Lucene's per-doc norms,
stored in the postings lists for the same reason): a BM25 round is then
ONE term-pruned scan — no doc-length join at query time — at the cost of
8 bytes per posting.  ``df`` is likewise derived from the pruned tf frame
itself (a window count over ``t``), so neither small join survives in
the serving path.  ``pos`` carries the sorted token positions (Lucene's
positions list) for phrase/proximity queries; BM25 consumers never read
the column — parquet column pruning keeps rank-only scans paying for
(doc_id, tf, dl) alone.  ``off`` (index v4, VERDICT r13 task #4) carries
the matching START char offsets into ``lower(text)`` — Lucene's
``IndexOptions...AND_OFFSETS`` — aligned element-for-element with
``pos``; ``doclen``'s ``toff``/``tlen`` are the per-document token
start-offset/length arrays (the stored-field offsets Lucene's postings
highlighter reads), derived from the persisted postings, which let
snippet extraction cut hit windows by ``substr`` without re-tokenizing
even the winning documents.

``tb`` is a hash bucket of the term (``pmod(xxhash64(t), n_buckets)``).
A literal-term query computes its buckets driver-side and filters
``tb IN (...)`` — a static ``PartitionFilters`` on the postings scan, so
a 7-term query opens ≤7 of ``n_buckets`` directories no matter how large
the corpus (the partition-pruning discipline of ``operators/ann_index``,
applied to terms instead of IVF lists).  Data-dependent term frames join
on (tb, t) with the small side broadcast.

Exactness contract (why serving from the index is hash-identical to the
inline tokenize the registry oracles replay):
- tf/df/dl/cg are COUNTS — integral doubles/longs, exact in parquet and
  exact under any summation order below 2^53;
- avgdl = total_tokens / n is ONE IEEE division of two exact integers,
  bit-equal to ``avg(dl)`` over integral dl (every partial sum of
  integers is exact), which is what both engines' inline forms compute;
- the BM25 score expression itself stays in the query (the index stores
  statistics, never scores).

Freshness: ``scalars`` records a fingerprint (size + mtime of the source
``documents.parquet``); ``ensure_inverted_index`` rebuilds on mismatch.
At cluster scale the fingerprint seam is the dataset snapshot/version id
(Delta table version, partition watermark) — same contract, cheaper
check.  Reference provenance: the reference keeps no text index (its
corpus ops are Kafka-Streams KTables, covid19-patient-analyzer
StateStores); this module is the SURVEY §6 LLM-pipeline mandate's
retrieval-serving shape.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid19_spark.session import use_fast_committer
from covid19_spark.sources.meta_io import (
    meta_matches, read_meta_rows, write_meta_table,
)
from covid19_spark.sources.scratch import ensure_store
from covid19_spark.sources.tables import load_table

N_TERM_BUCKETS = 64
_INDEX_VERSION = 4  # bump on any layout/schema change: stale caches self-invalidate


class InvertedIndex(NamedTuple):
    """An opened index: lazy postings/doclen/termstats scans + the scalar
    statistics (one collected row — contract-small)."""

    postings: DataFrame  # tb, t, doc_id, tf, dl, pos, off
    doclen: DataFrame  # doc_id, dl, toff, tlen
    termstats: DataFrame  # tb, t, df, cg
    n_docs: float
    avgdl: float
    n_buckets: int
    # Σ over the collection of every term's occurrence count — the |C| of
    # language-model smoothing (p(t|C) = cg/total_tokens). Defaulted so
    # hand-built tuples predating r14 stay valid.
    total_tokens: float = 0.0


def term_bucket(col) -> F.Column:
    return F.pmod(F.xxhash64(col), F.lit(N_TERM_BUCKETS)).cast("int")


def corpus_fingerprint(sf_dir: str) -> str:
    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    return f"v{_INDEX_VERSION}:{st.st_size}:{st.st_mtime_ns}"


def default_index_path(sf_dir: str) -> str:
    base = os.path.basename(sf_dir.rstrip("/"))
    return f"/tmp/covid19_spark_invidx_{base}"


def tokenize_pos_off(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, p, t, off): every non-empty token of the lowercased,
    space-split text, with its position ``p`` among the surviving tokens
    (row_number in raw order) and its START char offset ``off`` into
    ``lower(text)`` (0-based).  The raw single-space split is position-
    exact by construction: token ``i``'s offset is the prefix sum of
    ``len + 1`` over the UNFILTERED tokens before it (empty tokens are
    zero-length but still consume their separator), computed as one
    per-doc window prefix sum — the same doc-keyed exchange the postings
    group-by needs anyway.  ``p`` keeps the FILTERED-sequence semantics,
    so downstream ``pos`` arrays are bit-identical to the v3 build."""
    from pyspark.sql import Window

    raw = docs.select(
        id_col,
        F.posexplode(F.split(F.lower(text_col), " ")).alias("pr", "t"),
    )
    w = Window.partitionBy(id_col).orderBy("pr")
    raw = raw.withColumn(
        "off",
        F.coalesce(
            F.sum(F.length("t") + 1).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("int"),
    )
    return raw.filter(F.col("t") != "").select(
        id_col,
        (F.row_number().over(w) - 1).alias("p"),
        "t",
        "off",
    )


def _pa_scalars_table(n: float, avgdl: float, total: float, fingerprint: str):
    """The scalars dataset as an arrow table with the exact Spark-schema
    twin (n DOUBLE, avgdl DOUBLE, total_tokens DOUBLE, fingerprint STRING,
    n_buckets INT) — keeps driver-written stores readable by
    ``spark.read.parquet`` and DuckDB identically to the Spark-written
    ones from earlier rounds."""
    import pyarrow as pa

    return pa.table(
        {
            "n": pa.array([n], pa.float64()),
            "avgdl": pa.array([avgdl], pa.float64()),
            "total_tokens": pa.array([total], pa.float64()),
            "fingerprint": pa.array([fingerprint], pa.string()),
            "n_buckets": pa.array([N_TERM_BUCKETS], pa.int32()),
        }
    )


def _delta_postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, t, tf, dl, tb) posting rows for a document frame — the
    grouped/denormalized form both the full build and the incremental
    append write.  dl rides on every posting row (the Lucene-norms
    denormalization), computed by a per-doc window over the (doc, t)
    frame; correct for an append because postings are DOC-granular and
    append deltas carry only new doc ids (``append_inverted_index``'s
    caller contract)."""
    from pyspark.sql import Window

    grouped = (
        tokenize_pos_off(docs, id_col, text_col)
        .groupBy("doc_id", "t")
        .agg(
            F.count(F.lit(1)).cast("double").alias("tf"),
            # sorted (position, offset) pairs per posting — pos is Lucene's
            # positions list (what phrase/proximity queries intersect), off
            # the aligned start-char offsets (v4); BM25 consumers read
            # neither (parquet column pruning)
            F.sort_array(F.collect_list(F.struct("p", "off"))).alias("po"),
        )
        .select(
            "doc_id",
            "t",
            "tf",
            F.transform("po", lambda x: x["p"]).alias("pos"),
            F.transform("po", lambda x: x["off"]).alias("off"),
        )
    )
    return grouped.withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("doc_id"))
    ).withColumn("tb", term_bucket(F.col("t")))


def _rewrite_derived(
    spark: SparkSession, path: str, n_docs: float, fingerprint: str
) -> None:
    """Recompute doclen/termstats/scalars from the PERSISTED postings —
    doc- and vocabulary-sized aggs, never a corpus re-tokenize.  ``n_docs``
    is passed in because zero-token documents leave no posting rows but
    still count toward n/avgdl."""
    import glob

    from pyspark.sql import Observation

    persisted = spark.read.parquet(f"{path}/postings")
    # degenerate store (zero posting rows): partitioned/agg writes of zero
    # rows emit NO files and the read-back cannot infer a schema — force
    # one schema-only file per derived dataset instead.  Detected by the
    # tb= directory glob (a partitioned write emits tb= dirs iff it wrote
    # rows; the degenerate store is one root schema-only file) instead of
    # the former ``take(1)`` probe — same answer, zero Spark jobs (r14:
    # every job saved in this maintenance path is ~0.3-0.5 s of fixed
    # submission overhead at bench scale).
    empty = not glob.glob(f"{path}/postings/tb=*")
    # doclen (v4) also carries the per-doc token start-offset/length
    # arrays for substr-based snippet cutting: explode each posting's
    # aligned (pos, off) pairs — occurrence-sized, i.e. the same Σtf data
    # volume the postings scan itself reads, never a corpus re-tokenize —
    # and reassemble them in token order.  dl = occurrence count ≡ Σtf.
    occ = persisted.select(
        "doc_id",
        F.length("t").alias("l"),
        F.explode(F.arrays_zip("pos", "off")).alias("z"),
    )
    doclen = (
        occ.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("double").alias("dl"),
            F.sort_array(
                F.collect_list(F.struct(F.col("z.pos").alias("p"),
                                        F.col("z.off").alias("o"), "l"))
            ).alias("po"),
        )
        .select(
            "doc_id",
            "dl",
            F.transform("po", lambda x: x["o"]).alias("toff"),
            F.transform("po", lambda x: x["l"]).alias("tlen"),
        )
    )
    if empty:
        doclen = doclen.repartition(1)
    termstats = (
        persisted.groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("double").alias("df"),
            F.sum("tf").cast("long").alias("cg"),
        )
        .withColumn("tb", term_bucket(F.col("t")))
    )
    # total tokens = Σtf ≡ Σcg, observed ON the termstats write itself
    # (CollectMetrics rides the same job) instead of the former dedicated
    # ``postings.groupBy().sum(tf).collect()`` job: one fewer full read of
    # the postings store per rewrite, and the value is identical — cg is
    # the exact integral per-term Σtf, so Σcg over longs equals the double
    # Σtf bit-for-bit for any real corpus (counts ≪ 2^53).
    obs = Observation()
    termstats = termstats.observe(obs, F.sum("cg").alias("s"))

    def _write_doclen() -> None:
        doclen.write.mode("overwrite").parquet(f"{path}/doclen")

    def _write_termstats() -> None:
        if empty:
            termstats.repartition(1).write.mode("overwrite").parquet(
                f"{path}/termstats"
            )
        else:
            (
                termstats.repartition("tb")
                .write.mode("overwrite")
                .partitionBy("tb")
                .parquet(f"{path}/termstats")
            )

    # The two derived writes are independent jobs over the same persisted
    # postings (different grouping keys, different output dirs): submit
    # them from two driver threads so the second job back-fills executors
    # freed by the first one's task tail (guide §2.6) instead of paying
    # two full job latencies in sequence.  Job descriptions/locals are
    # thread-local; exceptions propagate via the futures.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_doclen = pool.submit(_write_doclen)
        f_termstats = pool.submit(_write_termstats)
        f_doclen.result()
        f_termstats.result()
    total = float(obs.get["s"] or 0.0)
    # avgdl over ALL docs (zero-token docs contribute dl=0 to the inline
    # avg and no doclen row here — same mean either way)
    avgdl = total / n_docs if n_docs else 0.0
    # one metadata row: written driver-side (meta_io), NOT through a Spark
    # job — the former createDataFrame→repartition(1)→write cost ~0.5-0.7 s
    # of shuffle/commit overhead per call for 40 bytes of data
    write_meta_table(
        f"{path}/scalars",
        _pa_scalars_table(float(n_docs), float(avgdl), float(total),
                          fingerprint),
    )


def build_inverted_index_from(
    docs: DataFrame,
    path: str,
    fingerprint: str = "",
    derived: bool = True,
) -> float:
    """One corpus pass over a ``(doc_id, text)`` document FRAME → the four
    datasets.  The only corpus-sized work is the tokenize + (doc_id, t)
    combine; everything else derives from the grouped postings.  Returns
    the document count.  ``derived=False`` writes ONLY the postings — for
    a build that will be appended to immediately (the derived datasets
    would be recomputed and overwritten by the append anyway); such an
    index is not servable until an append (or ``_rewrite_derived``)
    lands the derived datasets."""
    import glob

    from pyspark.sql import Observation

    spark = docs.sparkSession
    use_fast_committer(spark)  # 4 writes per build; v1 job-commit costs ~4.5s each
    # the document count is OBSERVED on the docs rows flowing into the
    # postings write (CollectMetrics above the caller's frame) instead of
    # a dedicated ``docs.count()`` job afterwards — the tokenize pass
    # already reads every doc row exactly once (r14 job-count cut)
    obs = Observation()
    docs = docs.select("doc_id", "text").observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    postings = _delta_postings(docs, "doc_id", "text")
    # one shuffle onto the bucket id before the partitioned write — the
    # files-per-partition control of ann_index.write_ivfpq_index
    (
        postings.repartition("tb")
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(f"{path}/postings")
    )
    if not glob.glob(f"{path}/postings/tb=*"):
        # degenerate corpus (every document tokenizes to nothing): the
        # partitioned write of zero rows emitted NO files, and the
        # read-back could not infer a schema.  Write ONE schema-only file
        # instead (tb rides as a data column; pruning filters still apply
        # over the zero rows) so the index stays servable.  Checked by
        # glob AFTER the write — an eager emptiness probe on the postings
        # frame would cost a tokenize+shuffle job on every normal build.
        postings.repartition(1).write.mode("overwrite").parquet(
            f"{path}/postings"
        )
    n = float(obs.get["n"])
    if derived:
        _rewrite_derived(spark, path, n, fingerprint)
    return n


def build_inverted_index(
    spark: SparkSession, sf_dir: str, path: str | None = None
) -> str:
    """Build for an sf_dir's documents table, stamped with the source-file
    fingerprint ``ensure_inverted_index`` validates against."""
    path = path or default_index_path(sf_dir)
    build_inverted_index_from(
        load_table(spark, "documents", sf_dir), path,
        fingerprint=corpus_fingerprint(sf_dir),
    )
    return path


def append_inverted_index(
    docs_delta: DataFrame,
    path: str,
    n_prev: float | None = None,
) -> None:
    """Add NEW ``(doc_id, text)`` documents to an existing index without
    touching its rows —
    the daily-ingest shape (Lucene's new-segment story at parquet
    granularity): the delta is tokenized/grouped alone (postings are
    doc-granular, so new docs append whole rows; nothing existing is
    rewritten beyond gaining files in its term buckets) and the
    vocabulary-/doc-sized derived datasets are recomputed from the
    persisted postings — never a corpus re-tokenize.

    Caller contract: delta ids must be new (append does not dedup — run
    exact dedup upstream).  The
    result is bit-identical to a full rebuild over base ∪ delta: counts
    are exact integers and every derived stat is a deterministic function
    of the postings multiset (pinned by the ``bm25_incremental_index``
    registry differential).

    A servable base keeps its fingerprint (read from its scalars with its
    count); a derived-less base build passes its count in ``n_prev`` and
    has no fingerprint."""
    import glob

    from pyspark.sql import Observation

    spark = docs_delta.sparkSession
    use_fast_committer(spark)
    fingerprint = ""
    if n_prev is None:
        scalars = read_meta_rows(f"{path}/scalars")[0]
        n_prev, fingerprint = float(scalars["n"]), scalars["fingerprint"]
    # delta count observed on the append write (same job-count cut as the
    # build path)
    obs = Observation()
    docs_delta = docs_delta.select("doc_id", "text").observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    delta = _delta_postings(docs_delta, "doc_id", "text")
    # a degenerate (zero-token) base is stored as ONE schema-only
    # unpartitioned file (see build_inverted_index_from); the first real
    # append must establish the partitioned layout with OVERWRITE — an
    # append would mix root files with tb= directories
    empty_base = not glob.glob(f"{path}/postings/tb=*") and (
        spark.read.parquet(f"{path}/postings").take(1) == []
    )
    (
        delta.repartition("tb")
        .write.mode("overwrite" if empty_base else "append")
        .partitionBy("tb")
        .parquet(f"{path}/postings")
    )
    if empty_base and not glob.glob(f"{path}/postings/tb=*"):
        # zero-token delta onto the degenerate base: the overwrite emitted
        # no files — restore the schema-only store (post-write glob check,
        # same rationale as build_inverted_index_from)
        delta.repartition(1).write.mode("overwrite").parquet(
            f"{path}/postings"
        )
    _rewrite_derived(
        spark, path, n_prev + float(obs.get["n"]), fingerprint
    )


def read_inverted_index(spark: SparkSession, path: str) -> InvertedIndex:
    # scalars is ONE metadata row by contract: read it driver-side instead
    # of submitting a Spark job per open (every serve query opens the
    # index, so this was a fixed per-query job)
    row = read_meta_rows(f"{path}/scalars")[0]
    return InvertedIndex(
        postings=spark.read.parquet(f"{path}/postings"),
        doclen=spark.read.parquet(f"{path}/doclen"),
        termstats=spark.read.parquet(f"{path}/termstats"),
        n_docs=float(row["n"]),
        avgdl=float(row["avgdl"]),
        n_buckets=int(row["n_buckets"]),
        total_tokens=float(row["total_tokens"]),
    )


def ensure_inverted_index(
    spark: SparkSession, sf_dir: str, path: str | None = None
) -> InvertedIndex:
    """Open the index for ``sf_dir``, building it first iff absent or
    stale (source-file fingerprint mismatch — the driver regenerates
    testdata between rounds, so a cached index must self-invalidate)."""
    path = path or default_index_path(sf_dir)
    want = corpus_fingerprint(sf_dir)
    return ensure_store(
        spark,
        path,
        is_fresh=lambda: meta_matches(f"{path}/scalars", fingerprint=want),
        build=lambda tmp: build_inverted_index(spark, sf_dir, tmp),
        open_store=read_inverted_index,
    )


_BUCKET_CACHE: dict[str, int] = {}


def literal_term_buckets(spark: SparkSession, terms) -> list[int]:
    """Bucket ids for a literal term list, resolved by ONE constant-only
    select (no scan — Spark's xxhash64 has no exact stdlib twin, and a
    wrong driver-side reimplementation would silently prune the right
    postings away).  Results are memoized per process: hashes are
    session-independent, so repeated queries over the same vocabulary
    (every bench run, every PRF round) pay zero extra jobs."""
    terms = list(terms)
    missing = [t for t in terms if t not in _BUCKET_CACHE]
    if missing:
        row = spark.range(1).select(
            *[
                term_bucket(F.lit(t)).alias(f"b{i}")
                for i, t in enumerate(missing)
            ]
        ).collect()[0]
        for i, t in enumerate(missing):
            _BUCKET_CACHE[t] = int(row[f"b{i}"])
    return sorted({_BUCKET_CACHE[t] for t in terms})


def postings_for_terms(
    spark: SparkSession, index: InvertedIndex, terms
) -> DataFrame:
    """Pruned postings (doc_id, t, tf, dl) for a term set.

    Literal list → static ``tb IN (...)`` + ``t IN (...)`` filters: the
    parquet scan carries PartitionFilters and opens ≤len(terms) bucket
    directories.  DataFrame → broadcast join on (tb, t) after stamping
    the term frame with its bucket (runtime pruning via the broadcast
    hash join; the scan still prunes columns/row groups).  df is NOT
    returned — derive it as a window count over ``t`` on this frame
    (exactly the rows whose count defines document frequency), which
    keeps a BM25 round at one scan, zero joins.

    The term frame is de-duplicated on ``t`` before the join: duplicate
    terms would duplicate posting rows, inflating the derived df window
    count and double-summing per-term BM25 contributions downstream."""
    if isinstance(terms, DataFrame):
        keyed = F.broadcast(
            terms.dropDuplicates(["t"]).withColumn("tb", term_bucket(F.col("t")))
        )
        return index.postings.join(keyed.select("tb", "t"), ["tb", "t"]).select(
            "doc_id", "t", "tf", "dl"
        )
    terms = list(terms)
    buckets = literal_term_buckets(spark, terms)
    return index.postings.filter(
        F.col("tb").isin(buckets) & F.col("t").isin(terms)
    ).select("doc_id", "t", "tf", "dl")


# ---------------------------------------------------------------------------
# Fielded index (BM25F — VERDICT r13 task #7)
# ---------------------------------------------------------------------------


def _write_fielded_derived(
    spark: SparkSession, path: str, n: float, fingerprint: str
) -> None:
    """fieldstats + scalars for the fielded store: ONE vocabulary-sized
    aggregation job collects the per-field token totals (≤|fields| rows —
    contract-small), then both metadata datasets are written driver-side
    (meta_io) — replaces two Spark write jobs (~0.5-0.7 s fixed cost each)
    with one tiny collect."""
    import pyarrow as pa

    stats = (
        spark.read.parquet(f"{path}/fpostings")
        .groupBy("field")
        .agg(F.sum("tf").alias("total_tokens"))
        .collect()
    )
    write_meta_table(
        f"{path}/fieldstats",
        pa.table(
            {
                "field": pa.array([r["field"] for r in stats], pa.string()),
                "total_tokens": pa.array(
                    [float(r["total_tokens"]) for r in stats], pa.float64()
                ),
            }
        ),
    )
    write_meta_table(
        f"{path}/scalars",
        pa.table(
            {
                "n": pa.array([float(n)], pa.float64()),
                "fingerprint": pa.array([fingerprint], pa.string()),
                "n_buckets": pa.array([N_TERM_BUCKETS], pa.int32()),
            }
        ),
    )


class FieldedIndex(NamedTuple):
    """An opened fielded index: lazy per-field postings scan + collected
    scalar statistics (one row per field — contract-small)."""

    postings: DataFrame  # tb, t, field, doc_id, tf, dl
    n_docs: float
    avgdl: dict  # field -> average field length over ALL docs
    n_buckets: int


def build_fielded_index_from(
    docs: DataFrame,
    path: str,
    fields: dict,
    fingerprint: str = "",
) -> float:
    """Per-field postings for BM25F (Robertson, Zaragoza & Taylor, CIKM
    2004 — the Lucene ``PerFieldSimilarity``/multi-field shape): each
    document contributes one posting row per (term, field) with the
    FIELD-length ``dl`` denormalized on it, so a weighted-BM25F round
    stays the main index's one term-pruned scan.  ``fields`` maps field
    name → text Column (or SQL string) — real columns (title/body) or
    derived projections of one text column; tokenization is the lexical
    family's single contract (lowercase, single-space split, empties
    dropped).

    Layout under ``path``::

        fpostings/   (t, field, doc_id, tf DOUBLE, dl DOUBLE) PART. BY tb
        fieldstats/  (field, total_tokens DOUBLE)
        scalars/     one row: n, fingerprint, n_buckets

    avgdl is PER FIELD: total field tokens / n_docs (documents with an
    empty field contribute zero tokens but still count — the same
    all-docs mean the unfielded index uses).  Exactness contract as the
    main index: tf/dl are integral counts, avgdl one IEEE division, the
    scoring expression lives in the query."""
    import glob

    from pyspark.sql import Window

    spark = docs.sparkSession
    use_fast_committer(spark)
    parts = []
    for fname, expr in fields.items():
        col = F.expr(expr) if isinstance(expr, str) else expr
        toks = docs.select(
            F.col("doc_id"),
            F.explode(
                F.filter(F.split(F.lower(col), " "), lambda t: t != "")
            ).alias("t"),
        )
        grouped = (
            toks.groupBy("doc_id", "t")
            .agg(F.count(F.lit(1)).cast("double").alias("tf"))
            .withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")))
            .withColumn("field", F.lit(fname))
        )
        parts.append(grouped.select("doc_id", "t", "field", "tf", "dl"))
    posts = parts[0]
    for p in parts[1:]:
        posts = posts.unionByName(p)
    posts = posts.withColumn("tb", term_bucket(F.col("t")))
    (
        posts.repartition("tb")
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(f"{path}/fpostings")
    )
    if not glob.glob(f"{path}/fpostings/tb=*"):
        # degenerate corpus: keep the store schema-readable (the main
        # build's post-write glob discipline)
        posts.repartition(1).write.mode("overwrite").parquet(
            f"{path}/fpostings"
        )
    n = float(docs.count())
    _write_fielded_derived(spark, path, n, fingerprint)
    return n


def read_fielded_index(spark: SparkSession, path: str) -> FieldedIndex:
    # both datasets are contract-small metadata: driver-side reads, no
    # Spark job per open (see read_inverted_index)
    row = read_meta_rows(f"{path}/scalars")[0]
    n = float(row["n"])
    stats = read_meta_rows(f"{path}/fieldstats")
    return FieldedIndex(
        postings=spark.read.parquet(f"{path}/fpostings"),
        n_docs=n,
        avgdl={
            r["field"]: (float(r["total_tokens"] or 0.0) / n if n else 0.0)
            for r in stats
        },
        n_buckets=int(row["n_buckets"]),
    )


def ensure_fielded_index(
    spark: SparkSession,
    sf_dir: str,
    fields: dict,
    fields_sig: str,
    path: str | None = None,
) -> FieldedIndex:
    """Open the fielded index for ``sf_dir``'s documents, building iff
    absent/stale — the ``ensure_inverted_index`` contract with the field
    DEFINITIONS folded into the fingerprint (``fields_sig`` must change
    whenever the field expressions change; the corpus part self-updates
    from the source file)."""
    base = os.path.basename(sf_dir.rstrip("/"))
    path = path or f"/tmp/covid19_spark_fidx_{base}"
    want = f"{corpus_fingerprint(sf_dir)}:{fields_sig}"
    return ensure_store(
        spark,
        path,
        is_fresh=lambda: meta_matches(f"{path}/scalars", fingerprint=want),
        build=lambda tmp: build_fielded_index_from(
            load_table(spark, "documents", sf_dir), tmp, fields,
            fingerprint=want,
        ),
        open_store=read_fielded_index,
    )
