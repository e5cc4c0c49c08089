"""Persisted IVF-PQ ANN index: build once, query many.

The in-memory ANN operators (operators/similarity.py) rebuild their index
per query — fine for a pipeline stage, wrong for the production serving
shape. At 1B vectors the index is built ONCE (quantizer fit on a
contract-small sample + one encode pass over the corpus) and then served
against for months; re-encoding 100 TB per query batch is the single
largest cost a naive port would pay. This module is that build/serve split,
expressed as plain parquet so any Spark (or DuckDB — the files are
engine-portable) session can reopen the index:

    <path>/centroids/   (centroid_id INT, cvec ARRAY<DOUBLE>)   — KBs
    <path>/codebooks/   (sub INT, code INT, cvec ARRAY<DOUBLE>) — KBs
    <path>/meta/        one row: n_centroids, m, n_codes, dim, id/vec col
    <path>/codes/       (id, codes ARRAY<INT>) PARTITIONED BY centroid_id

``codes`` is partitioned by the IVF list id, which is what makes a probe a
*file-pruning* operation: a query batch that probes ``n_probes`` of
``n_centroids`` lists reads only those directories. ``ivfpq_index_topk``
collects the batch's distinct probed list ids — bounded by ``n_centroids``
rows, a contract-small driver list regardless of corpus or batch size —
and pushes them as a static ``centroid_id IN (...)`` partition filter, so
the scan's ``PartitionFilters`` prune at planning time (pinned in
tests/test_ann_index.py). At nlist=65536 / nprobe=64 that is 0.1 % of the
code files touched per batch.

Query results are bit-identical to ``ivfpq_cosine_topk`` on the same
quantizers: build and search share the exact encode/search expressions
(``ivfpq_encode``/``ivfpq_search``), ints and doubles round-trip parquet
exactly, and the registry query ``ann_index_persist_topk`` pins the
round-trip against the same fixture oracle as the in-memory operator.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from covid19_spark.operators.similarity import (
    ivf_assign,
    ivfpq_encode,
    ivfpq_quantizers,
    ivfpq_search,
)
from covid19_spark.session import use_fast_committer
from covid19_spark.sources.handles import invalidate_store
from covid19_spark.sources.meta_io import (
    meta_matches, read_meta_rows, write_meta_table,
)
from covid19_spark.sources.scratch import compact_parquet_dir, ensure_store


class IvfPqIndex(NamedTuple):
    """An opened persisted index: three small frames + the codes scan."""

    codes: DataFrame
    centroids: DataFrame
    codebooks: DataFrame
    meta: dict


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample_mod: "int | str | None" = "auto",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    attr_cols: "Sequence[str]" = (),
    fingerprint: str = "",
) -> dict:
    """Build the index at ``path`` (overwrite): fit quantizers (or take
    pre-trained ones via ``centroids=``/``codebooks=``), encode the corpus
    in one map pass, write codes partitioned by IVF list. The only
    corpus-sized work is the encode scan; everything else is KB-sized.
    Returns the meta dict that was persisted.

    ``attr_cols``: metadata columns stored ALONGSIDE the codes (joined on
    the id in the build pass) — the filtered-vector-search seam: a serving
    predicate on these columns applies directly to the codes scan, before
    any distance work (see ``ivfpq_index_topk(codes_filter=...)``)."""
    centroids, codebooks = ivfpq_quantizers(
        corpus, n_centroids, m, n_codes,
        id_col=id_col, vec_col=vec_col,
        train_sample_mod=train_sample_mod,
        centroids=centroids, codebooks=codebooks,
    )
    spark = corpus.sparkSession
    use_fast_committer(spark)
    # meta is ONE row — written driver-side (meta_io); its dim field is
    # derived from a driver peek at the codebooks row instead of the
    # former dedicated limit(1).collect() job.  centroids/codebooks stay
    # SPARK-written on purpose: their persisted row order is semantically
    # load-bearing (consumers collect_list them into per-row lookup
    # arrays), and the repartition(1) write order is the order every
    # existing fixture/index was built with — rewriting them driver-side
    # in collect order changed served results (measured, reverted).
    import pyarrow as pa

    cb_first = codebooks.select("cvec").limit(1).collect()
    # dim is reconstructed as sub_dim·m — when the input dimension is not a
    # multiple of m this is the ENCODED width (PQ's slice drops the tail,
    # same as the in-memory operators), which is the width that matters to
    # every consumer of the index
    dim = len(cb_first[0]["cvec"]) * m if cb_first else 0
    meta = {
        "n_centroids": int(n_centroids),
        "m": int(m),
        "n_codes": int(n_codes),
        "dim": int(dim),
        "id_col": id_col,
        "vec_col": vec_col,
        "attr_cols": ",".join(attr_cols),
        "fingerprint": fingerprint,
    }
    # repartition(1), NOT coalesce(1): these frames originate from Python
    # createDataFrame (32 pickled slices on local[32]); coalesce folds all
    # slices into ONE task that launches a Python worker per slice
    # serially (~4.5 s measured for a 16-row frame), while repartition
    # evaluates the slices in parallel and shuffles one tiny block each.
    centroids.repartition(1).write.mode("overwrite").parquet(f"{path}/centroids")
    codebooks.repartition(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    write_meta_table(
        f"{path}/meta",
        pa.table(
            {
                "n_centroids": pa.array([meta["n_centroids"]], pa.int32()),
                "m": pa.array([meta["m"]], pa.int32()),
                "n_codes": pa.array([meta["n_codes"]], pa.int32()),
                "dim": pa.array([meta["dim"]], pa.int32()),
                "id_col": pa.array([meta["id_col"]], pa.string()),
                "vec_col": pa.array([meta["vec_col"]], pa.string()),
                "attr_cols": pa.array([meta["attr_cols"]], pa.string()),
                "fingerprint": pa.array([meta["fingerprint"]], pa.string()),
            }
        ),
    )
    encoded = ivfpq_encode(
        corpus, centroids, codebooks, m, id_col=id_col, vec_col=vec_col
    )
    if attr_cols:
        # one build-time co-shuffle on the id glues the serving attributes
        # onto the code rows; queries then never touch the vector store to
        # evaluate predicates
        encoded = encoded.join(corpus.select(id_col, *attr_cols), id_col)
    (
        encoded
        # shuffle onto the list id before the partitioned write: without
        # this, partitionBy fans out n_tasks × n_lists files (at 1000
        # executors × 65536 lists that is tens of MILLIONS of near-empty
        # files); with it, files-per-list tracks data volume via
        # spark.sql.shuffle.partitions + AQE coalescing. The shuffled
        # payload is codes (m bytes/row), ~64× smaller than the vectors.
        .repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/codes")
    )
    return meta


def append_ivfpq_index(
    corpus_delta: DataFrame, path: str, return_count: bool = True
) -> "int | None":
    """Add new vectors to an EXISTING index without touching what's there —
    the FAISS ``add()`` story at parquet granularity: the delta is encoded
    with the index's OWN persisted quantizers (never refit — refitting
    would silently shift every existing code's meaning) and appended into
    the same list-partitioned layout. At 100 TB this is the daily-ingest
    shape: the encode pass scans only the delta, and append mode writes
    only the probed-by-nobody new files; existing list directories gain
    files, they are never rewritten. Returns the number of rows appended
    (``return_count=False`` skips that extra delta scan and returns None).

    Caller contract: delta ids must be new (the index is id-keyed but
    append does not dedup — run exact dedup upstream, the same contract
    as the corpus itself). Quantizer drift is the refresh seam: when the
    corpus distribution moves far enough that recall sags, rebuild with
    ``write_ivfpq_index`` (overwrite) — the classic reindex tradeoff."""
    from pyspark.sql import Observation

    spark = corpus_delta.sparkSession
    use_fast_committer(spark)
    idx = read_ivfpq_index(spark, path)
    meta = idx.meta
    # the count for the return value is OBSERVED on the encode pass
    # (CollectMetrics on the delta rows flowing into the append write)
    # instead of a dedicated second scan of the delta
    obs = None
    if return_count:
        obs = Observation()
        corpus_delta = corpus_delta.observe(
            obs, F.count(F.lit(1)).alias("n")
        )
    (
        ivfpq_encode(
            corpus_delta, idx.centroids, idx.codebooks, meta["m"],
            id_col=meta["id_col"], vec_col=meta["vec_col"],
        )
        .repartition("centroid_id")  # same fan-out control as the build
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(f"{path}/codes")
    )
    # append adds code files without touching meta, so the stamp-validated
    # handle cache cannot see it — invalidate explicitly
    invalidate_store(path)
    return int(obs.get["n"]) if obs is not None else None


def compact_ivfpq_index(
    spark: SparkSession, path: str, file_threshold: int = 8
) -> dict[str, bool]:
    """Maintenance job for the appended IVF-PQ index — the
    ``compact_inverted_index`` discipline applied to the codes store:
    each ``append_ivfpq_index`` adds one parquet fragment per touched
    list directory, and after enough micro-batches a probe's cost turns
    file-listing/open bound (the FAISS segment-merge analogue).
    ``scratch.compact_parquet_dir`` rewrites ``codes/`` into one file per
    ``centroid_id``, deduplicating replayed-append rows on the index's id
    column; the partitioning — and with it the probe's static partition
    pruning — is preserved.  centroids/codebooks/meta
    never fragment (rewritten wholesale on build).  Run between batches,
    not concurrent with an append or serve (the Delta/Iceberg OPTIMIZE
    maintenance-window contract).

    Returns {store: compacted?} for observability."""
    return {
        "codes": compact_parquet_dir(
            spark,
            f"{path}/codes",
            [read_meta_rows(f"{path}/meta")[0]["id_col"]],
            partition_by="centroid_id",
            file_threshold=file_threshold,
        ),
    }


def read_ivfpq_index(spark: SparkSession, path: str) -> IvfPqIndex:
    """Reopen a persisted index. The codes frame is a lazy parquet scan —
    nothing corpus-sized is materialized until a query prunes it.  The
    one-row meta dataset is read driver-side (meta_io): every serve
    reopens the index, so the former one-row Spark collect was a fixed
    per-query job."""
    meta_row = read_meta_rows(f"{path}/meta")[0]
    meta = {
        "attr_cols": meta_row.get("attr_cols") or "",
        "fingerprint": meta_row.get("fingerprint") or "",
    }
    meta.update({
        k: meta_row[k]
        for k in ("n_centroids", "m", "n_codes", "dim", "id_col", "vec_col")
    })
    return IvfPqIndex(
        codes=spark.read.parquet(f"{path}/codes"),
        centroids=spark.read.parquet(f"{path}/centroids"),
        codebooks=spark.read.parquet(f"{path}/codebooks"),
        meta=meta,
    )


def ensure_ivfpq_index(
    corpus: DataFrame,
    path: str,
    fingerprint: str,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    attr_cols: "Sequence[str]" = (),
) -> IvfPqIndex:
    """Open the index at ``path``, (re)building it first iff absent,
    partial, or built from a different corpus/params — the build-once
    contract made safe against stale caches.  ``fingerprint`` names the
    corpus snapshot (file size+mtime locally; the dataset/table version
    id at cluster scale) and must be NON-EMPTY: an empty fingerprint
    would match every prior empty-fingerprint build, silently serving
    one corpus's queries from another's index.  Params are compared
    against the persisted meta, so the same path can never serve a
    mismatched quantizer setup."""
    if not fingerprint:
        raise ValueError("ensure_ivfpq_index requires a non-empty fingerprint")
    return ensure_store(
        corpus.sparkSession,
        path,
        is_fresh=lambda: meta_matches(
            f"{path}/meta",
            fingerprint=fingerprint,
            n_centroids=int(n_centroids),
            m=int(m),
            n_codes=int(n_codes),
            id_col=id_col,
            vec_col=vec_col,
            attr_cols=",".join(attr_cols),
        ),
        build=lambda tmp: write_ivfpq_index(
            corpus, tmp, n_centroids=n_centroids, m=m, n_codes=n_codes,
            id_col=id_col, vec_col=vec_col, attr_cols=attr_cols,
            fingerprint=fingerprint,
        ),
        open_store=read_ivfpq_index,
        stamp_dirs=("meta",),
    )


def corpus_file_fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """Local-files corpus snapshot id for ``ensure_ivfpq_index``: size +
    mtime of the source parquet (the driver regenerates testdata between
    rounds, so mtime alone is not enough)."""
    import os

    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    return f"{st.st_size}:{st.st_mtime_ns}"


def make_ann_query_sink(
    index_path: str,
    corpus: "DataFrame | str",
    results_path: str,
    k: int = 10,
    n_probes: int = 3,
    shortlist: int = 50,
    codes_filter: "str | None" = None,
):
    """foreachBatch sink serving a STREAM of query vectors against the
    persisted index: each micro-batch is answered with ``ivfpq_index_topk``
    (so per-batch file pruning applies — a batch probing 3 of 64k lists
    opens 3 directories) and appended to ``results_path`` with its
    ``batch_id``. The index is reopened per batch ON PURPOSE: meta/
    centroids/codebooks are KB-sized reads, and a fresh codes scan is what
    makes rows ingested by ``make_ann_ingest_sink`` between batches
    immediately searchable — an index frame opened once outside the loop
    would pin the file listing of the first batch.

    ``corpus`` is the full-precision cold store for the exact rerank. Pass
    a PATH (reopened per batch) whenever the cold store grows alongside
    the index — a DataFrame pins its file listing at sink creation, so
    freshly-ingested vectors would reach the ADC shortlist but silently
    VANISH at the rerank's inner join. A DataFrame argument is only right
    for a truly static corpus."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        idx = read_ivfpq_index(spark, index_path)
        cold = spark.read.parquet(corpus) if isinstance(corpus, str) else corpus
        (
            ivfpq_index_topk(
                idx, cold, batch_df, k=k, n_probes=n_probes,
                shortlist=shortlist, codes_filter=codes_filter,
            )
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append").parquet(results_path)
        )

    return sink


def make_ann_ingest_sink(
    index_path: str,
    compact_every: int | None = 8,
    file_threshold: int = 8,
):
    """foreachBatch sink streaming NEW vectors into the persisted index:
    each micro-batch is encoded with the index's persisted quantizers and
    appended (``append_ivfpq_index`` semantics — never refits, see its
    contract note on upstream dedup). Exactly-once at the ingest level
    comes from the stream's checkpoint: a replayed batch re-appends, so
    pair with dedup_within_watermark upstream or idempotent ids when the
    source can replay.

    Auto-compaction (VERDICT r13 task #2, the ``make_index_ingest_sink``
    discipline): after every ``compact_every``-th append the sink runs
    ``compact_ivfpq_index`` itself — the fragment-count check is gated by
    the cadence, the rewrite by the threshold — so a long-lived ingest
    stream keeps ``codes/`` at ~one file per list directory without an
    external maintenance job.  ``compact_every=None`` restores the manual
    discipline."""

    appends_seen = [0]  # driver-side state: foreachBatch runs on the driver

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.take(1):
            append_ivfpq_index(batch_df, index_path, return_count=False)
            appends_seen[0] += 1
            if compact_every and appends_seen[0] % compact_every == 0:
                compact_ivfpq_index(
                    batch_df.sparkSession, index_path,
                    file_threshold=file_threshold,
                )

    return sink


def ivfpq_index_topk(
    index: IvfPqIndex,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 3,
    shortlist: int = 50,
    prune: str = "static",
    codes_filter=None,
) -> DataFrame:
    """Serve a query batch from a persisted index: probe → ADC over probed
    lists only → exact-cosine rerank against ``corpus`` (the full-precision
    cold store; the index itself holds no vectors).

    ``codes_filter`` (Column or SQL string over the index's ``attr_cols``)
    is FILTERED VECTOR SEARCH with pre-filter semantics: the predicate
    applies to the code rows after partition pruning and BEFORE any
    distance work, so the top-k is exact over the matching subset (every
    returned neighbor satisfies the predicate — pinned in tests) and
    non-matching rows cost nothing to score.  Recall is bounded by the
    probes exactly as in the unfiltered case; highly selective predicates
    warrant more probes (the standard filtered-ANN tradeoff).

    ``prune="static"`` (default) collects the batch's DISTINCT probed list
    ids — at most ``n_centroids`` ints however large the batch, the same
    sanctioned contract-small class as dedup_lsh_stream's bucket keys — and
    filters codes with ``isin`` so the parquet scan carries a static
    ``PartitionFilters`` and untouched list directories are never opened.
    ``prune="none"`` leaves pruning to the runtime join (full scan; useful
    when the batch probes nearly every list and the filter buys nothing).

    Output (query_id, rank, neighbor_id, sim) is bit-identical to
    ``ivfpq_cosine_topk`` with the same quantizers."""
    meta = index.meta
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    codes = index.codes
    if prune == "static":
        probed = ivf_assign(
            queries, index.centroids, id_col, vec_col, n_probes=n_probes
        ).select("centroid_id").distinct().collect()
        codes = codes.filter(
            F.col("centroid_id").isin(sorted(int(r["centroid_id"]) for r in probed))
        )
    elif prune != "none":
        raise ValueError(f"prune must be 'static' or 'none', got {prune!r}")
    if codes_filter is not None:
        codes = codes.filter(
            F.expr(codes_filter) if isinstance(codes_filter, str) else codes_filter
        )
    return ivfpq_search(
        codes, index.centroids, index.codebooks, corpus, queries,
        k=k, n_probes=n_probes, m=meta["m"], n_codes=meta["n_codes"],
        shortlist=shortlist, id_col=id_col, vec_col=vec_col,
    )
