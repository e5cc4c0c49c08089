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
*file-pruning* operation: a query batch that probes ``IVF_PROBES`` of
``IVF_CENTROIDS`` lists reads only those directories. ``ivfpq_index_topk``
collects the batch's distinct probed list ids — bounded by ``IVF_CENTROIDS``
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
    IVF_CENTROIDS,
    IVF_PROBES,
    PQ_CODES,
    PQ_M,
    ivf_assign,
    ivfpq_encode,
    ivfpq_quantizers,
    ivfpq_search,
)
from covid19_spark.session import use_fast_committer
from covid19_spark.sources.meta_io import (
    meta_matches, read_meta_rows, write_meta_table,
)
from covid19_spark.sources.scratch import ensure_store


class IvfPqIndex(NamedTuple):
    """An opened persisted index: three small frames + the codes scan."""

    codes: DataFrame
    centroids: DataFrame
    codebooks: DataFrame
    meta: dict


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    attr_cols: "Sequence[str]" = (),
    fingerprint: str = "",
) -> dict:
    """Build the index at ``path`` (overwrite): fit quantizers (``IVF_CENTROIDS``
    lists, ``PQ_M`` x ``PQ_CODES`` codebooks), encode the
    corpus (``vec_id``, ``embedding``) in one map pass, write codes partitioned by IVF list. The only
    corpus-sized work is the encode scan; everything else is KB-sized.
    Returns the meta dict that was persisted.

    ``attr_cols``: metadata columns stored ALONGSIDE the codes (joined on
    the id in the build pass) — the filtered-vector-search seam: a serving
    predicate on these columns applies directly to the codes scan, before
    any distance work (see ``ivfpq_index_topk(codes_filter=...)``)."""
    centroids, codebooks = ivfpq_quantizers(corpus)
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
    dim = len(cb_first[0]["cvec"]) * PQ_M if cb_first else 0
    meta = {
        "n_centroids": IVF_CENTROIDS,
        "m": PQ_M,
        "n_codes": PQ_CODES,
        "dim": int(dim),
        "id_col": "vec_id",
        "vec_col": "embedding",
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
    encoded = ivfpq_encode(corpus, centroids, codebooks)
    if attr_cols:
        # one build-time co-shuffle on the id glues the serving attributes
        # onto the code rows; queries then never touch the vector store to
        # evaluate predicates
        encoded = encoded.join(corpus.select("vec_id", *attr_cols), "vec_id")
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
    attr_cols: "Sequence[str]" = (),
) -> IvfPqIndex:
    """Open the index at ``path``, (re)building it first iff absent,
    partial, or built from a different corpus/params — the build-once
    contract made safe against stale caches.  ``fingerprint`` names the
    corpus snapshot (file size+mtime locally; the dataset/table version
    id at cluster scale) and must be NON-EMPTY: an empty fingerprint
    would match every prior empty-fingerprint build, silently serving
    one corpus's queries from another's index.  The quantizer setup is
    compared against the persisted meta, so the same path can never serve
    a mismatched one."""
    if not fingerprint:
        raise ValueError("ensure_ivfpq_index requires a non-empty fingerprint")
    return ensure_store(
        corpus.sparkSession,
        path,
        is_fresh=lambda: meta_matches(
            f"{path}/meta",
            fingerprint=fingerprint,
            n_centroids=IVF_CENTROIDS,
            m=PQ_M,
            n_codes=PQ_CODES,
            id_col="vec_id",
            vec_col="embedding",
            attr_cols=",".join(attr_cols),
        ),
        build=lambda tmp: write_ivfpq_index(
            corpus, tmp, attr_cols=attr_cols, fingerprint=fingerprint
        ),
        open_store=read_ivfpq_index,
    )


def corpus_file_fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """Local-files corpus snapshot id for ``ensure_ivfpq_index``: size +
    mtime of the source parquet (the driver regenerates testdata between
    rounds, so mtime alone is not enough)."""
    import os

    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    return f"{st.st_size}:{st.st_mtime_ns}"


def ivfpq_index_topk(
    index: IvfPqIndex,
    corpus: DataFrame,
    queries: DataFrame,
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

    The batch's DISTINCT probed list ids (``IVF_PROBES`` per query) — at
    most ``IVF_CENTROIDS`` ints
    however large the batch, a contract-small driver list — filter the
    codes with ``isin``, so the parquet scan carries a static
    ``PartitionFilters`` and untouched list directories are never opened.

    Output (query_id, rank, neighbor_id, sim) is bit-identical to
    ``ivfpq_cosine_topk`` with the same quantizers."""
    meta = index.meta
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    probed = ivf_assign(
        queries, index.centroids, id_col, vec_col, n_probes=IVF_PROBES
    ).select("centroid_id").distinct().collect()
    codes = index.codes.filter(
        F.col("centroid_id").isin(sorted(int(r["centroid_id"]) for r in probed))
    )
    if codes_filter is not None:
        codes = codes.filter(
            F.expr(codes_filter) if isinstance(codes_filter, str) else codes_filter
        )
    return ivfpq_search(
        codes, index.centroids, index.codebooks, corpus, queries,
        id_col=id_col, vec_col=vec_col,
    )
