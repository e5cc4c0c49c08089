"""Index-selection report: recall@10 of every ANN variant (sign-hyperplane
LSH, IVF, PQ-ADC, IVF-PQ) against the exact brute-force cosine ranking on
the driver's embeddings table.

A TOOL, not a registry query: the four chained ANN pipelines cost ~300
Spark stages of fixed orchestration regardless of data size (~15-30 s even
on 500 vectors), which would dominate the bench sweep for a number that
only changes when the index code changes — per-variant recall bounds are
already pytest-pinned (tests/test_similarity.py). Run this when choosing
an index or after touching the similarity family:

    python tools/ann_recall_report.py [sf_dir]

Expected shape on the driver's NEAR-RANDOM embeddings: IVF/PQ/IVF-PQ land
around 0.8 recall@10 while sign-LSH collapses (~0.05) — exactly the
documented behavior (`ann_cosine_topk` docstring: on unstructured corpora
sign-LSH degrades toward scan by construction; its >=0.8 recall test uses
clustered data where locality exists). That contrast IS the report's value:
it tells a user which index matches their data's structure.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def ann_recall_report(spark, sf_dir: str):
    """Returns a DataFrame (method, n_hits, n_truth, recall_at_10) — exact
    integer-ratio recall, deterministic for fixed seeds/corpus."""
    from covid19_spark.operators.similarity import (
        ann_cosine_topk,
        cosine_topk,
        ivf_cosine_topk,
        ivfpq_cosine_topk,
        pq_cosine_topk,
    )
    from covid19_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir).repartition(32, "vec_id")
    queries = emb.filter(F.col("vec_id") < 8)
    # exact truth is consumed once per variant: cut its lineage so the
    # brute-force scan runs once
    exact = (
        cosine_topk(emb, queries, k=10)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    n_truth = F.broadcast(exact.groupBy().agg(F.count(F.lit(1)).alias("n_truth")))
    variants = {
        "lsh": ann_cosine_topk(emb, queries, num_planes=12),
        "ivf": ivf_cosine_topk(emb, queries),
        "pq": pq_cosine_topk(emb, queries),
        "ivfpq": ivfpq_cosine_topk(emb, queries),
    }
    reports = []
    for name, df in variants.items():
        hits = df.select("query_id", "neighbor_id").join(
            exact, ["query_id", "neighbor_id"], "left_semi"
        )
        reports.append(
            hits.groupBy()
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .crossJoin(n_truth)
            .select(
                F.lit(name).alias("method"),
                F.col("n_hits").cast("long").alias("n_hits"),
                F.col("n_truth").cast("long").alias("n_truth"),
                (F.col("n_hits") / F.col("n_truth")).alias("recall_at_10"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("method")


def main() -> None:
    from covid19_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("ann_recall_report")
    rows = ann_recall_report(spark, sf_dir).collect()
    print(json.dumps({r["method"]: r["recall_at_10"] for r in rows}))


if __name__ == "__main__":
    main()
