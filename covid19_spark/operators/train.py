"""Distributed classifier training: exact integer-quantized gradient descent.

The model-based quality filter of a modern curation pipeline (DCLM /
FineWeb-style) is DISTILLED: an expensive gate labels a corpus slice, a
cheap hashed linear model is trained on those labels, and the model —
a tiny weight vector — then scores the full 100 TB corpus as a map-only
pass.  This module is the training half, built the way distributed LR is
actually trained on Spark: broadcast the parameter vector, compute the
batch gradient as ONE map-side-combined aggregation per iteration, update
on the driver (the parameter vector is the sanctioned contract-small
collect — |buckets| integers, same class as the IVF-PQ codebook fit),
re-broadcast.  History is scanned once per iteration; nothing shuffles
but |buckets| partial rows.

Cross-engine exactness (the interesting part): floats make distributed
training unreproducible — gradient sums re-associate per partitioning,
exp() differs in the last ulp across libms.  So the entire recurrence is
integer arithmetic in micro-units (scale = 1e6):

- features are integer bucket COUNTS (hashed bag-of-words, md5-derived
  buckets — ascii hex decode, engine-portable) plus an intercept;
- the sigmoid is the HARD sigmoid ``clamp(1/2 + t/4, 0, 1)`` (the standard
  quantized-network surrogate), so activations are exact integers:
  ``p = clamp(S/2 + floor(z/4), 0, S)``;
- gradients are integer sums of residuals ``p − y·S`` — order-independent;
- the weight step is ``w −= floor(grad / (64 · n))`` — floor of an
  IEEE division of <2^53 integers, which is bit-identical in any IEEE
  engine.

Consequence: the full 6-iteration training run replays EXACTLY in DuckDB
from the SQL generated by :func:`quantized_lr_sql` — the registry oracle
differentially verifies the TRAINING, not just the scoring.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000  # micro-unit fixed-point scale for weights/activations
N_BUCKETS = 32  # hashed token buckets; the intercept is bucket N_BUCKETS


def md5_bucket(col: Column) -> Column:
    """Deterministic feature bucket in ``[0, N_BUCKETS)`` from the first 8
    hex chars of ``md5(value)`` — identical in any engine with md5.  The
    Spark side decodes via one ``conv(hex, 16, 10)`` builtin (same integer
    as the ascii-arithmetic chain ``md5_bucket_sql`` spells out for DuckDB,
    ~100x less generated code — the 8-level when-chain compiled to a Janino
    unit large enough to cost seconds of JIT per fresh plan)."""
    h = F.md5(col.cast("string"))
    v = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    return F.pmod(v, F.lit(N_BUCKETS)).cast("long")


def md5_bucket_sql(expr: str, n_buckets: int) -> str:
    """The exact DuckDB replay of :func:`md5_bucket`."""
    digits = []
    for i in range(1, 9):
        a = f"ascii(substring(md5(CAST({expr} AS VARCHAR)), {i}, 1))"
        digits.append(f"(CASE WHEN {a} <= 57 THEN {a} - 48 ELSE {a} - 87 END)")
    acc = "CAST(0 AS BIGINT)"
    for d in digits:
        acc = f"({acc} * 16 + {d})"
    return f"({acc} % {n_buckets})"


def count_features(
    docs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, bucket, cnt) hashed bag-of-words COUNT features.  One tokenize
    + explode + count agg (map-side combined); the shuffle carries
    ≤ ``N_BUCKETS`` rows per document.  Counts (not presences) so the margin
    keeps frequency/length signal — and they stay exact integers."""
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.lower(text_col), " "), lambda t: t != "")
        ).alias("__t"),
    )
    return (
        toks.select(id_col, md5_bucket(F.col("__t")).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def with_intercept(
    feats: DataFrame,
    labels: DataFrame,
    id_col: str,
) -> DataFrame:
    """Append the bias feature: virtual bucket ``N_BUCKETS`` with count 16
    for EVERY labeled doc (docs with no tokens included) — without it a
    count-feature model can only separate through the origin.  The bias
    count sits near the typical per-bucket count magnitude: a unit
    intercept against ~60-count token features makes
    the loss surface so ill-conditioned that full-batch GD stalls at the
    majority baseline (measured: 0.51 with a bias count of 1 vs 0.97 with 16 on
    the length-gate task)."""
    bias = labels.select(
        F.col(id_col),
        F.lit(N_BUCKETS).cast("long").alias("bucket"),
        F.lit(16).cast("long").alias("cnt"),
    )
    return feats.select(id_col, "bucket", "cnt").unionByName(bias)


def hard_sigmoid_int(z: Column) -> Column:
    """``p_int = clamp(S/2 + floor(z/4), 0, S)`` with S = ``SCALE`` — the
    exact-integer hard sigmoid (z in micro-units)."""
    p = F.lit(SCALE // 2) + F.floor(z / F.lit(4.0)).cast("long")
    return F.least(F.lit(SCALE).cast("long"), F.greatest(F.lit(0).cast("long"), p))


def train_quantized_lr(
    feats: DataFrame,
    labels: DataFrame,
    id_col: str,
) -> list[int]:
    """Full-batch quantized GD; returns the final integer weight vector.
    6 iterations at lr 1/64 reach 0.95-0.97 accuracy on the
    distilled length-gate task at every tested scale (sf0.001-0.1).

    ``feats``: (id, bucket, cnt) rows (run :func:`with_intercept` first:
    the weight vector has ``N_BUCKETS + 1`` entries, the bias included);
    ``labels``: (id, y) with y in {0, 1}.
    Gradient sums stay far inside int64 at any scale (|r| ≤ 1e6, cnt ≤
    doc length, so ~1e9 docs × 1e8 per-doc bound ≈ 1e17 < 2^63).

    The per-doc (bucket, cnt) rows are grouped into a sparse feature array
    next to the label ONCE (a single corpus-shaped shuffle, materialized
    with localCheckpoint); each iteration is then one map-side pass over
    that frame — margin = exact int64 fold over the array, residual bound
    once through the ``aggregate`` finish lambda (interpreted HOF eval has
    no cross-lambda subexpression elimination), per-bucket gradient =
    explode of the per-doc (bucket, cnt·r) contributions into one
    map-side-combined sum.  The former shape (margins groupBy + residual
    join + gradient groupBy = three shuffles per round, re-reading the
    feature frame twice per round) collapses to ONE shuffle per round over
    ≤(N_BUCKETS + 1)-sized aggregates.

    The per-iteration gradient plan is built as ONE SQL text parsed in the
    JVM (``spark.sql`` with the cached feature frame templated in) rather
    than a py4j lambda-expression tree: constructing the nested
    higher-order-function expressions through py4j costs ~0.25 s of
    driver-side round-trips PER ITERATION — more than the gradient job
    itself at bench scale — while parsing the equivalent SQL is ~0.04 s.
    Identical analyzed plan, identical arithmetic; only the |buckets|
    gradient row collect leaves the cluster.
    """
    n_docs = labels.count()
    if n_docs == 0:
        raise ValueError("train_quantized_lr: empty label set")
    spark = feats.sparkSession
    docs = (
        feats.join(labels, id_col)
        .groupBy(id_col)
        .agg(
            F.collect_list(F.struct(F.col("bucket"), F.col("cnt"))).alias("__fv"),
            F.first("y").alias("__y"),
        )
        .localCheckpoint(eager=True)
    )
    w = [0] * (N_BUCKETS + 1)
    scale, half = SCALE, SCALE // 2
    for _ in range(6):
        arr_sql = "array(" + ",".join(f"{v}L" for v in w) + ")"
        grad = spark.sql(
            f"""
            SELECT c.bucket AS bucket, sum(c.g) AS g
            FROM (
              SELECT explode(aggregate(__fv, 0L,
                (acc, s) -> acc + s.cnt
                            * element_at({arr_sql}, CAST(s.bucket AS INT) + 1),
                z -> transform(__fv, s -> struct(
                  s.bucket AS bucket,
                  s.cnt * (least({scale}L, greatest(0L,
                             {half}L + CAST(floor(z / 4.0D) AS LONG)))
                           - CAST(__y AS LONG) * {scale}L) AS g)))) AS c
              FROM {{docs}}
            ) GROUP BY c.bucket
            """,
            docs=docs,
        ).collect()
        for row in grad:
            # floor of an IEEE division of exact integers — replayed
            # verbatim by the oracle SQL
            w[int(row.bucket)] -= math.floor(row.g / float(64 * n_docs))
    return w


def score_quantized_lr(
    feats: DataFrame,
    labels: DataFrame,
    id_col: str,
    weights: list[int],
) -> DataFrame:
    """Map-only scoring pass with the learned vector: per-doc margin
    ``z``, hard-sigmoid activation ``p`` (micro-units), predicted label.
    At 100 TB this is the whole deployment cost of the distilled filter."""
    w_arr = F.array(*[F.lit(v).cast("long") for v in weights])
    margins = feats.groupBy(id_col).agg(
        F.sum(
            F.col("cnt") * F.element_at(w_arr, F.col("bucket").cast("int") + 1)
        ).alias("z")
    )
    return (
        labels.join(margins, id_col, "left")
        .select(
            F.col(id_col),
            F.col("y").cast("long").alias("y"),
            F.coalesce(F.col("z"), F.lit(0)).cast("long").alias("z"),
        )
        .withColumn("p", hard_sigmoid_int(F.col("z")))
        .withColumn(
            "pred", (F.col("p") >= F.lit(SCALE // 2)).cast("long")
        )
    )


def quantized_lr_sql(
    feats_cte: str,
    labels_cte: str,
    id_col: str,
) -> str:
    """Generate the unrolled CTE chain replaying the ENTIRE training run +
    scoring pass in DuckDB: w0 = zeros; per iteration k — margins from
    w(k-1), integer residuals, per-bucket gradient, floor-division step —
    then the final score SELECT.  Same recurrence text as the Spark loop,
    so the differential check covers training end to end.

    ``feats_cte``/``labels_cte``: names of CTEs (or tables) exposing
    (id, bucket) and (id, y).  Result columns: id, y, z, p, pred."""
    scale, half = SCALE, SCALE // 2
    parts = [
        f"w0 AS (SELECT CAST(range AS BIGINT) AS bucket, CAST(0 AS BIGINT) AS w "
        f"FROM range({N_BUCKETS + 1}))",
        f"nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM {labels_cte})",
    ]
    prev = "w0"
    for k in range(1, 7):
        parts.append(
            f"""z{k} AS (
  SELECT f.{id_col}, sum(f.cnt * w.w) AS z FROM {feats_cte} f
  JOIN {prev} w USING (bucket) GROUP BY f.{id_col}
)"""
        )
        parts.append(
            f"""r{k} AS (
  SELECT l.{id_col},
         LEAST({scale}, GREATEST(0, {half} + CAST(floor(COALESCE(z.z, 0) / 4.0) AS BIGINT)))
         - l.y * {scale} AS r
  FROM {labels_cte} l LEFT JOIN z{k} z USING ({id_col})
)"""
        )
        parts.append(
            f"""g{k} AS (
  SELECT f.bucket, sum(f.cnt * r.r) AS g FROM {feats_cte} f
  JOIN r{k} r USING ({id_col}) GROUP BY f.bucket
)"""
        )
        parts.append(
            f"""w{k} AS (
  SELECT w.bucket,
         w.w - CAST(floor(COALESCE(g.g, 0) / (64.0 * nd.n)) AS BIGINT) AS w
  FROM {prev} w LEFT JOIN g{k} g USING (bucket) CROSS JOIN nd
)"""
        )
        prev = f"w{k}"
    score = f"""zs AS (
  SELECT f.{id_col}, sum(f.cnt * w.w) AS z FROM {feats_cte} f
  JOIN {prev} w USING (bucket) GROUP BY f.{id_col}
),
scored AS (
  SELECT l.{id_col}, CAST(l.y AS BIGINT) AS y,
         CAST(COALESCE(z.z, 0) AS BIGINT) AS z,
         LEAST({scale}, GREATEST(0, {half} + CAST(floor(COALESCE(z.z, 0) / 4.0) AS BIGINT))) AS p
  FROM {labels_cte} l LEFT JOIN zs z USING ({id_col})
)"""
    parts.append(score)
    return (
        ",\n".join(parts)
        + f"""
SELECT {id_col}, y, z, p, CAST(p >= {half} AS BIGINT) AS pred FROM scored"""
    )
