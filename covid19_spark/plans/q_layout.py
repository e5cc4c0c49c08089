"""Data-layout queries: Z-order clustering, compaction planning, and the
file-pruning cost model (``operators/layout``) — the serving-table
maintenance surface (VERDICT r10 stretch #8).

All three carry FULL DuckDB value oracles: the bucketization is the
portable ``floor((x − min) · 2^bits / span)`` double expression and the
Morton code is generated from the same (bit, column) walk in both engines
(``morton_interleave`` / ``morton_interleave_sql``), so the cross-engine
hash matches bit for bit — no fixtures.

Scale shapes: every query is scan → broadcast-bounds map → one |buckets|-
sized aggregate; the compaction planner's global window runs over a file
MANIFEST (metadata rows), the documented contract-small class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid19_spark.operators.layout import (
    bucket_stats,
    hilbert_code,
    hilbert_sql,
    buckets_touched,
    compaction_bins,
    int_bucket,
    morton_interleave,
    morton_interleave_sql,
    TARGET_BYTES,
    Z_BITS,
)
from covid19_spark.plans.base import QUERY_REGISTRY, QuerySpec, _t


# 64 coarse "files": z >> 10. Shared by the clustering + pruning queries.
_Z_SHIFT = 10

_DAYS_SQL = "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"

# the bucketized-orders CTE both oracles share: cb/db are the 8-bit
# quantized customer/date coordinates, z the Morton interleave
_BUCKETED_ORDERS_SQL = f"""
b AS (
  SELECT min(o_custkey) AS mnc, max(o_custkey) AS mxc,
         min({_DAYS_SQL}) AS mnd, max({_DAYS_SQL}) AS mxd
  FROM orders
),
q AS (
  SELECT CAST(floor((o_custkey - mnc) * 256.0 / (mxc - mnc + 1)) AS BIGINT) AS cb,
         CAST(floor(({_DAYS_SQL} - mnd) * 256.0 / (mxd - mnd + 1)) AS BIGINT) AS db
  FROM orders CROSS JOIN b
),
z AS (
  SELECT cb, db, CAST({morton_interleave_sql(["cb", "db"])} AS BIGINT) AS z FROM q
)
"""


def _bucketed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cb, db, z) for every order — the Spark twin of the shared CTE."""
    orders = _t(spark, sf_dir, "orders")
    days = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
    src = orders.select(F.col("o_custkey"), days.alias("days"))
    bounds = src.agg(
        F.min("o_custkey").alias("mnc"), F.max("o_custkey").alias("mxc"),
        F.min("days").alias("mnd"), F.max("days").alias("mxd"),
    )
    coded = src.crossJoin(F.broadcast(bounds)).select(
        int_bucket(F.col("o_custkey"), F.col("mnc"), F.col("mxc"), Z_BITS).alias("cb"),
        int_bucket(F.col("days"), F.col("mnd"), F.col("mxd"), Z_BITS).alias("db"),
    )
    return coded.withColumn(
        "z", morton_interleave([F.col("cb"), F.col("db")])
    )


def q_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order locality report over orders: quantize (customer, order-day)
    to an 8-bit grid, Morton-interleave, cut the curve into 64 "files"
    (``z >> 10``), and report each file's row count and per-dimension
    min/max span — the footer statistics a Z-ordered write would produce.
    Tight spans on BOTH dimensions (vs a sort's one) are the whole point
    of the layout; the pruning query below turns that into files-touched
    numbers. Scan → broadcast one-row bounds → map → 64-group agg: no
    fact-row shuffle beyond the final |buckets| aggregate."""
    coded = _bucketed_orders(spark, sf_dir)
    return (
        coded.withColumn("zfile", F.shiftright("z", _Z_SHIFT))
        .groupBy("zfile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.max("cb") - F.min("cb") + F.lit(1)).alias("cust_span"),
            (F.max("db") - F.min("db") + F.lit(1)).alias("date_span"),
        )
        .select(
            F.col("zfile").cast("long").alias("zfile"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("cust_span").cast("long").alias("cust_span"),
            F.col("date_span").cast("long").alias("date_span"),
        )
        .orderBy("zfile")
    )


ORACLE_ZORDER_CLUSTERING = f"""
WITH {_BUCKETED_ORDERS_SQL}
SELECT CAST(z >> {_Z_SHIFT} AS BIGINT) AS zfile,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(max(cb) - min(cb) + 1 AS BIGINT) AS cust_span,
       CAST(max(db) - min(db) + 1 AS BIGINT) AS date_span
FROM z
GROUP BY 1
ORDER BY 1
"""


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction planner over the documents "manifest" (each doc stands
    in for a small file, its byte size = octet length): walk files in
    doc_id order, cut a bin at every 64 KiB of cumulative payload
    (``floor(cum_before / target)`` — streaming first-fit), and report
    each bin's file count, byte total, and id range. The global-order
    window is over manifest METADATA (contract-small; see
    ``compaction_bins``), never data rows."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.octet_length("text").cast("long").alias("bytes")
    )
    binned = compaction_bins(docs, "bytes", ["doc_id"])
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").alias("total_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.col("n_files").cast("long").alias("n_files"),
            F.col("total_bytes").cast("long").alias("total_bytes"),
            F.col("first_doc").cast("long").alias("first_doc"),
            F.col("last_doc").cast("long").alias("last_doc"),
        )
        .orderBy("bin")
    )


ORACLE_COMPACTION_PLAN = f"""
WITH m AS (
  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS bytes FROM documents
),
c AS (
  SELECT doc_id, bytes,
         CAST(floor(CAST(sum(bytes) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes
                AS DOUBLE) / {float(TARGET_BYTES)}) AS BIGINT) AS bin
  FROM m
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM c
GROUP BY bin
ORDER BY bin
"""


# The literal predicate workload for the pruning model: axis-aligned
# rectangles in the 256×256 (cb, db) grid — two 2-D tiles, one band per
# single dimension (the case each layout wins/loses).
_PREDICATES = [
    (1, 0, 63, 0, 63),        # 2-D corner tile
    (2, 192, 255, 192, 255),  # 2-D far-corner tile
    (3, 0, 255, 100, 115),    # date-only band (sort-by-date's best case)
    (4, 96, 111, 0, 255),     # customer-only band (sort's worst case)
]


def q_layout_pruning_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Files-touched cost model, Z-order vs date-sorted layout: both cut
    orders into 64 "files" (Z: ``z >> 10``; sort: 4-wide date-bucket
    stripes), compute per-file min/max footer stats for customer and
    date buckets, and count for each predicate rectangle how many files
    a min/max-pruning reader must touch under each layout. The expected
    shape — Z prunes on BOTH dimensions, the sort only on date — is what
    justifies Z-ordering a multi-key serving table; this query MEASURES
    it instead of asserting it. Two |rows|-scans → two 64-row stats
    frames → broadcast 4-row predicate join."""
    coded = _bucketed_orders(spark, sf_dir)
    zfiles = coded.withColumn("zfile", F.shiftright("z", _Z_SHIFT))
    dfiles = coded.withColumn("zfile", F.floor(F.col("db") / F.lit(4)).cast("long"))
    preds = spark.createDataFrame(
        _PREDICATES, "pred_id int, clo long, chi long, dlo long, dhi long"
    )
    ranges = [("cb", "clo", "chi"), ("db", "dlo", "dhi")]
    z_touch = buckets_touched(bucket_stats(zfiles, "zfile", ["cb", "db"]), preds, ranges)
    d_touch = buckets_touched(bucket_stats(dfiles, "zfile", ["cb", "db"]), preds, ranges)
    return (
        z_touch.select("pred_id", F.col("buckets_touched").alias("z_files"))
        .join(
            d_touch.select("pred_id", F.col("buckets_touched").alias("datesort_files")),
            "pred_id",
        )
        .select(
            F.col("pred_id").cast("int").alias("pred_id"),
            F.col("z_files").cast("long").alias("z_files"),
            F.col("datesort_files").cast("long").alias("datesort_files"),
        )
        .orderBy("pred_id")
    )


_PRED_VALUES_SQL = ", ".join(f"({p}, {a}, {b}, {c}, {d})" for p, a, b, c, d in _PREDICATES)

ORACLE_LAYOUT_PRUNING_GAIN = f"""
WITH {_BUCKETED_ORDERS_SQL},
preds(pred_id, clo, chi, dlo, dhi) AS (VALUES {_PRED_VALUES_SQL}),
zstats AS (
  SELECT z >> {_Z_SHIFT} AS f, min(cb) mncb, max(cb) mxcb, min(db) mndb, max(db) mxdb
  FROM z GROUP BY 1
),
dstats AS (
  SELECT CAST(floor(db / 4) AS BIGINT) AS f,
         min(cb) mncb, max(cb) mxcb, min(db) mndb, max(db) mxdb
  FROM z GROUP BY 1
),
zt AS (
  SELECT pred_id, count(*) AS z_files
  FROM zstats JOIN preds
    ON mxcb >= clo AND mncb <= chi AND mxdb >= dlo AND mndb <= dhi
  GROUP BY pred_id
),
dt AS (
  SELECT pred_id, count(*) AS datesort_files
  FROM dstats JOIN preds
    ON mxcb >= clo AND mncb <= chi AND mxdb >= dlo AND mndb <= dhi
  GROUP BY pred_id
)
SELECT CAST(zt.pred_id AS INT) AS pred_id,
       CAST(z_files AS BIGINT) AS z_files,
       CAST(datesort_files AS BIGINT) AS datesort_files
FROM zt JOIN dt ON zt.pred_id = dt.pred_id
ORDER BY pred_id
"""


QUERY_REGISTRY.update(
    {
        "zorder_clustering": QuerySpec(
            q_zorder_clustering, ORACLE_ZORDER_CLUSTERING,
            "Z-order (Morton) layout: per-file locality spans on a 2-D key grid",
        ),
        "compaction_plan": QuerySpec(
            q_compaction_plan, ORACLE_COMPACTION_PLAN,
            "small-file compaction planner: streaming first-fit bins over a manifest",
        ),
        "layout_pruning_gain": QuerySpec(
            q_layout_pruning_gain, ORACLE_LAYOUT_PRUNING_GAIN,
            "files-touched cost model: Z-order vs single-key sort pruning",
        ),
    }
)


def q_hilbert_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve locality report over the SAME (customer, order-day)
    8-bit grid as ``zorder_clustering``: code each order with the
    continuous Hilbert index (``operators/layout.hilbert_code``), cut the
    curve into the same 64 "files" (``h >> 10``), and report each file's
    row count and per-dimension min/max span.  Because the Hilbert curve
    never jumps (consecutive codes are grid neighbors — pinned in
    tests/test_layout.py), equal-size cuts produce strictly-tighter
    footer stats than Morton's power-of-two jumps on the same data — the
    span totals of the two reports are compared in tests, and the same
    ``buckets_touched`` cost model turns the difference into files
    skipped.  Plan shape is identical to Z-order: scan → broadcast one-row
    bounds → map (8 unrolled rotate/reflect levels, pure CASE/floor
    arithmetic, codegen'd) → 64-group agg."""
    coded = hilbert_code(_bucketed_orders(spark, sf_dir), "cb", "db")
    return (
        coded.withColumn("hfile", F.shiftright("h", _Z_SHIFT))
        .groupBy("hfile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.max("cb") - F.min("cb") + F.lit(1)).alias("cust_span"),
            (F.max("db") - F.min("db") + F.lit(1)).alias("date_span"),
        )
        .select(
            F.col("hfile").cast("long").alias("hfile"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("cust_span").cast("long").alias("cust_span"),
            F.col("date_span").cast("long").alias("date_span"),
        )
        .orderBy("hfile")
    )


ORACLE_HILBERT_CLUSTERING = f"""
WITH {_BUCKETED_ORDERS_SQL},
h AS ({hilbert_sql("q", "cb", "db", ["cb", "db"])})
SELECT CAST(h >> {_Z_SHIFT} AS BIGINT) AS hfile,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(max(cb) - min(cb) + 1 AS BIGINT) AS cust_span,
       CAST(max(db) - min(db) + 1 AS BIGINT) AS date_span
FROM h
GROUP BY 1
ORDER BY 1
"""

QUERY_REGISTRY["hilbert_clustering"] = QuerySpec(
    q_hilbert_clustering, ORACLE_HILBERT_CLUSTERING,
    "Hilbert-curve clustering report (continuous-curve twin of Z-order)",
)


def q_bloom_pruning_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping via per-file Bloom indexes vs min/max zone maps, on a
    POINT-LOOKUP key the layout is NOT clustered by: orders are cut into 64
    "files" by o_orderkey range (the natural ingest order), then probed by
    customer key — the workload where zone maps prune nothing (every file
    spans nearly the whole customer domain) and a Bloom index prunes almost
    everything (Parquet column-index blooms / Delta bloom index role).
    Probes: the distinct customers of the 5 smallest order keys.  Output
    per probe: files actually containing it, files a zone-map reader
    opens, files a Bloom reader opens (⊇ truth by the no-false-skip
    contract; both pinned in tests).

    Scale: the index build is one map + bit_or agg (≤ BLOOM_BITS/32 words per
    file); probing broadcast-joins 3 positions per probe against the words
    frame.  All arithmetic md5/integer — full cross-engine value oracle."""
    from covid19_spark.operators.layout import (
        file_bloom_words,
        files_bloom_touched,
    )

    orders = _t(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
    )
    # THREE plan branches (bloom words, zone maps, truth) consume the
    # file-assignment map; materialize it once instead of re-scanning and
    # re-bucketing orders per branch (plans are trees).  2 int columns per
    # order — and at scale this frame IS the table's layout metadata pass,
    # computed once per ingest (Delta/Iceberg compute zone+bloom stats at
    # write time), so one materialization is the honest cost model.
    files = (
        orders.crossJoin(F.broadcast(bounds))
        .select(
            int_bucket(F.col("o_orderkey"), F.col("mn"), F.col("mx"), 6).alias(
                "file"
            ),
            "o_custkey",
        )
        .localCheckpoint(eager=True)
    )
    # three plan branches consume the probe set; materialize the 5-row
    # TakeOrdered result once (contract-small)
    probes = (
        orders.orderBy("o_orderkey")
        .limit(5)
        .select(F.col("o_custkey").alias("probe_key"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    words = file_bloom_words(files, "file", "o_custkey")
    zone = (
        files.groupBy("file")
        .agg(F.min("o_custkey").alias("lo"), F.max("o_custkey").alias("hi"))
        .join(
            F.broadcast(probes),
            (F.col("probe_key") >= F.col("lo")) & (F.col("probe_key") <= F.col("hi")),
        )
        .groupBy("probe_key")
        .agg(F.count(F.lit(1)).cast("long").alias("zone_files"))
    )
    true_f = (
        files.join(F.broadcast(probes), files["o_custkey"] == F.col("probe_key"))
        .groupBy("probe_key")
        .agg(F.countDistinct("file").cast("long").alias("true_files"))
    )
    bloom = files_bloom_touched(words, probes, "probe_key")
    return (
        true_f.join(zone, "probe_key")
        .join(bloom, "probe_key")
        .select("probe_key", "true_files", "zone_files", "bloom_files")
        .orderBy("probe_key")
    )


def _oracle_bloom_pruning_gain() -> str:
    from covid19_spark.operators.layout import file_bloom_pos_sql

    p = [file_bloom_pos_sql("o_custkey", i) for i in range(3)]
    q = [file_bloom_pos_sql("probe_key", i) for i in range(3)]
    return f"""
WITH b AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM orders),
f AS MATERIALIZED (
  SELECT CAST(floor((o_orderkey - mn) * 64.0 / (mx - mn + 1)) AS BIGINT) AS file,
         o_custkey
  FROM orders CROSS JOIN b
),
probes AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS probe_key FROM (
    SELECT o_custkey FROM orders ORDER BY o_orderkey LIMIT 5
  )
),
pos AS (
  SELECT file, unnest([{p[0]}, {p[1]}, {p[2]}]) AS p FROM f
),
words AS MATERIALIZED (
  SELECT file, CAST(floor(p / 32) AS BIGINT) AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS bits
  FROM pos GROUP BY 1, 2
),
stats AS (
  SELECT file, min(o_custkey) AS lo, max(o_custkey) AS hi FROM f GROUP BY file
),
zone AS (
  SELECT probe_key, CAST(count(*) AS BIGINT) AS zone_files
  FROM probes JOIN stats ON probe_key BETWEEN lo AND hi
  GROUP BY probe_key
),
truth AS (
  SELECT probe_key, CAST(count(DISTINCT file) AS BIGINT) AS true_files
  FROM probes JOIN f ON f.o_custkey = probe_key
  GROUP BY probe_key
),
ppos AS (
  SELECT probe_key, seed, CAST(floor(p / 32) AS BIGINT) AS word,
         (CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS mask
  FROM (
    SELECT probe_key, 0 AS seed, {q[0]} AS p FROM probes
    UNION ALL SELECT probe_key, 1, {q[1]} FROM probes
    UNION ALL SELECT probe_key, 2, {q[2]} FROM probes
  )
),
bloom AS (
  SELECT probe_key, CAST(count(*) AS BIGINT) AS bloom_files FROM (
    SELECT probe_key, file FROM words JOIN ppos USING (word)
    WHERE (bits & mask) <> 0
    GROUP BY probe_key, file
    HAVING count(DISTINCT seed) = 3
  ) GROUP BY probe_key
)
SELECT probe_key, true_files, zone_files, bloom_files
FROM truth JOIN zone USING (probe_key) JOIN bloom USING (probe_key)
ORDER BY probe_key
"""


QUERY_REGISTRY["bloom_pruning_gain"] = QuerySpec(
    q_bloom_pruning_gain, _oracle_bloom_pruning_gain(),
    "per-file Bloom index vs zone maps: files touched on an unclustered point lookup",
)


# Query rectangles for the z-interval spatial join, in the 256×256
# (customer-bucket, day-bucket) grid: a corner tile, an off-grid-aligned
# mid box (the worst case for power-of-two decomposition), and a thin band.
_ZJOIN_RECTS = [
    (1, 0, 63, 0, 63),
    (2, 100, 140, 30, 200),
    (3, 200, 255, 250, 255),
]


def q_zrange_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial (rectangle-containment) join via space-filling-curve range
    decomposition: each query rectangle decomposes driver-side into exact
    Morton-code intervals (``layout.zrange_decompose`` — the quadtree walk
    every z-order spatial index runs), the intervals broadcast against the
    point table's z column, and the exact rectangle predicate stays as the
    residual filter (so a fragmentation-capped decomposition costs scan,
    never correctness).  On a z-sorted layout each interval is parquet
    min/max file pruning — the 100 TB spatial-join shape, vs the quadratic
    point×rectangle BNLJ a naive 2-D BETWEEN join compiles to.

    The oracle answers with the DIRECT 2-D predicate — the differential
    certifies the decomposition is a pure physical strategy."""
    from covid19_spark.operators.layout import zrange_decompose

    pts = _bucketed_orders(spark, sf_dir)
    rows = []
    for rid, x0, x1, y0, y1 in _ZJOIN_RECTS:
        for lo, hi in zrange_decompose(x0, x1, y0, y1):
            rows.append((rid, x0, x1, y0, y1, lo, hi))
    ranges = spark.createDataFrame(
        rows, "rect_id long, x0 long, x1 long, y0 long, y1 long, lo long, hi long"
    )
    joined = pts.join(
        F.broadcast(ranges),
        (F.col("z") >= F.col("lo")) & (F.col("z") <= F.col("hi")),
    ).filter(
        # residual exactness: the decomposition may over-cover when capped
        (F.col("cb") >= F.col("x0")) & (F.col("cb") <= F.col("x1"))
        & (F.col("db") >= F.col("y0")) & (F.col("db") <= F.col("y1"))
    )
    return (
        joined.groupBy("rect_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
        .orderBy("rect_id")
    )


_ZJOIN_RECTS_SQL = " UNION ALL ".join(
    f"SELECT CAST({rid} AS BIGINT) AS rect_id, {x0} AS x0, {x1} AS x1, "
    f"{y0} AS y0, {y1} AS y1"
    for rid, x0, x1, y0, y1 in _ZJOIN_RECTS
)

ORACLE_ZRANGE_SPATIAL_JOIN = f"""
WITH {_BUCKETED_ORDERS_SQL},
rects AS ({_ZJOIN_RECTS_SQL})
SELECT rect_id, CAST(count(*) AS BIGINT) AS n_points
FROM z JOIN rects
  ON cb BETWEEN x0 AND x1 AND db BETWEEN y0 AND y1
GROUP BY rect_id
ORDER BY rect_id
"""

QUERY_REGISTRY["zrange_spatial_join"] = QuerySpec(
    q_zrange_spatial_join, ORACLE_ZRANGE_SPATIAL_JOIN,
    "rectangle join via Morton-range decomposition == direct 2-D predicate",
)
