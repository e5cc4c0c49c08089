"""Remaining SURVEY 2 join/scan shapes, wider relational coverage, and the
wider SQL surface (cube / set operations / exact quantiles)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid19_spark.plans.base import DEC, QUERY_REGISTRY, QuerySpec, _dsum, _t
from covid19_spark.operators.delta import running_delta
from covid19_spark.operators.series import top_k, zip_positional


def q_zip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional zip join (J3, ``Utils.zip`` at ``Utils.java:17-28``): pair
    the i-th row of two aligned sorted lists. The reference THROWS on length
    mismatch, and so does this query (VERDICT r10 #6): it runs through
    ``zip_positional(how="error")``, whose lazy ``raise_error`` fires on any
    one-sided position — never a silent inner-join truncation. The two
    sides here are equal-length by construction (both group the same event
    days), so the guard passes and the oracle is unchanged; the mismatch
    throw and the ``how="outer"`` flag form are pinned by
    ``tests/test_operators.py``.

    Scale note: the positional index comes from ``with_ordered_index``
    (per-partition numbering + broadcast cumulative offsets — the DataFrame
    ``zipWithIndex``), not a global rank window: no single-partition sort
    even when the aligned frames are unbounded.
    """
    events = _t(spark, sf_dir, "events")
    daily_counts = (
        events.withColumn("date", F.to_date("ts"))
        .groupBy("date")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    daily_value = (
        events.withColumn("date", F.to_date("ts"))
        .groupBy("date")
        .agg(_dsum(F.col("value")).alias("sum_value"))
    )
    zipped = zip_positional(
        daily_counts, daily_value.select("date", "sum_value"), ["date"], ["date"]
    )
    return (
        zipped.select(
            F.col("idx").cast("int").alias("idx"),
            F.date_format("date", "yyyy-MM-dd").alias("date"),
            "n_events",
            "sum_value",
        )
        .orderBy("idx")
    )


ORACLE_ZIP_JOIN = """
WITH c AS (
  SELECT CAST(ts AS DATE) AS date, count(*) AS n_events
  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events GROUP BY 1
), v AS (
  SELECT CAST(ts AS DATE) AS date, CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events GROUP BY 1
), a AS (SELECT *, row_number() OVER (ORDER BY date) AS idx FROM c),
   b AS (SELECT *, row_number() OVER (ORDER BY date) AS idx FROM v)
SELECT a.idx AS idx, strftime(a.date, '%Y-%m-%d') AS date, a.n_events, b.sum_value
FROM a JOIN b USING (idx)
ORDER BY idx
"""


def q_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-side enrichment (J1 family over the remaining dims): lineitem
    ⋈ supplier ⋈ nation, revenue + fill-rate stats per supplier nation."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            _dsum(F.col("l_quantity")).alias("total_qty"),
            F.count(F.lit(1)).alias("n_lineitems"),
            F.countDistinct("s_suppkey").alias("n_suppliers"),
        )
        .orderBy("n_name")
    )


ORACLE_SUPPLIER_REVENUE = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty,
       count(*) AS n_lineitems,
       count(DISTINCT s_suppkey) AS n_suppliers
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


def q_part_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-dimension aggregation: per p_type price stats + brand cardinality
    (completes the star schema coverage; exercises min/max/avg/distinct)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.countDistinct("p_brand").alias("n_brands"),
            # DECIMAL(38,6)→DOUBLE contract on min/max and BIGINT on the int
            # sum: raw DOUBLE extremes and HUGEINT sums fetch with divergent
            # encodings between the engines.
            F.min(F.col("p_retailprice").cast(DEC)).cast("double").alias("min_price"),
            F.max(F.col("p_retailprice").cast(DEC)).cast("double").alias("max_price"),
            (_dsum(F.col("p_retailprice")) / F.count(F.lit(1))).alias("avg_price"),
            F.sum("p_size").cast("long").alias("total_size"),
        )
        .orderBy("p_type")
    )


ORACLE_PART_TYPE_STATS = """
SELECT p_type,
       count(*) AS n_parts,
       count(DISTINCT p_brand) AS n_brands,
       CAST(min(CAST(p_retailprice AS DECIMAL(38,6))) AS DOUBLE) AS min_price,
       CAST(max(CAST(p_retailprice AS DECIMAL(38,6))) AS DOUBLE) AS max_price,
       CAST(sum(CAST(p_retailprice AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_price,
       CAST(sum(p_size) AS BIGINT) AS total_size
FROM part
GROUP BY p_type
ORDER BY p_type
"""


def q_date_range_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-range scan + priority histogram (P2's range-filter shape over the
    orders fact): predicate pushes into the parquet scan, map-side combine
    keeps the shuffle at |priorities| rows."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_DATE_RANGE_ORDERS = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


QUERY_REGISTRY.update(
    {
        "zip_join": QuerySpec(q_zip_join, ORACLE_ZIP_JOIN, "J3 positional zip join"),
        "supplier_revenue": QuerySpec(q_supplier_revenue, ORACLE_SUPPLIER_REVENUE, "J1 supplier enrichment"),
        "part_type_stats": QuerySpec(q_part_type_stats, ORACLE_PART_TYPE_STATS, "part dimension agg"),
        "date_range_orders": QuerySpec(q_date_range_orders, ORACLE_DATE_RANGE_ORDERS, "P2 date-range scan"),
    }
)


# ---------------------------------------------------------------------------
# Wider SQL surface: cube / set operations / exact quantiles
# ---------------------------------------------------------------------------

def q_cube_segment_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (region, mktsegment): all four grouping combinations in one
    pass (superset of the reference's rollup-style Total rows)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return (
        joined.cube("r_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"), _dsum(F.col("c_acctbal")).alias("sum_acctbal"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("c_mktsegment"),
            "n_customers",
            "sum_acctbal",
        )
        .orderBy("r_name", "c_mktsegment")
    )


ORACLE_CUBE_SEGMENT_REGION = """
SELECT coalesce(r_name, 'ALL') AS r_name,
       coalesce(c_mktsegment, 'ALL') AS c_mktsegment,
       count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY CUBE(r_name, c_mktsegment)
ORDER BY r_name, c_mktsegment
"""


def q_set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: big-spender ∩ BUILDING-segment customers, minus
    negative-balance ones — intersect/except over keyed projections (the
    reference's only union-like construct is Stream.concat, SURVEY §2.5)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    spenders = (
        orders.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("spend"))
        .filter(F.col("spend") > 100000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    negative = cust.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return (
        spenders.intersect(building).exceptAll(negative).orderBy("c_custkey")
    )


ORACLE_SET_OPS_CUSTOMERS = """
SELECT c_custkey FROM (
  SELECT o_custkey AS c_custkey FROM orders GROUP BY o_custkey HAVING sum(o_totalprice) > 100000
  INTERSECT
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
)
EXCEPT ALL
SELECT c_custkey FROM customer WHERE c_acctbal < 0
ORDER BY c_custkey
"""


def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per return flag (Spark ``percentile`` ≡
    DuckDB ``quantile_cont`` — verified bitwise-identical). The exact
    percentile is the correctness gold; at 100 TB the plan swaps to
    ``approx_percentile`` (t-digest) with documented error bounds.

    Both price percentiles come from ONE ``percentile(col, array(...))``
    aggregate: each separate percentile call keeps its own copy of the
    group's values in the agg buffer, so the array form halves the buffered
    data for the price column (~40% faster measured at sf0.1)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95))
            ).alias("pp"),
            F.percentile("l_discount", 0.5).alias("p50_discount"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "l_returnflag",
            F.col("pp")[0].alias("p50_price"),
            F.col("pp")[1].alias("p95_price"),
            "p50_discount",
            "n_rows",
        )
        .orderBy("l_returnflag")
    )


ORACLE_PRICE_QUANTILES = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50_price,
       quantile_cont(l_extendedprice, 0.95) AS p95_price,
       quantile_cont(l_discount, 0.5) AS p50_discount,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


QUERY_REGISTRY.update(
    {
        "cube_segment_region": QuerySpec(q_cube_segment_region, ORACLE_CUBE_SEGMENT_REGION, "CUBE grouping sets"),
        "set_ops_customers": QuerySpec(q_set_ops_customers, ORACLE_SET_OPS_CUSTOMERS, "intersect/except set ops"),
        "price_quantiles": QuerySpec(q_price_quantiles, ORACLE_PRICE_QUANTILES, "exact quantiles"),
    }
)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over the events stream (30-minute timeout):
    per-user session ids via lag + running sum — one hash exchange on
    user_id shared by both windows (see operators/sessions.py)."""
    from covid19_spark.operators.sessions import session_stats

    events = _t(spark, sf_dir, "events")
    return (
        session_stats(events, ["user_id"], "ts", gap="30 minutes", tiebreak_cols=["event_id"])
        .orderBy("user_id", "session_id")
    )


ORACLE_SESSIONIZE = """
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_start
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_id, ts,
         CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_sec
FROM sess
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


QUERY_REGISTRY["sessionize"] = QuerySpec(q_sessionize, ORACLE_SESSIONIZE, "gap-based sessionization")


def q_running_delta_two_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: running delta with a composite key (the reference's
    (state, district) aggregator, ``Covid19Stats.java:100-111``) — here
    (user_id, event_type); still a single exchange on the two key columns."""
    events = _t(spark, sf_dir, "events")
    return running_delta(
        events,
        key_cols=["user_id", "event_type"],
        order_cols=["ts", "event_id"],
        value_cols=["value"],
    ).select("event_id", "user_id", "event_type", "ts", "value", "delta_value")


ORACLE_RUNNING_DELTA_TWO_KEY = """
SELECT event_id, user_id, event_type, ts, value,
       value - coalesce(lag(value) OVER (PARTITION BY user_id, event_type
                                         ORDER BY ts, event_id), 0) AS delta_value
FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
"""


def q_topk_days_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 partitioned variant: top-3 busiest days per event_type — rank
    window WITH a partition key (the global top-k's scalable sibling)."""
    events = _t(spark, sf_dir, "events")
    daily = (
        events.withColumn("date", F.to_date("ts"))
        .groupBy("event_type", "date")
        .agg(F.count(F.lit(1)).alias("daily_n"))
    )
    ranked = top_k(
        daily, "daily_n", 3, partition_cols=["event_type"], tiebreak_cols=["date"]
    )
    return ranked.select(
        "event_type",
        "rank",
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        "daily_n",
    ).orderBy("event_type", "rank")


ORACLE_TOPK_DAYS_PER_TYPE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS date, count(*) AS daily_n
  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
  GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY daily_n DESC, date) AS rank
  FROM daily
)
SELECT event_type, rank, strftime(date, '%Y-%m-%d') AS date, daily_n
FROM ranked WHERE rank <= 3
ORDER BY event_type, rank
"""


def q_string_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 scalar string surface in one query: concat_ws, substring, upper/
    lower, format_string, length, conditional pluralization — the alert-text
    building blocks as engine expressions."""
    cust = _t(spark, sf_dir, "customer")
    n_orders = _t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    joined = cust.join(
        n_orders, cust.c_custkey == n_orders.o_custkey, "left"
    ).withColumn("n", F.coalesce("n", F.lit(0)))
    return joined.select(
        "c_custkey",
        F.concat_ws("|", F.upper(F.substring("c_name", 1, 8)), F.lower("c_mktsegment")).alias("tag"),
        F.format_string("%s placed %d %s", F.col("c_name"), F.col("n"),
                        F.when(F.col("n") == 1, "order").otherwise("orders")).alias("sentence"),
        F.length("c_name").alias("name_len"),
    ).orderBy("c_custkey")


ORACLE_STRING_SURFACE = """
WITH n AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1)
SELECT c_custkey,
       concat_ws('|', upper(substring(c_name, 1, 8)), lower(c_mktsegment)) AS tag,
       printf('%s placed %d %s', c_name, coalesce(n.n, 0),
              CASE WHEN coalesce(n.n, 0) = 1 THEN 'order' ELSE 'orders' END) AS sentence,
       length(c_name) AS name_len
FROM customer LEFT JOIN n ON c_custkey = o_custkey
ORDER BY c_custkey
"""


QUERY_REGISTRY.update(
    {
        "running_delta_two_key": QuerySpec(q_running_delta_two_key, ORACLE_RUNNING_DELTA_TWO_KEY, "A2 composite-key delta"),
        "topk_days_per_type": QuerySpec(q_topk_days_per_type, ORACLE_TOPK_DAYS_PER_TYPE, "W3 partitioned top-k"),
        "string_surface": QuerySpec(q_string_surface, ORACLE_STRING_SURFACE, "§2.6 string functions"),
    }
)




def q_pagerank_supply_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration weighted PageRank (operators/graph.py) over the
    symmetrized customer↔supplier trade graph: an edge per distinct
    (customer, supplier) pair that traded (weight = lineitem count, both
    directions, supplier node ids offset by 10^6 into a shared id space —
    symmetry means no dangling nodes). 3 rounds, d = 0.85 — the iterative
    family's registry exemplar: one edge-list shuffle per round, rank
    state co-partitioned, nothing pairwise.

    TRUE cross-engine oracle: DuckDB replays the SAME 3 rounds as chained
    CTEs — per-term DECIMAL(38,18) sums make every Σ exact and
    order-independent, and each term is the identical left-to-right double
    expression in both engines, so full-precision doubles hash-match."""
    from covid19_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    fwd = pairs.select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + 1_000_000).alias("dst"),
        "w",
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    return (
        pagerank(edges)
        .select(F.col("node").cast("long").alias("node"), "rank")
        .orderBy("node")
    )


ORACLE_PAGERANK_SUPPLY_GRAPH = """
WITH pairs AS (
  SELECT o_custkey, l_suppkey, CAST(count(*) AS DOUBLE) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey
),
edges AS (
  SELECT o_custkey AS src, l_suppkey + 1000000 AS dst, w FROM pairs
  UNION ALL
  SELECT l_suppkey + 1000000 AS src, o_custkey AS dst, w FROM pairs
),
outw AS (
  SELECT src, sum(w) AS wu
  FROM edges GROUP BY src
),
edges_n AS (
  SELECT e.src, e.dst, e.w / o.wu AS nw
  FROM edges e JOIN outw o ON e.src = o.src
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
  )
),
n AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM n) AS rank FROM nodes),
it1 AS (
  SELECT e.dst AS node,
         sum(CAST(floor((r.rank * e.nw) * 1000000000000000.0) AS BIGINT))
           / 1000000000000000.0 AS acc
  FROM edges_n e JOIN r0 r ON e.src = r.node
  GROUP BY e.dst
),
r1 AS (
  SELECT nd.node, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM n)
         + CAST(0.85 AS DOUBLE) * COALESCE(i.acc, CAST(0.0 AS DOUBLE)) AS rank
  FROM nodes nd LEFT JOIN it1 i ON nd.node = i.node
),
it2 AS (
  SELECT e.dst AS node,
         sum(CAST(floor((r.rank * e.nw) * 1000000000000000.0) AS BIGINT))
           / 1000000000000000.0 AS acc
  FROM edges_n e JOIN r1 r ON e.src = r.node
  GROUP BY e.dst
),
r2 AS (
  SELECT nd.node, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM n)
         + CAST(0.85 AS DOUBLE) * COALESCE(i.acc, CAST(0.0 AS DOUBLE)) AS rank
  FROM nodes nd LEFT JOIN it2 i ON nd.node = i.node
),
it3 AS (
  SELECT e.dst AS node,
         sum(CAST(floor((r.rank * e.nw) * 1000000000000000.0) AS BIGINT))
           / 1000000000000000.0 AS acc
  FROM edges_n e JOIN r2 r ON e.src = r.node
  GROUP BY e.dst
),
r3 AS (
  SELECT nd.node, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM n)
         + CAST(0.85 AS DOUBLE) * COALESCE(i.acc, CAST(0.0 AS DOUBLE)) AS rank
  FROM nodes nd LEFT JOIN it3 i ON nd.node = i.node
)
SELECT CAST(node AS BIGINT) AS node, rank FROM r3 ORDER BY node
"""

QUERY_REGISTRY["pagerank_supply_graph"] = QuerySpec(
    q_pagerank_supply_graph, ORACLE_PAGERANK_SUPPLY_GRAPH,
    "3-iteration weighted PageRank over the trade graph (cross-engine oracle)",
)


# ---------------------------------------------------------------------------
# Correlated-subquery suite: the classic decision-support shapes (TPC-H
# Q17/Q15/Q18/Q21 families) restated over the driver's star schema.  The
# reference engine has no subquery surface at all — these pin how the same
# semantics decompose into aggregate-then-join plans that Catalyst would
# produce by decorrelating the SQL form, with every correlated predicate
# made exact via integer micro-units (no cross-engine float thresholds).
# ---------------------------------------------------------------------------


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated scalar subquery): revenue carried by
    lineitems whose quantity is below HALF that part's average quantity,
    rolled up per brand.

    The correlated ``l_quantity < 0.5 * (SELECT avg(l_quantity) ... WHERE
    p_partkey = l_partkey)`` is decorrelated into a per-part aggregate
    joined back to the fact — exactly Catalyst's own rewrite.  The
    threshold compare is integer-exact: quantities become micro-units and
    ``2 * qty_u * cnt < sum_qty_u`` avoids any division, so Spark and
    DuckDB select bit-identical row sets.

    Scale: per-part aggregate shuffles |parts| rows (≪ |lineitem|); the
    join back is fact×aggregate on the fact's own partition key candidate
    (l_partkey), AQE-planned; the part dim is broadcast.  No correlated
    per-row subquery execution anywhere.
    """
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "qty_u", F.round(F.col("l_quantity") * 1_000_000).cast("long")
    )
    part = _t(spark, sf_dir, "part")
    per_part = li.groupBy("l_partkey").agg(
        F.sum("qty_u").alias("sum_qty_u"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        li.join(per_part, "l_partkey")
        .where(F.col("qty_u") * 2 * F.col("cnt") < F.col("sum_qty_u"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            _dsum(F.col("l_extendedprice")).alias("lost_revenue"),
            F.count(F.lit(1)).alias("n_small_lineitems"),
        )
        .orderBy("p_brand")
    )


ORACLE_SMALL_QTY_REVENUE = """
WITH li AS (
  SELECT *, CAST(round(l_quantity * 1000000) AS BIGINT) AS qty_u FROM lineitem
),
pp AS (
  SELECT l_partkey, sum(qty_u) AS sum_qty_u, count(*) AS cnt FROM li GROUP BY 1
)
SELECT p_brand,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS lost_revenue,
       count(*) AS n_small_lineitems
FROM li
JOIN pp USING (l_partkey)
JOIN part ON l_partkey = p_partkey
WHERE qty_u * 2 * cnt < sum_qty_u
GROUP BY p_brand
ORDER BY p_brand
"""


def q_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (aggregate-of-aggregate subquery): suppliers whose
    total revenue is within 10% of the maximum supplier revenue.

    ``revenue >= 0.9 * (SELECT max(total_revenue) FROM per_supplier)`` —
    the inner max is a one-row frame broadcast against the per-supplier
    aggregate (a crossJoin of a single row, not a window over an
    unpartitioned sort).  Revenue is DECIMAL(38,6)-exact per supplier and
    cast to DOUBLE before the 0.9× compare, so both engines evaluate the
    identical IEEE product and select the same suppliers.

    Scale: per-supplier agg shuffles |suppliers| rows; max is one row;
    the supplier dim is broadcast.  Nothing here grows with |lineitem|
    after the first map-side-combined aggregate.
    """
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    per_supp = li.groupBy("l_suppkey").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    max_rev = per_supp.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        per_supp.crossJoin(F.broadcast(max_rev))
        .where(F.col("total_revenue") >= F.lit(0.9) * F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            "total_revenue",
        )
        .orderBy("s_suppkey")
    )


ORACLE_TOP_REVENUE_SUPPLIERS = """
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
           AS total_revenue
  FROM lineitem GROUP BY 1
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, total_revenue
FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue >= 0.9 * (SELECT max(total_revenue) FROM per_supp)
ORDER BY s_suppkey
"""


def q_big_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (group-by-HAVING feeding an IN): customers holding
    orders whose total quantity exceeds 250 units — the "large volume
    customer" report.

    The ``o_orderkey IN (SELECT l_orderkey ... HAVING sum(l_quantity) >
    250)`` becomes a per-order aggregate filtered then inner-joined to
    orders (Catalyst's LeftSemi rewrite, kept inner here because the
    aggregate also supplies the output measure).  Quantity sums are
    micro-unit BIGINTs, so the HAVING threshold is integer-exact.

    Scale: the per-order aggregate shuffles |orders| rows and the HAVING
    prunes to the extreme tail (~0.5%) BEFORE the join with orders —
    the join input is tiny regardless of fact size; customer dim broadcast.
    """
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "qty_u", F.round(F.col("l_quantity") * 1_000_000).cast("long")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty_u").alias("order_qty_u"))
        .where(F.col("order_qty_u") > 250 * 1_000_000)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_custkey").cast("long").alias("c_custkey"),
            "c_name",
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.col("o_totalprice").alias("o_totalprice"),
            (F.col("order_qty_u").cast("double") / F.lit(1_000_000.0)).alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
    )


ORACLE_BIG_ORDER_CUSTOMERS = """
WITH big AS (
  SELECT l_orderkey, sum(CAST(round(l_quantity * 1000000) AS BIGINT)) AS order_qty_u
  FROM lineitem GROUP BY 1
  HAVING sum(CAST(round(l_quantity * 1000000) AS BIGINT)) > 250 * 1000000
)
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
       o_totalprice,
       CAST(order_qty_u AS DOUBLE) / 1000000.0 AS total_qty
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
"""


def q_lone_slow_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + NOT EXISTS over siblings): for each
    multi-supplier order, find the supplier who ALONE shipped more than
    90 days after the order date — then rank suppliers by how many orders
    they lone-delayed.

    The classic form is a self-join with ``EXISTS (another supplier on the
    order) AND NOT EXISTS (another LATE supplier on the order)``; here the
    sibling existence tests collapse into unordered window aggregates over
    the per-order partition (supplier count, late-supplier count) — the
    set-based rewrite of the double correlated EXISTS, with NO join back
    and NO second scan of the fact.  Day lags are ``datediff`` integers:
    exact in both engines.

    Scale: one (order, supplier) aggregate (shuffle ≤ |lineitem|,
    combinable map-side), one re-shuffle onto l_orderkey for the sibling
    window (partition width = suppliers-per-order, bounded), final agg is
    |suppliers|.  The fact is scanned exactly once; no self-join.
    """
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    per_os = (
        li.join(orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))).alias("lag_days"))
    )
    by_order = Window.partitionBy("l_orderkey")
    lone = (
        per_os.withColumn("n_suppliers", F.count(F.lit(1)).over(by_order))
        .withColumn(
            "n_slow",
            F.sum(F.when(F.col("lag_days") > 90, 1).otherwise(0)).over(by_order),
        )
        .where(
            (F.col("lag_days") > 90)
            & (F.col("n_suppliers") >= 2)
            & (F.col("n_slow") == 1)
        )
    )
    return (
        lone.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_lone_slow_orders"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            "n_lone_slow_orders",
        )
        .orderBy(F.col("n_lone_slow_orders").desc(), "s_suppkey")
    )


ORACLE_LONE_SLOW_SUPPLIER = """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey,
         max(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS lag_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
siblings AS (
  SELECT l_orderkey, count(*) AS n_suppliers,
         sum(CASE WHEN lag_days > 90 THEN 1 ELSE 0 END) AS n_slow
  FROM per_os GROUP BY 1
)
SELECT CAST(p.l_suppkey AS BIGINT) AS s_suppkey, s_name,
       count(*) AS n_lone_slow_orders
FROM per_os p
JOIN siblings s ON p.l_orderkey = s.l_orderkey
                AND s.n_suppliers >= 2 AND s.n_slow = 1
JOIN supplier ON p.l_suppkey = s_suppkey
WHERE p.lag_days > 90
GROUP BY 1, 2
ORDER BY n_lone_slow_orders DESC, s_suppkey
"""


QUERY_REGISTRY.update(
    {
        "small_qty_revenue": QuerySpec(
            q_small_qty_revenue, ORACLE_SMALL_QTY_REVENUE,
            "Q17-shape correlated scalar subquery, decorrelated",
        ),
        "top_revenue_suppliers": QuerySpec(
            q_top_revenue_suppliers, ORACLE_TOP_REVENUE_SUPPLIERS,
            "Q15-shape aggregate-of-aggregate subquery",
        ),
        "big_order_customers": QuerySpec(
            q_big_order_customers, ORACLE_BIG_ORDER_CUSTOMERS,
            "Q18-shape group-by-HAVING semi-join",
        ),
        "lone_slow_supplier": QuerySpec(
            q_lone_slow_supplier, ORACLE_LONE_SLOW_SUPPLIER,
            "Q21-shape double-EXISTS via sibling aggregate",
        ),
    }
)


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (scalar subquery + NOT EXISTS): customers whose
    balance exceeds the average positive balance AND who never placed an
    URGENT order — the "global sales opportunity" report, grouped by
    market segment. (The synthetic orders table covers every custkey, so
    the NOT EXISTS carries a predicate — the unrestricted form would be
    vacuously empty and verify nothing.)

    The scalar ``> (SELECT avg(...))`` is a one-row broadcast; the ``NOT
    EXISTS (orders)`` is a LEFT ANTI join (Catalyst's own rewrite). The
    average is an exact DECIMAL(38,6) sum divided by a count — both
    engines evaluate the identical IEEE division, so the filter selects
    identical rows.

    Scale: the anti join is the only fact-sized exchange; the rich-filter
    prunes the customer side FIRST (predicate ordered before the join),
    so the anti join's left input is the filtered minority. At 100 TB the
    orders side can be pre-projected to distinct custkeys per AQE; no
    correlated per-row subquery anywhere.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (_dsum(F.col("c_acctbal")) / F.count(F.lit(1))).alias("avg_bal")
        )
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    idle = rich.join(
        orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
            F.col("o_custkey")
        ),
        rich.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dsum(F.col("c_acctbal")).alias("total_balance"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_IDLE_RICH_CUSTOMERS = """
SELECT c_mktsegment,
       count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_balance
FROM customer
WHERE c_acctbal > (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / count(*)
        FROM customer WHERE c_acctbal > 0
      )
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

QUERY_REGISTRY["idle_rich_customers"] = QuerySpec(
    q_idle_rich_customers, ORACLE_IDLE_RICH_CUSTOMERS,
    "Q22-shape scalar subquery + NOT-EXISTS anti join",
)


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (conditional share-of-total per group): for each
    order year, NATION_7's share of the revenue supplied into ASIA-region
    customers' orders — the two-level ``sum(CASE)/sum(*)`` ratio pattern.

    Both sums are per-row DECIMAL(38,6)-exact before the single double
    division, so the ratio hashes identically cross-engine. One pass: the
    conditional numerator rides the same aggregate as the denominator
    (no second scan, no self-join).

    Scale: three broadcast dims (supplier→nation for the flag,
    customer→nation→region for the filter); the only fact-sized exchange
    is lineitem⋈orders; the aggregate shuffles |years| rows.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")

    asia_cust = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey")
    )
    supp_nation = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(asia_cust), orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_7", vol).otherwise(F.lit(0).cast(DEC))).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share"),
            F.sum(vol).cast("double").alias("total_volume"),
        )
        .orderBy("o_year")
    )


ORACLE_MARKET_SHARE = """
SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
       CAST(sum(CASE WHEN n2.n_name = 'NATION_7'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
                     ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
         AS mkt_share,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
         AS total_volume
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region    ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
GROUP BY 1
ORDER BY o_year
"""

QUERY_REGISTRY["market_share"] = QuerySpec(
    q_market_share, ORACLE_MARKET_SHARE,
    "Q8-shape conditional share-of-total per year (single-pass sum(CASE)/sum ratio)",
)


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the supplier CO-SUPPLY graph (suppliers are
    adjacent iff they supplied the same order — the clustering structure
    of the supply network): edges from one within-order self-join of the
    distinct (order, supplier) pairs (fan-out bounded by
    suppliers-per-order), triangles via degree-ordered orientation
    (operators/graph.py triangle_count) — every hub's wedge fan-out is
    O(√E) regardless of degree, the property that keeps the count
    feasible on a 100 TB co-occurrence graph.

    Oracle: DuckDB replays the same normalized-edge/orientation/wedge
    algebra — exact integers.

    Input bound: the census runs on the deterministic 5% order slice
    (``l_orderkey % 20 == 0``) — the synthetic TPC-H order stream makes
    every supplier pair co-occur somewhere, so the UNsliced co-supply
    graph saturates toward the complete graph on |suppliers| nodes (a
    data-shape artifact real co-occurrence graphs do not have: measured
    15.3 s at sf0.1 with wedge volume ~Σdeg², vs ~1 s sliced). The
    orientation bound O(√E) per node is pinned by the star test either
    way."""
    from covid19_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 20 == 0)
    os_pairs = li.select("l_orderkey", "l_suppkey").distinct()
    a = os_pairs.alias("a")
    b = os_pairs.alias("b")
    co = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
    ).select(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
    return triangle_count(co)


ORACLE_TRIANGLE_COUNT = """
WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
            WHERE l_orderkey % 20 = 0),
und AS (
  SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
  FROM os a JOIN os b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
),
deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und
  ) GROUP BY n
),
orient AS (
  SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS u,
         CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS v
  FROM und u JOIN deg da ON u.a = da.n JOIN deg db ON u.b = db.n
),
wedges AS (
  SELECT o1.v AS x, o2.v AS y
  FROM orient o1 JOIN orient o2 ON o1.u = o2.u AND o1.v < o2.v
),
closing AS (SELECT least(u, v) AS cx, greatest(u, v) AS cy FROM orient),
tri AS (
  SELECT count(*) AS n_triangles FROM wedges w
  WHERE EXISTS (SELECT 1 FROM closing c
                WHERE c.cx = least(w.x, w.y) AND c.cy = greatest(w.x, w.y))
)
SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
       CAST(n_triangles AS BIGINT) AS n_triangles
FROM tri
"""

QUERY_REGISTRY["triangle_count"] = QuerySpec(
    q_triangle_count, ORACLE_TRIANGLE_COUNT,
    "co-supply graph triangle census via degree-ordered orientation (exact oracle)",
)


def q_sql_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape, deliberately written as SQL TEXT with a CORRELATED
    EXISTS (``sources/tables.register_views`` + ``spark.sql``): orders per
    priority that had at least one lineitem shipped more than 60 days
    after the order date. Unlike the hand-decorrelated Q17/Q21/Q22
    queries, the rewrite here is CATALYST'S OWN — the plan pin asserts
    the correlated subquery compiled to a LeftSemi join, proving the SQL
    face of the engine gets the same aggregate-then-join physics as the
    DataFrame face.

    Scale: the EXISTS side prunes to (orderkey) before the semi join;
    the aggregate shuffles |priorities| rows."""
    from covid19_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
          AND EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate + INTERVAL 60 DAYS
              )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


ORACLE_SQL_PRIORITY_EXISTS = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

QUERY_REGISTRY["sql_priority_exists"] = QuerySpec(
    q_sql_priority_exists, ORACLE_SQL_PRIORITY_EXISTS,
    "Q4-shape SQL-text correlated EXISTS (Catalyst decorrelates; LeftSemi plan-pinned)",
)


def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution SURVIVORSHIP — the fourth ER stage after
    blocking/matching/clustering (``fuzzy_name_match`` →
    ``dedup_clusters``): fuse each duplicate cluster into one golden
    record under deterministic survivorship rules. Corpus: customers ≤
    500 plus two planted near-duplicate copies each (one with a longer
    name variant and higher balance, one with a divergent segment), so
    every rule has something to decide.

    Rules (all single-aggregate, no per-cluster subqueries):
    - name: LONGEST, tie → lexicographically smallest
      (``min_by(name, (-len, name))`` — a total order, so deterministic);
    - acctbal: maximum (most-recent-update proxy);
    - mktsegment: MODE with lexicographic tiebreak — a two-level
      aggregate (votes per value, then ``min_by(value, (-votes, value))``);
    - provenance: record count + distinct source-id list fingerprint.

    Scale: two hash aggregates (votes, fusion) on the cluster key —
    survivorship is aggregation, never a self-join."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    copy1 = cust.select(
        (F.col("c_custkey") + 10000).alias("c_custkey"),
        F.concat(F.col("c_name"), F.lit("-ALT")).alias("c_name"),
        "c_nationkey",
        (F.col("c_acctbal") + 50.5).alias("c_acctbal"),
        "c_mktsegment",
    )
    copy2 = cust.select(
        (F.col("c_custkey") + 20000).alias("c_custkey"),
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") - 10.25).alias("c_acctbal"),
        F.lit("MACHINERY").alias("c_mktsegment"),
    )
    recs = cust.select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    ).unionByName(copy1).unionByName(copy2)
    clustered = recs.withColumn("cluster", F.col("c_custkey") % 10000)

    votes = clustered.groupBy("cluster", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("v")
    )
    seg_mode = votes.groupBy("cluster").agg(
        F.min_by(
            F.col("c_mktsegment"), F.struct((-F.col("v")).alias("nv"), F.col("c_mktsegment"))
        ).alias("golden_segment")
    )
    fused = clustered.groupBy("cluster").agg(
        F.min_by(
            F.col("c_name"),
            F.struct((-F.length("c_name")).alias("nl"), F.col("c_name")),
        ).alias("golden_name"),
        F.max(F.col("c_acctbal").cast(DEC)).cast("double").alias("golden_acctbal"),
        F.count(F.lit(1)).alias("n_records"),
        F.sort_array(F.collect_set("c_custkey")).alias("source_keys"),
    )
    return (
        fused.join(seg_mode, "cluster")
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            "golden_name",
            "golden_acctbal",
            "golden_segment",
            F.col("n_records").cast("long").alias("n_records"),
            F.array_join(F.transform("source_keys", lambda k: k.cast("string")), ",").alias(
                "source_keys"
            ),
        )
        .orderBy("cluster")
    )


ORACLE_GOLDEN_RECORD = """
WITH base AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey <= 500
),
recs AS (
  SELECT * FROM base
  UNION ALL
  SELECT c_custkey + 10000, c_name || '-ALT', c_nationkey,
         c_acctbal + 50.5, c_mktsegment FROM base
  UNION ALL
  SELECT c_custkey + 20000, c_name, c_nationkey,
         c_acctbal - 10.25, 'MACHINERY' FROM base
),
clustered AS (SELECT *, c_custkey % 10000 AS cluster FROM recs),
votes AS (
  SELECT cluster, c_mktsegment, count(*) AS v
  FROM clustered GROUP BY 1, 2
),
seg_mode AS (
  SELECT cluster, c_mktsegment AS golden_segment
  FROM (SELECT *, row_number() OVER (PARTITION BY cluster
                                     ORDER BY v DESC, c_mktsegment) AS rn
        FROM votes)
  WHERE rn = 1
),
name_pick AS (
  SELECT cluster, c_name AS golden_name
  FROM (SELECT cluster, c_name,
               row_number() OVER (PARTITION BY cluster
                                  ORDER BY len(c_name) DESC, c_name) AS rn
        FROM clustered)
  WHERE rn = 1
),
fused AS (
  SELECT cluster,
         CAST(max(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS golden_acctbal,
         count(*) AS n_records,
         array_to_string(list_sort(list(DISTINCT c_custkey)), ',') AS source_keys
  FROM clustered GROUP BY cluster
)
SELECT CAST(f.cluster AS BIGINT) AS cluster, n.golden_name, golden_acctbal,
       golden_segment, CAST(n_records AS BIGINT) AS n_records, source_keys
FROM fused f
JOIN seg_mode s ON f.cluster = s.cluster
JOIN name_pick n ON f.cluster = n.cluster
ORDER BY cluster
"""

QUERY_REGISTRY["golden_record"] = QuerySpec(
    q_golden_record, ORACLE_GOLDEN_RECORD,
    "ER survivorship: cluster fusion under deterministic rules (longest-name/max-balance/mode-segment)",
)


def q_adaptive_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive (escalating) ER blocking — the recall-preserving
    alternative to the oversized-block DROP guard the verify operators
    use: every customer takes the COARSEST key level whose block fits the
    cap (global → segment → segment|nation), so an oversized block
    re-blocks finer instead of being discarded, and rows whose finest
    block still overflows surface as ``saturated`` (the drop decision
    made explicit). With cap 300 the segment sizes straddle the cap, so
    the assignment genuinely mixes levels.

    Output: per (block_level, saturated): row count, distinct blocks,
    and the largest assigned block — which the cap bounds BY CONSTRUCTION
    for non-saturated rows (the oracle recomputes it, so a violation is a
    value mismatch, not just a failed test).

    Scale: k levels → k vocabulary-sized size-aggregates broadcast back;
    assignment is a CASE — no pairwise work here; the downstream pair
    join keys on (level, key) with per-block width ≤ cap."""
    from covid19_spark.operators.dedup import adaptive_block_assignment

    cust = _t(spark, sf_dir, "customer")
    assigned = adaptive_block_assignment(
        cust,
        [
            F.lit("*"),
            F.col("c_mktsegment"),
            F.concat(F.col("c_mktsegment"), F.lit("|"), F.col("c_nationkey").cast("string")),
        ],
    )
    per_block = assigned.groupBy("block_level", "saturated", "block_key").agg(
        F.count(F.lit(1)).alias("bn")
    )
    return (
        per_block.groupBy("block_level", "saturated")
        .agg(
            F.sum("bn").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.max("bn").cast("long").alias("max_block_size"),
        )
        .orderBy("block_level", "saturated")
    )


ORACLE_ADAPTIVE_BLOCKING = """
WITH c AS (
  SELECT c_custkey,
         '*' AS k0,
         c_mktsegment AS k1,
         c_mktsegment || '|' || CAST(c_nationkey AS VARCHAR) AS k2
  FROM customer
),
s0 AS (SELECT k0, count(*) AS n0 FROM c GROUP BY 1),
s1 AS (SELECT k1, count(*) AS n1 FROM c GROUP BY 1),
s2 AS (SELECT k2, count(*) AS n2 FROM c GROUP BY 1),
a AS (
  SELECT c.*,
         CASE WHEN n0 <= 300 THEN 0 WHEN n1 <= 300 THEN 1 ELSE 2 END AS block_level,
         CASE WHEN n0 <= 300 THEN k0 WHEN n1 <= 300 THEN k1 ELSE k2 END AS block_key,
         (n0 > 300 AND n1 > 300 AND n2 > 300) AS saturated
  FROM c JOIN s0 USING (k0) JOIN s1 USING (k1) JOIN s2 USING (k2)
),
pb AS (
  SELECT block_level, saturated, block_key, count(*) AS bn
  FROM a GROUP BY 1, 2, 3
)
SELECT CAST(block_level AS INT) AS block_level, saturated,
       CAST(sum(bn) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(max(bn) AS BIGINT) AS max_block_size
FROM pb GROUP BY 1, 2 ORDER BY block_level, saturated
"""

QUERY_REGISTRY["adaptive_blocking"] = QuerySpec(
    q_adaptive_blocking, ORACLE_ADAPTIVE_BLOCKING,
    "escalating ER blocking: coarsest fitting key level per row, saturation explicit (oracle recomputes the cap bound)",
)


def q_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (OR-of-ANDs across a join): revenue from lineitems
    whose part matches one of three disjunctive brand/size/quantity
    clauses — the shape that tests the optimizer's predicate
    DECOMPOSITION: Catalyst extracts the common single-side conjuncts of
    the OR (each clause constrains p_size and l_quantity) and pushes the
    derived range filters into BOTH scans below the join, so the join
    input shrinks even though no single clause applies globally. The plan
    pin asserts the derived l_quantity bound reached the lineitem scan.

    Micro-unit quantity bounds keep the clause membership integer-exact
    cross-engine; revenue rides the DECIMAL contract."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "qty_u", F.round(F.col("l_quantity") * 1_000_000).cast("long")
    )
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    m = 1_000_000
    clause1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("qty_u").between(1 * m, 11 * m))
    )
    clause2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(1, 25))
        & (F.col("qty_u").between(10 * m, 20 * m))
    )
    clause3 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(1, 35))
        & (F.col("qty_u").between(20 * m, 30 * m))
    )
    return (
        j.filter(clause1 | clause2 | clause3)
        .groupBy("p_brand")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("p_brand")
    )


ORACLE_DISJUNCTIVE_PREDICATES = """
WITH li AS (
  SELECT *, CAST(round(l_quantity * 1000000) AS BIGINT) AS qty_u FROM lineitem
)
SELECT p_brand,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM li JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND qty_u BETWEEN 1000000 AND 11000000)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND qty_u BETWEEN 10000000 AND 20000000)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND qty_u BETWEEN 20000000 AND 30000000)
GROUP BY p_brand
ORDER BY p_brand
"""

QUERY_REGISTRY["disjunctive_predicates"] = QuerySpec(
    q_disjunctive_predicates, ORACLE_DISJUNCTIVE_PREDICATES,
    "Q19-shape OR-of-ANDs across a join (derived bounds pushed below the join)",
)


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the fact
    side keys on ``nullif(event_type, 'click')`` — so 'click' rows carry a
    NULL key — and joins a per-key dim built from the same expression.
    Plain equality silently DROPS the null-keyed rows (null = null is
    null); the null-safe operator matches them to the dim's null row —
    the semantics gap this query pins cross-engine (DuckDB: IS NOT
    DISTINCT FROM). The dim is pre-aggregated to one row per key, so the
    null⋈null match is 1:1, never an n² null-block blowup.

    Scale: dim is |keys|+1 rows (broadcast); the fact join is map-side.
    """
    ev = _t(spark, sf_dir, "events")
    key = F.nullif(F.col("event_type"), F.lit("click"))
    fact = ev.select(key.alias("k"), "value")
    dim = (
        fact.groupBy("k")
        .agg(F.count(F.lit(1)).alias("dim_rows"))
        .withColumnRenamed("k", "dk")
    )
    return (
        fact.join(F.broadcast(dim), fact.k.eqNullSafe(dim.dk))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("dim_rows").cast("long").alias("dim_rows"),
            _dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.coalesce(F.col("k"), F.lit("<null>")).alias("key"),
            "n_rows",
            "dim_rows",
            "sum_value",
        )
        .orderBy("key")
    )


ORACLE_NULL_SAFE_JOIN = """
WITH fact AS (
  SELECT nullif(event_type, 'click') AS k, value FROM events
),
dim AS (SELECT k AS dk, count(*) AS dim_rows FROM fact GROUP BY 1)
SELECT coalesce(k, '<null>') AS key,
       count(*) AS n_rows,
       CAST(max(dim_rows) AS BIGINT) AS dim_rows,
       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM fact JOIN dim ON fact.k IS NOT DISTINCT FROM dim.dk
GROUP BY k
ORDER BY key
"""

QUERY_REGISTRY["null_safe_join"] = QuerySpec(
    q_null_safe_join, ORACLE_NULL_SAFE_JOIN,
    "null-safe equality join (<=>): null keys match the dim's null row instead of dropping",
)


def q_grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the shapes CUBE/ROLLUP can't express:
    exactly two independent single-column groupings + the grand total, no
    cross products) as SQL text, with ``grouping_id`` disambiguating the
    levels — one aggregation pass produces the region report, the segment
    report, and the total that a dashboard would otherwise run three
    queries for. DuckDB replays the identical sets with GROUPING()."""
    from covid19_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT coalesce(r_name, '<all>') AS region,
               coalesce(c_mktsegment, '<all>') AS segment,
               grouping_id(r_name, c_mktsegment) AS gid,
               count(*) AS n_customers,
               CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_balance
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
        ORDER BY gid, region, segment
        """
    )


ORACLE_GROUPING_SETS_REPORT = """
SELECT coalesce(r_name, '<all>') AS region,
       coalesce(c_mktsegment, '<all>') AS segment,
       CAST(grouping(r_name) * 2 + grouping(c_mktsegment) AS BIGINT) AS gid,
       count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_balance
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
ORDER BY gid, region, segment
"""

QUERY_REGISTRY["grouping_sets_report"] = QuerySpec(
    q_grouping_sets_report, ORACLE_GROUPING_SETS_REPORT,
    "explicit GROUPING SETS with grouping_id: two reports + total in one pass",
)


def q_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical percent-of-parent report (nation share of its region,
    region share of the world) in ONE pass: the nation-level aggregate is
    computed once, then region and world totals are window sums OVER the
    aggregate (25 rows) — never re-scanning or re-joining the fact. The
    BI tool's drill-down ratio columns, done with two zero-cost windows.

    Determinism: shares divide two DECIMAL-exact doubles — identical IEEE
    division both engines."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    base = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)).alias(
                "rev_dec"
            )
        )
    )
    from pyspark.sql import Window

    # window totals stay DECIMAL (exact, order-independent — a double
    # window sum re-associates differently per engine and drifts ulps);
    # the single double division happens last
    by_region = Window.partitionBy("r_name")
    world = Window.partitionBy()
    r_dec = F.sum("rev_dec").over(by_region)
    w_dec = F.sum("rev_dec").over(world)
    return base.select(
        "r_name",
        "n_name",
        F.col("rev_dec").cast("double").alias("revenue"),
        (F.col("rev_dec").cast("double") / r_dec.cast("double")).alias("share_of_region"),
        (r_dec.cast("double") / w_dec.cast("double")).alias("region_share_of_world"),
    ).orderBy("r_name", "n_name")


ORACLE_PERCENT_OF_PARENT = """
WITH base AS (
  SELECT r_name, n_name,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS rev_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT r_name, n_name, CAST(rev_dec AS DOUBLE) AS revenue,
       CAST(rev_dec AS DOUBLE)
         / CAST(sum(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE) AS share_of_region,
       CAST(sum(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE)
         / CAST(sum(rev_dec) OVER () AS DOUBLE) AS region_share_of_world
FROM base
ORDER BY r_name, n_name
"""

QUERY_REGISTRY["percent_of_parent"] = QuerySpec(
    q_percent_of_parent, ORACLE_PERCENT_OF_PARENT,
    "hierarchical percent-of-parent shares via windows over the aggregate (single fact pass)",
)


def q_lateral_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery in FROM, as SQL text: each customer's
    two highest-value orders via ``LATERAL (... ORDER BY ... LIMIT 2)`` —
    the SQL spelling of top-N-per-group. The point is the PLAN: Catalyst
    decorrelates the per-row LIMIT into a window group-limit over one
    join (plan-pinned — WindowGroupLimit, no per-customer subquery
    execution), matching the DataFrame row_number idiom's physics.
    Deterministic: the LIMIT's ordering carries the o_orderkey tiebreak.
    """
    from covid19_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_custkey <= 300
        ORDER BY c_custkey, o_totalprice DESC, o_orderkey
        """
    )


ORACLE_LATERAL_TOPN_PER_GROUP = """
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
WHERE c.c_custkey <= 300
ORDER BY c_custkey, o_totalprice DESC, o_orderkey
"""

QUERY_REGISTRY["lateral_topn_per_group"] = QuerySpec(
    q_lateral_topn_per_group, ORACLE_LATERAL_TOPN_PER_GROUP,
    "SQL-text LATERAL top-N-per-group (Catalyst decorrelates to a window group-limit)",
)


def q_recursive_cte_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE in Spark SQL (4.x): ancestor chains over the
    synthetic binary hierarchy ``parent(k) = floor(k/2)`` on customer
    keys ≤ 127 — each row walks to the root emitting depth and the full
    path string. The genuinely recursive surface (unbounded-depth
    iteration inside ONE SQL statement) that the fixed-iteration queries
    (PageRank, Holt) unroll manually; DuckDB replays the identical
    recursion. Arithmetic is ``floor(k / 2.0)`` in both engines (exact
    for these magnitudes; integer-division syntax differs between them).

    Scale note: each recursion step is a self-join of the frontier —
    depth ≤ log2(max key), so the plan is ~7 chained joins here; at
    scale the frontier shrinks geometrically and rows carry their own
    state (no driver loop)."""
    from covid19_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE chain(k, anc, depth, path) AS (
          SELECT c_custkey, c_custkey, 0, CAST(c_custkey AS STRING)
          FROM customer WHERE c_custkey <= 127
          UNION ALL
          SELECT k, CAST(FLOOR(anc / 2.0) AS BIGINT), depth + 1,
                 path || '>' || CAST(CAST(FLOOR(anc / 2.0) AS BIGINT) AS STRING)
          FROM chain WHERE anc > 1
        )
        SELECT k AS c_custkey, depth, path
        FROM chain WHERE anc = 1
        ORDER BY c_custkey
        """
    )


ORACLE_RECURSIVE_CTE_CHAIN = """
WITH RECURSIVE chain(k, anc, depth, path) AS (
  SELECT c_custkey, c_custkey, 0, CAST(c_custkey AS VARCHAR)
  FROM customer WHERE c_custkey <= 127
  UNION ALL
  SELECT k, CAST(FLOOR(anc / 2.0) AS BIGINT), depth + 1,
         path || '>' || CAST(CAST(FLOOR(anc / 2.0) AS BIGINT) AS VARCHAR)
  FROM chain WHERE anc > 1
)
SELECT k AS c_custkey, CAST(depth AS INT) AS depth, path
FROM chain WHERE anc = 1
ORDER BY c_custkey
"""

QUERY_REGISTRY["recursive_cte_chain"] = QuerySpec(
    q_recursive_cte_chain, ORACLE_RECURSIVE_CTE_CHAIN,
    "WITH RECURSIVE ancestor chains (Spark 4 recursive CTE vs DuckDB replay)",
)


def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (``operators/ivm``): the monthly revenue
    report maintained as MERGEABLE per-key state — history batch lifted
    once, the new batch lifted separately, states merged, report finalized
    — never a rescan of history.  The oracle recomputes the report directly
    over the full table, so the driver differential IS the IVM safety
    invariant ``finalize(lift(A) ⊕ lift(B)) == finalize(lift(A ∪ B))``,
    bit-for-bit (DEC-carried sums make the state independent of where the
    batch boundary fell).

    Scale: each lift shuffles |months|-sized partials (map-side combine);
    the merge is a union of two |months| frames + one agg.  At 100 TB the
    history state is a parquet table a few KB per key — the daily job
    touches only the new batch."""
    from covid19_spark.operators.ivm import (
        agg_state,
        finalize_agg_state,
        merge_agg_state,
    )

    orders = _t(spark, sf_dir, "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    cutoff = "1998-06-01"
    history = orders.filter(F.col("o_orderdate") < cutoff)
    delta = orders.filter(F.col("o_orderdate") >= cutoff)
    state = merge_agg_state(
        agg_state(history, ["month"], "o_totalprice"),
        agg_state(delta, ["month"], "o_totalprice"),
        ["month"],
    )
    return finalize_agg_state(state).orderBy("month")


ORACLE_INCREMENTAL_AGG_MERGE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       count(*) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_v,
       min(o_totalprice) AS min_v,
       max(o_totalprice) AS max_v,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_v
FROM orders
GROUP BY 1
ORDER BY month
"""

QUERY_REGISTRY["incremental_agg_merge"] = QuerySpec(
    q_incremental_agg_merge, ORACLE_INCREMENTAL_AGG_MERGE,
    "incremental aggregate-state maintenance == full recompute",
)


def q_part_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift (the pairwise slice of
    frequent-itemset mining): part TYPES bought together within an order,
    scored by lift = P(a,b) / (P(a)·P(b)) — the classic recommendation /
    assortment signal.  Presence is deduped per (order, type) first, the
    pair stage is a self-join WITHIN the order key (pairs per order bounded
    by basket size², never corpus²), ordering canonical (type_a < type_b).
    Top-20 by lift with min pair support 5; all ratios are IEEE divisions
    of exact integer counts — bit-identical cross-engine."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"), F.col("p_type").alias("t")
    )
    # pres feeds FOUR consumers (the n_orders action, singles, and both
    # sides of the pair self-join) — Spark plans are trees, so without a
    # persist each branch re-runs the lineitem⋈part + distinct (guide
    # §1.2: the uncached-multi-consumer pattern; measured 4 lineitem
    # scans → 1).  The n_orders action doubles as the cache
    # materialization; the cache is released before returning via the
    # eager localCheckpoint below (cache-hygiene contract).
    from pyspark.storagelevel import StorageLevel

    pres = (
        li.join(F.broadcast(part), "pk")
        .select("ok", "t")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # n_orders rides the one plan as a broadcast one-row scalar aggregate
    # (the registry's sanctioned crossJoin class) instead of a separate
    # driver action — one job for the whole query, during which the pres
    # cache materializes once for all four consumers
    n1 = (
        pres.select("ok")
        .distinct()
        .agg(F.count(F.lit(1)).alias("__n_orders"))
    )
    singles = pres.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    a = pres.select("ok", F.col("t").alias("ta"))
    b = pres.select("ok", F.col("t").alias("tb"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    scored = (
        pairs.join(F.broadcast(singles.withColumnRenamed("t", "ta").withColumnRenamed("n", "na")), "ta")
        .join(F.broadcast(singles.withColumnRenamed("t", "tb").withColumnRenamed("n", "nb")), "tb")
        .crossJoin(F.broadcast(n1))
        .select(
            "ta", "tb",
            F.col("n_ab").cast("long").alias("n_ab"),
            (
                (F.col("n_ab") * F.col("__n_orders")).cast("double")
                / (F.col("na") * F.col("nb")).cast("double")
            ).alias("lift"),
        )
    )
    out = (
        scored.orderBy(F.col("lift").desc(), "ta", "tb")
        .limit(20)
        .localCheckpoint(eager=True)
    )
    pres.unpersist()
    return out


ORACLE_PART_TYPE_COOCCURRENCE = """
WITH pres AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_type AS t
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT count(DISTINCT ok) AS n_orders FROM pres),
singles AS (SELECT t, count(*) AS cnt FROM pres GROUP BY t),
pairs AS (
  SELECT a.t AS ta, b.t AS tb, count(*) AS n_ab
  FROM pres a JOIN pres b ON a.ok = b.ok AND a.t < b.t
  GROUP BY 1, 2 HAVING count(*) >= 5
)
SELECT ta, tb, CAST(n_ab AS BIGINT) AS n_ab,
       CAST(n_ab * n.n_orders AS DOUBLE) / CAST(sa.cnt * sb.cnt AS DOUBLE) AS lift
FROM pairs
JOIN singles sa ON sa.t = pairs.ta
JOIN singles sb ON sb.t = pairs.tb
CROSS JOIN n
ORDER BY lift DESC, ta, tb
LIMIT 20
"""

QUERY_REGISTRY["part_type_cooccurrence"] = QuerySpec(
    q_part_type_cooccurrence, ORACLE_PART_TYPE_COOCCURRENCE,
    "market-basket co-occurrence pairs ranked by lift",
)


def q_lorenz_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Lorenz) audit: customers ranked ascending by
    total order revenue, cut into population deciles, each decile's exact
    revenue share and the cumulative Lorenz curve — the inequality report
    behind both the classic 80/20 business readout and a training-corpus
    domain-concentration gate.  Ranking runs on the |customers| AGGREGATE
    frame via ``with_ordered_index`` (per-partition numbering + broadcast
    offsets — NO single-partition window at any scale); decile cut is
    exact integer arithmetic; shares are DEC-exact sums ratioed once.
    The Gini coefficient follows from the 10 rows (pinned in tests)."""
    from pyspark.sql import Window

    from covid19_spark.operators.series import with_ordered_index

    from pyspark.sql import Observation

    orders = _t(spark, sf_dir, "orders")
    # |customers| rides the aggregate's materialization as an Observation:
    # the former separate count() action recomputed the whole orders
    # groupBy a second time (the ranking branch re-derived it again —
    # plans are trees), so one eager checkpoint feeds count, ranking and
    # decile cut from a single orders scan.
    obs = Observation()
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    idxd = with_ordered_index(
        per_cust, [F.col("rev").asc(), F.col("o_custkey").asc()], idx_col="idx"
    )
    n = int(obs.get["n"])
    by_dec = (
        idxd.select(
            F.floor(((F.col("idx") - 1) * 10) / F.lit(n)).cast("long").alias("decile"),
            "rev",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cust"),
            F.sum("rev").cast(DEC).alias("rev_dec"),
        )
    )
    total = by_dec.agg(F.sum("rev_dec").cast(DEC).alias("tot"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        by_dec.crossJoin(F.broadcast(total))
        .withColumn("cum_dec", F.sum("rev_dec").over(w).cast(DEC))
        .select(
            "decile",
            "n_cust",
            (F.col("rev_dec").cast("double") / F.col("tot").cast("double")).alias("rev_share"),
            (F.col("cum_dec").cast("double") / F.col("tot").cast("double")).alias("cum_share"),
        )
        .orderBy("decile")
    )


ORACLE_LORENZ_CONCENTRATION = """
WITH per_cust AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
  FROM orders GROUP BY o_custkey
),
idxd AS (
  SELECT rev, row_number() OVER (ORDER BY rev ASC, o_custkey ASC) AS idx,
         count(*) OVER () AS n
  FROM per_cust
),
by_dec AS (
  SELECT CAST(floor(((idx - 1) * 10) / n) AS BIGINT) AS decile,
         CAST(count(*) AS BIGINT) AS n_cust,
         CAST(sum(rev) AS DECIMAL(38,6)) AS rev_dec
  FROM idxd GROUP BY 1
),
t AS (SELECT CAST(sum(rev_dec) AS DECIMAL(38,6)) AS tot FROM by_dec)
SELECT decile, n_cust,
       CAST(rev_dec AS DOUBLE) / CAST(tot AS DOUBLE) AS rev_share,
       CAST(CAST(sum(rev_dec) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,6)) AS DOUBLE)
         / CAST(tot AS DOUBLE) AS cum_share
FROM by_dec CROSS JOIN t
ORDER BY decile
"""

QUERY_REGISTRY["lorenz_concentration"] = QuerySpec(
    q_lorenz_concentration, ORACLE_LORENZ_CONCENTRATION,
    "Lorenz-curve revenue concentration by population decile (exact shares)",
)


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation communities (operators/graph.py)
    over the symmetrized customer↔supplier trade graph — the fourth graph
    primitive next to PageRank / triangles / connected components; LPA
    finds dense trading blocs where components only find reachability.
    3 synchronous rounds, smallest-label tiebreak (vanilla LPA's random
    tiebreak would be irreproducible across partitionings, let alone
    engines).  One edge join + ONE deterministic-mode aggregation per
    round (map-side partial label→count maps, no window sort); the oracle
    unrolls the SAME rounds as materialized CTEs."""
    from covid19_spark.operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return label_propagation(edges).orderBy("node")


ORACLE_LPA_COMMUNITIES = """
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
e AS MATERIALIZED (
  SELECT src, dst FROM pairs
  UNION ALL
  SELECT dst AS src, src AS dst FROM pairs
),
l0 AS MATERIALIZED (
  SELECT node, node AS label FROM (
    SELECT DISTINCT src AS node FROM e
  )
),
c1 AS (SELECT e.src AS node, p.label, count(*) AS cnt
       FROM e JOIN l0 p ON p.node = e.dst GROUP BY 1, 2),
l1 AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
    FROM c1
  ) WHERE rn = 1
),
c2 AS (SELECT e.src AS node, p.label, count(*) AS cnt
       FROM e JOIN l1 p ON p.node = e.dst GROUP BY 1, 2),
l2 AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
    FROM c2
  ) WHERE rn = 1
),
c3 AS (SELECT e.src AS node, p.label, count(*) AS cnt
       FROM e JOIN l2 p ON p.node = e.dst GROUP BY 1, 2),
l3 AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
    FROM c3
  ) WHERE rn = 1
)
SELECT node, label FROM l3 ORDER BY node
"""

QUERY_REGISTRY["lpa_communities"] = QuerySpec(
    q_lpa_communities, ORACLE_LPA_COMMUNITIES,
    "deterministic label-propagation communities (3 synchronous rounds)",
)
