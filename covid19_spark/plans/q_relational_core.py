"""Relational core + the reference's stream operators in batch form
(plans/registry.py sections 1-2)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from covid19_spark.plans.base import DEC, QUERY_REGISTRY, QuerySpec, _dsum, _t
from covid19_spark.operators.asof import latest_within_lookback
from covid19_spark.operators.delta import running_delta
from covid19_spark.operators.rates import doubling_rate, moving_average
from covid19_spark.operators.rollup import daily_rollup
from covid19_spark.operators.series import top_k


# ---------------------------------------------------------------------------
# Relational core (flagship + joins + rollup)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: scan→filter→agg→sort pricing summary (TPC-H Q1 shape).

    Exercises the reference's scan/cast/aggregate/sort spine (SURVEY §3.1,
    §7.2). Filter + 7-column projection push into the parquet scan; the
    groupBy has 6 groups so the shuffle after partial agg is tiny.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            (_dsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty"),
            (_dsum(F.col("l_discount")) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrichment join chain (J1/J6/J7, SURVEY §2.3): fact ⋈ dims → agg.

    lineitem ⋈ orders (fact-fact, shuffle on orderkey) then broadcast joins
    against customer/nation/region (dimension-sized — the reference's RocksDB
    point lookups become broadcast-hash joins with no shuffle).
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy("r_name", "n_name")
    )


ORACLE_REGION_REVENUE = """
SELECT r_name, n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q_semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence semi-join (J2's membership core, SURVEY §2.3).

    left_semi keeps only join keys from the probe side — no fan-out rows,
    no duplicate elimination pass.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 50000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


ORACLE_SEMI_JOIN_CUSTOMERS = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 50000)
ORDER BY c_custkey
"""


def q_array_prefs_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-membership fan-out join (J2: ``myStates.contains(state)``,
    reference ``StatsAlertConsumerConfig.java:134-188``).

    Builds a prefs table user_id → collect_set(event_type) (the analogue of
    UserPrefs.myStates), then joins "alerts" (distinct types) against it with
    ``array_contains``. Spark executes this as broadcast-nested-loop on the
    tiny alert side; at scale the explode(my_types)+equi-join rewrite keeps it
    a hash join — both stay shuffle-light because prefs is aggregated first.
    """
    events = _t(spark, sf_dir, "events")
    prefs = events.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("my_types")
    )
    alerts = events.select("event_type").distinct()
    return (
        alerts.join(prefs, F.array_contains(prefs.my_types, alerts.event_type))
        .select("event_type", "user_id")
        .orderBy("event_type", "user_id")
    )


ORACLE_ARRAY_PREFS_FANOUT = """
SELECT DISTINCT event_type, user_id
FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
ORDER BY event_type, user_id
"""


def q_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grand-total rollup (A5, SURVEY §2.4): the reference's "Total" row as a
    first-class ``ROLLUP`` instead of a trusted upstream input
    (``BotUtils.java:293-318``)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            _dsum(F.col("c_acctbal")).alias("sum_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("Total")).alias("r_name"),
            F.coalesce(F.col("n_name"), F.lit("Total")).alias("n_name"),
            "sum_acctbal",
            "n_customers",
        )
        .orderBy("r_name", "n_name")
    )


ORACLE_ROLLUP_TOTALS = """
SELECT coalesce(r_name, 'Total') AS r_name,
       coalesce(n_name, 'Total') AS n_name,
       CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_acctbal,
       count(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(region.r_name, nation.n_name)
ORDER BY r_name, n_name
"""


def q_segment_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership filter against a fixed dimension list (P6: INDIAN_STATES
    ``isin``, reference ``BotUtils.java:362-366``)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY"))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"), _dsum(F.col("c_acctbal")).alias("sum_acctbal"))
        .orderBy("n_name", "c_mktsegment")
    )


ORACLE_SEGMENT_MEMBERSHIP = """
SELECT n_name, c_mktsegment,
       count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
GROUP BY n_name, c_mktsegment
ORDER BY n_name, c_mktsegment
"""


# ---------------------------------------------------------------------------
# Reference stream operators, batch form (events table)
# ---------------------------------------------------------------------------

def q_running_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running delta per key (A1/A2, ``Covid19Stats.java:211-242``): value −
    previous value per user, ordered by (ts, event_id). One exchange on
    user_id; per-key history processed independently."""
    events = _t(spark, sf_dir, "events")
    return running_delta(
        events, key_cols=["user_id"], order_cols=["ts", "event_id"], value_cols=["value"]
    ).select("event_id", "user_id", "ts", "value", "delta_value")


ORACLE_RUNNING_DELTA = """
SELECT event_id, user_id, ts, value,
       value - coalesce(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0) AS delta_value
FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
"""


def q_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day tumbling rollup (A3/A4, ``Covid19Stats.java:114-147,244-270``):
    sum within the day, carry the latest value (max_by ts = the reference's
    "latest update wins" reducer), count updates."""
    events = _t(spark, sf_dir, "events")
    return (
        daily_rollup(
            events,
            ts_col="ts",
            key_cols=["event_type"],
            sum_cols=["value"],
            last_cols=["value"],
            exact=True,
        )
        .select(
            F.date_format("date", "yyyy-MM-dd").alias("date"),
            "event_type", "sum_value", "last_value", "n_updates",
        )
        .orderBy("date", "event_type")
    )


ORACLE_DAILY_ROLLUP = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date, event_type,
       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       arg_max(value, ts) AS last_value,
       count(*) AS n_updates
FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
GROUP BY 1, 2
ORDER BY date, event_type
"""


def q_doubling_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubling rate (A9/P7, ``Covid19Stats.java:164-167,196-203``):
    round(70/growth%) over the daily count vs running cumulative count per
    event_type."""
    events = _t(spark, sf_dir, "events")
    daily = (
        events.withColumn("date", F.to_date("ts"))
        .groupBy("date", "event_type")
        .agg(F.count(F.lit(1)).alias("daily_n"))
    )
    w = Window.partitionBy("event_type").orderBy("date")
    return (
        daily.withColumn("cum_n", F.sum("daily_n").over(w))
        # BIGINT contract: round() yields DOUBLE in both engines but with
        # divergent null/−0.0 encodings on fetch; day counts are integral, so
        # pin to long on BOTH sides (oracle casts to BIGINT too).
        .withColumn("doubling_days", doubling_rate(F.col("daily_n"), F.col("cum_n")).cast("long"))
        .select(
            F.date_format("date", "yyyy-MM-dd").alias("date"),
            "event_type", "daily_n", "cum_n", "doubling_days",
        )
        .orderBy("date", "event_type")
    )


ORACLE_DOUBLING_RATE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date, event_type, count(*) AS daily_n
  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events GROUP BY 1, 2
), cum AS (
  SELECT date, event_type, daily_n,
         CAST(sum(daily_n) OVER (PARTITION BY event_type ORDER BY date) AS BIGINT) AS cum_n
  FROM daily
)
SELECT strftime(date, '%Y-%m-%d') AS date, event_type, daily_n, cum_n,
       CAST(CASE WHEN cum_n > 0 AND daily_n > 0
            THEN round(70.0 / (100.0 * daily_n / cum_n)) END AS BIGINT) AS doubling_days
FROM cum
ORDER BY date, event_type
"""


def q_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-day trailing moving average (A6, ``Visualizer.java:300-319``) of the
    daily event count per type."""
    events = _t(spark, sf_dir, "events")
    daily = (
        events.withColumn("date", F.to_date("ts"))
        .groupBy("date", "event_type")
        .agg(F.count(F.lit(1)).alias("daily_n"))
    )
    return (
        moving_average(daily, "daily_n", ["event_type"], "date", out_col="ma5")
        .select(
            F.date_format("date", "yyyy-MM-dd").alias("date"),
            "event_type", "daily_n", "ma5",
        )
        .orderBy("date", "event_type")
    )


ORACLE_MOVING_AVERAGE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date, event_type, count(*) AS daily_n
  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events GROUP BY 1, 2
)
SELECT strftime(date, '%Y-%m-%d') AS date, event_type, daily_n,
       avg(daily_n) OVER (PARTITION BY event_type ORDER BY date
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ma5
FROM daily
ORDER BY date, event_type
"""


def q_asof_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of lookup (J5/W7, ``StateStoresManager.java:212-229``): each user's
    most recent event within 14 days of the dataset's max timestamp. The
    reference's 14 sequential point-probes collapse into one range filter +
    rank-1 window."""
    events = _t(spark, sf_dir, "events")
    bound = events.agg((F.max("ts") - F.expr("INTERVAL 14 DAYS")).alias("lo"))
    filtered = events.join(F.broadcast(bound)).filter(F.col("ts") >= F.col("lo")).drop("lo")
    return latest_within_lookback(
        filtered, key_cols=["user_id"], ts_col="ts", tiebreak_cols=["event_id"]
    ).select("user_id", "event_id", "ts", "event_type", "value").orderBy("user_id")


ORACLE_ASOF_LATEST = """
WITH m AS (SELECT max(ts) - INTERVAL 14 DAY AS lo FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events),
f AS (SELECT e.* FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) e, m WHERE e.ts >= m.lo),
r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM f)
SELECT user_id, event_id, ts, event_type, value FROM r WHERE rn = 1
ORDER BY user_id
"""


def q_table_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KTable-style changelog compaction (S2, SURVEY §1.1): latest record per
    (user_id, event_type) key — the batch form of the engine's ``table()``
    source (streaming form materializes via update-mode last-agg)."""
    events = _t(spark, sf_dir, "events")
    return latest_within_lookback(
        events, key_cols=["user_id", "event_type"], ts_col="ts", tiebreak_cols=["event_id"]
    ).select("user_id", "event_type", "event_id", "ts", "value", "props").orderBy(
        "user_id", "event_type"
    )


ORACLE_TABLE_COMPACTION = """
WITH r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
)
SELECT user_id, event_type, event_id, ts, value, props FROM r WHERE rn = 1
ORDER BY user_id, event_type
"""


def q_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True top-k (W3 rank variant, SURVEY §2.5): top 10 users by exact total
    value. Pre-aggregates to |users| rows before the single-partition rank
    window — the rank never sees raw rows."""
    events = _t(spark, sf_dir, "events")
    totals = events.groupBy("user_id").agg(_dsum(F.col("value")).alias("total_value"))
    return (
        top_k(totals, "total_value", 10, tiebreak_cols=["user_id"])
        .select("rank", "user_id", "total_value")
        .orderBy("rank")
    )


ORACLE_TOPK_USERS = """
WITH totals AS (
  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events GROUP BY user_id
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY total_value DESC, user_id) AS rank FROM totals
)
SELECT rank, user_id, total_value FROM ranked WHERE rank <= 10 ORDER BY rank
"""


def q_pivot_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day series pivot (W4, ``Visualizer.java:217-232``): date×type →
    one column per type. Pivot values passed explicitly — avoids the extra
    distinct-scan job at scale."""
    events = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    pivoted = (
        events.withColumn("date", F.to_date("ts"))
        .groupBy("date")
        .pivot("event_type", types)
        .agg(F.sum(F.col("value").cast(DEC)).cast("double"))
    )
    return pivoted.select(
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        *[F.coalesce(F.col(t), F.lit(0.0)).alias(t) for t in types],
    ).orderBy("date")


ORACLE_PIVOT_DAILY_TYPES = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
       CAST(sum(CASE WHEN event_type = 'click'    THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE) AS click,
       CAST(sum(CASE WHEN event_type = 'error'    THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE) AS error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup'   THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE) AS signup,
       CAST(sum(CASE WHEN event_type = 'view'     THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE) AS view
FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
GROUP BY 1
ORDER BY date
"""


def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine generation + fill (W5, ``Visualizer.java:250-256``): one row
    per calendar day in the data's range, daily counts left-joined, gaps as 0.
    ``sequence``+``explode`` generates the spine distributed — no driver
    loop."""
    events = _t(spark, sf_dir, "events")
    bounds = events.agg(
        F.to_date(F.min("ts")).alias("d0"), F.to_date(F.max("ts")).alias("d1")
    )
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("date"))
    daily = events.groupBy(F.to_date("ts").alias("date")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        spine.join(daily, "date", "left")
        .select(
            F.date_format("date", "yyyy-MM-dd").alias("date"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
        .orderBy("date")
    )


ORACLE_DATE_SPINE = """
WITH b AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events),
spine AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS date FROM b),
daily AS (SELECT CAST(ts AS DATE) AS date, count(*) AS n_events FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events GROUP BY 1)
SELECT strftime(s.date, '%Y-%m-%d') AS date, coalesce(d.n_events, 0) AS n_events
FROM spine s LEFT JOIN daily d USING (date)
ORDER BY date
"""


def q_dedup_first_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed dedup, batch form (T2, ``DeduplicationTransformer.java:37-88``):
    within each 7-day bucket, the first record per (user_id, event_type)
    survives — the batch analogue of dropDuplicatesWithinWatermark."""
    events = _t(spark, sf_dir, "events")
    bucket = F.floor(F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7)
    w = Window.partitionBy("user_id", "event_type", "bucket").orderBy("ts", "event_id")
    return (
        events.withColumn("bucket", bucket)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "bucket", "event_id", "ts")
        .orderBy("user_id", "event_type", "bucket")
    )


ORACLE_DEDUP_FIRST_WITHIN_WINDOW = """
WITH b AS (
  SELECT *, CAST(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0) AS BIGINT) AS bucket
  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
), r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type, bucket
                               ORDER BY ts, event_id) AS rn
  FROM b
)
SELECT user_id, event_type, bucket, event_id, ts FROM r WHERE rn = 1
ORDER BY user_id, event_type, bucket
"""



QUERY_REGISTRY.update({
    "pricing_summary": QuerySpec(q_pricing_summary, ORACLE_PRICING_SUMMARY, "flagship scan→agg→sort"),
    "region_revenue": QuerySpec(q_region_revenue, ORACLE_REGION_REVENUE, "J1/J6/J7 enrich joins"),
    "semi_join_customers": QuerySpec(q_semi_join_customers, ORACLE_SEMI_JOIN_CUSTOMERS, "J2 semi-join"),
    "array_prefs_fanout": QuerySpec(q_array_prefs_fanout, ORACLE_ARRAY_PREFS_FANOUT, "J2 array_contains fan-out"),
    "rollup_totals": QuerySpec(q_rollup_totals, ORACLE_ROLLUP_TOTALS, "A5 grand-total rollup"),
    "segment_membership": QuerySpec(q_segment_membership, ORACLE_SEGMENT_MEMBERSHIP, "P6 membership filter"),
    "running_delta": QuerySpec(q_running_delta, ORACLE_RUNNING_DELTA, "A1/A2 running delta"),
    "daily_rollup": QuerySpec(q_daily_rollup, ORACLE_DAILY_ROLLUP, "A3/A4 daily windowed sum"),
    "doubling_rate": QuerySpec(q_doubling_rate, ORACLE_DOUBLING_RATE, "A9 doubling rate"),
    "moving_average": QuerySpec(q_moving_average, ORACLE_MOVING_AVERAGE, "A6 moving average"),
    "asof_latest": QuerySpec(q_asof_latest, ORACLE_ASOF_LATEST, "J5/W7 as-of lookup"),
    "table_compaction": QuerySpec(q_table_compaction, ORACLE_TABLE_COMPACTION, "S2 KTable compaction"),
    "topk_users": QuerySpec(q_topk_users, ORACLE_TOPK_USERS, "W3 top-k"),
    "pivot_daily_types": QuerySpec(q_pivot_daily_types, ORACLE_PIVOT_DAILY_TYPES, "W4 pivot series"),
    "date_spine": QuerySpec(q_date_spine, ORACLE_DATE_SPINE, "W5 date spine"),
    "dedup_first_within_window": QuerySpec(
        q_dedup_first_within_window, ORACLE_DEDUP_FIRST_WITHIN_WINDOW, "T2 windowed dedup"
    ),
})
