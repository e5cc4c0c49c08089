"""Event-analytics extensions: funnel, cohort retention, sessions, charts."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from covid19_spark.plans.base import DEC, QUERY_REGISTRY, QuerySpec, _dsum, _t


def q_funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who signed up, then purchased AFTER the signup.

    Per-user min(ts) per stage + ordered comparison — one exchange on
    user_id; no self-join of raw events (the conditional-min trick keeps it
    an aggregation, which at 100 TB matters more than anything)."""
    events = _t(spark, sf_dir, "events")
    stages = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    per_user = stages.select(
        "user_id",
        F.col("first_signup").isNotNull().alias("did_signup"),
        (
            F.col("first_signup").isNotNull()
            & F.col("first_purchase").isNotNull()
            & (F.col("first_purchase") > F.col("first_signup"))
        ).alias("converted"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("did_signup").cast("long")).alias("n_signed_up"),
        F.sum(F.col("converted").cast("long")).alias("n_converted"),
    )


ORACLE_FUNNEL = """
WITH stages AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
  GROUP BY user_id
)
SELECT count(*) AS n_users,
       CAST(sum(CASE WHEN first_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signed_up,
       CAST(sum(CASE WHEN first_signup IS NOT NULL AND first_purchase IS NOT NULL
                 AND first_purchase > first_signup THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
FROM stages
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week; for
    each (cohort_week, activity_week) the count of distinct active users.

    Two aggregations (first-activity per user, then cohort×week distinct
    counts) — the broadcast of the per-user cohort map would be the join
    strategy at dimension scale; at corpus scale both sides shuffle on
    user_id, which the first groupBy already established."""
    events = _t(spark, sf_dir, "events")
    week = lambda c: F.floor(F.datediff(F.to_date(c), F.lit("2024-01-01")) / 7).cast("int")  # noqa: E731
    cohorts = events.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohorts = cohorts.select("user_id", week(F.col("first_ts")).alias("cohort_week"))
    activity = events.select("user_id", week(F.col("ts")).alias("activity_week")).distinct()
    return (
        activity.join(cohorts, "user_id")
        .groupBy("cohort_week", "activity_week")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .withColumn("weeks_since", F.col("activity_week") - F.col("cohort_week"))
        .orderBy("cohort_week", "activity_week")
    )


ORACLE_COHORT_RETENTION = """
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
cohorts AS (
  SELECT user_id,
         CAST(floor(datediff('day', DATE '2024-01-01', CAST(min(ts) AS DATE)) / 7.0) AS INT) AS cohort_week
  FROM e GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id,
         CAST(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0) AS INT) AS activity_week
  FROM e
)
SELECT cohort_week, activity_week, count(DISTINCT a.user_id) AS n_active,
       activity_week - cohort_week AS weeks_since
FROM activity a JOIN cohorts c USING (user_id)
GROUP BY cohort_week, activity_week
ORDER BY cohort_week, activity_week
"""


QUERY_REGISTRY.update(
    {
        "funnel_signup_purchase": QuerySpec(q_funnel_signup_purchase, ORACLE_FUNNEL, "ordered funnel conversion"),
        "cohort_retention": QuerySpec(q_cohort_retention, ORACLE_COHORT_RETENTION, "weekly cohort retention"),
    }
)


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data curation pipeline over documents: quality gate
    (token count + stopword ratio) → language allowlist → exact dedup by
    normalized fingerprint → survivors with their features.

    The capstone composition: every stage is one of the registered operators,
    fused by Catalyst into scan → map (all gates) → one hash exchange (the
    dedup groupBy) — i.e. the whole curation pass costs a single shuffle.
    """
    docs = _t(spark, sf_dir, "documents")
    en = ("the", "and", "of", "to", "a", "in", "is")
    toks = docs.select(
        "doc_id", "lang", "source",
        F.length("text").alias("n_chars"),
        F.split(F.lower("text"), " ").alias("toks"),
        F.trim(F.regexp_replace(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " ")).alias("norm"),
    )
    feats = toks.select(
        "doc_id", "lang", "source", "n_chars",
        F.size(F.filter("toks", lambda t: t != "")).alias("n_tokens"),
        F.size(F.filter("toks", lambda t: t.isin(*en))).alias("stop_hits"),
        F.substring(F.md5("norm"), 1, 16).alias("fingerprint"),
    )
    gated = feats.filter(
        (F.col("n_tokens") >= 10)
        & (F.col("stop_hits") / F.col("n_tokens") >= 0.01)
        & F.col("lang").isin("en", "de", "fr", "es")
    )
    deduped = gated.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_tokens").alias("n_tokens"),
    )
    return deduped.select("doc_id", "fingerprint", "n_copies", "n_tokens").orderBy("doc_id")


ORACLE_CURATION_PIPELINE = """
WITH feats AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS n_tokens,
         len(list_filter(string_split(lower(text), ' '),
             t -> t IN ('the','and','of','to','a','in','is'))) AS stop_hits,
         substring(md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))), 1, 16) AS fingerprint
  FROM documents
), gated AS (
  SELECT * FROM feats
  WHERE n_tokens >= 10
    AND stop_hits / CAST(n_tokens AS DOUBLE) >= 0.01
    AND lang IN ('en', 'de', 'fr', 'es')
)
SELECT min(doc_id) AS doc_id, fingerprint, count(*) AS n_copies, min(n_tokens) AS n_tokens
FROM gated
GROUP BY fingerprint
ORDER BY doc_id
"""


QUERY_REGISTRY["curation_pipeline"] = QuerySpec(
    q_curation_pipeline, ORACLE_CURATION_PIPELINE, "composed curation pipeline (single shuffle)"
)


def q_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB aggregation path, restated as the cross-engine ERROR-BOUND
    check VERDICT r09 task #1 requested: the sketch aggregates —
    approx_count_distinct (HLL++, rsd 0.02) and percentile_approx (rank
    error ≤ 1/10000) — are engine-specific bit-wise, so the driver-compared
    output is (a) the EXACT distinct counts, which DuckDB recomputes
    independently, and (b) booleans asserting each sketch landed inside its
    documented error envelope: ±3·rsd for HLL++, a ±0.01 rank envelope
    (exact percentile at p±0.01 brackets the approx value) for the t-digest
    twins — which the oracle states as literal TRUE, making any
    out-of-bound sketch a value-hash mismatch.

    Scale note: the exact twins exist to VERIFY the bound at test scale; at
    100 TB you run only the sketch half (``sketch_aggregates`` below —
    single partial-agg pass, bounded state per group; its plan contract is
    pinned by tests/test_approx.py)."""
    from covid19_spark.operators.series import fan_out_small_scan

    # the HLL/t-digest/exact-distinct PARTIAL buffers are the heavy side
    # of this plan and would otherwise build inside the scan's single
    # parquet-split task; no-op at real scale (see fan_out_small_scan)
    events = fan_out_small_scan(_t(spark, sf_dir, "events"))
    sketches = sketch_aggregates(events)
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.countDistinct("event_id").alias("exact_events"),
        F.expr("percentile(value, 0.49)").alias("_p50_lo"),
        F.expr("percentile(value, 0.51)").alias("_p50_hi"),
        F.expr("percentile(value, 0.94)").alias("_p95_lo"),
        F.expr("percentile(value, 0.96)").alias("_p95_hi"),
    )
    return (
        sketches.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            "exact_events",
            # ±3·rsd relative, with a ±3 absolute floor for tiny groups
            # (HLL++'s relative bound degenerates at single-digit counts)
            (F.abs(F.col("approx_users") - F.col("exact_users"))
             <= F.greatest(F.lit(3.0), 0.06 * F.col("exact_users"))).alias("users_ok"),
            (F.abs(F.col("approx_events") - F.col("exact_events"))
             <= F.greatest(F.lit(3.0), 0.06 * F.col("exact_events"))).alias("events_ok"),
            ((F.col("approx_p50") >= F.col("_p50_lo"))
             & (F.col("approx_p50") <= F.col("_p50_hi"))).alias("p50_ok"),
            ((F.col("approx_p95") >= F.col("_p95_lo"))
             & (F.col("approx_p95") <= F.col("_p95_hi"))).alias("p95_ok"),
        )
        .orderBy("event_type")
    )


def sketch_aggregates(events: DataFrame) -> DataFrame:
    """The sketch-ONLY scale path (what a 100 TB deployment runs): one
    partial-agg pass, bounded sketch state per group — no exact-distinct
    Expand, no per-group sort. tests/test_approx.py pins this plan shape."""
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        F.percentile_approx("value", 0.95, 10000).alias("approx_p95"),
        F.approx_count_distinct("event_id", 0.02).alias("approx_events"),
    )


ORACLE_APPROX_AGGREGATES = """
SELECT
  event_type,
  count(DISTINCT user_id) AS exact_users,
  count(DISTINCT event_id) AS exact_events,
  TRUE AS users_ok,
  TRUE AS events_ok,
  TRUE AS p50_ok,
  TRUE AS p95_ok
FROM events
GROUP BY event_type
ORDER BY event_type
"""

QUERY_REGISTRY["approx_aggregates"] = QuerySpec(
    q_approx_aggregates, ORACLE_APPROX_AGGREGATES,
    "HLL++/t-digest sketches vs exact cross-engine error-bound check",
)


def q_chart_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chart-series assembly determinism (S7's data half / W4): per-type
    daily series built the way ``serving.analytics.daily_history_chart``
    builds chart arrays — ``sort_array(collect_list(struct(...)))`` so the
    label/value order is deterministic on ANY partitioning — then
    posexploded back to rows so the driver can hash the values. The oracle
    expresses the same series as a ``row_number`` ordering."""
    events = _t(spark, sf_dir, "events")
    daily = (
        events.withColumn("date", F.to_date("ts"))
        .groupBy("date", "event_type")
        .agg(_dsum(F.col("value")).alias("v"))
    )
    series = daily.groupBy("event_type").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("date").alias("date"),
                    F.date_format("date", "dd-MMM").alias("label"),
                    F.col("v").alias("v"),
                )
            )
        ).alias("rows")
    )
    return (
        series.select("event_type", F.posexplode("rows").alias("pos", "r"))
        .select(
            "event_type",
            (F.col("pos") + 1).cast("long").alias("idx"),
            F.col("r.label").alias("label"),
            F.col("r.v").alias("value"),
        )
        .orderBy("event_type", "idx")
    )


ORACLE_CHART_SERIES = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date, event_type,
         CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
  GROUP BY 1, 2
)
SELECT event_type,
       CAST(row_number() OVER (PARTITION BY event_type ORDER BY date) AS BIGINT) AS idx,
       strftime(date, '%d-%b') AS label,
       v AS value
FROM daily
ORDER BY event_type, idx
"""


QUERY_REGISTRY["chart_series"] = QuerySpec(
    q_chart_series, ORACLE_CHART_SERIES, "S7/W4 deterministic chart-series assembly"
)


def q_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: purchases attributed to same-user clicks within
    30 minutes — the batch form of the stream-stream interval join
    (streaming/joins.py); identical expression runs over live streams with
    watermark-bounded state."""
    from covid19_spark.streaming.joins import click_purchase_attribution

    events = _t(spark, sf_dir, "events")
    return click_purchase_attribution(events).orderBy("purchase_id", "click_id")


ORACLE_ATTRIBUTION_JOIN = """
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
c AS (SELECT user_id, ts AS click_ts, event_id AS click_id FROM e WHERE event_type = 'click'),
p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, value AS purchase_value
      FROM e WHERE event_type = 'purchase')
SELECT c.user_id AS user_id, click_id, purchase_id, click_ts, purchase_ts, purchase_value,
       CAST(floor(epoch(purchase_ts)) - floor(epoch(click_ts)) AS BIGINT) AS lag_sec
FROM c JOIN p ON c.user_id = p.user_id
  AND purchase_ts >= click_ts
  AND purchase_ts <= click_ts + INTERVAL 30 MINUTE
ORDER BY purchase_id, click_id
"""


QUERY_REGISTRY["attribution_join"] = QuerySpec(
    q_attribution_join, ORACLE_ATTRIBUTION_JOIN, "interval/range attribution join"
)


def q_window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-function suite over supplier revenue: rank, dense_rank,
    percent_rank, cume_dist, ntile(4), lead/lag — the full window surface in
    one partitioned pass (single exchange on the partition key)."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "s_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy(F.col("revenue").desc(), F.col("s_name"))
    return rev.select(
        "n_name",
        "s_name",
        "revenue",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
        F.coalesce(F.lag("s_name").over(w), F.lit("-")).alias("prev_supplier"),
        F.coalesce(F.lead("s_name").over(w), F.lit("-")).alias("next_supplier"),
    ).orderBy("n_name", "rnk", "s_name")


ORACLE_WINDOW_RANK_SUITE = """
WITH rev AS (
  SELECT n_name, s_name,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name, s_name
)
SELECT n_name, s_name, revenue,
       rank()         OVER w AS rnk,
       dense_rank()   OVER w AS drnk,
       percent_rank() OVER w AS prnk,
       cume_dist()    OVER w AS cdist,
       ntile(4)       OVER w AS quartile,
       coalesce(lag(s_name)  OVER w, '-') AS prev_supplier,
       coalesce(lead(s_name) OVER w, '-') AS next_supplier
FROM rev
WINDOW w AS (PARTITION BY n_name ORDER BY revenue DESC, s_name)
ORDER BY n_name, rnk, s_name
"""


QUERY_REGISTRY["window_rank_suite"] = QuerySpec(
    q_window_rank_suite, ORACLE_WINDOW_RANK_SUITE, "full analytic-window surface"
)




def _morton_col(x: Column, y: Column) -> Column:
    """Morton (Z-order) interleave of two 8-bit non-negative ints —
    delegates to the shared ``operators/layout`` generator (round 11
    refactor: one (bit, column) walk feeds this query, the layout operator
    family, AND both engines' SQL, so the interleave can never drift
    between consumers). x occupies even bit positions, y odd."""
    from covid19_spark.operators.layout import morton_interleave

    return morton_interleave([x, y])


def _morton_sql(x: str, y: str) -> str:
    from covid19_spark.operators.layout import morton_interleave_sql

    return morton_interleave_sql([x, y])


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data layout audit — the multi-dimensional
    clustering technique that makes 100 TB scans prunable on MORE than one
    predicate column: interleave the bits of two key dimensions
    (user_id, event_id mod 256 here) into one sort key, bucket rows by the
    key's high bits (64 buckets = the file boundaries a layout write would
    produce via ``repartitionByRange(zval)``), and report each bucket's
    min/max span in BOTH dimensions. The Z-curve guarantee this audits:
    every bucket of 2^10 consecutive z-values spans at most a 32 x 32 box
    in (x, y) — so file-level min/max statistics prune scans on x OR y
    alike, where a single-column sort leaves the second dimension
    unprunable. Bit arithmetic only (exact cross-engine); map-only +
    |buckets|-row aggregate. Production write path: sort by zval via
    range partitioning, THEN write parquet — this query is the layout's
    effectiveness report."""
    events = _t(spark, sf_dir, "events")
    xy = events.select(
        (F.col("user_id") % 256).cast("long").alias("x"),
        (F.col("event_id") % 256).cast("long").alias("y"),
    )
    z = xy.select(
        "x", "y", _morton_col(F.col("x"), F.col("y")).alias("zval")
    )
    return (
        z.groupBy(F.shiftright(F.col("zval"), 10).cast("long").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("x").cast("long").alias("x_min"),
            F.max("x").cast("long").alias("x_max"),
            F.min("y").cast("long").alias("y_min"),
            F.max("y").cast("long").alias("y_max"),
        )
        .select(
            "zbucket", "n_rows", "x_min", "x_max", "y_min", "y_max",
            (F.col("x_max") - F.col("x_min")).cast("long").alias("x_span"),
            (F.col("y_max") - F.col("y_min")).cast("long").alias("y_span"),
        )
        .orderBy("zbucket")
    )


ORACLE_ZORDER_LAYOUT = f"""
WITH xy AS (
  SELECT CAST(user_id % 256 AS BIGINT) AS x,
         CAST(event_id % 256 AS BIGINT) AS y
  FROM events
), z AS (
  SELECT x, y, CAST({_morton_sql('x', 'y')} AS BIGINT) AS zval FROM xy
), b AS (
  SELECT CAST(zval >> 10 AS BIGINT) AS zbucket,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
         CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max
  FROM z GROUP BY 1
)
SELECT zbucket, n_rows, x_min, x_max, y_min, y_max,
       CAST(x_max - x_min AS BIGINT) AS x_span,
       CAST(y_max - y_min AS BIGINT) AS y_span
FROM b
ORDER BY zbucket
"""


QUERY_REGISTRY["zorder_layout"] = QuerySpec(
    q_zorder_layout, ORACLE_ZORDER_LAYOUT,
    "Z-order multi-dim layout: per-bucket span audit",
)


def q_rolling_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection — the ops-dashboard twin of the
    EWMA query: per (event_type, day) counts scored against their own
    trailing 7-day window (rows-frame mean/variance), flagging |z| > 2.
    The monitoring pass a 100 TB ingest pipeline runs over its own volume
    counters (same shape as the crawl health stream, batch form).

    Cross-engine determinism: daily counts are integers, the window sums
    (Σn, Σn²) are exact long arithmetic, and every double op downstream
    (mean = Σn/c, m2 = Σn²/c − mean², z = (n−mean)/√m2) is written as the
    identical expression in both engines — no decimal casts needed, the
    driver hashes full doubles. One exchange for the daily rollup; the
    window runs within the event_type partitioning."""
    events = _t(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            F.col("ts").cast("date").alias("date"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("date")
        .rowsBetween(-6, Window.currentRow)
    )
    s = F.sum("n").over(w).cast("double")
    c = F.count(F.lit(1)).over(w)
    mean = s / c
    m2 = F.sum(F.col("n") * F.col("n")).over(w).cast("double") / c - mean * mean
    z = (F.col("n") - mean) / F.sqrt(m2)
    return (
        daily.select(
            F.date_format("date", "yyyy-MM-dd").alias("date"),
            "event_type",
            F.col("n").cast("long").alias("n"),
            mean.alias("mean"),
            F.when(m2 > 1e-12, z).alias("z"),
            F.when(m2 > 1e-12, F.abs(z) > 2.0).otherwise(F.lit(False)).alias(
                "is_anomaly"
            ),
        )
        .orderBy("event_type", "date")
    )


ORACLE_ROLLING_ANOMALIES = """
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
daily AS (
  SELECT CAST(ts AS DATE) AS date, event_type, CAST(count(*) AS BIGINT) AS n
  FROM e GROUP BY 1, 2
),
win AS (
  SELECT date, event_type, n,
         CAST(sum(n) OVER w AS DOUBLE) AS s,
         CAST(sum(n * n) OVER w AS DOUBLE) AS s2,
         count(*) OVER w AS c
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY date
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
),
stats AS (
  SELECT date, event_type, n, s / c AS mean,
         s2 / c - (s / c) * (s / c) AS m2
  FROM win
)
SELECT strftime(date, '%Y-%m-%d') AS date, event_type, n, mean,
       CASE WHEN m2 > 1e-12 THEN (n - mean) / sqrt(m2) END AS z,
       COALESCE(CASE WHEN m2 > 1e-12 THEN abs((n - mean) / sqrt(m2)) > 2.0 END,
                FALSE) AS is_anomaly
FROM stats
ORDER BY event_type, date
"""

QUERY_REGISTRY["rolling_anomalies"] = QuerySpec(
    q_rolling_anomalies, ORACLE_ROLLING_ANOMALIES,
    "trailing-window z-score anomaly flags over daily volumes (cross-engine oracle)",
)


# ---------------------------------------------------------------------------
# Explicit skew handling (operators/skew.py) surfaced as catalog queries:
# the salted join and the two-phase aggregation are semantics-neutral, so
# each oracle is the PLAIN join / plain GROUP BY — the driver differential
# proves "skew-safe rewrite ≡ naive plan" cross-engine, and the plan pins
# in tests/test_plans.py freeze the salted shape itself.
# ---------------------------------------------------------------------------

# The order-priority dimension: five values, ALL hot (every fact row carries
# one of them) — the canonical low-cardinality hot-key join that broadcast
# normally absorbs; salted_join is the strategy when the small side exceeds
# the broadcast threshold (wide dim payloads) yet the key stays this skewed.
_PRIORITY_WEIGHTS = [
    ("1-URGENT", 1.00),
    ("2-HIGH", 0.80),
    ("3-MEDIUM", 0.60),
    ("4-NOT SPECIFIED", 0.40),
    ("5-LOW", 0.20),
]


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted hot-key join (operators/skew.py:32): orders ⋈ a priority
    weight dim on ``o_orderpriority`` — 5 distinct keys over the whole
    fact, the worst-case key skew — with the dim replicated 8× and the
    fact's rows spread by ``xxhash64(o_orderkey) % 8``, so each hot key
    occupies 8 tasks instead of 1.

    Deterministic salting (hash of the row key, not ``rand()``) keeps the
    result reproducible under any partitioning; the oracle is the PLAIN
    join — salting must be invisible in the output.

    Scale: dim×8 rows replicate (bounded by contract); the shuffle spreads
    uniformly by (key, salt); the downstream weighted aggregate combines
    map-side. At 100 TB no single task owns a priority class.
    """
    from covid19_spark.operators.skew import salted_join

    orders = _t(spark, sf_dir, "orders")
    dim = spark.createDataFrame(_PRIORITY_WEIGHTS, ["o_orderpriority", "weight"])
    joined = salted_join(orders, dim, ["o_orderpriority"], salt_source="o_orderkey")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice") * F.col("weight")).alias("weighted_revenue"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_SKEW_SALTED_JOIN = """
WITH dim(o_orderpriority, weight) AS (
  VALUES ('1-URGENT', 1.00), ('2-HIGH', 0.80), ('3-MEDIUM', 0.60),
         ('4-NOT SPECIFIED', 0.40), ('5-LOW', 0.20)
)
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice * weight AS DECIMAL(38,6))) AS DOUBLE)
         AS weighted_revenue
FROM orders JOIN dim USING (o_orderpriority)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_skew_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase skew-safe aggregation (operators/skew.py:55): events
    aggregated by ``event_type`` (a handful of values over the whole fact)
    via (key, salt) partials → per-key combine, for the case where one hot
    group's post-map-combine partials still exceed a single reducer task.

    The value column is cast DECIMAL(38,6) BEFORE the partial sum, so both
    phases are exact and order-independent — the plain-GROUP-BY oracle
    hashes identically.

    Scale: phase 1 shuffles ≤ |mappers|×|keys|×buckets partial rows;
    phase 2 shuffles |keys|×buckets. Nothing is proportional to |events|
    after the map side.
    """
    from covid19_spark.operators.skew import two_phase_agg

    events = _t(spark, sf_dir, "events")
    prepared = events.withColumn("value_dec", F.col("value").cast(DEC))
    out = two_phase_agg(
        prepared, ["event_type"], salt_source="event_id", sums=["value_dec"]
    )
    return (
        out.select(
            "event_type",
            F.col("sum_value_dec").cast("double").alias("sum_value"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )
        .orderBy("event_type")
    )


ORACLE_SKEW_TWO_PHASE_AGG = """
SELECT event_type,
       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       count(*) AS n_rows
FROM events
GROUP BY event_type
ORDER BY event_type
"""


QUERY_REGISTRY.update(
    {
        "skew_salted_join": QuerySpec(
            q_skew_salted_join, ORACLE_SKEW_SALTED_JOIN,
            "salted hot-key join ≡ plain join (cross-engine)",
        ),
        "skew_two_phase_agg": QuerySpec(
            q_skew_two_phase_agg, ORACLE_SKEW_TWO_PHASE_AGG,
            "two-phase skew-safe aggregation ≡ plain GROUP BY",
        ),
    }
)


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy-hitters sketch (operators/sketch.py) over the
    corpus token stream, restated as the cross-engine error-bound check
    (the ``approx_aggregates`` pattern): the sketch estimates depend on
    partition boundaries, so the driver-compared output is (a) the EXACT
    top-20 token counts, which DuckDB recomputes independently, and (b)
    partition-INVARIANT booleans asserting the Misra-Gries guarantees —
    ``present_ok``: every true heavy hitter (count·capacity > N) appears
    in the merged sketch; ``bound_ok``: ``true − N/capacity ≤ est ≤
    true`` (checked in integer arithmetic, ``est·m ≥ cnt·m − N``) — which
    the oracle states as literal TRUE, making any violated guarantee a
    value-hash mismatch.

    Scale note: at 100 TB you run only the sketch half
    (``heavy_hitters`` — map side emits ≤ capacity rows per task, merge
    shuffles capacity×tasks rows, NEVER |vocabulary|); the exact twin
    here exists to verify the bound at test scale.
    """
    from covid19_spark.operators.sketch import heavy_hitters
    from covid19_spark.operators.text import tokenize

    m = 256
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("word")).filter(
        F.col("word") != ""
    )
    sketch = heavy_hitters(toks, "word", capacity=m)
    exact = toks.groupBy("word").agg(F.count(F.lit(1)).alias("exact_cnt"))
    total = exact.agg(F.sum("exact_cnt").alias("n_total"))
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("word")).limit(20)
    return (
        top.join(sketch, top.word == sketch.item, "left")
        .crossJoin(F.broadcast(total))
        .select(
            "word",
            "exact_cnt",
            # heavy hitter (cnt·m > N) must be present in the sketch
            (
                (F.col("exact_cnt") * m <= F.col("n_total"))
                | F.col("est").isNotNull()
            ).alias("present_ok"),
            # true − N/m ≤ est ≤ true, in exact integer arithmetic
            (
                (F.coalesce(F.col("est"), F.lit(0)) <= F.col("exact_cnt"))
                & (
                    F.coalesce(F.col("est"), F.lit(0)) * m
                    >= F.col("exact_cnt") * m - F.col("n_total")
                )
            ).alias("bound_ok"),
        )
        .orderBy(F.desc("exact_cnt"), F.asc("word"))
    )


ORACLE_HEAVY_HITTERS = """
WITH toks AS (
  SELECT t.word
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(word)
  WHERE t.word <> ''
),
exact AS (SELECT word, count(*) AS exact_cnt FROM toks GROUP BY 1)
SELECT word, exact_cnt, TRUE AS present_ok, TRUE AS bound_ok
FROM exact
ORDER BY exact_cnt DESC, word
LIMIT 20
"""

QUERY_REGISTRY["heavy_hitters"] = QuerySpec(
    q_heavy_hitters, ORACLE_HEAVY_HITTERS,
    "Misra-Gries frequent-items sketch vs exact cross-engine error-bound check",
)


def q_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct-count rollup — THE pre-aggregation pattern
    a 100 TB metrics store runs on: per-day Apache DataSketches HLL
    sketches (``hll_sketch_agg``) built ONCE from the raw events, then
    coarser grains derived by UNIONING the daily sketches
    (``hll_union_agg``) — never re-touching raw data. An exact
    ``count(DISTINCT)`` cannot do this: distinct counts are not additive
    across days (the same user appears on many days), which is exactly
    why naive daily→weekly rollups are wrong and sketches are the
    industry answer.

    Cross-engine check (the ``approx_aggregates`` error-envelope
    pattern): the output is the exact per-week distinct-user count (which
    DuckDB recomputes independently) plus booleans asserting (a) the
    unioned weekly estimate lands within the published HLL_4/lgK=12
    envelope (±3σ ≈ ±2.4% + an absolute floor for tiny weeks) and (b)
    union-vs-direct consistency: sketching the week directly and unioning
    the days agree exactly (same sketch algebra) — stated as literal TRUE
    in the oracle.

    Scale: the daily sketch pass is one map-side-combinable aggregate
    (bounded sketch state per group); the weekly union shuffles |days|
    sketch blobs, not |events| rows. The exact twin exists only to verify
    the envelope at test scale."""
    events = _t(spark, sf_dir, "events")
    base = events.select(
        F.to_date("ts").alias("day"),
        F.weekofyear(F.to_date("ts")).alias("week"),
        "user_id",
    )
    daily = base.groupBy("week", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    weekly_union = daily.groupBy("week").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("approx_users")
    )
    weekly_direct = base.groupBy("week").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).cast("long").alias("direct_users")
    )
    exact = base.groupBy("week").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        weekly_union.join(weekly_direct, "week")
        .join(exact, "week")
        .select(
            "week",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(F.lit(3.0), 0.024 * F.col("exact_users"))
            ).alias("estimate_ok"),
            (F.col("approx_users") == F.col("direct_users")).alias("union_consistent"),
        )
        .orderBy("week")
    )


ORACLE_SKETCH_ROLLUP = """
SELECT weekofyear(CAST(ts AS DATE)) AS week,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS estimate_ok,
       TRUE AS union_consistent
FROM events
GROUP BY 1
ORDER BY week
"""

QUERY_REGISTRY["sketch_rollup"] = QuerySpec(
    q_sketch_rollup, ORACLE_SKETCH_ROLLUP,
    "re-aggregatable HLL distinct rollup (daily sketches unioned to weeks) vs exact error-bound check",
)


def q_range_window_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame — the rolling aggregate ROWS frames get
    WRONG on irregular event streams: per user, the trailing-7-day value
    sum at every event, framed by ``RANGE BETWEEN <7 days of µs>
    PRECEDING AND CURRENT ROW`` over exact epoch-microsecond ordering
    (``unix_micros`` ↔ DuckDB ``epoch_us`` — integer keys, so frame
    boundaries are bit-identical cross-engine, no float epoch rounding).
    A ROWS frame would count a FIXED number of events regardless of their
    spacing; the RANGE frame answers the actual question ("how much in
    the last week") and is also tie-safe: simultaneous events are all in
    or all out, independent of physical row order.

    Scale: one hash exchange on user_id + per-user sort — the same
    account as every per-key ordered window here; the value rides the
    DECIMAL(38,6) contract through the frame sum."""
    events = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    week_us = 7 * 86_400 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-week_us, 0)
    )
    return (
        events.filter(F.col("user_id") < 100)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("trailing_7d"),
        )
        .orderBy("event_id")
    )


ORACLE_RANGE_WINDOW_SPEND = """
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       CAST(sum(CAST(value AS DECIMAL(38,6))) OVER (
              PARTITION BY user_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
            ) AS DOUBLE) AS trailing_7d
FROM events
WHERE user_id < 100
ORDER BY event_id
"""

QUERY_REGISTRY["range_window_spend"] = QuerySpec(
    q_range_window_spend, ORACLE_RANGE_WINDOW_SPEND,
    "time-RANGE window frame: trailing-7-day per-user sums over exact microsecond keys",
)


def q_ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample experiment readout (Welch's unequal-variance t-test) per
    event_type: users hash-split 50/50 into arms by ``md5(user_id)`` (the
    deterministic engine-portable assignment every sampler here uses —
    never RNG state), then ONE conditional aggregate carries n/Σx/Σx² per
    arm and the t-statistic is closed-form map-only math on the group
    row. The |t| > 1.96 flag is the 95% two-sided normal cut — the
    decision column an experimentation platform serves.

    Determinism: Σx and Σx² ride the DECIMAL(38,6) contract (x² computed
    as an IEEE double product per row first — identical cross-engine);
    every division/sqrt is a textually identical double expression in the
    oracle, so means, variances and t hash-match bit-for-bit.

    Scale: one map-side-combinable aggregate over the fact (shuffle =
    |event types|), zero joins, zero extra passes — the whole experiment
    readout is one scan regardless of corpus size.
    """
    ev = _t(spark, sf_dir, "events")
    arm_a = F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8"
    x = F.col("value")
    x2 = (x * x).cast(DEC)
    xd = x.cast(DEC)

    def csum(cond, col):
        return F.sum(F.when(cond, col).otherwise(F.lit(0).cast(DEC))).cast("double")

    agg = ev.groupBy("event_type").agg(
        F.sum(arm_a.cast("long")).alias("n_a"),
        F.sum((~arm_a).cast("long")).alias("n_b"),
        csum(arm_a, xd).alias("sum_a"),
        csum(~arm_a, xd).alias("sum_b"),
        csum(arm_a, x2).alias("sum2_a"),
        csum(~arm_a, x2).alias("sum2_b"),
    )
    mean_a = F.col("sum_a") / F.col("n_a")
    mean_b = F.col("sum_b") / F.col("n_b")
    var_a = (F.col("sum2_a") - F.col("sum_a") * F.col("sum_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("sum2_b") - F.col("sum_b") * F.col("sum_b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    t = (mean_a - mean_b) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    return agg.select(
        "event_type",
        "n_a",
        "n_b",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        t.alias("welch_t"),
        (F.abs(t) > 1.96).alias("significant_95"),
    ).orderBy("event_type")


ORACLE_AB_TEST_REPORT = """
WITH agg AS (
  SELECT event_type,
         sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' THEN 0 ELSE 1 END) AS n_b,
         CAST(sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                       THEN CAST(value AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS sum_a,
         CAST(sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                       THEN CAST(0 AS DECIMAL(38,6)) ELSE CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS sum_b,
         CAST(sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                       THEN CAST(value * value AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS sum2_a,
         CAST(sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                       THEN CAST(0 AS DECIMAL(38,6)) ELSE CAST(value * value AS DECIMAL(38,6)) END) AS DOUBLE) AS sum2_b
  FROM events
  GROUP BY event_type
)
SELECT event_type,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       sum_a / n_a AS mean_a,
       sum_b / n_b AS mean_b,
       (sum_a / n_a - sum_b / n_b)
         / sqrt(((sum2_a - sum_a * sum_a / n_a) / (n_a - 1)) / n_a
                + ((sum2_b - sum_b * sum_b / n_b) / (n_b - 1)) / n_b) AS welch_t,
       abs((sum_a / n_a - sum_b / n_b)
         / sqrt(((sum2_a - sum_a * sum_a / n_a) / (n_a - 1)) / n_a
                + ((sum2_b - sum_b * sum_b / n_b) / (n_b - 1)) / n_b)) > 1.96
         AS significant_95
FROM agg
ORDER BY event_type
"""

QUERY_REGISTRY["ab_test_report"] = QuerySpec(
    q_ab_test_report, ORACLE_AB_TEST_REPORT,
    "Welch two-sample t-test per event type over hash-assigned arms (single-pass, bit-exact)",
)


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the sweep-line interval
    aggregation (capacity planning's headline number): user sessions
    (30-minute gap) become ±1 boundary events at their start/end
    micro-timestamps; a running sum ordered by (time, delta, user, id)
    inside each DAY partition is the live concurrency curve, and its
    per-day max is the answer. Sessions are attributed to their START
    day (documented; the synthetic corpus has no cross-midnight
    sessions to split).

    Determinism: boundary order is a total order — epoch-microsecond
    integers, ends (−1) before starts (+1) at the same instant (the
    conservative reading: a session ending exactly when another starts
    doesn't overlap it), then user/session ids. Both engines replay the
    identical running sum.

    Scale: the sweep is a window partitioned by DATE — one exchange,
    per-day partition width; never a global single-partition sort.
    """
    from covid19_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    sess = session_stats(ev, ["user_id"], "ts", gap="30 minutes",
                         tiebreak_cols=["event_id"])
    starts = sess.select(
        F.to_date("session_start").alias("date"),
        F.unix_micros("session_start").alias("t"),
        F.lit(1).alias("delta"),
        "user_id",
        "session_id",
    )
    ends = sess.select(
        F.to_date("session_start").alias("date"),  # attributed to start day
        F.unix_micros("session_end").alias("t"),
        F.lit(-1).alias("delta"),
        "user_id",
        "session_id",
    )
    from pyspark.sql import Window

    sweep = Window.partitionBy("date").orderBy(
        F.col("t").asc(), F.col("delta").asc(), F.col("user_id").asc(),
        F.col("session_id").asc(),
    ).rowsBetween(Window.unboundedPreceding, 0)
    curve = starts.unionByName(ends).withColumn("live", F.sum("delta").over(sweep))
    return (
        curve.groupBy("date")
        .agg(
            F.max("live").cast("long").alias("peak_concurrency"),
            (F.count(F.lit(1)) / 2).cast("long").alias("n_sessions"),
        )
        .select(F.date_format("date", "yyyy-MM-dd").alias("date"),
                "peak_concurrency", "n_sessions")
        .orderBy("date")
    )


ORACLE_PEAK_CONCURRENCY = """
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
),
sess AS (
  SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
  FROM runs GROUP BY 1, 2
),
bounds AS (
  SELECT CAST(s AS DATE) AS date, epoch_us(s) AS t, 1 AS delta,
         user_id, session_id FROM sess
  UNION ALL
  SELECT CAST(s AS DATE) AS date, epoch_us(e) AS t, -1 AS delta,
         user_id, session_id FROM sess
),
curve AS (
  SELECT date, sum(delta) OVER (PARTITION BY date
                                ORDER BY t, delta, user_id, session_id
                                ROWS UNBOUNDED PRECEDING) AS live
  FROM bounds
)
SELECT strftime(date, '%Y-%m-%d') AS date,
       CAST(max(live) AS BIGINT) AS peak_concurrency,
       CAST(count(*) / 2 AS BIGINT) AS n_sessions
FROM curve GROUP BY date ORDER BY date
"""

QUERY_REGISTRY["peak_concurrency"] = QuerySpec(
    q_peak_concurrency, ORACLE_PEAK_CONCURRENCY,
    "sweep-line peak concurrent sessions per day (day-partitioned running sum)",
)


def q_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads through Spark 4's VARIANT type: the
    events' JSON ``props`` column parses once (``parse_json`` — binary
    variant encoding, no per-access re-parse) and typed extraction
    (``try_variant_get $.k`` — null on missing/mistyped, never a crash)
    feeds an ordinary exact aggregate per event type. The modern
    schema-on-read path for payload columns whose shape evolves ahead of
    the warehouse schema — the engine treats it as just another column.

    Oracle: DuckDB extracts the same path with its JSON operators —
    integer-exact stats."""
    ev = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


ORACLE_VARIANT_PROPS_STATS = """
WITH e AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       count(k) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM e GROUP BY event_type ORDER BY event_type
"""

QUERY_REGISTRY["variant_props_stats"] = QuerySpec(
    q_variant_props_stats, ORACLE_VARIANT_PROPS_STATS,
    "Spark 4 VARIANT schema-on-read over JSON props (typed try-extraction) vs DuckDB JSON oracle",
)


def q_ivm_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``streaming/ivm_stream``: the EXACT foreachBatch body
    (``merge_state_batch`` — lift, touched-bucket read-back, ⊕-merge,
    dynamic partition overwrite) replayed over three deterministic
    micro-batches of orders (``o_orderkey % 3``) into a /tmp bucketed
    state table, then the always-current report read back with
    ``read_report``.  The oracle recomputes the report over the full
    table in one shot, so the driver differential pins the streaming
    sink's core invariant — state accumulated batch-by-batch through the
    persisted table equals the one-shot aggregate bit-for-bit (DEC-carried
    sums make the state independent of batch boundaries; the bucket
    rewrite touches only each batch's keys' buckets).

    Scale: each replayed batch is one |keys|-partial-agg shuffle + a
    touched-buckets-only read/overwrite — O(batch + touched buckets),
    never O(table); exactly the streaming job's per-micro-batch cost."""
    import os
    import shutil

    from covid19_spark.sources.scratch import pid_scratch_path
    from covid19_spark.streaming.ivm_stream import merge_state_batch, read_report

    orders = _t(spark, sf_dir, "orders")
    path = pid_scratch_path(
        f"ivm_replay_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    # a replay must start from empty state — accumulated state from a prior
    # run would double-count (the idempotency caveat documented in
    # ivm_stream: replays are per-batch-sequence, not per-batch)
    shutil.rmtree(path, ignore_errors=True)
    for b in range(3):
        merge_state_batch(
            orders.filter(F.pmod(F.col("o_orderkey"), F.lit(3)) == b),
            path,
            ["o_orderpriority"],
            "o_totalprice",
            n_buckets=8,
        )
    return (
        read_report(spark, path, key_cols=["o_orderpriority"])
        .select(
            "o_orderpriority",
            F.col("n_rows").cast("long").alias("n_rows"),
            "sum_v",
            "min_v",
            "max_v",
            "avg_v",
        )
        .orderBy("o_orderpriority")
    )


ORACLE_IVM_STREAM_REPLAY = """
SELECT o_orderpriority,
       count(*) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_v,
       min(o_totalprice) AS min_v,
       max(o_totalprice) AS max_v,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_v
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

QUERY_REGISTRY["ivm_stream_replay"] = QuerySpec(
    q_ivm_stream_replay, ORACLE_IVM_STREAM_REPLAY,
    "streaming IVM foreachBatch replayed over 3 batches == one-shot aggregate",
)


def q_mg_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries micro-batch stream replay: items shard by
    ``pmod(xxhash64(item), shards)`` and ``operators/sketch.mg_update`` —
    the fold ``heavy_hitters`` runs per partition — threads each shard's
    counters across three deterministic micro-batches
    (event_id % 3, ordered by event_id within each) via one
    ``applyInPandas`` per shard — the same accumulate-across-batches
    state threading the ``applyInPandasWithState`` operator performs,
    minus the state store.

    Driver-checkable output (the ``heavy_hitters`` guarantee-boolean
    pattern — MG estimates are fold-order-dependent, the THEOREMS are
    not): for the exact global top-15 users, ``present_ok`` (an item
    with true·capacity > N_shard must be in its shard's summary) and
    ``bound_ok`` (true − N_shard/capacity ≤ est ≤ true; an item's global
    count IS its shard count, since sharding is by item).  The oracle
    recomputes the exact counts and states the booleans as literal TRUE,
    so any violated guarantee is a value-hash mismatch.

    Scale: per-shard state is ≤ capacity pairs (bounded by contract);
    the pandas fold receives one shard's items — at 100 TB the streaming
    form shards across executors, this replay pins its semantics."""
    import pandas as pd

    from covid19_spark.operators.sketch import mg_update

    capacity, shards = 64, 8
    events = _t(spark, sf_dir, "events")
    sharded = events.select(
        F.col("event_id").cast("long").alias("event_id"),
        (F.col("event_id") % 3).alias("batch"),
        F.col("user_id").cast("string").alias("item"),
        F.pmod(F.xxhash64(F.col("user_id").cast("string")), F.lit(shards))
        .cast("int")
        .alias("shard"),
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["batch", "event_id"])
        counters: dict[str, int] = {}
        n_shard = 0
        for b in (0, 1, 2):  # micro-batch replay: state threads across folds
            chunk = pdf[pdf["batch"] == b]
            n_shard += len(chunk)
            mg_update(counters, iter(chunk["item"]), capacity)
        return pd.DataFrame(
            {
                "item": list(counters.keys()),
                "est": [int(v) for v in counters.values()],
                "n_shard": n_shard,
            }
        )

    sketch = sharded.groupBy("shard").applyInPandas(
        fold, "item string, est long, n_shard long"
    )
    # n_shard must come from an INDEPENDENT per-shard count joined via the
    # item's (deterministic) shard id — reading it off the left-joined sketch
    # row makes present_ok NULL whenever the item is absent from its shard's
    # summary (absence is the NORMAL case for counts below n_shard/capacity).
    # Mirrors the heavy_hitters pattern above that crossJoins an independent
    # n_total.
    shard_sizes = sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_shard")
    )
    exact = (
        sharded.groupBy("item", "shard")  # shard is a function of item
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("item")).limit(15)
    return (
        top.join(F.broadcast(shard_sizes), "shard")
        .join(sketch.select("item", "est"), "item", "left")
        .select(
            F.col("item").alias("user"),
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            (
                (F.col("exact_cnt") * capacity <= F.col("n_shard"))
                | F.col("est").isNotNull()
            ).alias("present_ok"),
            F.coalesce(
                (F.col("est") <= F.col("exact_cnt"))
                & (
                    F.col("est") * capacity
                    >= F.col("exact_cnt") * capacity - F.col("n_shard")
                ),
                F.lit(True),  # absent ⇒ not a heavy hitter ⇒ bound vacuous
            ).alias("bound_ok"),
        )
        .orderBy(F.desc("exact_cnt"), F.asc("user"))
    )


ORACLE_MG_STREAM_REPLAY = """
SELECT CAST(user_id AS VARCHAR) AS user,
       count(*) AS exact_cnt,
       TRUE AS present_ok,
       TRUE AS bound_ok
FROM events
GROUP BY user_id
ORDER BY exact_cnt DESC, user ASC
LIMIT 15
"""

QUERY_REGISTRY["mg_stream_replay"] = QuerySpec(
    q_mg_stream_replay, ORACLE_MG_STREAM_REPLAY,
    "streaming Misra-Gries shard-state fold replayed in batch: guarantees hold across micro-batches",
)
