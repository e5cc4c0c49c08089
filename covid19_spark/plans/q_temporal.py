"""Generalized as-of join, CDC snapshot diff, SCD2 intervals, interpolation,
spans and the remaining catalog tail."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from covid19_spark.plans.base import QUERY_REGISTRY, QuerySpec, _dsum, _t, fixture_path



def q_asof_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided as-of join (merge_asof semantics): every purchase picks up
    the latest at-or-before view by the same user. Generalizes the
    reference's point as-of probe (J5, ``StateStoresManager.java:212-229``)
    to two full event tables — no broadcast requirement, one hash exchange
    on user_id, single sort-window pass (see operators/asof.asof_join).

    At 100 TB both sides are facts; the union trick keeps the cost at one
    shuffle of |L|+|R| rows — an interval-expanded equi-join would multiply
    rows and a per-key collect would OOM.
    """
    from covid19_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=["ts", "event_id", "value"],
        right_tiebreak="event_id",
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
        F.col("event_id_r").alias("view_id"),
        F.col("ts_r").alias("view_ts"),
        F.col("value_r").alias("view_value"),
        (F.unix_timestamp("ts") - F.unix_timestamp("ts_r")).cast("long").alias("lag_sec"),
    ).orderBy("purchase_id")


ORACLE_ASOF_JOIN_ATTRIBUTION = """
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
l AS (SELECT event_id, user_id, ts, value FROM e WHERE event_type = 'purchase'),
r AS (
  SELECT user_id, ts, max(event_id) AS view_id, arg_max(value, event_id) AS view_value
  FROM e WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT l.event_id AS purchase_id, l.user_id, l.ts AS purchase_ts,
       l.value AS purchase_value,
       r.view_id, r.ts AS view_ts, r.view_value,
       CAST(floor(epoch(l.ts)) - floor(epoch(r.ts)) AS BIGINT) AS lag_sec
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY purchase_id
"""


QUERY_REGISTRY["asof_join_attribution"] = QuerySpec(
    q_asof_join_attribution, ORACLE_ASOF_JOIN_ATTRIBUTION, "generalized two-sided as-of join"
)


def q_snapshot_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (batch CDC): the insert/update/delete delta between two
    window-local "latest error per user" snapshots — the change stream a
    consumer of the reference's materialized KTables (S2/T7) would need.

    Plan: each snapshot is a rank-1 windowed dedup (one exchange on user_id)
    and the diff is ONE full-outer join on the key; at 100 TB both snapshots
    would come from a bucketed layout making the join Exchange-free
    (tests/test_bucketing.py proves the pattern).
    """
    from covid19_spark.operators.cdc import snapshot_diff

    ev = _t(spark, sf_dir, "events")

    def snap(lo: str, hi: str) -> DataFrame:
        e = ev.filter(
            (F.col("event_type") == "error")
            & (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        )
        w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
        return (
            e.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", "event_id", "value")
        )

    old = snap("2024-01-01", "2024-01-06")
    new = snap("2024-01-06", "2024-01-11")
    return snapshot_diff(old, new, ["user_id"], ["event_id", "value"]).orderBy("user_id")


ORACLE_SNAPSHOT_CDC = """
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
a AS (
  SELECT user_id, event_id, value FROM e
  WHERE event_type = 'error' AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-06'
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
),
b AS (
  SELECT user_id, event_id, value FROM e
  WHERE event_type = 'error' AND ts >= TIMESTAMP '2024-01-06' AND ts < TIMESTAMP '2024-01-11'
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
),
d AS (
  SELECT coalesce(a.user_id, b.user_id) AS user_id,
         CASE WHEN a.user_id IS NULL THEN 'insert'
              WHEN b.user_id IS NULL THEN 'delete'
              WHEN (a.event_id IS DISTINCT FROM b.event_id)
                   OR (a.value IS DISTINCT FROM b.value) THEN 'update'
         END AS change_type,
         a.event_id AS old_event_id, b.event_id AS new_event_id,
         a.value AS old_value, b.value AS new_value
  FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
)
SELECT user_id, change_type, old_event_id, new_event_id, old_value, new_value
FROM d WHERE change_type IS NOT NULL
ORDER BY user_id
"""


QUERY_REGISTRY["snapshot_cdc"] = QuerySpec(
    q_snapshot_cdc, ORACLE_SNAPSHOT_CDC, "batch CDC snapshot diff"
)


def q_scd2_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 interval build: collapse each user's event-type run into a
    [valid_from, valid_to) validity interval with version + is_current —
    the slowly-changing-dimension twin of the reference's latest-state
    KTable (keeps history instead of overwriting, SURVEY §2.1 S2).

    Plan: gaps-and-islands — lag + running sum share one hash exchange on
    user_id; the island aggregation is map-side partial; the final lead()
    window reuses the same partitioning. No UDFs, fully codegen'd.
    """
    from covid19_spark.operators.cdc import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    iv = scd2_intervals(ev, ["user_id"], "ts", ["event_type"], tiebreak_cols=["event_id"])
    return iv.select(
        "user_id",
        "version",
        "event_type",
        "valid_from",
        "valid_to",
        "is_current",
        F.col("n_events").cast("long").alias("n_events"),
    ).orderBy("user_id", "version")


ORACLE_SCD2_USER_TYPE = """
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NOT DISTINCT FROM event_type
              THEN 0 ELSE 1 END AS chg
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM marked
),
iv AS (
  SELECT user_id, island, event_type, min(ts) AS valid_from,
         CAST(count(*) AS BIGINT) AS n_events
  FROM runs GROUP BY 1, 2, 3
)
SELECT user_id, CAST(island AS BIGINT) AS version, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) IS NULL AS is_current,
       n_events
FROM iv
ORDER BY user_id, version
"""


QUERY_REGISTRY["scd2_user_type"] = QuerySpec(
    q_scd2_user_type, ORACLE_SCD2_USER_TYPE, "SCD2 validity intervals (gaps-and-islands)"
)


def q_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear classifier (fasttext proxy) over documents: the
    quality-classifier stage of an LLM curation pipeline as a pure map-only
    pass — per-token hash → integer weight → exact fold, one division at
    the end. No explode, no shuffle (only the output sort); whole-stage
    codegen end to end. At 100 TB this is embarrassingly parallel; swap the
    hash weight for a broadcast learned-weight map without changing the plan.
    """
    from covid19_spark.operators.curation import linear_classifier_columns

    docs = _t(spark, sf_dir, "documents")
    cols = linear_classifier_columns(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        cols["n_tokens"].alias("n_tokens"),
        cols["weight_sum"].alias("weight_sum"),
        cols["score"].alias("score"),
        cols["label"].alias("label"),
    ).orderBy("doc_id")


ORACLE_HASHED_CLASSIFIER = """
WITH t AS (
  SELECT doc_id, lang,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, lang, len(toks) AS n_tokens,
         coalesce(CAST(list_aggregate(
             list_transform(toks,
                 x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % 2001 - 1000),
             'sum') AS BIGINT), 0) AS weight_sum
  FROM t
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, weight_sum,
       CASE WHEN n_tokens > 0 THEN weight_sum / (1000.0 * n_tokens) END AS score,
       CASE WHEN n_tokens > 0 AND weight_sum / (1000.0 * n_tokens) > 0
            THEN 'keep' ELSE 'drop' END AS label
FROM s
ORDER BY doc_id
"""


QUERY_REGISTRY["hashed_classifier"] = QuerySpec(
    q_hashed_classifier, ORACLE_HASHED_CLASSIFIER, "hashing-trick linear quality classifier"
)


def q_interpolate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill over each user's sparse daily purchase
    revenue — the time-series repair stage between the date-spine fill
    (W5: zero-fill) and charting: interior gaps interpolate between the
    nearest known days, edges stay NULL.

    Plan: daily agg (one exchange), tiny broadcast date spine for the grid,
    then two ignore-nulls windows sharing one exchange on user_id
    (operators/series.interpolate_series).
    """
    from covid19_spark.operators.series import interpolate_series

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("date"))
        .agg(_dsum(F.col("value")).alias("revenue"))
    )
    out = interpolate_series(daily, ["user_id"], "date", "revenue")
    return out.select(
        "user_id",
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        "revenue",
        "interpolated",
    ).orderBy("user_id", "date")


ORACLE_INTERPOLATE_REVENUE = """
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS date,
         CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS revenue
  FROM e WHERE event_type = 'purchase' GROUP BY 1, 2
),
b AS (SELECT min(date) AS d0, max(date) AS d1 FROM daily),
spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS date FROM b),
grid AS (SELECT u.user_id, s.date FROM (SELECT DISTINCT user_id FROM daily) u CROSS JOIN spine s),
j AS (
  SELECT g.user_id, g.date, d.revenue
  FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.date = d.date
),
w AS (
  SELECT user_id, date, revenue,
         last_value(CASE WHEN revenue IS NOT NULL THEN {'d': date, 'v': revenue} END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY date
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
         first_value(CASE WHEN revenue IS NOT NULL THEN {'d': date, 'v': revenue} END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY date
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
  FROM j
)
SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
       coalesce(revenue,
                CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL THEN
                  prev.v + (nxt.v - prev.v) * datediff('day', prev.d, date)
                         / datediff('day', prev.d, nxt.d)
                END) AS revenue,
       (revenue IS NULL AND prev IS NOT NULL AND nxt IS NOT NULL) AS interpolated
FROM w
ORDER BY user_id, date
"""


QUERY_REGISTRY["interpolate_revenue"] = QuerySpec(
    q_interpolate_revenue, ORACLE_INTERPOLATE_REVENUE, "linear-interpolation series gap fill"
)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms over the corpus — the keyword-
    extraction stage of a text pipeline. Rational idf (N+1)/(df+1): exact
    integer inputs, one double division — bit-reproducible across engines
    (ln() drifts in the last ulp between libms). Ties break on term asc.
    """
    from covid19_spark.operators.text import tf_idf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tf_idf_top_terms(docs, "doc_id", "text").orderBy("doc_id", "rank")


ORACLE_TFIDF_TOP_TERMS = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         tf.tf * ((n.nd + 1) / (dfreq.df + 1.0)) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df, score FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 3
ORDER BY doc_id, rank
"""


QUERY_REGISTRY["tfidf_top_terms"] = QuerySpec(
    q_tfidf_top_terms, ORACLE_TFIDF_TOP_TERMS, "per-doc top-3 TF-IDF keyword extraction"
)


def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly detection over the daily event-count
    series (monitoring twin of the moving average A6): each day's count is
    scored against the mean/std of the prior 7 observed days.

    Moments come from exact integer sums (count, count²) over a rows-based
    trailing window — one hash exchange on event_type shared with the sort;
    the double arithmetic (mean, sample variance, sqrt) happens once per
    row in the same operation order in both engines, so values are
    bit-reproducible. Days with fewer than 3 prior observations or zero
    variance emit NULL z.
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("date"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("date").asc())
        .rowsBetween(-7, -1)
    )
    sum7 = F.sum("n").over(w)
    sumsq7 = F.sum(F.col("n") * F.col("n")).over(w)
    cnt7 = F.count("n").over(w)
    scored = daily.select(
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        sum7.cast("long").alias("s1"),
        sumsq7.cast("long").alias("s2"),
        cnt7.cast("long").alias("k"),
    )
    mean = F.col("s1") / F.col("k")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("k")) / (F.col("k") - 1)
    z = F.when((F.col("k") >= 3) & (var > 0), (F.col("n") - mean) / F.sqrt(var))
    return scored.select(
        "date",
        "event_type",
        "n",
        z.alias("z"),
        F.when(z.isNotNull() & (F.abs(z) > 2), True).otherwise(False).alias("anomaly"),
    ).orderBy("event_type", "date")


ORACLE_ROLLING_ZSCORE = """
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
daily AS (
  SELECT CAST(ts AS DATE) AS date, event_type, CAST(count(*) AS BIGINT) AS n
  FROM e GROUP BY 1, 2
),
win AS (
  SELECT date, event_type, n,
         CAST(sum(n) OVER w AS BIGINT) AS s1,
         CAST(sum(n * n) OVER w AS BIGINT) AS s2,
         CAST(count(n) OVER w AS BIGINT) AS k
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY date ASC
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT *,
         CASE WHEN k >= 3 AND (s2 - s1 * s1 / k) / (k - 1) > 0
              THEN (n - s1 / k) / sqrt((s2 - s1 * s1 / k) / (k - 1))
         END AS zv
  FROM win
)
SELECT strftime(date, '%Y-%m-%d') AS date, event_type, n, zv AS z,
       coalesce(zv IS NOT NULL AND abs(zv) > 2, FALSE) AS anomaly
FROM z
ORDER BY event_type, date
"""


QUERY_REGISTRY["rolling_zscore"] = QuerySpec(
    q_rolling_zscore, ORACLE_ROLLING_ZSCORE, "trailing-window z-score anomaly detection"
)


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per event type (20 bins of 25
    over [0, 500), under/overflow clamped into the edge bins) — the
    distribution-profiling pass of a data-quality report. Map-only binning
    (floor arithmetic — exact for doubles in both engines) + one partial-agg
    shuffle carrying |types|×|bins| ≤ 100 group rows regardless of corpus
    size; bin bounds are emitted for charting.
    """
    ev = _t(spark, sf_dir, "events")
    raw_bin = F.floor(F.col("value") / F.lit(25.0))
    bin_ = F.least(F.greatest(raw_bin, F.lit(0)), F.lit(19)).cast("long")
    return (
        ev.select("event_type", bin_.alias("bin"), "value")
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            "event_type",
            "bin",
            (F.col("bin") * 25.0).alias("bin_lo"),
            ((F.col("bin") + 1) * 25.0).alias("bin_hi"),
            "n",
            "sum_value",
        )
        .orderBy("event_type", "bin")
    )


ORACLE_VALUE_HISTOGRAM = """
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
b AS (
  SELECT event_type,
         CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT) AS bin,
         value
  FROM e
)
SELECT event_type, bin, bin * 25.0 AS bin_lo, (bin + 1) * 25.0 AS bin_hi,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM b
GROUP BY event_type, bin
ORDER BY event_type, bin
"""


QUERY_REGISTRY["value_histogram"] = QuerySpec(
    q_value_histogram, ORACLE_VALUE_HISTOGRAM, "fixed-width value histogram profiling"
)


def q_ewma_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.5, 7-day trailing
    support) of the daily event-count series per type — the smoothing twin
    of the 5-day moving average (A6). The weights (1-alpha)^i are literal
    constants and the weighted sum is written term-by-term in the same
    order in both engines, so values are bit-reproducible; missing lags
    (series head) renormalize over the present terms, matching pandas
    ``ewm(adjust=True)`` over a full window.

    Plan: one hash exchange on event_type shared by all seven lag windows
    (single WindowExec pass — they use the same frame).
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("date"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("date").asc())
    num = F.lit(0.0)
    den = F.lit(0.0)
    for i in range(7):
        wi = F.lit(0.5 ** i)
        xi = F.lag(F.col("n"), i).over(w) if i else F.col("n")
        num = num + F.when(xi.isNotNull(), wi * xi).otherwise(F.lit(0.0))
        den = den + F.when(xi.isNotNull(), wi).otherwise(F.lit(0.0))
    return daily.select(
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        (num / den).alias("ewma"),
    ).orderBy("event_type", "date")


def _ewma_terms() -> tuple[str, str]:
    nums, dens = [], []
    for i in range(7):
        wi = repr(0.5 ** i)
        xi = "n" if i == 0 else f"lag(n, {i}) OVER w"
        nums.append(f"CASE WHEN {xi} IS NOT NULL THEN {wi} * {xi} ELSE 0.0 END")
        dens.append(f"CASE WHEN {xi} IS NOT NULL THEN {wi} ELSE 0.0 END")
    return " + ".join(nums), " + ".join(dens)


_EWMA_NUM, _EWMA_DEN = _ewma_terms()

ORACLE_EWMA_DAILY_EVENTS = f"""
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
daily AS (
  SELECT CAST(ts AS DATE) AS date, event_type, CAST(count(*) AS BIGINT) AS n
  FROM e GROUP BY 1, 2
)
SELECT strftime(date, '%Y-%m-%d') AS date, event_type, n,
       (((({_EWMA_NUM}))) / ((({_EWMA_DEN})))) AS ewma
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY date ASC)
ORDER BY event_type, date
"""


QUERY_REGISTRY["ewma_daily_events"] = QuerySpec(
    q_ewma_daily_events, ORACLE_EWMA_DAILY_EVENTS, "EWMA smoothing of a daily series"
)


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling report over orders: exact null/distinct counts per
    column in ONE aggregation pass, reshaped long with ``stack`` (no second
    scan). The 100 TB variant flips ``exact=False`` to HLL++ sketches (see
    operators/profile.py).
    """
    from covid19_spark.operators.profile import profile_columns

    orders = _t(spark, sf_dir, "orders")
    return profile_columns(orders).orderBy("column")


ORACLE_PROFILE_ORDERS = """
WITH m AS (SELECT count(*) AS n_rows FROM orders)
SELECT col AS "column", n_rows, n_nulls, n_distinct
FROM (
  SELECT 'o_orderkey' AS col, m.n_rows,
         (SELECT count(*) FROM orders WHERE o_orderkey IS NULL) AS n_nulls,
         (SELECT count(DISTINCT o_orderkey) FROM orders) AS n_distinct FROM m
  UNION ALL
  SELECT 'o_custkey', m.n_rows,
         (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
         (SELECT count(DISTINCT o_custkey) FROM orders) FROM m
  UNION ALL
  SELECT 'o_orderstatus', m.n_rows,
         (SELECT count(*) FROM orders WHERE o_orderstatus IS NULL),
         (SELECT count(DISTINCT o_orderstatus) FROM orders) FROM m
  UNION ALL
  SELECT 'o_totalprice', m.n_rows,
         (SELECT count(*) FROM orders WHERE o_totalprice IS NULL),
         (SELECT count(DISTINCT o_totalprice) FROM orders) FROM m
  UNION ALL
  SELECT 'o_orderdate', m.n_rows,
         (SELECT count(*) FROM orders WHERE o_orderdate IS NULL),
         (SELECT count(DISTINCT o_orderdate) FROM orders) FROM m
  UNION ALL
  SELECT 'o_orderpriority', m.n_rows,
         (SELECT count(*) FROM orders WHERE o_orderpriority IS NULL),
         (SELECT count(DISTINCT o_orderpriority) FROM orders) FROM m
)
ORDER BY col
"""


QUERY_REGISTRY["profile_orders"] = QuerySpec(
    q_profile_orders, ORACLE_PROFILE_ORDERS, "per-column profiling report (stack reshape)"
)


def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic over events.user_id: the report run before
    choosing a shuffle key / salting factor / AQE skew threshold. One
    partial-agg shuffle of |keys| rows + a single-row reduce; exact
    interpolated percentiles of the per-key load distribution."""
    from covid19_spark.operators.profile import key_skew_report

    ev = _t(spark, sf_dir, "events")
    return key_skew_report(ev, "user_id")


ORACLE_KEY_SKEW_REPORT = """
WITH pk AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(cnt) AS BIGINT) AS total_rows,
         CAST(max(cnt) AS BIGINT) AS max_cnt,
         quantile_cont(cnt, 0.5) AS p50_cnt,
         quantile_cont(cnt, 0.9) AS p90_cnt,
         quantile_cont(cnt, 0.99) AS p99_cnt
  FROM pk
),
t AS (SELECT CAST(min(user_id) AS BIGINT) AS top_key FROM pk
      WHERE cnt = (SELECT max(cnt) FROM pk))
SELECT n_keys, total_rows, max_cnt,
       total_rows / CAST(n_keys AS DOUBLE) AS mean_cnt,
       p50_cnt, p90_cnt, p99_cnt,
       max_cnt / (total_rows / CAST(n_keys AS DOUBLE)) AS skew_ratio,
       top_key
FROM s, t
"""


QUERY_REGISTRY["key_skew_report"] = QuerySpec(
    q_key_skew_report, ORACLE_KEY_SKEW_REPORT, "pre-partitioning key-skew diagnostic"
)


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier report per event type: |x - median| > 3·1.4826·MAD
    (robust z-score — the quality gate that, unlike mean/stddev, is not
    dragged by the outliers it hunts). Two |groups|-row percentile passes
    broadcast back onto the fact; no windows or full sorts."""
    from covid19_spark.operators.quality import mad_outlier_report

    ev = _t(spark, sf_dir, "events")
    return mad_outlier_report(ev, "event_type", "value").orderBy("event_type")


ORACLE_MAD_OUTLIERS = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
wm AS (
  SELECT e.event_type, e.value, med.med, abs(e.value - med.med) AS absdev
  FROM events e JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(absdev, 0.5) AS mad
  FROM wm GROUP BY event_type
)
SELECT wm.event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN wm.absdev > 3 * 1.4826 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       min(wm.med) AS med,
       min(mad.mad) AS mad,
       sum(CASE WHEN wm.absdev > 3 * 1.4826 * mad.mad THEN 1 ELSE 0 END)
         / CAST(count(*) AS DOUBLE) AS outlier_rate
FROM wm JOIN mad USING (event_type)
GROUP BY wm.event_type
ORDER BY wm.event_type
"""


QUERY_REGISTRY["mad_outliers"] = QuerySpec(
    q_mad_outliers, ORACLE_MAD_OUTLIERS, "robust MAD outlier report per group"
)


def q_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of revenue from one part class inside a
    shipdate window — fact ⋈ broadcast dimension, conditional DECIMAL
    aggregate, single-row ratio. The date predicate pushes into the
    lineitem scan; part is broadcast (dimension-sized)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-07-01")
    )
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
    return j.agg(
        _dsum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0.0))).alias(
            "economy_revenue"
        ),
        _dsum(rev).alias("total_revenue"),
    ).select(
        "economy_revenue",
        "total_revenue",
        (F.lit(100.0) * F.col("economy_revenue") / F.col("total_revenue")).alias(
            "economy_pct"
        ),
    )


ORACLE_PROMO_REVENUE_RATIO = """
WITH j AS (
  SELECT CASE WHEN p_type = 'ECONOMY'
              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS erev,
         l_extendedprice * (1 - l_discount) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-07-01'
)
SELECT CAST(sum(CAST(erev AS DECIMAL(38,6))) AS DOUBLE) AS economy_revenue,
       CAST(sum(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS total_revenue,
       100.0 * CAST(sum(CAST(erev AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(sum(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS economy_pct
FROM j
"""


QUERY_REGISTRY["promo_revenue_ratio"] = QuerySpec(
    q_promo_revenue_ratio,
    ORACLE_PROMO_REVENUE_RATIO,
    "Q14-shape conditional revenue ratio (broadcast dim + decimal agg)",
)


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join with conditional counts keyed by a
    JOIN-SIDE attribute — late-shipped lines (shipped > 30 days after the
    order date) split into urgent vs other order priorities per return
    flag. The shuffle joins on orderkey; counts are CASE sums with
    map-side partial aggregation."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).filter(
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 30)
    )
    urgent = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.sum(urgent).cast("long").alias("urgent_lines"),
            F.sum(1 - urgent).cast("long").alias("other_lines"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_LATE_SHIPMENT_PRIORITY = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT)
         AS urgent_lines,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END) AS BIGINT)
         AS other_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


QUERY_REGISTRY["late_shipment_priority"] = QuerySpec(
    q_late_shipment_priority,
    ORACLE_LATE_SHIPMENT_PRIORITY,
    "Q12-shape join-side conditional counts",
)


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (the class-centroid reduction used by
    SemDeDup-style semantic dedup and IVF retraining), emitted long-form as
    (label, dim, mean): posexplode -> (label, dim) partial agg — the shuffle
    carries |labels|·64 partial sums, never vectors. Per-dimension sums go
    through the DECIMAL(38,6) contract so the mean is order-independent and
    bit-reproducible. (The packed array<double> form is one
    sort_array(collect_list) away — operators/similarity.ivf_train_centroids
    uses exactly that re-pack.)
    """
    emb = _t(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    by_dim = emb.select("label", F.posexplode("v").alias("dim", "x"))
    return (
        by_dim.groupBy("label", "dim")
        .agg(
            (_dsum(F.col("x")) / F.count(F.lit(1))).alias("mean"),
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
        )
        .orderBy("label", "dim")
    )


ORACLE_LABEL_CENTROIDS = """
WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
by_dim AS (
  SELECT label, i - 1 AS dim, v[i] AS x
  FROM e, unnest(range(1, len(v) + 1)) AS t(i)
)
SELECT label, CAST(dim AS INT) AS dim,
       CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS mean,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM by_dim GROUP BY 1, 2
ORDER BY label, dim
"""


QUERY_REGISTRY["label_centroids"] = QuerySpec(
    q_label_centroids, ORACLE_LABEL_CENTROIDS, "distributed per-label embedding centroids"
)


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (32-token chunks, 16-token overlap) —
    the context-window split step of a training/retrieval pipeline
    (operators/text.chunk_documents).

    Plan: map-only — scan → tokenize → posexplode(starts) → slice/concat; no
    shuffle except the final presentation sort (which the pipeline form
    drops). Every token lands in ≥1 chunk; trailing starts whose window is
    fully contained in the previous chunk are dropped.
    """
    from covid19_spark.operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text").orderBy(
        "doc_id", "chunk_id"
    )


# DuckDB mirrors the same windows: starts at stride multiples, kept while
# s == 0 OR s + overlap < n; 1-based inclusive list slice == Spark slice.
ORACLE_DOC_CHUNKS = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
),
starts AS (
  SELECT doc_id, t, CAST(u.s AS BIGINT) AS s
  FROM toks, unnest(range(0, len(t), 16)) AS u(s)
  WHERE len(t) > 0 AND (u.s = 0 OR u.s + 16 < len(t))
)
SELECT doc_id,
       CAST(s / 16 AS BIGINT) AS chunk_id,
       array_to_string(t[s + 1 : s + 32], ' ') AS chunk_text,
       CAST(least(32, len(t) - s) AS BIGINT) AS chunk_n_tokens
FROM starts
ORDER BY doc_id, chunk_id
"""


QUERY_REGISTRY["doc_chunks"] = QuerySpec(
    q_doc_chunks, ORACLE_DOC_CHUNKS, "sliding token-window document chunking"
)


def q_frequent_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters: top-50 tokens by global frequency.

    Plan: tokenize (map-only) → explode → partial-agg per partition →
    |vocab|-sized shuffle → final agg → TakeOrderedAndProject(50) with the
    term itself as tiebreaker. The shuffle carries one row per distinct term
    per partition (vocab-bounded), never per token — at 100 TB the vocab is
    the working set, not the corpus. The approximate scale path for when
    even the vocab is too wide (df.stat.freqItems, KPS95 one-pass) is pinned
    by a superset-property test in tests/test_text.py.
    """
    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
        ).alias("term")
    )
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return counts.orderBy(F.col("n").desc(), F.col("term")).limit(50)


ORACLE_FREQUENT_TERMS = """
WITH terms AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS term
  FROM documents
)
SELECT term, CAST(count(*) AS BIGINT) AS n
FROM terms
GROUP BY term
ORDER BY n DESC, term
LIMIT 50
"""


QUERY_REGISTRY["frequent_terms"] = QuerySpec(
    q_frequent_terms, ORACLE_FREQUENT_TERMS, "exact corpus heavy hitters (top-50 terms)"
)


def _semantic_dedup_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup pair's shared corpus: embeddings < 500 plus
    deterministic perturbed copies (vec_id+100000, the
    ``embedding_near_dup`` nudge) guaranteeing true duplicate groups."""
    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 500)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    nudged = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: F.element_at("embedding", i) + F.lit(0.02) * ((i % 7) - 3),
    )
    perturbed = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"), nudged.alias("embedding")
    )
    return emb.unionByName(perturbed)


def _semantic_dedup_assignment(spark: SparkSession, sf_dir: str, base: DataFrame):
    """Fingerprint-cached k-means clustering SHARED by the SemDeDup pair
    (VERDICT r12 task #6): both queries cluster the same corpus with the
    same params, so the Lloyd training + assignment is built once per
    corpus snapshot and served from /tmp parquet thereafter — the
    ``ensure_ivfpq_index`` measurement semantics (first in-sweep run pays
    the build)."""
    import os

    from covid19_spark.operators.ann_index import corpus_file_fingerprint
    from covid19_spark.operators.similarity import ensure_semantic_assignment

    fp = f"{corpus_file_fingerprint(sf_dir, 'embeddings')}:semdedup_v1"
    path = (
        f"/tmp/covid19_spark_semassign_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    return ensure_semantic_assignment(base, path, fp)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup composition (operators/similarity.semantic_dedup): k-means
    blocks → within-cluster cosine pairs → connected components → canonical
    keep, clustering served from the pair-shared fingerprint cache.
    K-means is iterative and engine-specific, so the driver check is
    rows-only; the checked-in sf0.01 fixture pins exact values
    (tests/test_similarity.py)."""
    from covid19_spark.operators.similarity import semantic_dedup

    base = _semantic_dedup_base(spark, sf_dir)
    return semantic_dedup(
        base, "vec_id", "embedding",
        assignment=_semantic_dedup_assignment(spark, sf_dir, base),
    ).orderBy("vec_id")


# Fixture oracle (VERDICT r09 task #1, the png_image_features pattern):
# iterative k-means has no single-statement SQL twin, but the blocking +
# pairing + CC + keep-policy output is deterministic over the fixed sf0.01
# embeddings, so the checked-in expected assignment joined back onto the
# live embeddings domain (% 100000 strips the planted-copy offset) upgrades
# the driver check from rows-only to a full rows+schema+value-hash match.
ORACLE_SEMANTIC_DEDUP = f"""
SELECT b.vec_id, b.cluster_id, b.cluster_size, b.is_canonical
FROM read_parquet('{fixture_path("semantic_dedup_sf0.01.parquet")}') b
JOIN embeddings e ON (b.vec_id % 100000) = e.vec_id
ORDER BY b.vec_id
"""

QUERY_REGISTRY["semantic_dedup"] = QuerySpec(
    q_semantic_dedup, ORACLE_SEMANTIC_DEDUP,
    "SemDeDup k-means-blocked embedding dedup vs fixture oracle",
)


def q_semantic_dedup_paper_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup paper's §3 keep policy (``low_centroid_sim``: within
    each duplicate cluster keep the example FARTHEST from its k-means
    centroid — arXiv:2303.09540 argues it preserves diversity) over the
    exact corpus/cluster structure of ``semantic_dedup``. Registered
    separately (r05 stretch #8) so the driver exercises BOTH policies;
    rows-only for the same k-means reason, fixture-pinned in
    tests/test_similarity.py.  Clustering comes from the SAME fingerprint
    cache as ``semantic_dedup`` — only the keep policy differs."""
    from covid19_spark.operators.similarity import semantic_dedup

    base = _semantic_dedup_base(spark, sf_dir)
    return semantic_dedup(
        base, "vec_id", "embedding",
        keep_policy="low_centroid_sim",
        assignment=_semantic_dedup_assignment(spark, sf_dir, base),
    ).orderBy("vec_id")


ORACLE_SEMANTIC_DEDUP_PAPER_POLICY = f"""
SELECT b.vec_id, b.cluster_id, b.cluster_size, b.is_canonical
FROM read_parquet('{fixture_path("semantic_dedup_paper_policy_sf0.01.parquet")}') b
JOIN embeddings e ON (b.vec_id % 100000) = e.vec_id
ORDER BY b.vec_id
"""

QUERY_REGISTRY["semantic_dedup_paper_policy"] = QuerySpec(
    q_semantic_dedup_paper_policy, ORACLE_SEMANTIC_DEDUP_PAPER_POLICY,
    "SemDeDup with the paper's low-centroid-similarity keep policy vs fixture oracle",
)


def q_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report over orders (operators/quality):
    five constraints — not-null, key uniqueness, price range, status
    membership, priority format — ALL evaluated in one map-side-combined
    aggregation pass (the shuffle carries one partial row per partition),
    then stacked long-form. The quarantine row-split twin is pinned by
    tests/test_quality.py."""
    from covid19_spark.operators.quality import (
        Rule,
        expect_in_set,
        expect_matches,
        expect_not_null,
        expect_unique,
        quality_report,
    )

    orders = _t(spark, sf_dir, "orders")
    price = F.col("o_totalprice")
    rules = [
        expect_not_null("o_custkey"),
        expect_unique("o_orderkey"),
        Rule(
            "o_totalprice_in_range",
            price.isNotNull() & (price >= 0.0) & (price <= 400000.0),
        ),
        expect_in_set("o_orderstatus", ["O", "F", "P"]),
        expect_matches("o_orderpriority", "^[1-5]-"),
    ]
    return quality_report(orders, rules).orderBy("rule")


ORACLE_QUALITY_REPORT = """
WITH wide AS (
  SELECT count(*) AS n,
         sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_null,
         count(*) - count(DISTINCT o_orderkey) AS v_uniq,
         sum(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0.0
                       OR o_totalprice > 400000.0 THEN 1 ELSE 0 END) AS v_range,
         sum(CASE WHEN o_orderstatus IS NULL
                       OR o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS v_set,
         sum(CASE WHEN o_orderpriority IS NULL
                       OR NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS v_re
  FROM orders
), long AS (
  SELECT 'o_custkey_not_null' AS rule, v_null AS violations, n FROM wide
  UNION ALL SELECT 'unique_o_orderkey', v_uniq, n FROM wide
  UNION ALL SELECT 'o_totalprice_in_range', v_range, n FROM wide
  UNION ALL SELECT 'o_orderstatus_in_set', v_set, n FROM wide
  UNION ALL SELECT 'o_orderpriority_matches', v_re, n FROM wide
)
SELECT rule, CAST(violations AS BIGINT) AS violations, CAST(n AS BIGINT) AS n_rows,
       CASE WHEN n = 0 THEN 1.0 ELSE 1.0 - violations / n END AS pass_rate
FROM long
ORDER BY rule
"""


QUERY_REGISTRY["quality_report"] = QuerySpec(
    q_quality_report, ORACLE_QUALITY_REPORT, "single-pass declarative data-quality report"
)


def q_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend: slope/intercept of the daily event-count series
    per event type — the generalization of the reference's doubling-rate
    growth analytics (``Covid19Stats.java:196-203``) from a 1-point growth
    ratio to a least-squares fit over the whole series.

    Plan: two partial-agg shuffles — (event_type, date) daily counts, then
    the four OLS sufficient statistics per type (Σx, Σy, Σxy, Σx²). x is
    the epoch-day index and y the daily count, so ALL sums are exact
    BIGINTs; slope = (n·Σxy − Σx·Σy)/(n·Σx² − Σx²) is one double division
    over exact integers — bit-reproducible with no DECIMAL contract needed.
    At 100 TB the shuffles carry |types|·|days| then |types| rows.
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("date"), "event_type").agg(
        F.count(F.lit(1)).alias("y")
    )
    pt = daily.select(
        "event_type",
        F.datediff("date", F.lit("1970-01-01")).cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
    )
    stats = pt.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    slope = (
        (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx"))
    ).cast("double")
    return (
        stats.select(
            "event_type",
            "n_days",
            slope.alias("slope_per_day"),
            ((F.col("sy") - slope * F.col("sx")) / F.col("n_days"))
            .cast("double")
            .alias("intercept"),
            (F.col("sy") / F.col("n_days")).cast("double").alias("mean_daily"),
        )
        .orderBy("event_type")
    )


ORACLE_TREND_SLOPES = """
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
daily AS (
  SELECT CAST(ts AS DATE) AS date, event_type, CAST(count(*) AS BIGINT) AS y
  FROM e GROUP BY 1, 2
),
pt AS (
  SELECT event_type,
         CAST(datediff('day', DATE '1970-01-01', date) AS BIGINT) AS x, y
  FROM daily
),
stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM pt GROUP BY event_type
)
SELECT event_type, n_days,
       CAST((n_days * sxy - sx * sy) AS DOUBLE) / (n_days * sxx - sx * sx) AS slope_per_day,
       (sy - (CAST((n_days * sxy - sx * sy) AS DOUBLE) / (n_days * sxx - sx * sx)) * sx) / n_days AS intercept,
       CAST(sy AS DOUBLE) / n_days AS mean_daily
FROM stats
ORDER BY event_type
"""


QUERY_REGISTRY["trend_slopes"] = QuerySpec(
    q_trend_slopes, ORACLE_TREND_SLOPES, "per-group OLS trend over daily series"
)


def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over lineitem's numeric columns
    (operators/profile.pairwise_correlations): all six pairs from ONE
    aggregation pass over exact DECIMAL sufficient statistics — see the
    operator docstring for why engine-native ``corr`` isn't used."""
    from covid19_spark.operators.profile import pairwise_correlations

    li = _t(spark, sf_dir, "lineitem")
    return pairwise_correlations(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    ).orderBy("col_a", "col_b")


def _corr_sql(a: str, b: str) -> str:
    s = lambda c: f"CAST(sum(CAST({c} AS DECIMAL(38,6))) AS DOUBLE)"
    ss = lambda c: f"CAST(sum(CAST({c} * {c} AS DECIMAL(38,6))) AS DOUBLE)"
    sp = f"CAST(sum(CAST({a} * {b} AS DECIMAL(38,6))) AS DOUBLE)"
    return (
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
        f"(n * {sp} - {s(a)} * {s(b)}) / "
        f"sqrt((n * {ss(a)} - {s(a)} * {s(a)}) * (n * {ss(b)} - {s(b)} * {s(b)}))"
        f" AS corr, n AS n_rows "
        f"FROM lineitem, (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem) "
        f"GROUP BY n"
    )


_CORR_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_quantity", "l_tax"),
    ("l_extendedprice", "l_discount"),
    ("l_extendedprice", "l_tax"),
    ("l_discount", "l_tax"),
]
ORACLE_CORRELATION_MATRIX = (
    " UNION ALL ".join(_corr_sql(a, b) for a, b in _CORR_PAIRS)
    + " ORDER BY col_a, col_b"
)


QUERY_REGISTRY["correlation_matrix"] = QuerySpec(
    q_correlation_matrix, ORACLE_CORRELATION_MATRIX, "exact pairwise Pearson correlations"
)


def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (``DataFrame.unpivot`` / ANSI UNPIVOT): lineitem's
    four measure columns melted to (key, measure, value) rows. Map-only —
    the Expand node emits 4 rows per input row with no shuffle; the id
    projection and measure casts ride the same codegen stage.

    The reshape twin of ``profile_columns``' stack: pivot (W4) goes
    long→wide, this goes wide→long."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("quantity"),
            F.col("l_extendedprice").cast("double").alias("extendedprice"),
            F.col("l_discount").cast("double").alias("discount"),
            F.col("l_tax").cast("double").alias("tax"),
        )
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["quantity", "extendedprice", "discount", "tax"],
            "measure",
            "value",
        )
        .orderBy("l_orderkey", "l_linenumber", "measure")
    )


ORACLE_UNPIVOT_MEASURES = """
WITH src AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_quantity AS DOUBLE) AS quantity,
         CAST(l_extendedprice AS DOUBLE) AS extendedprice,
         CAST(l_discount AS DOUBLE) AS discount,
         CAST(l_tax AS DOUBLE) AS tax
  FROM lineitem WHERE l_orderkey <= 100
)
SELECT l_orderkey, l_linenumber, measure, value
FROM src
UNPIVOT (value FOR measure IN (quantity, extendedprice, discount, tax))
ORDER BY l_orderkey, l_linenumber, measure
"""


QUERY_REGISTRY["unpivot_measures"] = QuerySpec(
    q_unpivot_measures, ORACLE_UNPIVOT_MEASURES, "wide-to-long unpivot reshape"
)


def q_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of distinct users ever seen, per day — via the
    first-touch trick: min(event date) per user (one shuffle on user_id,
    map-side combined), count users per first-date, running sum over the
    date series. Exact, with state O(|days|) instead of the naive running
    ``count(DISTINCT)`` whose window state is O(|days|·|users|) — the
    pattern that keeps 'total unique X to date' queries alive at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_date"))
    daily_new = first.groupBy("first_date").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = Window.orderBy("first_date").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily_new.select(
            F.date_format("first_date", "yyyy-MM-dd").alias("date"),
            "new_users",
            F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
        )
        .orderBy("date")
    )


ORACLE_CUMULATIVE_UNIQUE_USERS = """
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
first AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_date FROM e GROUP BY user_id
),
daily_new AS (
  SELECT first_date, CAST(count(*) AS BIGINT) AS new_users
  FROM first GROUP BY first_date
)
SELECT strftime(first_date, '%Y-%m-%d') AS date, new_users,
       CAST(sum(new_users) OVER (ORDER BY first_date
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM daily_new
ORDER BY date
"""


QUERY_REGISTRY["cumulative_unique_users"] = QuerySpec(
    q_cumulative_unique_users,
    ORACLE_CUMULATIVE_UNIQUE_USERS,
    "running distinct-users via first-touch trick",
)


def q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-substring detection (Lee et al. 2021):
    every maximal token span covered by 8-gram windows shared by >= 2 docs.
    The corpus' near-duplicate documents carry real shared runs, so no
    synthesis is needed.

    Scale: map-only k-gram explode -> one hash aggregate -> join-back on the
    hash -> per-doc interval-merge window. Widest shuffle is one row per
    duplicated-window occurrence; nothing is pairwise in docs
    (operators/spans.py module docstring has the full account)."""
    from covid19_spark.operators.spans import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    # the spans evaluate eagerly and release the gram cache — a registry
    # query must not leave session-lifetime cache entries behind (the
    # VERDICT r07 item #2 contract, pinned by tests/test_cache_hygiene.py)
    return duplicated_spans(docs).orderBy(
        "doc_id", "span_start"
    )


ORACLE_DUPLICATED_SPANS = """
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 8 + 1, 0) + 1),
      i -> {'pos': i, 'kh': md5(array_to_string(t[i:i+7], ' '))}),
      recursive := true)
  FROM toks
),
dup AS (SELECT kh FROM grams GROUP BY kh HAVING count(DISTINCT doc_id) >= 2),
marked AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (kh)),
isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM marked)
)
SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
       max(pos) + 7 - min(pos) + 1 AS span_tokens
FROM isl GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""


QUERY_REGISTRY["duplicated_spans"] = QuerySpec(
    q_duplicated_spans,
    ORACLE_DUPLICATED_SPANS,
    "exact duplicated-substring spans (hashed 8-gram windows)",
)


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal with the keep-one policy: the min-id document
    owning each duplicated 8-gram keeps its copy; every other document has
    the covered tokens stripped and its text rebuilt. Per-doc damage stats
    ride along (token counts BIGINT, dup_frac a small-int division both
    engines compute identically in IEEE double)."""
    from covid19_spark.operators.spans import span_dedup

    docs = _t(spark, sf_dir, "documents")
    # evaluated eagerly for cache hygiene — see q_duplicated_spans
    return span_dedup(docs).orderBy("doc_id")


ORACLE_SPAN_DEDUP = """
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 8 + 1, 0) + 1),
      i -> {'pos': i, 'kh': md5(array_to_string(t[i:i+7], ' '))}),
      recursive := true)
  FROM toks
),
dup AS (SELECT kh, min(doc_id) AS owner FROM grams GROUP BY kh
        HAVING count(DISTINCT doc_id) >= 2),
marked AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (kh)
           WHERE g.doc_id <> dup.owner),
isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM marked)
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
  FROM isl GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id, list({'s': s, 'e': e}) AS sp,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT tk.doc_id,
       -- DuckDB array_to_string([]) is NULL where Spark concat_ws is '':
       -- coalesce to '' for fully-stripped docs
       coalesce(array_to_string(list_filter(tk.t, (x, i) ->
           len(list_filter(coalesce(p.sp, CAST([] AS STRUCT(s BIGINT, e BIGINT)[])),
               sg -> i >= sg.s AND i <= sg.e)) = 0), ' '), '') AS text,
       CAST(len(tk.t) AS BIGINT) AS n_tokens,
       coalesce(p.dup_tokens, 0) AS dup_tokens,
       coalesce(p.n_spans, 0) AS n_spans,
       coalesce(p.dup_tokens, 0) / len(tk.t) AS dup_frac
FROM toks tk LEFT JOIN per_doc p USING (doc_id)
ORDER BY tk.doc_id
"""


QUERY_REGISTRY["span_dedup"] = QuerySpec(
    q_span_dedup,
    ORACLE_SPAN_DEDUP,
    "ExactSubstr keep-one substring removal + damage stats",
)




def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecast (operators/forecast.py) of the daily
    event-count series per type: 7-day horizon from double-exponential
    smoothing, the recurrence folded per key inside the JVM with
    ``F.aggregate`` over the collected ordered series — the registry's
    fold-over-series exemplar (iterative per key, zero Python, zero
    per-row state).

    TRUE cross-engine oracle: DuckDB replays the identical recurrence
    through a RECURSIVE CTE — binary-exact coefficients (α=0.5, β=0.25)
    and textually-identical double expressions, so full-precision levels,
    trends and forecasts hash-match."""
    from covid19_spark.operators.forecast import holt_linear

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("date")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    return holt_linear(
        daily, ["event_type"], "date", "y"
    ).orderBy("event_type", "h")


ORACLE_HOLT_FORECAST = """
WITH RECURSIVE e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
daily AS (
  SELECT event_type, CAST(ts AS DATE) AS date, CAST(count(*) AS DOUBLE) AS y
  FROM e GROUP BY 1, 2
),
idxd AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY date) AS idx,
         count(*) OVER (PARTITION BY event_type) AS n_obs
  FROM daily
),
init AS (
  SELECT a.event_type, a.n_obs, 1 AS t, a.y AS l, b.y - a.y AS b
  FROM idxd a JOIN idxd b ON a.event_type = b.event_type AND a.idx = 1 AND b.idx = 2
),
rec AS (
  SELECT * FROM init
  UNION ALL
  SELECT r.event_type, r.n_obs, r.t + 1,
         0.5 * d.y + 0.5 * (r.l + r.b) AS l,
         0.25 * ((0.5 * d.y + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b AS b
  FROM rec r JOIN idxd d ON d.event_type = r.event_type AND d.idx = r.t + 1
),
final AS (
  SELECT event_type, n_obs, l, b FROM rec WHERE t = n_obs
)
SELECT f.event_type, CAST(f.n_obs AS BIGINT) AS n_obs, f.l AS level, f.b AS trend,
       CAST(h.h AS INT) AS h,
       f.l + CAST(h.h AS DOUBLE) * f.b AS forecast
FROM final f, (SELECT unnest(range(1, 8)) AS h) h
ORDER BY event_type, h
"""

QUERY_REGISTRY["holt_forecast"] = QuerySpec(
    q_holt_forecast, ORACLE_HOLT_FORECAST,
    "Holt linear-trend 7-day forecast: JVM fold vs recursive-CTE cross-engine oracle",
)


def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup against SCD2 validity intervals —
    the warehouse pattern that closes the loop on the SCD2 build
    (``scd2_user_type``): for a weekly probe grid × the first 100 users,
    "which event_type was in effect for this user AT date D?" — the
    attribute a fact row at time D must be enriched with to avoid
    time-travel leakage (joining TODAY's dimension onto YESTERDAY's facts
    is the classic slowly-changing-dimension bug).

    Implementation: the SCD2 intervals are contiguous per user, so the
    lookup is the as-of join (operators/asof.py union-window shape — one
    hash exchange, no broadcast requirement) on ``valid_from``, then a
    validity clamp nulls out probes at-or-after the matched interval's
    ``valid_to`` (only possible past the key's last interval or before
    its first). Oracle: DuckDB rebuilds the same intervals
    (gaps-and-islands) and picks the max ``valid_from <= D`` row per
    probe with a lateral argmax."""
    from covid19_spark.operators.asof import asof_join
    from covid19_spark.operators.cdc import scd2_intervals

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    iv = scd2_intervals(ev, ["user_id"], "ts", ["event_type"], tiebreak_cols=["event_id"])
    probes = (
        spark.range(100)
        .select(F.col("id").alias("user_id"))
        .crossJoin(
            spark.range(5).select(
                F.date_add(F.lit("2024-01-08"), (F.col("id") * 7).cast("int")).alias("probe_date")
            )
        )
        .select("user_id", F.col("probe_date").cast("timestamp").alias("probe_ts"))
    )
    joined = asof_join(
        probes,
        iv.select("user_id", "valid_from", "valid_to", "event_type", "version"),
        on=["user_id"],
        left_ts="probe_ts",
        right_ts="valid_from",
        right_payload=["event_type", "valid_to", "version"],
        right_tiebreak="version",
    )
    active = F.col("valid_from").isNotNull() & (
        F.col("valid_to").isNull() | (F.col("valid_to") > F.col("probe_ts"))
    )
    return joined.select(
        "user_id",
        F.date_format("probe_ts", "yyyy-MM-dd").alias("probe_date"),
        F.when(active, F.col("event_type")).alias("type_at_date"),
        F.when(active, F.col("version")).cast("long").alias("version_at_date"),
    ).orderBy("user_id", "probe_date")


ORACLE_SCD2_POINT_IN_TIME = """
WITH e AS (
  SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events WHERE user_id < 100
),
marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NOT DISTINCT FROM event_type
              THEN 0 ELSE 1 END AS chg
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run_id
  FROM marked
),
iv AS (
  SELECT user_id, run_id AS version, any_value(event_type) AS event_type,
         min(ts) AS valid_from
  FROM runs GROUP BY user_id, run_id
),
iv2 AS (
  SELECT *, lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to
  FROM iv
),
probes AS (
  SELECT u.user_id, CAST(DATE '2024-01-08' + INTERVAL (7 * d.k) DAY AS TIMESTAMP) AS probe_ts
  FROM (SELECT unnest(range(0, 100)) AS user_id) u,
       (SELECT unnest(range(0, 5)) AS k) d
),
matched AS (
  SELECT p.user_id, p.probe_ts, i.event_type, i.valid_to, i.version,
         row_number() OVER (PARTITION BY p.user_id, p.probe_ts
                            ORDER BY i.valid_from DESC, i.version DESC) AS rn
  FROM probes p
  LEFT JOIN iv2 i ON i.user_id = p.user_id AND i.valid_from <= p.probe_ts
)
SELECT user_id,
       strftime(probe_ts, '%Y-%m-%d') AS probe_date,
       CASE WHEN event_type IS NOT NULL
              AND (valid_to IS NULL OR valid_to > probe_ts)
            THEN event_type END AS type_at_date,
       CAST(CASE WHEN event_type IS NOT NULL
              AND (valid_to IS NULL OR valid_to > probe_ts)
            THEN version END AS BIGINT) AS version_at_date
FROM matched
WHERE rn = 1
ORDER BY user_id, probe_date
"""

QUERY_REGISTRY["scd2_point_in_time"] = QuerySpec(
    q_scd2_point_in_time, ORACLE_SCD2_POINT_IN_TIME,
    "point-in-time SCD2 dimension lookup via as-of join + validity clamp",
)


def q_trained_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier DISTILLATION (operators/train): an expensive quality gate
    (here the length gate n_chars >= 300 stands in for a teacher model)
    labels the corpus, and a hashed linear model is TRAINED on those labels
    with 6 full-batch iterations of exact integer-quantized gradient
    descent — broadcast parameter vector, one map-side-combined gradient
    aggregation per iteration, |buckets|-integer driver update (the
    sanctioned contract-small collect).  Output: every doc's margin,
    hard-sigmoid activation (micro-units) and predicted label under the
    LEARNED weights.

    The oracle replays the ENTIRE training recurrence (not just scoring)
    as an unrolled CTE chain — integer activations, integer gradient sums,
    floor-division steps — so the driver differential certifies that
    distributed training is bit-reproducible.  Scale: per iteration one
    corpus scan; the deployment cost of the distilled filter is the
    map-only scoring pass."""
    from covid19_spark.operators.train import (
        count_features,
        score_quantized_lr,
        train_quantized_lr,
        with_intercept,
    )

    docs = _t(spark, sf_dir, "documents")
    labels = docs.select(
        "doc_id", (F.col("n_chars") >= 300).cast("int").alias("y")
    ).localCheckpoint(eager=True)
    feats = with_intercept(
        count_features(docs, "doc_id", "text"), labels, "doc_id"
    ).localCheckpoint(eager=True)
    weights = train_quantized_lr(feats, labels, "doc_id")
    return score_quantized_lr(feats, labels, "doc_id", weights).orderBy(
        "doc_id"
    )


def _oracle_trained_quality_filter() -> str:
    from covid19_spark.operators.train import md5_bucket_sql, quantized_lr_sql

    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, u.x AS t
  FROM documents, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS u(x)
),
feats AS MATERIALIZED (
  SELECT doc_id, {md5_bucket_sql("t", 32)} AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY 1, 2
  UNION ALL
  SELECT doc_id, CAST(32 AS BIGINT), CAST(16 AS BIGINT) FROM documents
),
labels AS MATERIALIZED (
  SELECT doc_id, CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y FROM documents
),
{quantized_lr_sql("feats", "labels", "doc_id")}
ORDER BY doc_id
"""


QUERY_REGISTRY["trained_quality_filter"] = QuerySpec(
    q_trained_quality_filter, _oracle_trained_quality_filter(),
    "integer-quantized GD training of a hashed quality classifier, replayed in SQL",
)


def q_holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive SEASONAL forecast (operators/forecast.py) of
    the per-type daily event counts: weekly seasonality (m=7), 7-day
    horizon.  Level/trend/seasonal recurrence folded per key inside the
    JVM — the state struct carries the 7-slot seasonal ring as an array,
    rotated by slice+concat each step; zero Python, zero per-row state.

    TRUE cross-engine oracle: DuckDB replays the identical recurrence
    through a recursive CTE whose row state carries the ring as a LIST —
    binary-exact coefficients (α=0.5, β=0.25, γ=0.25), left-to-right
    folds for the period-mean init (NOT avg()), textually identical
    double expressions: full-precision hash match."""
    from covid19_spark.operators.forecast import holt_winters_additive

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("date")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    return holt_winters_additive(
        daily, ["event_type"], "date", "y"
    ).orderBy("event_type", "h")


ORACLE_HOLT_WINTERS_FORECAST = """
WITH RECURSIVE e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
daily AS (
  SELECT event_type, CAST(ts AS DATE) AS date, CAST(count(*) AS DOUBLE) AS y
  FROM e GROUP BY 1, 2
),
idxd AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY date) AS idx
  FROM daily
),
series AS (
  SELECT event_type, list(y ORDER BY date) AS ys,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM daily GROUP BY 1 HAVING count(*) >= 14
),
init AS (
  SELECT event_type, n_obs, 7 AS t,
         list_reduce(ys[1:7], (x, y) -> x + y) / 7.0 AS l,
         (list_reduce(ys[8:14], (x, y) -> x + y) / 7.0
          - list_reduce(ys[1:7], (x, y) -> x + y) / 7.0) / 7.0 AS b,
         list_transform(ys[1:7],
           y -> y - list_reduce(ys[1:7], (x, y) -> x + y) / 7.0) AS ss
  FROM series
),
rec AS (
  SELECT * FROM init
  UNION ALL
  SELECT r.event_type, r.n_obs, r.t + 1,
         0.5 * (d.y - r.ss[1]) + 0.5 * (r.l + r.b) AS l,
         0.25 * ((0.5 * (d.y - r.ss[1]) + 0.5 * (r.l + r.b)) - r.l)
           + 0.75 * r.b AS b,
         list_append(r.ss[2:],
           0.25 * (d.y - (0.5 * (d.y - r.ss[1]) + 0.5 * (r.l + r.b)))
             + 0.75 * r.ss[1]) AS ss
  FROM rec r JOIN idxd d ON d.event_type = r.event_type AND d.idx = r.t + 1
),
final AS (SELECT event_type, n_obs, l, b, ss FROM rec WHERE t = n_obs)
SELECT f.event_type, f.n_obs, f.l AS level, f.b AS trend,
       CAST(h.h AS INT) AS h,
       f.ss[CAST((h.h - 1) % 7 AS INT) + 1] AS seasonal,
       f.l + CAST(h.h AS DOUBLE) * f.b
           + f.ss[CAST((h.h - 1) % 7 AS INT) + 1] AS forecast
FROM final f, (SELECT unnest(range(1, 8)) AS h) h
ORDER BY event_type, h
"""

QUERY_REGISTRY["holt_winters_forecast"] = QuerySpec(
    q_holt_winters_forecast, ORACLE_HOLT_WINTERS_FORECAST,
    "Holt-Winters additive seasonal forecast: JVM ring-state fold vs recursive-CTE list replay",
)


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift gate (the standard ML-ops
    distribution monitor): order values before vs after the 1998-06-01
    snapshot cut, binned into a FIXED 10-bin grid over the global min/max
    (fixed-width, not quantile bins — quantile boundaries are not portable
    across engines; the grid is the layout toolkit's floor arithmetic),
    per-bin PSI contribution ``(pa − pb)·ln(pa/pb)`` with the standard
    1e-6 zero-bin floor.  ln() is not correctly-rounded across engines, so
    contributions round(6) — the documented BM25-class exception; shares
    (pa, pb) stay exact integer ratios.  One scan + one |bins| aggregate
    per slice."""
    orders = _t(spark, sf_dir, "orders")
    cutoff = "1998-06-01"
    bounds = orders.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        (F.col("o_orderdate") < cutoff).alias("is_a"),
        F.least(
            F.lit(9),
            F.floor(
                (F.col("o_totalprice") - F.col("mn"))
                * 10.0
                / (F.col("mx") - F.col("mn") + F.lit(1.0))
            ),
        ).cast("long").alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.col("is_a").cast("long")).alias("na"),
        F.sum((~F.col("is_a")).cast("long")).alias("nb"),
    )
    totals = counts.agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb")
    )
    eps = 1e-6
    pa = F.greatest(F.col("na").cast("double") / F.col("ta"), F.lit(eps))
    pb = F.greatest(F.col("nb").cast("double") / F.col("tb"), F.lit(eps))
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            F.col("na").cast("long").alias("na"),
            F.col("nb").cast("long").alias("nb"),
            F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_contrib"),
        )
        .orderBy("bin")
    )


ORACLE_PSI_DRIFT = """
WITH b AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders),
binned AS (
  SELECT (o_orderdate < TIMESTAMP '1998-06-01') AS is_a,
         LEAST(9, CAST(floor((o_totalprice - mn) * 10.0 / (mx - mn + 1.0)) AS BIGINT)) AS bin
  FROM orders CROSS JOIN b
),
counts AS (
  SELECT bin,
         sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS nb
  FROM binned GROUP BY bin
),
t AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM counts)
SELECT bin,
       CAST(na AS BIGINT) AS na,
       CAST(nb AS BIGINT) AS nb,
       round(
         (GREATEST(CAST(na AS DOUBLE) / ta, 1e-6) - GREATEST(CAST(nb AS DOUBLE) / tb, 1e-6))
         * ln(GREATEST(CAST(na AS DOUBLE) / ta, 1e-6) / GREATEST(CAST(nb AS DOUBLE) / tb, 1e-6)),
         6
       ) AS psi_contrib
FROM counts CROSS JOIN t
ORDER BY bin
"""

QUERY_REGISTRY["psi_drift"] = QuerySpec(
    q_psi_drift, ORACLE_PSI_DRIFT,
    "population-stability-index drift between corpus snapshots (fixed grid)",
)


def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift monitor (operators/forecast.cusum_alarms) over the
    per-type daily event counts: 28-day baseline mean, slack μ₀/8, alarm at
    μ₀ — the sustained-drift detector that complements the point-outlier
    gates (rolling_zscore / mad_outliers).  Per-key JVM fold; the oracle
    replays the identical recurrence in a recursive CTE.  All arithmetic
    exact (fold-mean baseline, binary-exact fractions, max(0,·)) — full-
    precision cross-engine hash, no rounding exceptions."""
    from covid19_spark.operators.forecast import cusum_alarms

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("date")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    return cusum_alarms(
        daily, ["event_type"], "date", "y"
    ).orderBy("event_type")


ORACLE_CUSUM_CHANGEPOINTS = """
WITH RECURSIVE e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
daily AS (
  SELECT event_type, CAST(ts AS DATE) AS date, CAST(count(*) AS DOUBLE) AS y
  FROM e GROUP BY 1, 2
),
idxd AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY date) AS idx
  FROM daily
),
series AS (
  SELECT event_type, list(y ORDER BY date) AS ys,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM daily GROUP BY 1 HAVING count(*) >= 29
),
base AS (
  SELECT event_type, n_obs,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys[1:28]), (x, y) -> x + y) / 28.0 AS mu0
  FROM series
),
rec AS (
  SELECT event_type, n_obs, mu0, 28 AS t,
         CAST(0.0 AS DOUBLE) AS cs, 0 AS first_alarm, CAST(0 AS BIGINT) AS n_alarms
  FROM base
  UNION ALL
  SELECT r.event_type, r.n_obs, r.mu0, r.t + 1,
         GREATEST(CAST(0.0 AS DOUBLE), r.cs + (d.y - r.mu0 - 0.125 * r.mu0)) AS cs,
         CASE WHEN r.first_alarm = 0
                   AND GREATEST(CAST(0.0 AS DOUBLE), r.cs + (d.y - r.mu0 - 0.125 * r.mu0)) >= 1.0 * r.mu0
              THEN r.t + 1 ELSE r.first_alarm END AS first_alarm,
         r.n_alarms + CASE WHEN GREATEST(CAST(0.0 AS DOUBLE), r.cs + (d.y - r.mu0 - 0.125 * r.mu0)) >= 1.0 * r.mu0
                           THEN 1 ELSE 0 END AS n_alarms
  FROM rec r JOIN idxd d ON d.event_type = r.event_type AND d.idx = r.t + 1
),
final AS (SELECT event_type, n_obs, mu0, cs, first_alarm, n_alarms FROM rec WHERE t = n_obs)
SELECT event_type, n_obs, mu0, cs AS s_final,
       CAST(first_alarm AS BIGINT) AS first_alarm,
       CAST(n_alarms AS BIGINT) AS n_alarms
FROM final
ORDER BY event_type
"""

QUERY_REGISTRY["cusum_changepoints"] = QuerySpec(
    q_cusum_changepoints, ORACLE_CUSUM_CHANGEPOINTS,
    "CUSUM sustained-drift changepoints: JVM fold vs recursive-CTE replay",
)


def q_retention_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier customer-retention curve (operators/survival): per
    customer, duration = days between first and last order; churn event
    observed when the last order predates 2001-06-01, else right-censored
    (still active at the snapshot).  One subject groupBy → contract-small
    distinct-duration frame → JVM fold carrying (n_risk, survival) — the
    oracle replays the identical recurrence in a recursive CTE.  Exact
    integer risk counts; the product multiplies exact d/n ratios in
    ascending-duration fold order — full-precision hash."""
    from covid19_spark.operators.survival import kaplan_meier

    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("f"), F.max("o_orderdate").alias("l")
    ).select(
        F.datediff("l", "f").cast("long").alias("dur"),
        (F.col("l") < F.lit("2001-06-01")).cast("int").alias("churn"),
    )
    return kaplan_meier(per_cust, "dur", "churn").orderBy("t")


ORACLE_RETENTION_SURVIVAL = """
WITH RECURSIVE per_cust AS (
  SELECT datediff('day', min(o_orderdate), max(o_orderdate)) AS dur,
         CASE WHEN max(o_orderdate) < TIMESTAMP '2001-06-01' THEN 1 ELSE 0 END AS churn
  FROM orders GROUP BY o_custkey
),
by_t AS (
  SELECT dur AS t, sum(churn) AS d, count(*) AS c FROM per_cust GROUP BY dur
),
idxd AS (
  SELECT t, d, c, row_number() OVER (ORDER BY t) AS idx,
         count(*) OVER () AS n_times
  FROM by_t
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM by_t),
rec AS (
  SELECT 0 AS idx, CAST(NULL AS BIGINT) AS t, CAST(NULL AS BIGINT) AS n_risk,
         CAST(NULL AS BIGINT) AS d, n_total AS n, CAST(1.0 AS DOUBLE) AS surv
  FROM tot
  UNION ALL
  SELECT i.idx, i.t, r.n AS n_risk, CAST(i.d AS BIGINT),
         r.n - i.c AS n,
         CASE WHEN i.d > 0
              THEN r.surv * (CAST(1.0 AS DOUBLE) - CAST(i.d AS DOUBLE) / CAST(r.n AS DOUBLE))
              ELSE r.surv END AS surv
  FROM rec r JOIN idxd i ON i.idx = r.idx + 1
)
SELECT t, n_risk, d, surv AS survival
FROM rec WHERE idx > 0 AND d > 0
ORDER BY t
"""

QUERY_REGISTRY["retention_survival"] = QuerySpec(
    q_retention_survival, ORACLE_RETENTION_SURVIVAL,
    "Kaplan-Meier retention curve with right censoring (fold vs recursive CTE)",
)
