"""Skew primitives: result-identity with the naive plans."""

from pyspark.sql import functions as F

from covid19_spark.operators.skew import salted_join, two_phase_agg


def test_salted_join_matches_plain_join(spark):
    # hot key: 90% of big rows share key 'hot'
    big = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"cold{i}", float(i)) for i in range(1000)],
        ["row_id", "k", "v"],
    )
    small = spark.createDataFrame(
        [("hot", "H"), ("cold10", "C10"), ("cold20", "C20"), ("missing", "M")],
        ["k", "label"],
    )
    plain = big.join(small, "k").select("row_id", "k", "v", "label")
    salted = salted_join(big, small, ["k"], salt_source="row_id").select(
        "row_id", "k", "v", "label"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_two_phase_agg_matches_plain(spark):
    df = spark.createDataFrame(
        [(i, "hot" if i % 5 else f"k{i}", float(i)) for i in range(500)],
        ["row_id", "k", "v"],
    )
    plain = {
        (r.k,): (r.s, r.n)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    skewsafe = {
        (r.k,): (r.sum_v, r.n_rows)
        for r in two_phase_agg(df, ["k"], "row_id", sums=["v"]).collect()
    }
    assert plain == skewsafe


def test_key_skew_report_detects_planted_hot_key(spark):
    """A 100x hot key must surface as the top key with a skew ratio near the
    ratio of its load to the mean; a uniform distribution stays near 1."""
    from covid19_spark.operators.profile import key_skew_report

    rows = [(k, i) for k in range(10) for i in range(10)] + [(99, i) for i in range(1000)]
    df = spark.createDataFrame(rows, ["user_id", "v"])
    r = key_skew_report(df, "user_id").collect()[0]
    assert r.top_key == 99 and r.max_cnt == 1000
    assert r.n_keys == 11 and r.total_rows == 1100
    assert r.skew_ratio == 1000 / (1100 / 11)
    uniform = spark.createDataFrame([(k, i) for k in range(10) for i in range(10)], ["user_id", "v"])
    assert key_skew_report(uniform, "user_id").collect()[0].skew_ratio == 1.0


def test_aqe_skew_join_split_fires(spark):
    """SCALING.md leans on AQE's runtime skew-join split as the first line
    of defense (salting is the manual fallback) — exercise it for real: a
    99%-hot sort-merge join with thresholds scaled to local data sizes must
    show `skew=true` on the join in the final adaptive plan."""
    saved = {}
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        pad = "x" * 64
        big = spark.range(200_000).select(
            F.when(F.col("id") % 100 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit(pad), F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(20_000).select(
            (F.col("id") % 50_000).alias("k"),
            F.col("id").alias("rv"),
        )
        # thin projection so the collect stays small; the action MUST run on
        # this same DataFrame — count()/write wrap a new query execution and
        # would leave this one's adaptive plan unfinalized (isFinalPlan=false)
        joined = big.join(right, "k").select(
            F.length("payload").alias("lp"), "rv"
        )
        assert len(joined.collect()) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
