"""robots.txt gate (operators/web.py robots_rules / robots_allowed):
RFC 9309 group selection, longest-match, stacking, fail-open."""

from __future__ import annotations

from covid19_spark.operators.web import path_of, robots_allowed, robots_rules

from pyspark.sql import functions as F


def _rules(spark, bodies):
    robots = spark.createDataFrame(bodies, "host string, robots_txt string")
    return robots_rules(robots)


def _verdicts(spark, rules, urls, agent="crawler"):
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "id long, url string"
    )
    rows = robots_allowed(df, rules, agent).orderBy("id").collect()
    return [(r.allowed, r.matched_rule) for r in rows]


def test_longest_match_allow_carveout(spark):
    rules = _rules(
        spark,
        [("a.com", "User-agent: *\nDisallow: /private\nAllow: /private/ok\n")],
    )
    got = _verdicts(
        spark,
        rules,
        ["https://a.com/p", "https://a.com/private/x", "https://a.com/private/ok/x"],
    )
    assert got == [(True, None), (False, "/private"), (True, "/private/ok")]


def test_agent_group_preempts_wildcard(spark):
    rules = _rules(
        spark,
        [("b.com", "User-agent: crawler\nDisallow: /p/1\n\nUser-agent: *\nDisallow: /\n")],
    )
    got = _verdicts(spark, rules, ["https://b.com/p/1", "https://b.com/p/2"])
    # the '*' total lockout must NOT leak into the crawler group
    assert got == [(False, "/p/1"), (True, None)]
    # ...but an agent WITHOUT its own group gets the '*' lockout
    other = _verdicts(spark, rules, ["https://b.com/p/2"], agent="someone")
    assert other == [(False, "/")]


def test_fail_open_without_applicable_group_or_robots(spark):
    rules = _rules(spark, [("c.com", "User-agent: other\nDisallow: /\n")])
    got = _verdicts(
        spark, rules, ["https://c.com/x", "https://unknown-host.com/x"]
    )
    assert got == [(True, None), (True, None)]


def test_stacked_user_agent_lines_share_rules(spark):
    rules = _rules(
        spark, [("d.com", "User-agent: x\nUser-agent: crawler\nDisallow: /s\n")]
    )
    assert _verdicts(spark, rules, ["https://d.com/s/1"]) == [(False, "/s")]
    assert _verdicts(spark, rules, ["https://d.com/s/1"], agent="x") == [(False, "/s")]


def test_comments_blanks_and_empty_disallow_ignored(spark):
    body = "# top comment\nUser-agent: *\n\nDisallow:\nDisallow: /real # inline\n"
    rules = _rules(spark, [("e.com", body)])
    rows = rules.collect()
    # the empty Disallow asserts nothing; only /real survives
    assert [(r.directive, r.path) for r in rows] == [("disallow", "/real")]
    got = _verdicts(spark, rules, ["https://e.com/", "https://e.com/real/x"])
    assert got == [(True, None), (False, "/real")]


def test_agent_matching_is_case_insensitive(spark):
    rules = _rules(spark, [("f.com", "User-Agent: CRAWLER\ndisallow: /x\n")])
    assert _verdicts(spark, rules, ["https://f.com/x"], agent="Crawler") == [
        (False, "/x")
    ]


def test_path_of(spark):
    df = spark.createDataFrame(
        [
            ("https://a.com", "/"),
            ("https://a.com/", "/"),
            ("https://a.com/p/q?x=1#f", "/p/q"),
            ("http://u:p@a.com:8080/deep/path", "/deep/path"),
        ],
        "url string, want string",
    )
    bad = df.filter(path_of("url") != F.col("want")).count()
    assert bad == 0


def test_original_columns_and_multiplicity_preserved(spark):
    rules = _rules(spark, [("a.com", "User-agent: *\nDisallow: /x\n")])
    df = spark.createDataFrame(
        [(1, "https://a.com/x", "m1"), (2, "https://a.com/x", "m2")],
        "id long, url string, meta string",
    )
    rows = robots_allowed(df, rules, "crawler").orderBy("id").collect()
    # duplicate URLs stay two rows (map-only gate, no row-key collapse)
    assert [(r.id, r.meta, r.allowed) for r in rows] == [
        (1, "m1", False),
        (2, "m2", False),
    ]


def test_crawl_delays_parse_and_conservative_max(spark):
    from covid19_spark.operators.web import robots_crawl_delays

    robots = spark.createDataFrame(
        [
            ("a.com", "User-agent: *\nCrawl-delay: 2\nCrawl-delay: 5\n"),
            ("b.com", "User-agent: bot\nCrawl-delay: 0.5\n"),
            ("c.com", "User-agent: *\nCrawl-delay: fast\n"),  # non-numeric -> dropped
        ],
        "host string, robots_txt string",
    )
    got = {(r.host, r.agent): r.delay_s for r in robots_crawl_delays(robots).collect()}
    assert got == {("a.com", "*"): 5.0, ("b.com", "bot"): 0.5}


def test_politeness_schedule_slots_and_group_preference(spark):
    from covid19_spark.operators.web import politeness_schedule, robots_crawl_delays

    robots = spark.createDataFrame(
        [("a.com", "User-agent: crawler\nCrawl-delay: 0.5\n\nUser-agent: *\nCrawl-delay: 10\n")],
        "host string, robots_txt string",
    )
    delays = robots_crawl_delays(robots)
    urls = spark.createDataFrame(
        [
            (1, "https://a.com/x1"), (2, "https://a.com/x2"), (3, "https://a.com/x3"),
            (4, "https://nodelay.com/y"),
        ],
        "id long, url string",
    )
    rows = {
        r.id: r
        for r in politeness_schedule(urls, delays, "Crawler").collect()
    }
    # agent group (0.5s) preempts the punitive '*' 10s
    assert [rows[i].slot for i in (1, 2, 3)] == [0, 1, 2]
    assert [rows[i].fetch_offset_s for i in (1, 2, 3)] == [0.0, 0.5, 1.0]
    # unknown host falls back to the default delay at slot 0
    assert rows[4].slot == 0 and rows[4].delay_s == 1.0


def test_politeness_same_agent_in_two_groups_takes_max(spark):
    """A host naming the agent's class in TWO groups with different
    delays resolves deterministically to the larger (conservative) one."""
    from covid19_spark.operators.web import politeness_schedule, robots_crawl_delays

    robots = spark.createDataFrame(
        [("a.com",
          "User-agent: crawler\nCrawl-delay: 2\n\n"
          "User-agent: crawler\nCrawl-delay: 5\n")],
        "host string, robots_txt string",
    )
    urls = spark.createDataFrame([(1, "https://a.com/x")], "id long, url string")
    r = politeness_schedule(urls, robots_crawl_delays(robots), "crawler").collect()[0]
    assert r.delay_s == 5.0


def test_empty_specific_group_preempts_wildcard(spark):
    """RFC 9309 group selection is by group PRESENCE, not by having rules:
    a crawler group containing only a Crawl-delay line has an EMPTY rule
    set — meaning 'everything allowed for crawler' — and must still
    preempt a '*' total lockout."""
    rules = _rules(
        spark,
        [("g.com", "User-agent: crawler\nCrawl-delay: 1\nUser-agent: *\nDisallow: /\n")],
    )
    got = _verdicts(spark, rules, ["https://g.com/anything"])
    assert got == [(True, None)]
    # an agent WITHOUT its own group still gets the lockout
    assert _verdicts(spark, rules, ["https://g.com/x"], agent="other") == [(False, "/")]


def test_ua_lines_stack_across_blank_lines_per_rfc_abnf(spark):
    """RFC 9309 ABNF: startgrouplines separated only by blank lines belong
    to ONE group — so 'crawler' and '*' here share the lockout (a blank
    line does NOT end a group; only a rule line does)."""
    rules = _rules(
        spark,
        [("h.com", "User-agent: crawler\n\nUser-agent: *\nDisallow: /\n")],
    )
    assert _verdicts(spark, rules, ["https://h.com/x"]) == [(False, "/")]


def test_robots_gate_works_unchanged_on_a_stream(spark, tmp_path):
    """Batch/stream symmetry: robots_allowed is a broadcast stream-static
    join + array expressions, so the SAME operator gates a streaming URL
    frontier with no code change — the policy layer of the crawl stream."""
    import os

    from covid19_spark.operators.web import robots_allowed, robots_rules

    d = str(tmp_path)
    src, ckpt = f"{d}/src", f"{d}/ckpt"
    os.makedirs(src)
    rules = robots_rules(
        spark.createDataFrame(
            [("a.com", "User-agent: *\nDisallow: /private\nAllow: /private/ok\n")],
            "host string, robots_txt string",
        )
    )
    spark.createDataFrame(
        [
            (1, "https://a.com/page"),
            (2, "https://a.com/private/x"),
            (3, "https://a.com/private/ok/y"),
            (4, "https://elsewhere.com/z"),
        ],
        "id long, url string",
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("id long, url string").parquet(src)
    gated = robots_allowed(stream, rules, agent="crawler").filter("allowed")
    q = (
        gated.select("id")
        .writeStream.format("memory")
        .queryName("robots_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.id for r in spark.table("robots_stream").collect())
    assert got == [1, 3, 4]  # /private blocked; allow carve-out + fail-open pass
