"""PageRank: probability conservation, a hand-computable star graph,
partitioning determinism, and the weighted-edge semantics."""

import pytest
from pyspark.sql import functions as F

from covid19_spark.operators.graph import pagerank


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long, w double")


def test_star_graph_hand_values(spark):
    """Hub 0 <-> leaves 1..4, unit weights, three rounds: every node has
    out-edges, so rank'(leaf) = 0.15/5 + 0.85 * (rank(hub)/4) and
    rank'(hub) = 0.15/5 + 0.85 * (4 * rank(leaf))."""
    rows = [(0, i, 1.0) for i in range(1, 5)] + [(i, 0, 1.0) for i in range(1, 5)]
    out = {r.node: r.rank for r in pagerank(_edges(spark, rows)).collect()}
    hub = leaf = 0.2
    for _ in range(3):
        hub, leaf = 0.15 / 5 + 0.85 * (4 * leaf), 0.15 / 5 + 0.85 * (hub / 4)
    assert out[0] == pytest.approx(hub, abs=1e-12)
    for node in range(1, 5):
        assert out[node] == pytest.approx(leaf, abs=1e-12)


def test_rank_mass_conserved(spark):
    """With no dangling nodes the rank vector stays a probability
    distribution (up to the 1e-15 grid quantization)."""
    rows = [(a, b, float(1 + (a + b) % 3)) for a in range(20) for b in range(20) if (a * 7 + b) % 5 == 0 and a != b]
    total = pagerank(_edges(spark, rows)).agg(F.sum("rank").alias("s")).collect()[0]["s"]
    assert total == pytest.approx(1.0, abs=1e-9), total


def test_weights_shift_rank(spark):
    """A node receiving the heavier edge ends up with the higher rank."""
    rows = [(0, 1, 9.0), (0, 2, 1.0), (1, 0, 1.0), (2, 0, 1.0)]
    out = {r.node: r.rank for r in pagerank(_edges(spark, rows)).collect()}
    assert out[1] > out[2]


def test_deterministic_across_partitionings(spark):
    rows = [(a, (a * 13 + 7) % 30, float(1 + a % 4)) for a in range(30)] + [
        ((a * 13 + 7) % 30, a, 1.0) for a in range(30)
    ]
    a = {r.node: r.rank for r in pagerank(_edges(spark, rows).repartition(1)).collect()}
    b = {r.node: r.rank for r in pagerank(_edges(spark, rows).repartition(17)).collect()}
    assert a == b  # bit-identical, not approx: the grid sum is exact


def test_triangle_count_known_graphs(spark):
    from covid19_spark.operators.graph import triangle_count

    def tri(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        r = triangle_count(df).collect()[0]
        return (r.n_nodes, r.n_edges, r.n_triangles)

    # K4: 4 nodes, 6 edges, 4 triangles
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert tri(k4) == (4, 6, 4)
    # triangle + pendant edge: 4 nodes, 4 edges, 1 triangle
    assert tri([(1, 2), (2, 3), (3, 1), (3, 4)]) == (4, 4, 1)
    # path: no triangles
    assert tri([(1, 2), (2, 3), (3, 4)]) == (4, 3, 0)
    # duplicates / reversed directions / self-loops normalize away
    messy = [(1, 2), (2, 1), (1, 2), (2, 3), (3, 1), (1, 1)]
    assert tri(messy) == (3, 3, 1)


def test_triangle_count_hub_star_is_triangle_free(spark):
    """A star (one hub, many leaves): the degree orientation must emit
    ZERO wedges from the hub (all edges orient leaf->hub), so the count
    is 0 without a d² blowup."""
    from covid19_spark.operators.graph import triangle_count

    star = [(0, i) for i in range(1, 40)]
    df = spark.createDataFrame(star, "src long, dst long")
    r = triangle_count(df).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (40, 39, 0)


def test_pagerank_deep_run_bounded_lineage_and_same_values(spark):
    """The fixed 3 rounds keep the rank lineage to 3 rounds of (edge join +
    left join) plus the final left join, and the ranks equal a Python
    replay of the same recurrence."""
    rows = [(1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0), (2, 1, 1.0)]
    out = pagerank(_edges(spark, rows))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") <= 2 * 3 + 1, plan.count("Join")
    out_w: dict = {}
    for a, b, w in rows:
        out_w[a] = out_w.get(a, 0.0) + w
    rank = {n: 1 / 3 for n in (1, 2, 3)}
    for _ in range(3):
        inflow = {n: 0.0 for n in rank}
        for a, b, w in rows:
            inflow[b] += rank[a] * w / out_w[a]
        rank = {n: 0.15 / 3 + 0.85 * inflow[n] for n in rank}
    got = {r.node: r.rank for r in out.collect()}
    for n in rank:
        assert got[n] == pytest.approx(rank[n], abs=1e-12)


def test_lpa_two_cliques_with_bridge(spark):
    """Two 4-cliques joined by one bridge edge: after 3 rounds each clique
    converges to its own smallest label — neighbor-count majority keeps
    the bridge from merging them.  (3-cliques would NOT work: with every
    round-1 neighbor count tied at 1, the min-label tiebreak floods the
    smaller label across the bridge — counts must dominate ties for
    communities to hold, the known behavior of deterministic LPA.)"""
    from pyspark.sql import functions as F

    from covid19_spark.operators.graph import label_propagation

    def clique(ns):
        return [(a, b) for i, a in enumerate(ns) for b in ns[i + 1:]]

    pairs = spark.createDataFrame(
        clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [(4, 10)],
        "src long, dst long",
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    got = {r.node: r.label for r in label_propagation(edges).collect()}
    assert got[1] == got[2] == got[3] == got[4] == 1
    assert got[10] == got[11] == got[12] == got[13] == 10


def test_lpa_deterministic_tiebreak_and_guard(spark):
    """A 2-path node with one neighbor of each label takes the SMALLEST
    label (the determinism contract): 9 takes min(5, 7) in rounds 1 and 3."""
    from pyspark.sql import functions as F

    from covid19_spark.operators.graph import label_propagation

    pairs = spark.createDataFrame([(5, 9), (9, 7)], "src long, dst long")
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    got = {r.node: r.label for r in label_propagation(edges).collect()}
    assert got[9] == 5  # min(5, 7)


def test_lpa_deep_run_bounded_lineage(spark):
    """The fixed 3 rounds bound the plan's joins (the pagerank/components
    lineage rule needs no checkpoint at this depth)."""
    from pyspark.sql import functions as F

    from covid19_spark.operators.graph import label_propagation

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    out = label_propagation(edges)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 8
    assert out.count() == 13


def test_lpa_hub_with_all_distinct_labels(spark):
    """The mode-aggregate skew case: a star hub whose round-1 neighbor
    labels are ALL DISTINCT (the widest possible tie, and the largest
    per-group mode buffer — one entry per neighbor). Round 1: the hub
    takes the smallest leaf id, every leaf takes the hub's id; round 2
    floods the smallest id back to the leaves and the hub's own id to the
    hub; round 3 swaps them again — all deterministic."""
    from pyspark.sql import functions as F

    from covid19_spark.operators.graph import label_propagation

    n = 20_000
    hub = n + 7
    pairs = spark.range(n).select(
        F.lit(hub).alias("src"), F.col("id").alias("dst")
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    got = {r.node: r.label for r in label_propagation(edges).collect()}
    assert got[hub] == 0          # the smallest of 20k distinct tied labels
    assert all(v == hub for k, v in got.items() if k != hub)  # leaves adopt the hub
