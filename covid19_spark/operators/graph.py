"""Iterative graph algorithms as DataFrame loops — PageRank.

The canonical iterative-workload shape on Spark: the edge frame is
materialized ONCE (eager localCheckpoint — read k times, freed with the
result's lineage) and each iteration is one join + one keyed aggregation,
i.e. exactly one shuffle of the edge list per iteration. Rank state is a
|V|-row frame, never driver-side. This is the textbook Pregel-on-dataflow
reduction (Page et al. 1999; Malewicz et al. 2010 §2 message-passing view):
``contrib(u→v) = rank(u) · nw(u,v)`` over once-normalized edge weights
``nw = w/W(u)``, ``rank'(v) = (1-d)/N + d · Σ contrib``.

Determinism across engines (the DuckDB oracle replays the same fixed
number of iterations): each contribution term is the same left-to-right
double expression ``(rank * w) / W`` in both engines, and the Σ quantizes
every term to a fixed 1e-15 grid via ``floor(term · 10^15) :: BIGINT``
before an exact integer sum — ``floor`` on identical doubles is identical,
integer addition is order-independent, and the final ``Σ/10^15`` division
is one deterministic double op. (A DECIMAL(38,18) per-term cast — the
catalog's usual trick — is NOT portable here: Spark rounds HALF_UP on the
double→decimal cast while DuckDB differs in the last decimal unit, and
three iterations compound the ulp into a visible hash mismatch; the floor
grid sidesteps rounding-mode divergence entirely.)

At 100 TB-scale graphs the per-iteration shuffle IS the algorithm's cost
floor; nothing here is ever pairwise beyond the edge list itself, and the
rank state co-partitions with the edge source key after the first
iteration (AQE reuses the exchange)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCALE = 1e15


def _gridsum(col):
    """Order-independent deterministic sum of small doubles (|terms| ≤ 1):
    exact integer sum over the 1e-15 floor grid (see module docstring)."""
    return F.sum(F.floor(col * F.lit(_SCALE)).cast("long")) / F.lit(_SCALE)


def pagerank(edges: DataFrame) -> DataFrame:
    """``(node, rank)`` after 3 weighted-PageRank rounds (damping 0.85)
    over ``(src, dst, w)`` edges.

    ``edges`` must cover every node with at least one OUT-edge (dangling
    nodes are the caller's modeling decision — the registry query builds a
    symmetrized graph where none exist). The edge frame is evaluated
    eagerly once; each round is one broadcast-free join + one aggregate,
    so three rounds need no lineage checkpoint."""
    edges = edges.select(
        "src", "dst", F.col("w").cast("double").alias("w")
    ).localCheckpoint(eager=True)

    # w is integral (a count): double partial sums are EXACT below 2^53,
    # so a plain sum is already order-independent and engine-identical.
    # Normalize out-weights ONCE (nw = w / W(u)) instead of re-joining the
    # out-weight frame inside every iteration — the per-round plan shrinks
    # to one join + one aggregate.  The normalization is a WINDOW sum per
    # src (one exchange) rather than the former groupBy + self-join (two
    # shuffled sides + a join); the window's sum is the same exact
    # integral-double total, so nw is bit-identical.  edges_n and nodes
    # are eager localCheckpoints because every round (and the final left
    # join) re-reads them; both free with the result's lineage.
    from pyspark.sql import Window

    w_src = Window.partitionBy("src")
    edges_n = edges.select(
        "src", "dst", (F.col("w") / F.sum("w").over(w_src)).alias("nw")
    ).localCheckpoint(eager=True)
    from pyspark.sql import Observation

    # Every node has an out-edge by the documented contract (no dangling
    # nodes), so any id appearing as dst also appears as src — distinct
    # over src alone IS the node set; the former src∪dst union doubled
    # the distinct's input for no additional coverage.
    obs = Observation()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    # scalar by contract (|V| is a count, not a frame); observed on the
    # checkpoint job instead of a separate count() action (r14)
    n = int(obs.get["n"])
    base = (1.0 - 0.85) / n

    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(3):
        contribs = (
            edges_n.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") * F.col("nw")).alias("__c"),
            )
            .groupBy("node")
            .agg(_gridsum(F.col("__c")).alias("__in"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (F.lit(base) + F.lit(0.85) * F.coalesce(F.col("__in"), F.lit(0.0))).alias(
                "rank"
            ),
        )
    return ranks


def triangle_count(edges: DataFrame) -> DataFrame:
    """One-row ``(n_nodes, n_edges, n_triangles)`` for the undirected
    simple graph induced by ``(src, dst)`` edges (direction/duplicates/
    self-loops normalized away).

    Degree-ordered orientation (Chiba & Nishizeki 1985; the MapReduce
    formulation of Suri & Vassilvitskii 2011): each undirected edge
    orients from the lower (degree, id) endpoint to the higher, so every
    triangle is counted EXACTLY once and — the scale property — each
    node's out-degree is O(√E), which bounds the wedge join's fan-out
    per node regardless of hub degree. Shuffles: one degree aggregate,
    the wedge self-join on the center node, one closing-edge semi join.
    No unoriented neighbor-list explosion (a hub of degree d would
    otherwise emit d² wedges).
    """
    und = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    keyed = und.join(da, "a").join(db, "b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = keyed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.u") == F.col("o2.u")) & (F.col("o1.v") < F.col("o2.v")),
    ).select(F.col("o1.v").alias("x"), F.col("o2.v").alias("y"))
    # the closing edge may be oriented either way between x and y
    closing = oriented.select(
        F.least("u", "v").alias("cx"), F.greatest("u", "v").alias("cy")
    )
    tri = wedges.join(
        closing,
        (F.least("x", "y") == F.col("cx")) & (F.greatest("x", "y") == F.col("cy")),
        "left_semi",
    )
    # left_semi dedups; wedges are already unique per (u, {x,y}) and each
    # triangle has exactly ONE lowest-ordered center, so count the wedges
    # that close (inner join would equal semi here; semi states the intent)
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_tri))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
        )
    )


def label_propagation(edges: DataFrame) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan 2007),
    made DETERMINISTIC: every node starts as its own label; each round a
    node adopts the label with the highest neighbor count, ties broken by
    the SMALLEST label (vanilla LPA tiebreaks randomly, which would be
    irreproducible across partitionings, let alone engines).  A fixed 3
    rounds — convergence detection would add a count() action per round
    for no semantic gain at small k, and three rounds need no lineage
    checkpoint.

    ``edges`` ``(src, dst)`` must already contain both directions of each
    undirected edge (the callers' symmetrized form).  Per round: one edge-list join +
    ONE aggregation — ``mode(label, deterministic=true)`` is exactly
    "highest neighbor count, ties to the smallest label", and as a typed
    imperative aggregate it builds per-node label→count maps MAP-SIDE and
    merges them reduce-side, so each round pays a single shuffle of
    partially-aggregated maps instead of the previous
    count-agg + argmax-window pair (two exchanges + a per-node sort;
    VERDICT r12 task #2).  Per-node buffer = distinct neighbor labels ≤
    degree — no worse than what the window sort shuffled as rows.
    Output: (node, label)."""
    # The edge frame is consumed by EVERY round's join plus the node
    # derivation — Spark plans are trees, so an unmaterialized edge
    # lineage (often a join+distinct over fact tables) would be recomputed
    # once per consumer (measured on lpa_communities: the
    # lineitem⋈orders+distinct subplan appeared 4× in the final plan).
    # One eager localCheckpoint materializes it exactly once — the same
    # lineage rule pagerank/connected_components already apply.
    edges = edges.select(
        F.col("src").alias("node"), F.col("dst").alias("nbr")
    ).localCheckpoint(eager=True)
    # edges carry both directions by caller contract, so src alone covers
    # every node — the former src∪dst union scanned the frame twice.
    nodes = edges.select("node").distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(3):
        labels = (
            edges.join(labels.withColumnRenamed("node", "nbr"), "nbr")
            .groupBy("node")
            .agg(F.mode("label", deterministic=True).alias("label"))
        )
    return labels
