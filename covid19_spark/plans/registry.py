"""Query catalog: every operator from SURVEY §2, expressed over the driver's
synthetic tables, each with a DuckDB oracle for differential testing.

Determinism contract (driver hashes values after sorting columns by name):
- money/double aggregations cast each row to DECIMAL(38,6) *before* summing
  (exact, order-independent) and cast the exact sum back to DOUBLE at the end
  — identical in Spark and DuckDB, so value hashes match bit-for-bit;
- every window order includes a unique tiebreaker column;
- floating-point comparisons (top-k ranks) only surface integer ids/ranks.

Scale notes are inline per query; the common rules: filters/projections stay
declarative (parquet pushdown), dimension sides of joins are broadcast, and
aggregations rely on map-side partial aggregation so the shuffle carries
|groups|, not |rows|.
"""

from __future__ import annotations

# Shared plumbing (re-exported: every external consumer imports from here).
from covid19_spark.plans.base import (  # noqa: F401
    DEC,
    QUERY_REGISTRY,
    QuerySpec,
    _dsum,
    _t,
)

# Family modules, imported FOR THEIR REGISTRATION SIDE EFFECTS in a pinned
# sequence: insertion order of QUERY_REGISTRY is exactly the concatenation
# of these modules' registration blocks (then re-sorted below). Splitting
# per family (VERDICT r05 task #4) — pure refactor, zero plan diffs.
from covid19_spark.plans import q_relational_core  # noqa: F401, E402
from covid19_spark.plans import q_llm_pipeline  # noqa: F401, E402
from covid19_spark.plans import q_relational_wide  # noqa: F401, E402
from covid19_spark.plans import q_event_analytics  # noqa: F401, E402
from covid19_spark.plans import q_curation  # noqa: F401, E402
from covid19_spark.plans import q_temporal  # noqa: F401, E402
from covid19_spark.plans import q_layout  # noqa: F401, E402
from covid19_spark.plans import q_retrieval  # noqa: F401, E402

# --- Registration order: LRU by last-driver-verified round --------------------
#
# The driver's per-round correctness sweep walks the registry in insertion
# order and may only cover a prefix of it (the r02-r06 artifacts each stopped
# at the 50th entry).  Rebuild the dict so queries missing from the NEWEST
# CORRECTNESS_r*.json register first, ordered by the round they were LAST
# verified ascending (never-verified = -1, so brand-new queries lead).  This
# is a starvation-free aging queue: with window W every query is swept within
# ceil(N/W) rounds (VERDICT r06 task #1 — the previous key sorted
# never-verified queries LAST, permanently starving the newest work whenever
# |missing| > W).  The front list is DERIVED at import time (r05 task #1: a
# hand-maintained list went stale because the artifact lands after the
# round's final commit); deterministic per checkout, with registration order
# as the fallback when no artifact exists.  Pure reordering — the key set,
# specs, and oracles are untouched (pinned by tests/test_registry_order.py,
# including a multi-round replay simulation).  Bench order is NOT derived
# from this (bench.py pins alphabetical), so re-sorting per round does not
# churn the sweep.

# Queries whose plans are multi-stage pipelines (codec kernels, LSH/ANN
# training, e2e dedup).  Sorted AFTER the cheap map/agg/window block so the
# sweep's fresh-JVM cold start is absorbed by a cheap query, matching the
# hand-tuned orderings of earlier rounds.  Substring match keeps this robust
# to future additions within the same families.
_HEAVY_NAME_PARTS = (
    "dedup", "near_dup", "cosine_topk", "bpe_", "fuzzy", "semantic",
    "_features", "minhash", "simhash", "ann_", "lsh",
)


def load_correctness_artifacts() -> dict[int, set[str]]:
    """Round number -> set of query names VERIFIED in that round's
    ``CORRECTNESS_r{N}.json``.  Unreadable artifacts are skipped.

    A row whose value records a driver error (``err`` set — e.g. the
    r09 ``no_oracle`` rows) or a failed row-count, schema, or value-hash
    match does NOT count as verified: the sweep ran it but produced no
    (full) verification, so the LRU must re-front it (round 10: 16 queries gained fixture oracles AFTER
    appearing as ``err: no_oracle`` keys in r09 — counting bare keys would
    have parked exactly those outside the sweep window).  Rows with an
    unrecognized shape count as verified (the pre-r09 artifact formats)."""
    import glob
    import json
    import os
    import re

    root = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
    out: dict[int, set[str]] = {}
    for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)\.json$", p).group(1))
        try:
            with open(p) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        verified = set()
        for name, row in (data.items() if isinstance(data, dict) else []):
            if isinstance(row, dict) and (
                row.get("err") is not None
                or row.get("rows_match") is False
                or row.get("schema_match") is False
                or row.get("hash_match") is False
            ):
                continue
            verified.add(name)
        out[rnd] = verified
    return out


# Queries whose PLAN or ORACLE materially changed in round N: force them
# into the sweep front until an artifact from round >= N re-verifies them
# (their last green row predates the change, so the plain LRU — which only
# knows verification recency, not code recency — would park them at the
# back for up to ceil(N/W) rounds).  SELF-EXPIRING: once CORRECTNESS_r{N}
# (or later) lands with a green row, the entry is inert and can be dropped
# at the next edit — a stale leftover costs one redundant sweep slot, never
# a missed verification (the r05 stale-hand-list failure mode was the
# opposite: fresh work parked forever).
_CHANGED_IN_ROUND: dict[str, int] = {}


def derive_front_list(
    registry_names: list[str], artifacts: dict[int, set[str]]
) -> list[str]:
    """LRU rotation: queries missing from the NEWEST artifact, sorted by the
    round they were LAST driver-verified, ascending — never-verified queries
    (last round = -1) sort FIRST (VERDICT r06 task #1: the old key sorted
    them last, starving exactly the newest work whenever |missing| exceeds
    the sweep window).  Aging makes the policy starvation-free: a query's
    last-verified round is frozen while it waits, so its priority only rises;
    with a window of W every query is swept within ceil(len(registry)/W)
    rounds (pinned by tests/test_registry_order.py's replay simulation)."""
    if not artifacts:
        return []  # fresh checkout: keep registration order as-is
    checked = artifacts[max(artifacts)]
    last_round: dict[str, int] = {}
    for rnd, names in artifacts.items():
        for n in names:
            last_round[n] = max(last_round.get(n, -1), rnd)

    def _stale(n: str) -> bool:
        # changed after its last verification: the green row predates the
        # current code, so re-front it even if the newest sweep listed it
        return last_round.get(n, -1) < _CHANGED_IN_ROUND.get(n, -1)

    def _key(n: str) -> tuple[int, int, str]:
        heavy = any(p in n for p in _HEAVY_NAME_PARTS)
        if n not in last_round:
            rank = -2  # never verified: highest priority (r06 invariant)
        elif _stale(n):
            rank = -1  # verified, but the code changed since: next up
        else:
            rank = last_round[n]
        return (rank, 1 if heavy else 0, n)

    return sorted(
        (n for n in registry_names if n not in checked or _stale(n)), key=_key
    )


_DRIVER_UNVERIFIED_FIRST = derive_front_list(
    list(QUERY_REGISTRY), load_correctness_artifacts()
)


def _reorder_registry() -> None:
    front = {n: QUERY_REGISTRY[n] for n in _DRIVER_UNVERIFIED_FIRST if n in QUERY_REGISTRY}
    rest = {n: s for n, s in QUERY_REGISTRY.items() if n not in front}
    QUERY_REGISTRY.clear()
    QUERY_REGISTRY.update(front)
    QUERY_REGISTRY.update(rest)


_reorder_registry()
