"""Registry queries must not leave session-lifetime cache entries behind.

VERDICT r07 item #2: six registry query bodies cached a reused intermediate
frame via ``.cache()`` with no unpersist — ``bench.py`` clears caches between
queries, but the driver's correctness sweep (and any real multi-query
session) accumulated all six cached frames for the session's lifetime.

The fix replaced ``.cache()`` + eager ``count()`` with
``localCheckpoint(eager=True)``: same single materialization and same
protection against racing first-computation by concurrent consumers, but the
blocks bypass the session CacheManager entirely and are released by the
ContextCleaner once the result frame dies.

This test pins the contract two ways:
  1. the session CacheManager is EMPTY after each formerly-leaking query is
     built and materialized (the leak class that survives for the session);
  2. no package source file calls ``.cache()`` at all.
"""

import pathlib
import re

import pytest

from covid19_spark.plans.registry import QUERY_REGISTRY
from tests.conftest import SF_DIR

# The six queries VERDICT r07 flagged (plans/q_llm_pipeline.py:462,483,
# 1160,1236,1315,1753 at fe687ad). minhash_lsh / simhash_pairs /
# lsh_guard_report share the cheap signature frame; the three media
# queries pay a real codec pass each, so only the cheapest media query is
# exercised here (the other two share the exact same lifecycle code shape).
# The persist()-based dedup/span pipelines (operators/dedup.py,
# operators/spans.py) carry their own release machinery — the last three
# entries verify it actually fires end-to-end through the registry.
CHECKED = [
    "minhash_lsh", "simhash_pairs", "lsh_guard_report", "image_near_dup",
    "dedup_clusters", "span_dedup", "dedup_incremental", "duplicated_spans",
    "dedup_pipeline_e2e",
]


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", CHECKED)
def test_registry_query_leaves_cache_manager_empty(spark, name):
    spark.catalog.clearCache()
    assert _cache_manager_empty(spark), "precondition: cache already dirty"
    df = QUERY_REGISTRY[name].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    assert _cache_manager_empty(spark), (
        f"registry query {name!r} left a frame in the session CacheManager; "
        "use localCheckpoint(eager=True) for reused intermediates"
    )


def test_no_cache_calls_in_package_source():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "covid19_spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if re.search(r"\.cache\(\)", code):
                offenders.append(f"{py.relative_to(pkg.parent)}:{i}")
    assert offenders == [], f"unexpected .cache() sites: {offenders}"
