"""Skew-handling primitives: salted joins and two-phase aggregation.

AQE's skew-join handling (`spark.sql.adaptive.skewJoin.enabled`, on by
default in `session.get_spark`) covers most runtime skew; these explicit
operators are for the cases AQE can't fix:

- **salted_join**: a hot key on the big side of a broadcast-infeasible join.
  The small side is replicated 8 times (one copy per salt value); the big
  side derives a deterministic salt from a high-cardinality column, so each
  hot key's rows spread over 8 tasks. Cost: small side ×8 (bounded — the
  small side is small by contract).
- **two_phase_agg**: a hot group key in an aggregation whose functions are
  algebraic (sum/count/min/max). Phase 1 aggregates (key, 16 salts) partials,
  phase 2 combines per key — the classic partial-combine trick made explicit
  when the single hot key exceeds one task's memory even after map-side
  combine.

Both are result-identical to their naive counterparts (tested), just with a
bounded per-task key width.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT = "__salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key_cols: Sequence[str],
    salt_source: str,
) -> DataFrame:
    """Inner equi-join with the big side's rows spread over 8 salts.

    ``salt_source``: a high-cardinality big-side column (row id, event id)
    hashed to derive the salt deterministically — results are reproducible
    under any partitioning, unlike ``rand()``-based salting.
    """
    big_salted = big.withColumn(
        SALT, F.pmod(F.xxhash64(F.col(salt_source)), F.lit(8)).cast("int")
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(7)))
    small_replicated = small.withColumn(SALT, salts)
    joined = big_salted.join(small_replicated, [*key_cols, SALT])
    return joined.drop(SALT)


def two_phase_agg(
    df: DataFrame,
    key_cols: Sequence[str],
    salt_source: str,
    sums: Sequence[str] = (),
) -> DataFrame:
    """Skew-safe sum/count aggregation: (key, 16 salts) partials → key
    combine; ``n_rows`` counts each key's rows."""
    salted = df.withColumn(
        SALT, F.pmod(F.xxhash64(F.col(salt_source)), F.lit(16)).cast("int")
    )
    partial_aggs = [F.sum(c).alias(f"__p_sum_{c}") for c in sums]
    partial_aggs.append(F.count(F.lit(1)).alias("__p_count"))
    partials = salted.groupBy(*key_cols, SALT).agg(*partial_aggs)
    final_aggs = [F.sum(f"__p_sum_{c}").alias(f"sum_{c}") for c in sums]
    final_aggs.append(F.sum("__p_count").alias("n_rows"))
    return partials.groupBy(*key_cols).agg(*final_aggs)
