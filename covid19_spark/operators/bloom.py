"""Distributed Bloom-filter membership gate — the 100 TB pre-filter.

The classic use in a training-data pipeline is decontamination at ingest:
fingerprint the holdout/benchmark corpus ONCE into a Bloom filter (MBs for
hundreds of millions of keys), broadcast it, and gate every incoming
document map-only — no join against the full holdout set per batch. Same
role as Chromium's safe-browsing prefilter or a Kafka-connect dedup gate:
zero false NEGATIVES (nothing contaminated slips through), bounded false
positives (a small over-drop, tunable via bits-per-key).

Spark-first construction, no UDFs anywhere:

- build: each key expands to ``K`` positions ``pmod(xxhash64(key, seed_i),
  m)``; positions reduce to a ``(word, bits)`` frame via the ``bit_or``
  aggregate over 64-bit masks — ONE map + one bounded exchange (≤ m/64
  rows regardless of corpus size; m is ``M_BITS``, fixed, so the filter
  frame is broadcast-sized BY CONSTRUCTION, the same contract class as the
  BPE vocabulary cap).
- probe: candidates expand to the same ``K`` positions, broadcast-join the
  filter frame on word index, and a per-candidate ``min(hit)`` aggregate
  ANDs the ``K`` lookups. Map + broadcast join + one keyed agg — the probe
  never shuffles the filter, and the candidate exchange carries one bit
  per (candidate, seed).

The theoretical false-positive rate is ``(1 - e^{-k·n/m})^k`` (Bloom 1970,
CACM 13(7)); ``bits_per_key=10, k=7`` ≈ 0.8 %. Determinism: xxhash64 with
fixed seeds over fixed input — same filter, same flags, on any cluster
size (fixture-pinned in the registry query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

K = 7  # probe bits per key
M_BITS = 1 << 18  # filter width m


def _positions(key):
    """Array of the ``K`` bit positions of a key column (xxhash64 family,
    seeds ``41 .. 40+K``, modulo ``M_BITS``)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(key, F.lit(41 + i)), F.lit(M_BITS))
            for i in range(K)
        ]
    )


def bloom_build(df: DataFrame, key_col: str) -> DataFrame:
    """``(word, bits)`` Bloom bitmap of ``df[key_col]``: word = position
    div 64 (long), bits = OR of the 64-bit masks landing in that word.
    At most ``M_BITS/64`` rows — broadcastable at any corpus size."""
    pos = F.explode(_positions(F.col(key_col))).alias("__pos")
    return (
        df.select(pos)
        .select(
            (F.col("__pos") / 64).cast("long").alias("word"),
            F.expr("shiftleft(1L, cast(__pos % 64 as int))").alias("__mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(__mask)").alias("bits"))
    )


def bloom_might_contain(
    candidates: DataFrame,
    bloom: DataFrame,
    key_col: str,
) -> DataFrame:
    """``candidates`` + a ``might_contain`` boolean: true iff ALL ``K``
    probe bits are set. Guarantees: no false negatives (an indexed key
    always probes true); false positives at the Bloom rate.

    Plan: candidate → K probe rows → broadcast hash join on word →
    per-candidate ``min(hit)``. The filter side never exceeds ``M_BITS/64``
    rows; the only exchange on the candidate side is the K-row fold back
    to one row per candidate."""
    probe = candidates.select(
        F.col(key_col).alias("__key"),
        F.posexplode(_positions(F.col(key_col))).alias(
            "__i", "__pos"
        ),
    ).select(
        "__key",
        "__i",
        (F.col("__pos") / 64).cast("long").alias("word"),
        F.expr("shiftleft(1L, cast(__pos % 64 as int))").alias("__mask"),
    )
    hits = (
        probe.join(F.broadcast(bloom), "word", "left")
        .select(
            "__key",
            (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("__mask")) != 0).alias(
                "__hit"
            ),
        )
        .groupBy("__key")
        .agg(F.min("__hit").alias("might_contain"))
    )
    return candidates.join(
        hits.withColumnRenamed("__key", key_col), key_col, "left"
    ).fillna({"might_contain": False})
