"""As-of lookups and the generalized two-sided as-of join.

Reference semantics (J5/W7, SURVEY §2.3/2.5): "latest test data within the
past 14 days" — the reference probes (state, today−k) for k=0..13 until it
finds a row (``StateStoresManager.java:212-229``). Fourteen point lookups per
key become, in Spark, one windowed dedup: filter the lookback range, then keep
the row with rank 1 by recency per key.

``asof_join`` generalizes that to two full event tables (pandas
``merge_asof`` / kdb ``aj`` semantics): every left row picks up the nearest
right row at-or-before its timestamp, per key. Implemented with the union trick — tag sides, sort once per key,
carry the last-seen right payload forward with an ignore-nulls window —
so it costs ONE hash exchange on the key and streams through a single
sort-based window, with NO broadcast requirement: both sides can be 100 TB
facts. (A per-key `collect` or an interval-expanded equi-join would either
OOM the driver or multiply rows; this does neither.)

Scale: the range filter pushes down to the parquet scan (partition pruning on
a date-partitioned layout); the rank-1 dedup is one exchange on the key.
``max_by`` via groupBy is used instead of row_number when only one payload
column is needed — it avoids the full sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_within_lookback(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Keep each key's most recent row; a lookback window is a filter the
    caller applies first.

    ``tiebreak_cols`` breaks timestamp ties deterministically (descending).
    """
    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in tiebreak_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_payload: Sequence[str],
    right_tiebreak: str,
) -> DataFrame:
    """Left as-of join: nearest right row per key at-or-before each left
    row's timestamp. Left join semantics — unmatched left rows keep NULL
    right payload.

    ``on`` names key columns present in BOTH frames. ``right_tiebreak`` must
    be unique within (key, right_ts) groups; ties at the same timestamp
    resolve to the max tiebreak, so the result is deterministic even with
    duplicate right timestamps.

    Plan: union the tagged sides, one hash exchange on ``on``, one sort per
    partition, ``last(..., ignorenulls)`` carries the right payload struct
    across to left rows. The right payload travels as ONE struct column so a
    legitimately-NULL payload field is never "skipped over" by ignorenulls.
    Right payload columns that collide with left names get an ``_r`` suffix.
    """
    keys = list(on)
    payload = list(right_payload)
    if right_ts not in payload:
        payload = [right_ts] + payload
    if right_tiebreak not in payload:
        payload = [right_tiebreak] + payload

    pay_struct = F.struct(*[F.col(c) for c in payload]).alias("__rpay")
    r_tagged = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.col(right_tiebreak).alias("__tb"),
        pay_struct,
    )
    rpay_type = r_tagged.schema["__rpay"].dataType
    tb_type = r_tagged.schema["__tb"].dataType
    l_struct = F.struct(*[F.col(c) for c in left.columns]).alias("__lrow")
    l_tagged = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(tb_type).alias("__tb"),
        F.lit(None).cast(rpay_type).alias("__rpay"),
        l_struct,
    )
    lrow_type = l_tagged.schema["__lrow"].dataType
    r_tagged = r_tagged.withColumn("__lrow", F.lit(None).cast(lrow_type))

    # right (side 0) sorts before left at equal ts -> inclusive match;
    # max tiebreak among duplicate right timestamps wins (last in order).
    order = [F.col("__ts").asc(), F.col("__side").asc(), F.col("__tb").asc()]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        l_tagged.unionByName(r_tagged)
        .withColumn("__match", F.last("__rpay", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
    )
    left_names = set(left.columns)
    out_cols = [F.col(f"__lrow.{c}").alias(c) for c in left.columns]
    for c in payload:
        out = f"{c}_r" if c in left_names else c
        out_cols.append(F.col(f"__match.{c}").alias(out))
    return carried.select(*out_cols)
