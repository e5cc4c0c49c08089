"""Streaming as-of enrichment: the stream-side twin of ``operators.asof.asof_join``.

Reference analogue: the Kafka Streams stream⋈KTable enrichment (S2/J1,
``KafkaStreamsConfig.java:67-153``) — each stream record is decorated with
the table's latest state for its key. This operator keeps that "latest
reference payload per key" in the state store and matches every
to-be-enriched record against the most recent reference record at-or-before
its event time, so within a micro-batch the semantics are exactly the batch
``asof_join`` (backward, equal-ts inclusive); across micro-batches the
carried state enriches leading records like the KTable join does.

Scale: state is one fixed-width row per key (latest reference ts + payload),
sharded by the groupBy key across executors; each micro-batch shuffles only
its own records. The per-batch kernel is vectorized pandas (mask + ffill),
no per-row Python loop.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def streaming_asof_enrich(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    side_col: str,
    id_col: str,
    value_col: str,
    right_side: str,
) -> DataFrame:
    """Enrich left-side records with the latest at-or-before right-side record.

    ``stream`` carries both sides, discriminated by ``side_col`` ==
    ``right_side`` for reference records. Emits one row per LEFT record:
    key, ts, id, value, matched ``ref_ts``/``ref_id``/``ref_value`` (NULL
    until the key's first reference record). Ordering within a batch is
    (ts, side(right first), id) — identical to ``asof_join``'s tie rule.
    """
    out_schema = (
        f"{key_col} long, {ts_col} timestamp, {id_col} long, {value_col} double, "
        "ref_ts timestamp, ref_id long, ref_value double"
    )
    state_schema = "ref_ts timestamp, ref_id long, ref_value double"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        carried = state.get if state.exists else (None, None, None)
        out, carried = asof_enrich_kernel(
            [pdf for pdf in pdfs if len(pdf)],
            carried, key_col, ts_col, side_col, id_col, value_col, right_side,
        )
        state.update(carried)
        if out is not None:
            yield out

    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def asof_enrich_kernel(
    chunks: "list[pd.DataFrame]",
    carried: tuple,
    key_col: str,
    ts_col: str,
    side_col: str,
    id_col: str,
    value_col: str,
    right_side: str,
) -> "tuple[pd.DataFrame | None, tuple]":
    """Vectorized per-key as-of enrichment over one micro-batch's chunks,
    run by the ``applyInPandasWithState`` binding above with the carried
    state seeding records before the batch's first reference row (the
    ``delta_kernel`` pattern). Returns ``(out_frame_or_None,
    new_carried_triple)``."""
    if not chunks:
        return None, carried
    pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    is_right = pdf[side_col] == right_side
    pdf = pdf.assign(__side=(~is_right).astype("int8"))
    pdf = pdf.sort_values(
        [ts_col, "__side", id_col], kind="mergesort", ignore_index=True
    )
    is_right = pdf[side_col] == right_side
    # forward-fill the reference triple over the time-sorted frame, seeded
    # with the carried state for records before this batch's first
    # reference row
    ref = pd.DataFrame(
        {
            "ref_ts": pdf[ts_col].where(is_right),
            "ref_id": pdf[id_col].where(is_right),
            "ref_value": pdf[value_col].where(is_right),
        }
    ).ffill()
    seed_ts, seed_id, seed_val = carried
    if seed_ts is not None:
        lead = ref["ref_ts"].isna()
        ref.loc[lead, "ref_ts"] = seed_ts
        ref.loc[lead, "ref_id"] = seed_id
        ref.loc[lead, "ref_value"] = seed_val
    lefts = ~is_right
    out = pdf.loc[lefts, [key_col, ts_col, id_col, value_col]].copy()
    out["ref_ts"] = ref.loc[lefts, "ref_ts"]
    out["ref_id"] = ref.loc[lefts, "ref_id"].astype("Int64")
    out["ref_value"] = ref.loc[lefts, "ref_value"]
    if is_right.any():
        last = pdf.loc[is_right].iloc[-1]
        carried = (
            last[ts_col].to_pydatetime(),
            int(last[id_col]),
            float(last[value_col]),
        )
    return out, carried
