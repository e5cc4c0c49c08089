"""Streaming running delta: the reference's core stateful aggregator.

Reference (``Covid19Stats.java:227-242``, SURVEY A1/A2): per key, keep the
previous cumulative snapshot in a store; on each update emit
``delta = new − previous`` and carry the new cumulative. This is genuinely
order-sensitive per-key state — the one operator Catalyst can't derive
(SURVEY §4 "custom strategies needed") — so it uses the state-store API
(``applyInPandasWithState``), the direct analogue of the reference's
RocksDB-backed Transformer.

Scale: state is O(|keys| × |value_cols|) longs — for the reference domain
(~740 keys) trivially tiny; at 100 TB ingest with millions of keys the state
store shards by the groupBy key across executors (RocksDB provider spills to
disk), and each micro-batch shuffles only the new records.

Equivalence to the batch ``operators.delta.running_delta`` (lag window) is
asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def delta_kernel(
    chunks: list[pd.DataFrame],
    prev: list[float],
    key_cols: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
) -> tuple[pd.DataFrame | None, list[float]]:
    """Vectorized per-key delta kernel of ``streaming_running_delta``. A
    key's micro-batch may arrive as several Arrow chunks: concatenate
    FIRST, sort once globally by event time, then compute the delta as
    ``value − shift(value)`` with the carried state seeding row 0. (A
    per-chunk sort would compute deltas out of event-time order and
    diverge from the batch lag operator the stream claims equivalence
    with.) Returns (output frame or None, updated state)."""
    prev = list(prev)
    if not chunks:
        return None, prev
    pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    pdf = pdf.sort_values(ts_col, kind="mergesort", ignore_index=True)
    out = pdf[[*key_cols, ts_col, *value_cols]].copy()
    for i, c in enumerate(value_cols):
        vals = pdf[c].astype("float64")
        shifted = vals.shift(1)
        shifted.iloc[0] = prev[i]
        out[f"delta_{c}"] = vals - shifted
        prev[i] = float(vals.iloc[-1])
    return out, prev


def streaming_running_delta(
    stream: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Per-key running delta over a streaming DataFrame.

    Output schema: key_cols + ts_col + value_cols + delta_<value_cols>.
    Within a micro-batch, records are processed in ``ts_col`` order (the
    reference processes in offset order; event-time order is the
    deterministic choice and matches the batch lag operator).
    """
    key_cols = list(key_cols)
    value_cols = list(value_cols)
    fields = (
        [f"{c} string" for c in key_cols]
        + [f"{ts_col} timestamp"]
        + [f"{c} double" for c in value_cols]
        + [f"delta_{c} double" for c in value_cols]
    )
    out_schema = ", ".join(fields)
    state_schema = ", ".join(f"{c} double" for c in value_cols)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        prev = list(state.get) if state.exists else [0.0] * len(value_cols)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        out, prev = delta_kernel(chunks, prev, key_cols, ts_col, value_cols)
        state.update(tuple(prev))
        if out is not None:
            yield out

    return stream.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
