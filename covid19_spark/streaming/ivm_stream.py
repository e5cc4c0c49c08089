"""Streaming incremental view maintenance: the materialized aggregate as a
``foreachBatch`` sink.

The streaming form of ``operators/ivm`` — each micro-batch is LIFTED to
per-key state and ⊕-merged into a persisted state table, so the reporting
aggregate is always a ``finalize`` away without ever rescanning history
(the reference's running statewise totals — SURVEY §2.4 A1-A5 — kept in a
warehouse table instead of RocksDB).  The sink is the shared bucket-rewrite
core ``streaming/table.merge_into_buckets`` with ⊕ as its merge.

Exactness carries over from the batch algebra: DEC-carried sums make the
merged state independent of how rows were split into micro-batches, so the
streamed state equals the one-shot batch lift bit-for-bit (pinned in
tests).  The merge is NOT replay-safe: foreachBatch re-runs a batch when
the process dies between the sink and the offset commit, and the re-run
⊕-merges that batch a second time.  Nothing here records which batch ids
were applied yet (on Delta/Iceberg that is MERGE with a txn id).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from covid19_spark.operators.ivm import agg_state, finalize_agg_state, merge_agg_state
from covid19_spark.streaming.table import merge_into_buckets


def merge_state_batch(
    batch: DataFrame,
    state_path: str,
    key_cols: Sequence[str],
    measure: str,
    n_buckets: int | None = None,
) -> list[int]:
    """Lift ``batch`` and ⊕-merge it into the bucketed state table at
    ``state_path``; returns the rewritten bucket ids."""
    return merge_into_buckets(
        agg_state(batch, key_cols, measure), state_path, key_cols,
        lambda current, lifted: merge_agg_state(current, lifted, key_cols),
        n_buckets,
    )


def make_state_merge_sink(
    state_path: str,
    key_cols: Sequence[str],
    measure: str,
    n_buckets: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` binding for :func:`merge_state_batch`."""

    def sink(batch: DataFrame, _batch_id: int) -> None:
        merge_state_batch(batch, state_path, key_cols, measure, n_buckets)

    return sink


def read_report(
    spark,
    state_path: str,
    key_cols: Sequence[str] | None = None,
) -> DataFrame:
    """The always-current report: ``finalize`` over the persisted state.
    Pass ``key_cols`` explicitly when a key name could collide with a
    state measure column."""
    return finalize_agg_state(
        spark.read.parquet(state_path).drop("kb"), keys=key_cols
    )
