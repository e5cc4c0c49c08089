"""KTable-style changelog compaction for streams (reference S2).

The reference materializes topics as latest-value-per-key KTables
(``Covid19Stats.java:85-88``; 11 tables in the bot's
``KafkaStreamsConfig.java:67-153``). Spark has no first-class KTable; the
equivalent is an update-mode aggregation keeping the latest record per key
(``max_by`` on event time), materialized to a sink the serving layer queries
(SURVEY §1.1 #2, §2.7 T7).

State: O(|keys| × row width). For dimension-like tables this is small; for
high-cardinality keys use the ``foreachBatch`` MERGE variant so history
lives in the table, not stream state.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException


def latest_by_key(
    stream: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Latest value per key as an update-mode streaming aggregation.

    ``max_by(struct(ts, values), ts)`` keeps one struct per key; emit in
    update mode so every key refresh propagates (the reference's
    caching-disabled emission, T6).
    """
    payload = F.struct(F.col(ts_col).alias(ts_col), *[F.col(c) for c in value_cols])
    agg = stream.groupBy(*key_cols).agg(
        F.max_by(payload, F.col(ts_col)).alias("latest")
    )
    return agg.select(
        *key_cols,
        F.col(f"latest.{ts_col}").alias(ts_col),
        *[F.col(f"latest.{c}").alias(c) for c in value_cols],
    )


def compact_batch_to_table(
    batch: DataFrame,
    existing: DataFrame | None,
    key_cols: Sequence[str],
    ts_col: str,
) -> DataFrame:
    """Pure MERGE *expression*: union the incoming micro-batch with a
    snapshot and keep the newest row per key. This is the logical body; the
    physical incremental sink is :func:`upsert_batch_partitioned`, which
    applies it per touched partition instead of over the whole table."""
    from pyspark.sql import Window

    merged = batch if existing is None else existing.unionByName(batch)
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).desc())
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_batch_partitioned(
    batch: DataFrame,
    table_path: str,
    key_cols: Sequence[str],
    ts_col: str,
    n_buckets: int = 64,
    bucket_col: str = "kb",
) -> list[int]:
    """Incremental MERGE-style upsert onto a hash-bucketed parquet table.

    The reference's KTable materialization is incremental — each record
    updates one RocksDB key (``KafkaStreamsConfig.java:67-153``). An
    overwrite-the-world compaction per micro-batch is O(table); this sink is
    O(batch + touched buckets):

    1. the table lives partitioned by ``kb = pmod(xxhash64(keys), n_buckets)``
       so every key maps to exactly one partition directory;
    2. a micro-batch's touched buckets are collected (≤ n_buckets ints of
       metadata — the analogue of Delta's touched-file stats);
    3. ONLY those buckets are read back (partition-pruned scan, read with
       the batch's schema, so each batch must keep the table's column
       types), merged with the batch keeping the newest row per key, and
       rewritten via dynamic partition overwrite — untouched bucket
       directories are never read or written.

    Size ``n_buckets`` so table_size/n_buckets stays a comfortable task unit
    (e.g. 100 TB / 8192 buckets ≈ 12 GB touched-read worst case per hot
    bucket). On Delta/Iceberg this whole function collapses to ``MERGE``.

    Returns the rewritten bucket ids (for tests/observability).
    """
    key_cols = list(key_cols)
    spark = batch.sparkSession
    bucketed = batch.withColumn(
        bucket_col, F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")
    )
    touched = sorted(
        r[0] for r in bucketed.select(bucket_col).distinct().collect()
    )
    if not touched:
        return []
    try:
        # the batch's schema (partition column included) is the table's, so
        # no footer-inference job runs per micro-batch
        current = spark.read.schema(bucketed.schema).parquet(table_path).filter(
            F.col(bucket_col).isin([int(b) for b in touched])
        )
        merged = current.unionByName(bucketed)
    except AnalysisException:  # first batch: table does not exist yet
        merged = bucketed
    latest = compact_batch_to_table(merged, None, key_cols, ts_col)
    # Materialize before writing: Spark refuses (or corrupts) an overwrite of
    # a path that is also being read. localCheckpoint truncates the lineage
    # so the read completes first; only the touched buckets' rows are held.
    latest = latest.repartition(len(touched), bucket_col).localCheckpoint(eager=True)
    (
        latest.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(bucket_col)
        .parquet(table_path)
    )
    return [int(b) for b in touched]


def make_upsert_sink(
    table_path: str,
    key_cols: Sequence[str],
    ts_col: str,
    n_buckets: int = 64,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` binding for :func:`upsert_batch_partitioned` — attach
    with ``stream.writeStream.foreachBatch(make_upsert_sink(...))``."""

    def sink(batch: DataFrame, _batch_id: int) -> None:
        upsert_batch_partitioned(batch, table_path, key_cols, ts_col, n_buckets)

    return sink
