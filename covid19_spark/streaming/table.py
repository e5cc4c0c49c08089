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

import json
import os
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from covid19_spark.operators.asof import latest_within_lookback
from covid19_spark.session import partitions_for_bytes
from covid19_spark.sources.scratch import build_scratch_path, publish_if_absent

#: the bucket-count record, next to the data; Spark's reader skips ``_`` files
BUCKETS_RECORD = "_buckets"


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
    applies it per touched bucket instead of over the whole table."""
    merged = batch if existing is None else existing.unionByName(batch)
    return latest_within_lookback(merged, key_cols, ts_col)


def _state_exists(spark, table_path: str) -> bool:
    """True iff the table directory exists (Hadoop FS). Checked explicitly,
    not by catching AnalysisException from a read, so a read error such as
    a schema mismatch is raised, never taken for a missing table."""
    p = spark._jvm.org.apache.hadoop.fs.Path(table_path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def _table_buckets(rows: DataFrame, table_path: str, n_buckets: int | None) -> int:
    """The table's bucket count. A new table gets ``n_buckets`` or, when
    None, a count sized by the first batch (rows × ``schema.defaultSize``
    bytes, :func:`partitions_for_bytes`), published in ``BUCKETS_RECORD``
    by a scratch-dir rename before any data is written. The count is then
    fixed, like a Kafka topic's partition count: a key that hashed to a new
    bucket would leave its old row behind."""
    spark = rows.sparkSession
    record = os.path.join(table_path, BUCKETS_RECORD)
    if _state_exists(spark, table_path):
        if not os.path.exists(record):
            raise ValueError(f"{table_path} exists but has no {BUCKETS_RECORD} record")
        with open(record) as f:
            recorded = json.load(f)["n_buckets"]
        if n_buckets is not None and n_buckets != recorded:
            raise ValueError(f"{table_path} has {recorded} buckets, not {n_buckets}")
        return recorded
    n = n_buckets or partitions_for_bytes(
        spark, rows.count() * rows._jdf.schema().defaultSize())
    tmp = build_scratch_path(table_path)
    os.makedirs(tmp)
    with open(os.path.join(tmp, BUCKETS_RECORD), "w") as f:
        json.dump({"n_buckets": n}, f)
    if publish_if_absent(tmp, table_path):
        return n
    shutil.rmtree(tmp, ignore_errors=True)  # a concurrent writer created it
    return _table_buckets(rows, table_path, n_buckets)


def merge_into_buckets(
    rows: DataFrame,
    table_path: str,
    key_cols: Sequence[str],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    n_buckets: int | None = None,
) -> list[int]:
    """Incremental merge of ``rows`` into a hash-bucketed parquet table.

    The reference's KTable updates one RocksDB key per record
    (``KafkaStreamsConfig.java:67-153``); this sink is O(batch + touched
    buckets), not O(table):

    1. the table lives partitioned by ``kb = pmod(xxhash64(keys), n)`` so
       every key maps to exactly one bucket directory;
    2. ``rows`` are bucketed and materialized once; the touched-bucket set
       rides that job as an ``Observation`` (≤ n ints of metadata — the
       analogue of Delta's touched-file stats);
    3. ONLY those buckets are read back (partition-pruned scan, read with
       the rows' schema, so each batch must keep the table's column types),
       ``merge(current, rows)`` folds them together, and the result is
       rewritten via dynamic partition overwrite — untouched bucket
       directories are never read or written.

    ``n`` is fixed when the table is created (:func:`_table_buckets`):
    ``n_buckets`` if given, else sized by the first batch's bytes, so a
    small table is one bucket and a batch rewrites one file. Re-bucketing a
    table that has grown is out of scope; on Delta/Iceberg this whole
    function collapses to ``MERGE``.

    Returns the rewritten bucket ids (for tests/observability).
    """
    key_cols = list(key_cols)
    n = _table_buckets(rows, table_path, n_buckets)
    bucket = F.pmod(F.xxhash64(*key_cols), F.lit(n)).cast("int")
    obs = Observation()
    bucketed = (
        rows.withColumn("kb", bucket)
        .observe(obs, F.collect_set("kb").alias("touched"))
        .localCheckpoint(eager=True)
    )
    touched = sorted(int(b) for b in obs.get["touched"])
    if not touched:
        return []
    current = rows.sparkSession.read.schema(bucketed.schema).parquet(table_path)
    current = current.filter(F.col("kb").isin(touched)).drop("kb")
    out = merge(current, bucketed.drop("kb")).withColumn("kb", bucket)
    # Materialize before writing: Spark refuses (or corrupts) an overwrite of
    # a path that is also being read. localCheckpoint truncates the lineage
    # so the read completes first; only the touched buckets' rows are held.
    out = out.repartition(len(touched), "kb").localCheckpoint(eager=True)
    (
        out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("kb").parquet(table_path)
    )
    return touched


def upsert_batch_partitioned(
    batch: DataFrame,
    table_path: str,
    key_cols: Sequence[str],
    ts_col: str,
    n_buckets: int | None = None,
) -> list[int]:
    """MERGE-style upsert of ``batch`` into the bucketed table at
    ``table_path``: :func:`merge_into_buckets` keeping the newest row per
    key (:func:`compact_batch_to_table`). Returns the rewritten bucket ids."""
    return merge_into_buckets(
        batch, table_path, key_cols,
        lambda current, rows: compact_batch_to_table(rows, current, key_cols, ts_col),
        n_buckets,
    )


def make_upsert_sink(
    table_path: str,
    key_cols: Sequence[str],
    ts_col: str,
    n_buckets: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` binding for :func:`upsert_batch_partitioned` — attach
    with ``stream.writeStream.foreachBatch(make_upsert_sink(...))``."""

    def sink(batch: DataFrame, _batch_id: int) -> None:
        upsert_batch_partitioned(batch, table_path, key_cols, ts_col, n_buckets)

    return sink
