"""Parquet table loaders for the driver's synthetic star schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under an sf dir.

At 100 TB these would be partitioned parquet/Delta datasets; the loader keeps
the read declarative (``spark.read.parquet``) so partition pruning, predicate
pushdown and column pruning all happen in the scan node.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Handle memo: (applicationId, path, st_ino, st_size, st_mtime_ns) -> lazy
# DataFrame, shared by ``load_table`` and the serving ``StoreReader``.
#
# ``spark.read.parquet`` costs ~100 ms per call on local[32] — a JVM
# round-trip plus file listing and a footer/schema-inference Spark job —
# and its ONLY product is a logical plan. The bench calls ``load_table``
# inside every timed region, and the serving path resolves up to six tables
# per bot request, so re-resolving on every call is pure driver overhead.
# Re-using the handle is plan re-use: nothing is computed or pinned — every
# action still scans the parquet files — so this is NOT result caching.
#
# Stamp rule: the key carries the ``os.stat`` stamp of ``path`` itself (the
# file, or a table directory's root), so every lookup revalidates. A
# regenerated testdata file or a rewritten table misses and is re-resolved,
# so a stale file listing is never served. For a directory this relies on
# writers replacing entries at the table root:
# ``mode("overwrite")`` recreates the directory, and a dynamic partition
# overwrite renames partition directories into the root — both change its
# stamp. No writer appends files into an existing serving table. Keyed by
# applicationId so one SparkSession never sees another's handle. Failures
# are not cached, and a path ``os.stat`` cannot see (a URI scheme, or one
# not yet created) is read fresh on every call.
_HANDLE_CACHE: dict[tuple, DataFrame] = {}
_HANDLE_LOCK = threading.Lock()


def read_parquet_handle(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, resolved once per stamp of ``path``."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    app = spark.sparkContext.applicationId
    key = (app, path, st.st_ino, st.st_size, st.st_mtime_ns)
    # one lock over lookup, eviction and insert: the serving clients share
    # the memo across threads, and a cold miss resolves once per stamp
    with _HANDLE_LOCK:
        df = _HANDLE_CACHE.get(key)
        if df is None:
            df = spark.read.parquet(path)
            # drop entries from dead sessions / older stamps of this path so
            # the memo stays bounded by the live (session, table) set
            for k in [k for k in _HANDLE_CACHE if k[0] != app or k[1] == path]:
                del _HANDLE_CACHE[k]
            _HANDLE_CACHE[key] = df
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return read_parquet_handle(spark, path)
    # events.parquet has shipped as both TIMESTAMP(NANOS) and
    # TIMESTAMP(MICROS) across testdata generations. Nanos: read as int64
    # (legacy conf) and floor-divide to micros — the same truncation DuckDB
    # applies casting TIMESTAMP_NS → TIMESTAMP, so differential results
    # agree bit-for-bit. Micros: arrives as TIMESTAMP_NTZ; cast to the
    # session-zoned timestamp (UTC session ⇒ value-identical) so every
    # downstream consumer sees one ts type regardless of file encoding.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet_handle(spark, path)
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # LongType here only ever means "nanos read through the legacy
        # conf" — but an int64 ts written in any OTHER unit (epoch
        # millis, say) would be silently misscaled by div-1000. Assert
        # the parquet logical type really is timestamp[ns] before
        # truncating; fail loudly on anything unrecognized.
        import pyarrow.parquet as pq

        arrow_type = pq.read_schema(path).field("ts").type
        if str(arrow_type) != "timestamp[ns]":
            raise ValueError(
                f"events.ts read as int64 but parquet logical type is "
                f"{arrow_type}; refusing to guess the time unit"
            )
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so operators can use spark.sql."""
    for name in TABLE_NAMES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
