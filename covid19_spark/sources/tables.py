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
from collections.abc import Callable
from typing import Any, TypeVar

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
H = TypeVar("H")

# Handle memo: (applicationId, path) -> (stamp, handle), one dict under one
# lock for every opener of a path:
# - ``load_table`` / ``read_parquet_handle``: a lazy parquet DataFrame;
# - ``scratch.ensure_store``: a persisted store's handle (the inverted and
#   fielded indexes, the IVF-PQ index, the SemDeDup assignment);
# - the serving ``StoreReader``: a table's DataFrame with its Arrow snapshot.
# Each path has one opener, so a key always holds the same kind of handle.
#
# ``spark.read.parquet`` costs ~100 ms per call on local[32] — a JVM
# round-trip plus file listing and a footer/schema-inference Spark job —
# and its ONLY product is a logical plan. The bench calls ``load_table``
# inside every timed region, every index-served query reopens its store,
# and the serving path reads up to six tables per bot request, so
# re-resolving on every call is pure driver overhead. Re-using a handle is
# plan re-use: nothing is computed or pinned — every action still scans the
# parquet files — so this is NOT result caching. The serving snapshot is
# the one copy of data held, and it is retaken on every new stamp.
#
# Stamp rule: the entry carries the ``os.stat`` stamp (inode, size,
# mtime_ns) of ``path`` itself (the file, or a directory's root), so every
# lookup revalidates. Every writer changes that stamp:
# - a store build and ``Materializer._write`` publish by renaming a scratch
#   directory into place, which gives the root a new inode;
# - the in-place ``index.append_inverted_index`` re-creates ``scalars/``
#   (and the other derived datasets) under the store root, which changes
#   the root's mtime;
# - ``mode("overwrite")`` recreates a directory, and
#   ``upsert_batch_partitioned`` renames rewritten bucket directories into
#   its root.
# No writer appends files into an existing serving table. The stamp is
# taken under the lock and before the open, so stamps stay ordered: a
# handle opened from newer files under an older stamp is reopened on the
# next lookup, and an older stamp never replaces a newer entry. Keyed by
# applicationId so one SparkSession never sees another's handle; entries of
# dead sessions are evicted. Failures are not cached, and a path
# ``os.stat`` cannot see (a URI scheme, or one not yet created) is opened
# fresh on every call.
_HANDLE_CACHE: dict[tuple[str, str], tuple[tuple, Any]] = {}
_HANDLE_LOCK = threading.Lock()


def open_stamped(spark: SparkSession, path: str, open_handle: Callable[[], H]) -> H:
    """``open_handle()``, called once per session and ``os.stat`` stamp of
    ``path``; later calls with the same stamp return the same handle."""
    app = spark.sparkContext.applicationId
    key = (app, path)
    # one lock over stamp, lookup, open and insert: the serving clients
    # share the memo across threads, and a cold miss opens once per stamp
    with _HANDLE_LOCK:
        try:
            st = os.stat(path)
        except OSError:
            pass
        else:
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
            hit = _HANDLE_CACHE.get(key)
            if hit is not None and hit[0] == stamp:
                return hit[1]
            handle = open_handle()
            for k in [k for k in _HANDLE_CACHE if k[0] != app]:
                del _HANDLE_CACHE[k]
            _HANDLE_CACHE[key] = (stamp, handle)
            return handle
    return open_handle()


def read_parquet_handle(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, resolved once per stamp of ``path``."""
    return open_stamped(spark, path, lambda: spark.read.parquet(path))


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
