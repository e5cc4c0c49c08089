"""Process-level cache of persisted-store handles (guide §1.2/§5: cut
fixed per-query driver work).

Its one caller is ``scratch.ensure_store``: every index-served query
reopens its persisted store (inverted index, fielded index, IVF-PQ index,
SemDeDup assignment) through it, and an uncached open is a
``spark.read.parquet`` per dataset — a JVM round-trip + file listing +
footer/schema read, ~0.1 s each on local[32], repeated for every serve of
every query in a bench sweep.  The handle (LAZY DataFrames plus the
store's contract-small metadata row) is pure logical plan: caching it
computes nothing and pins no data — every action still scans the parquet
files — so this is plan re-use, not result caching (the banned class),
the same memo class as ``index._BUCKET_CACHE``.

Safety contract:
- Keyed by (applicationId, path): a different SparkSession never sees
  another session's handle.
- Validated per lookup by a ``stamp`` the caller derives from the
  store's metadata files (size + mtime_ns): rebuilds and appends rewrite
  ``scalars``/``meta``, so they miss the cache automatically — even when
  another process performed them.
- A writer that changes a published store in place also calls
  :func:`invalidate_store`, so a stamp that happens to repeat never
  serves the old handle.  The one such writer is
  ``index.append_inverted_index``; every other write builds in scratch
  and publishes by rename (``sources/scratch.py``).
"""

from __future__ import annotations

import glob
import os
from typing import Any

_CACHE: dict[tuple[str, str], tuple[tuple, Any]] = {}


def meta_stamp(*dirpaths: str) -> tuple:
    """Validation stamp for a store: (path, size, mtime_ns) of every
    parquet part-file in the given metadata dataset dirs.  Missing dirs
    stamp as empty — the caller's freshness check already rejects those."""
    stamp = []
    for d in dirpaths:
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            try:
                st = os.stat(f)
            except OSError:
                continue
            stamp.append((f, st.st_size, st.st_mtime_ns))
    return tuple(stamp)


def get_store(spark, path: str, stamp: tuple):
    """Cached handle for ``path`` in this session, or None on miss/stale."""
    key = (spark.sparkContext.applicationId, path)
    hit = _CACHE.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    return None


def put_store(spark, path: str, stamp: tuple, obj) -> None:
    key = (spark.sparkContext.applicationId, path)
    # evict entries from dead sessions so the memo stays bounded by the
    # live session's store set
    for k in [k for k in _CACHE if k[0] != key[0]]:
        del _CACHE[k]
    _CACHE[key] = (stamp, obj)


def invalidate_store(path: str) -> None:
    """Drop every session's handle for ``path`` — called by the in-place
    append (``index.append_inverted_index``)."""
    for k in [k for k in _CACHE if k[1] == path]:
        del _CACHE[k]
