"""The one store protocol: every persisted store is built in scratch,
published by rename and reopened through this module.

A store is a directory of parquet datasets.  The build-once stores (the
inverted and fielded indexes, the IVF-PQ index, the SemDeDup assignment)
are rebuilt deterministically from their inputs (the D-Streams recovery
model), so one atomic publish rule serves all of them:

- **ensure** (``ensure_store``): probe the store's meta
  (``meta_io.meta_matches``); a fresh store opens through the stamped
  handle memo (``tables.open_stamped``), so a warm call runs no Spark job;
  otherwise build into ``build_scratch_path``, publish, reopen.  A publish
  renames a new directory in as the store root, which gives the root a new
  inode; the in-place ``index.append_inverted_index`` re-creates datasets
  under the root, which changes its mtime.  Either changes the root's
  ``os.stat`` stamp, so the memo reopens the store on the next call.
- **publish** (``publish_if_absent`` / ``replace_dir``): two sessions racing
  a cold miss each build into their own sibling scratch dir; the first
  rename wins, a loser whose rival is fresh discards its copy (same inputs,
  same store), and a stale store is renamed aside and replaced.  Renames
  are atomic on one filesystem, so a reader sees the old store or the new
  one, never a mix.

``pid_scratch_path`` gives per-run replay state (``q_bm25_incremental_index``,
``q_ivm_stream_replay``) a directory unique to the process: concurrent
sessions never collide, re-runs in one process reuse and rmtree it.

PID-tagged dirs from DEAD processes (kill -9 mid-build, crashed bench
invocations) are nobody's to reuse: ``reap_stale_scratch`` sweeps siblings
whose embedded PID no longer exists, and runs opportunistically (at most
once per process) from ``pid_scratch_path`` / ``build_scratch_path``.

At cluster scale the equivalent seam is a transactional table format's
commit protocol (Delta/Iceberg snapshot swap) plus its orphan-file vacuum;
parquet-on-local-fs gets the rename-based miniature.
"""

from __future__ import annotations

import os
import re
import shutil
import time
import uuid
from collections.abc import Callable
from typing import TypeVar

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

from covid19_spark.sources.tables import open_stamped

_SCRATCH_ROOT = "/tmp"
# every transient dir this module mints embeds the creating PID in one of
# these shapes; anything else under /tmp is not ours to touch
_STALE_PATTERNS = (
    re.compile(r"^covid19_spark_.+_(\d+)$"),          # pid_scratch_path
    re.compile(r".+__build_(\d+)_[0-9a-f]{8}$"),      # build_scratch_path
    re.compile(r".+__old_(\d+)_[0-9a-f]{8}$"),        # replace_dir aside
)
_reaped_once = False
T = TypeVar("T")


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    except OSError:
        return True  # be conservative: never reap on an ambiguous probe
    return True


def reap_stale_scratch(root: str = _SCRATCH_ROOT) -> list[str]:
    """Best-effort sweep of this module's PID-tagged scratch dirs whose
    creating process is dead (``os.kill(pid, 0)`` probe).  Live-PID dirs
    and anything not matching our naming are never touched.  Returns the
    paths removed (for tests/observability); all errors are swallowed —
    reaping is hygiene, never a correctness dependency."""
    removed: list[str] = []
    try:
        entries = os.listdir(root)
    except OSError:
        return removed
    me = os.getpid()
    for name in entries:
        for pat in _STALE_PATTERNS:
            m = pat.match(name)
            if not m:
                continue
            pid = int(m.group(1))
            if pid != me and not _pid_alive(pid):
                path = os.path.join(root, name)
                shutil.rmtree(path, ignore_errors=True)
                removed.append(path)
            break
    return removed


def _reap_opportunistically() -> None:
    # once per process, on first scratch-path mint — keeps long-lived
    # sandboxes bounded without a scheduler (VERDICT r13 task #3)
    global _reaped_once
    if not _reaped_once:
        _reaped_once = True
        reap_stale_scratch()


def pid_scratch_path(tag: str) -> str:
    """A /tmp scratch directory unique to this PROCESS: concurrent
    sessions never collide, while re-runs inside one process reuse (and
    may safely rmtree) the same path."""
    _reap_opportunistically()
    return f"/tmp/covid19_spark_{tag}_{os.getpid()}"


def build_scratch_path(path: str) -> str:
    """A unique sibling scratch dir for a build that will be published at
    ``path`` — sibling (same filesystem) so the publish rename is atomic."""
    _reap_opportunistically()
    return f"{path}__build_{os.getpid()}_{uuid.uuid4().hex[:8]}"


def publish_if_absent(tmp: str, path: str) -> bool:
    """Publish ``tmp`` at ``path`` iff nothing is there — ONE rename,
    atomic on POSIX.  Returns False when ``path`` is occupied (a
    concurrent builder won, or a stale build sits there): the caller
    re-probes freshness and either discards its scratch (concurrent-fresh
    — NEVER delete files a winner's returned reader may still hold) or
    calls ``replace_dir`` (genuinely stale)."""
    try:
        os.rename(tmp, path)
        return True
    except OSError:
        return False


def replace_dir(tmp: str, path: str) -> None:
    """Swap ``tmp`` in over an existing STALE directory at ``path``:
    rename the stale build aside, rename ours in, delete the stale one.
    Stale replacement is inherently disruptive to a reader still holding
    the old files — that is the fingerprint-invalidation contract, not a
    race (the concurrent-fresh case goes through ``publish_if_absent``).
    If a concurrent replacer wins either rename, our build is discarded.
    Readers can observe a brief path-absent window between the renames;
    ``ensure_store`` retries its open.

    Failed-publish degradation (ADVICE r13): if OUR second rename fails
    after the stale dir was moved aside and nothing else filled ``path``,
    restore the aside copy — a failed publish then degrades to the
    stale-but-servable cache instead of leaving the path absent (which
    made the in-flight ``ensure_*`` call fail after its retries)."""
    old = f"{path}__old_{os.getpid()}_{uuid.uuid4().hex[:8]}"
    moved_aside = False
    try:
        if os.path.isdir(path):
            os.rename(path, old)
            moved_aside = True
        os.rename(tmp, path)
    except OSError:
        if moved_aside and not os.path.exists(path) and os.path.isdir(old):
            try:
                os.rename(old, path)  # restore: stale beats absent
            except OSError:
                pass  # a concurrent publisher filled path between the checks
        shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)


# what opening a store raises while a concurrent publish has it absent or
# half-listed, or while it holds an older layout
_OPEN_ERRORS = (AnalysisException, FileNotFoundError, IndexError, KeyError)


def ensure_store(
    spark: SparkSession,
    path: str,
    is_fresh: Callable[[], bool],
    build: Callable[[str], object],
    open_store: Callable[[SparkSession, str], T],
) -> T:
    """Open the build-once store at ``path``, building it first iff
    ``is_fresh()`` is False (absent, partial, or built from other inputs).

    ``build(tmp)`` writes a complete store into a scratch dir;
    ``open_store(spark, p)`` returns the handle served from ``p``, memoized
    per ``os.stat`` stamp of ``path`` (``tables.open_stamped``), so a warm
    call reopens nothing and runs no Spark job (each uncached
    ``spark.read.parquet`` runs one footer-reading job).  A build publishes
    by rename: if the path filled while we built, a concurrent fresh build
    won (discard ours — never delete files its returned readers still
    hold) or the stale store is still there (swap it out).  A build that
    raises removes its own scratch dir and nothing else: a dead writer's
    ``__old_`` sibling can be the only complete copy of the store."""
    if not is_fresh():
        tmp = build_scratch_path(path)
        try:
            build(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        if not publish_if_absent(tmp, path):
            if is_fresh():
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                replace_dir(tmp, path)

    def open_with_retry() -> T:
        # a concurrent replace leaves a brief path-absent window; retry the
        # open a few times before letting the error surface
        for _ in range(3):
            try:
                return open_store(spark, path)
            except _OPEN_ERRORS:
                time.sleep(0.2)
        return open_store(spark, path)

    return open_stamped(spark, path, open_with_retry)
