"""The Python worker daemon of a ``get_spark`` session: ``pyspark.daemon``
with a zip-directory cache that is re-read only when its archive changes.

Spark starts it as ``python -m covid19_spark.worker_daemon <worker module>``
(``spark.python.daemon.module``); every Python worker it forks inherits
the change.  Each task's ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on CPython 3.10-3.12 that makes
every ``zipimporter`` re-read its archive's directory at once: a worker
holds one importer per imported package directory of ``pyspark.zip``
(1,328 entries), 16 in all with py4j's, and the re-reads took 76-122 ms
per task on a 4-core box.  CPython 3.13 made the re-read lazy.  Here an
archive is re-read only when its ``os.stat`` stamp ``(st_mtime_ns,
st_size)`` differs from the stamp taken before its last read, and the
importers of one archive share that read.

Importing this module changes nothing; the patch is installed only when
it runs as the daemon.
"""

from __future__ import annotations

import importlib
import os
import zipimport


def install() -> None:
    """Replace ``zipimport.zipimporter.invalidate_caches`` with the
    stamp-checked re-read."""
    reread = zipimport.zipimporter.invalidate_caches
    # archive path -> its stamp when _zip_directory_cache[archive] was read
    read_at: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            stamp = None
        else:
            stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return
        # the stamp is taken before the read: an archive rewritten during
        # the read is read again next time
        reread(self)
        read_at[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    # read each archive once here, so forked workers start with its stamp
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
