"""Python worker daemon for sessions built by ``session.get_spark``.

Spark runs this module in place of ``pyspark.daemon``
(``spark.python.daemon.module``). It forks the same workers; the only
difference is what ``importlib.invalidate_caches()`` costs them.

pyspark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py``, ``setup_spark_files``). On CPython < 3.12 that
makes every ``zipimporter`` on the path re-read its whole archive directory,
and Spark puts three archives there (``pyspark.zip``, the py4j zip and the
spark-core jar, about 6,700 entries): 16 importers, 0.15-0.25 s per task
before it sees a row. CPython 3.12 made the re-read lazy.

Here, on CPython < 3.12, ``zipimporter.invalidate_caches`` re-reads an
archive only when its ``(st_mtime_ns, st_size)`` changed since its last
read, and the importers of one archive share that read. The daemon stamps
every archive once before it forks, so a worker's first task skips the
re-read too. On CPython >= 3.12 the module only runs ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) of the file whose directory
# zipimport._zip_directory_cache holds; process-wide, like that cache
_stamps: dict[str, tuple[int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
        return
    # stat BEFORE the read: a write racing the read leaves a stale stamp,
    # so the next call reads again
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` on CPython < 3.12."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    import importlib

    install()
    from pyspark import daemon  # imports the worker and its zipimporters

    importlib.invalidate_caches()  # one read per archive stamps them all
    daemon.manager()
