"""Re-read a zip archive's import directory only when the archive changed.

pyspark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark/worker_util.py``, ``setup_spark_files``).
Through CPython 3.12, ``zipimporter.invalidate_caches`` re-reads the
archive's whole central directory on every call; 3.13 made it lazy
(gh-103200). Spark puts ``pyspark.zip``, the py4j zip and
``spark-core_*.jar`` on every worker's ``sys.path``, so each task re-read
26,672 directory entries: 0.12-0.24 s of CPU per task (Python 3.11.7,
Spark 4.1.2, 4-core host), against 2-3 ms for one call of a spatial
kernel.

``install`` replaces ``zipimporter.invalidate_caches`` in the current
process with a version that re-reads an archive only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the stamp taken at the
last read. A rewritten or replaced archive is re-read exactly as before.
The package ``__init__`` calls ``install_in_worker``, so the rule is in
place from the first engine UDF a Spark worker unpickles.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> stamp of the file whose directory is in
#: ``zipimport._zip_directory_cache``
_stamps: dict[str, tuple[int, int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    archive = self.archive
    try:
        # taken before the read: a change during the read shows next time
        stamp = _stamp(archive)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and stamp is not None and _stamps.get(archive) == stamp:
        # another importer of the same archive may have re-read it
        self._files = files
        return
    _reread(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


def install() -> bool:
    """Put the stamp rule in place for this process; stamps start from the
    archives already in ``zipimport._zip_directory_cache``. Returns False,
    changing nothing, where ``invalidate_caches`` is already lazy (3.13+)
    or the rule is already installed."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or cls.invalidate_caches is _invalidate_if_changed:
        return False
    for archive in list(zipimport._zip_directory_cache):
        try:
            _stamps[archive] = _stamp(archive)
        except OSError:
            pass
    cls.invalidate_caches = _invalidate_if_changed
    return True


def install_in_worker() -> None:
    """``install`` inside a Spark task's Python worker; a no-op on the
    driver and in any other process."""
    from pyspark.taskcontext import TaskContext

    if TaskContext.get() is not None:
        install()
