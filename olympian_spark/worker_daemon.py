"""PySpark's worker daemon, minus the per-task zip-archive re-read.

Spark starts one daemon per executor (``python -m <daemon module>``) and
forks every Python worker from it. Before each task the worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On CPython 3.11/3.12 that makes every ``zipimporter`` on ``sys.path`` —
``pyspark.zip``, the py4j zip, the spark-core jar and one importer per
sub-package — re-parse its archive's whole central directory: a fixed cost
per task, whatever its rows (measured in :mod:`olympian_spark.session`).
CPython 3.13 made that re-read lazy.

This module runs ``pyspark.daemon.manager()`` with
``zipimporter.invalidate_caches`` replaced, in the daemon process and so in
every worker it forks, by one that re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since its directory was last read — the
rule ``FileFinder`` already applies to directories. An archive rewritten in
place is still picked up on the next task. ``session.get_spark`` selects it
with ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (stat signature, directory dict) of its last read; per
# process, like zipimport's own _zip_directory_cache, and shared by every
# importer of the archive (one per sub-package) so each adopts one read
_read_at: dict = {}


def _signature(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    sig = _signature(self.archive)
    known = _read_at.get(self.archive)
    if sig is not None and known is not None and known[0] == sig:
        self._files = known[1]
        zipimport._zip_directory_cache[self.archive] = known[1]
        return
    _original_invalidate(self)
    if sig is not None and zipimport._zip_directory_cache.get(self.archive) is self._files:
        _read_at[self.archive] = (sig, self._files)
    else:
        _read_at.pop(self.archive, None)


def install() -> None:
    """Patch ``zipimporter`` in this process and read each archive once.

    The priming pass records a signature for every importer already cached,
    so the workers forked afterwards start with nothing to re-read.
    """
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    import pyspark.daemon

    install()
    pyspark.daemon.manager()
