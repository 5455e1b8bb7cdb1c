"""The engine's Python worker daemon: ``pyspark.daemon`` with zip
directories re-read only when their archive changed on disk.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task. On CPython 3.11 that makes each ``zipimporter`` re-read its
archive's whole central directory, eagerly, and the workers import
pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` through 14 or more
of them (one per package), so a task waited 0.1-0.25 s before its
first row. ``install`` wraps ``zipimporter.invalidate_caches`` so that
it re-reads only when the archive's ``(st_mtime_ns, st_size,
st_ino)`` differs from the key recorded at the last read, or when the
stat fails. A zip added with ``addPyFile`` is a new path with a new
importer, and one rewritten in place gets a new key, so invalidation
keeps its meaning; FileFinders are untouched.

``get_spark`` selects this module with ``spark.python.daemon.module``
(``spark.python.worker.module`` cannot carry it: pyspark's daemon
accepts only worker modules named ``pyspark*``), so every worker must
be able to import ``d2d_spark``, as the bridges' pickled helpers
already require. The module path keeps ``pyspark.daemon`` in the
process's command line, which process listings and sweeps match on.

Run as ``python -m d2d_spark._pyspark.daemon [worker_module]``;
importing it patches nothing.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _stat_key(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def stat_keyed(original):
    """``original`` (a ``zipimporter.invalidate_caches``) made to skip
    the re-read while the archive's stat key matches the one recorded
    when its directory was last read. The keys live in the returned
    function, one per archive, shared by every importer of it."""
    keys: dict[str, tuple[int, int, int]] = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        archive = self.archive
        try:
            key = _stat_key(archive)
        except OSError:
            keys.pop(archive, None)
            return original(self)
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None and keys.get(archive) == key:
            # another importer of the same archive may have re-read it
            self._files = files
            return None
        # stat before the read: a change during it shows next time
        original(self)
        keys[archive] = key
        return None

    return invalidate_caches


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process and
    record the key of every archive already imported from, so that
    workers forked from here inherit them."""
    zipimport.zipimporter.invalidate_caches = stat_keyed(zipimport.zipimporter.invalidate_caches)
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    import pyspark.daemon

    install()
    pyspark.daemon.manager()
