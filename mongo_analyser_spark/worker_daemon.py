"""Spark's Python worker daemon, with zip archives re-read only when they
change. ``get_spark`` starts it through ``spark.python.daemon.module``.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.11 and 3.12 that makes every
``zipimporter`` re-read its archive's central directory at once. A worker
holds 16 importers over pyspark.zip (1,328 entries), and the re-read took
0.46 s of a 0.54 s identity task under cProfile. Here an importer re-reads
only when its archive's ``(st_mtime_ns, st_size)`` differs from the last
read, so a file shipped again with ``addPyFile`` is still seen. On 3.13,
where ``invalidate_caches`` only drops the cached directory, the rule skips
that drop.

Run it as ``python -m mongo_analyser_spark.worker_daemon [worker_module]``:
it patches ``zipimport`` and then runs ``pyspark.daemon`` as ``__main__``,
so every worker the daemon forks inherits the patch.
"""

from __future__ import annotations

import os
import runpy
import zipimport

# archive path -> (st_mtime_ns, st_size) when its directory was last read
_stamps: dict[str, tuple[int, int]] = {}
_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    it changed since the last read; otherwise the importer takes the cached
    directory (the one its siblings over the same archive share)."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _invalidate(self)
    if stamp is None:
        _stamps.pop(self.archive, None)
    else:
        _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter`` and stamp the archives already read."""
    for archive in list(zipimport._zip_directory_cache):
        stamp = _stamp(archive)
        if stamp is not None:
            _stamps[archive] = stamp
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
