"""Skip re-reading unchanged zip archives on every Spark Python task.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``). Before
CPython 3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads the
archive's whole central directory, and a worker that imports pyspark
from ``pyspark.zip`` holds one zipimporter per imported package in that
archive (about 16), so each task re-read the 3.5 MB archive about 16
times: ~0.2 s of CPU per task, most of a crawl round's Python-worker CPU.
CPython 3.13 made the call lazy.

``install()`` replaces the method with one that re-reads only when the
archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the stat taken
just before its last re-read; otherwise the importer takes the directory
read at that signature. A changed or missing archive goes through the
original method, exactly as before. The package ``__init__`` installs
it in Spark's Python workers only, on CPython < 3.13.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (signature stat'ed before the read, directory read).
# Process-wide like zipimport's own _zip_directory_cache, so all the
# importers on one archive share one read.
_directories: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _signature(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "_zipguard", False)


def install() -> None:
    if installed():
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            sig = _signature(self.archive)
        except OSError:
            _directories.pop(self.archive, None)
            return reread(self)
        known = _directories.get(self.archive)
        if known is not None and known[0] == sig:
            self._files = known[1]
            zipimport._zip_directory_cache[self.archive] = known[1]
            return
        reread(self)
        if self.archive in zipimport._zip_directory_cache:
            _directories[self.archive] = (sig, self._files)
        else:  # unreadable archive: nothing cached, retry next time
            _directories.pop(self.archive, None)

    invalidate_caches._zipguard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
