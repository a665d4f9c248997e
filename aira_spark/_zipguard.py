"""Skip re-reading unchanged zip archives on `importlib.invalidate_caches()`.

PySpark's worker calls `importlib.invalidate_caches()` at the start of every
task. Before CPython 3.12 that makes every `zipimporter` on the path re-read
its archive's whole central directory, and a worker holds about a dozen of
them for pyspark.zip alone: ~0.14 s per task before the UDF body runs.
CPython 3.12 made the re-read lazy, so the guard is installed only before it.

The guard keeps the re-read whenever the archive's (st_mtime_ns, st_size)
differs from the last read, so a rewritten zip is still picked up.
"""

from __future__ import annotations

import os
import zipimport


def install() -> None:
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    invalidate_caches.guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
