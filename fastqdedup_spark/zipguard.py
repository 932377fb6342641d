"""The package's one worker-side hook: a guard on zipimport re-reads.

A PySpark worker calls `importlib.invalidate_caches()` at the start of
every task (`pyspark.worker_util.setup_spark_files`, after it puts the
task's `--py-files` on `sys.path`). Before Python 3.13 that call makes
every `zipimport.zipimporter` in `sys.path_importer_cache` re-parse its
archive's central directory at once. A worker holds about 16 importers
over `pyspark.zip` (1,328 entries), so on a shared 4-core machine every
Python task paid 105-225 ms before it touched a row. Python 3.13 made the
re-read lazy, so there the guard is not installed.

`install` wraps `zipimporter.invalidate_caches`: an importer re-reads its
archive only when the archive's (st_mtime_ns, st_size) differs from the
stamp taken when that importer last read it. A rewritten zip is still
re-read; an unchanged one is read once per importer instead of once per
task. Importing the package installs the guard, and every package UDF
imports the package when the worker unpickles it, so a worker runs
guarded from its first package task on.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def installed() -> bool:
    return hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def install() -> None:
    """Guard `zipimporter.invalidate_caches` (Python < 3.13; idempotent)."""
    if sys.version_info >= (3, 13) or installed():
        return
    reread = zipimport.zipimporter.invalidate_caches

    @functools.wraps(reread)
    def invalidate_caches(self) -> None:
        # stat BEFORE the read: a rewrite during the read leaves a stale
        # stamp, so the next call reads again
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_read_stamp", None):
            return
        reread(self)
        self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
