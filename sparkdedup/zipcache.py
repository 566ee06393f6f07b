"""Python-worker set-up: stop re-reading unchanged zip archives per task.

pyspark's worker calls importlib.invalidate_caches() at the start of every
task (worker_util.setup_spark_files). Before CPython 3.12 (gh-103200) that
makes every zipimporter on sys.path re-read its archive's whole central
directory at once: with SPARK_HOME set, pyspark.zip (once per sys.path
entry and once per subpackage importer, 13 reads) and the spark-core jar
(twice, ~0.07 s each) — about 0.2-0.5 s before each Python task can start.

install() replaces zipimporter.invalidate_caches with one that re-reads
an archive only when its (st_mtime_ns, st_size, st_ino) changed since the
last read, and otherwise reuses zipimport's own directory cache. It acts
only inside a pyspark worker ("pyspark.worker" is imported there and never
in a driver), so the driver keeps the stdlib behaviour, and only where
the interpreter still invalidates eagerly. Importing sparkdedup calls it;
calling it again is a no-op.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat stamp its cached directory was read at
_STAMPS: dict[str, tuple[int, int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _make_lazy(eager):
    def invalidate_caches(self):
        """Reload the archive's file data only if the archive changed."""
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if (stamp is not None and cached is not None
                and _STAMPS.get(self.archive) == stamp):
            self._files = cached
            return
        eager(self)  # stamped before the read: a later change re-reads
        _STAMPS[self.archive] = stamp

    invalidate_caches._sparkdedup_lazy = True
    return invalidate_caches


def install() -> bool:
    """Install the stat-checked invalidate_caches in a pyspark worker on a
    CPython that re-reads eagerly; True when it is in place."""
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_sparkdedup_lazy", False):
        return True
    if "pyspark.worker" not in sys.modules or sys.version_info >= (3, 12):
        return False
    # the directories cached now were read by this task's own
    # invalidate_caches() call (or at import, after it): stamp them as is
    for archive in list(zipimport._zip_directory_cache):
        _STAMPS.setdefault(archive, _stamp(archive))
    cls.invalidate_caches = _make_lazy(cls.invalidate_caches)
    return True
