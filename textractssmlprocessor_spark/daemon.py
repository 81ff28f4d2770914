"""Python worker daemon for the engine's sessions: pyspark's own daemon,
minus the per-task re-read of every zip archive on the worker's path.

Every task a Python worker runs ends its set-up in
``pyspark.worker_util.setup_spark_files`` with
``importlib.invalidate_caches()``. Before Python 3.12 that makes every
``zipimport.zipimporter`` re-read its archive's central directory at once.
pyspark itself is imported from ``$SPARK_HOME/python/lib/pyspark.zip``
(~1,300 entries), and a worker holds one zipimporter per package directory
it imported from that archive (~16), so each task parses the same directory
~16 times: 0.66 s of a 0.72 s warm task under cProfile, and the bulk of
the fixed cost of every pandas UDF task. Python 3.12 made the re-read lazy.

``install`` replaces ``zipimporter.invalidate_caches`` in the daemon, before
it forks any worker: an archive is re-read only when its
``(st_mtime_ns, st_size)`` differs from the stamp taken before its last
read, and that one read serves every zipimporter of the archive. A
rewritten archive is therefore re-read exactly as before; an unchanged one
is not re-read at all. Nothing is imported ahead of the tasks.

``session.get_spark`` selects this module through
``spark.python.daemon.module`` (run as ``python -m``), and puts the package
root on the workers' PYTHONPATH so it imports from any working directory.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp before the read, directory it returned)
_reads: dict[str, tuple[tuple[int, int] | None, dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    last = _reads.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = last[1]
        zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _reread(self)
    _reads[self.archive] = (stamp, self._files)


def install() -> None:
    """Patch zipimporter and stamp the archives already imported from, so
    forked workers start with current stamps. A no-op on Python >= 3.12."""
    if sys.version_info >= (3, 12):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
