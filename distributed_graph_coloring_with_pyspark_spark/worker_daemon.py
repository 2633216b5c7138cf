"""The Python-worker daemon the engine's sessions start
(``spark.python.daemon.module``): PySpark's own daemon, with zip
archives re-read only when they change.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Up to Python 3.12 that
makes every ``zipimporter`` on the worker re-parse the whole central
directory of its archive: ``pyspark.zip`` (about 1,300 entries), the
py4j zip and the spark-core jar, once per importer, and a worker holds
one importer per imported package of each archive: 16 importers and
0.165 s per task under Python 3.11.7 and Spark 4.1.2 (SCALE.md,
"Python-worker task setup"), more than the UDF of a small
``mapInPandas`` takes.

``invalidate_if_changed`` replaces ``zipimporter.invalidate_caches``: it
re-reads an archive only when the archive's (size, mtime) differs from
what this process last read, and otherwise points the importer at the
directory already read.  A shipped archive that is rewritten between
tasks is still picked up.  The daemon installs it before it forks, so
every worker inherits it.

Run as ``python -m distributed_graph_coloring_with_pyspark_spark.worker_daemon``
(Spark does that); the worker Python must be able to import this
package, as it must for any UDF that calls into it.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive -> its (size, mtime_ns) at this process's last read; per
# process, like the swapped method itself
_read_at: dict[str, tuple[int, int]] = {}


def _signature(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its (size, mtime) changed since this process last read it."""
    sig = _signature(self.archive)
    if sig is not None and _read_at.get(self.archive) == sig:
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and hasattr(self, "_files"):
            # importers up to 3.12 each hold the directory: take the one
            # another importer of this archive read last
            self._files = files
        return
    _reread(self)
    if sig is not None:
        _read_at[self.archive] = sig


def main() -> None:
    """Swap ``invalidate_if_changed`` in for every zipimporter of this
    process and of the workers it forks, then serve as PySpark's
    daemon."""
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    importlib.invalidate_caches()  # read each archive once, before the forks
    daemon.manager()


if __name__ == "__main__":
    # run under the import name, so workers see this module's function
    importlib.import_module(__spec__.name).main()
