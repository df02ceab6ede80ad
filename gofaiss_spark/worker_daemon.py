"""Spark's Python worker daemon, with the zip directories of the
archives it starts from read once.

PySpark calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``) so that a file added with
``addPyFile`` becomes importable. Before CPython 3.13, that call makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read the whole
central directory of its archive. Spark's workers start from
``pyspark.zip``, the py4j zip and the spark-core jar, which are fixed
for the life of the daemon, so re-reading them finds nothing new.

Run as ``python -m gofaiss_spark.worker_daemon`` (``get_spark`` names
it in ``spark.python.daemon.module``), this module puts a zip importer
in place that keeps the directory of those start-up archives, and then
runs ``pyspark.daemon``. Every worker the daemon forks inherits it. A
zip added at run time still gets a fresh read on every invalidation.
"""

from __future__ import annotations

import os
import sys
import zipimport

# the archives on the daemon's start-up sys.path, as zipimporter
# spells them in ``.archive``
STARTUP_ARCHIVES = frozenset(p for p in sys.path if p and os.path.isfile(p))


class StartupZipImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        if self.archive not in STARTUP_ARCHIVES:
            super().invalidate_caches()


def install() -> None:
    """Make every zip importer created from now on a StartupZipImporter
    and drop the plain ones already cached, so they are made again."""
    sys.path_hooks[:] = [StartupZipImporter if h is zipimport.zipimporter
                         else h for h in sys.path_hooks]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[path]


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
