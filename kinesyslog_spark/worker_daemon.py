"""Python worker daemon of the engine's sessions (`session.get_spark` sets
`spark.python.daemon.module` to this module).

Before every task, `pyspark.worker` calls `importlib.invalidate_caches()`,
which on CPython 3.11 makes every cached `zipimporter` re-read its whole
archive directory. A worker's PYTHONPATH holds pyspark.zip (~1.3k
entries) and the Spark core jar (~5.4k entries), cached by a dozen or
more importers: 130-220 ms of every task on 4 vCPUs. Those archives
never change while the worker lives, so before each task the daemon
drops their importers from `sys.path_importer_cache`. An import that
needs one again rebuilds it from zipimport's directory cache, which
reads nothing.
"""

import os
import sys
import zipimport

import pyspark.daemon

_ARCHIVES = frozenset(
    p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if p.endswith((".zip", ".jar"))
)
_worker_main = pyspark.daemon.worker_main


def forget_archive_importers() -> None:
    """Drop the start-up archives' zipimporters from the importer cache."""
    cache = sys.path_importer_cache
    for path, imp in list(cache.items()):
        if isinstance(imp, zipimport.zipimporter) and imp.archive in _ARCHIVES:
            del cache[path]


def worker_main(infile, outfile) -> None:
    forget_archive_importers()
    _worker_main(infile, outfile)


if __name__ == "__main__":
    pyspark.daemon.worker_main = worker_main
    pyspark.daemon.manager()
