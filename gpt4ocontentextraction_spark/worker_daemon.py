"""Spark's Python worker daemon, minus the per-task re-read of pyspark.zip.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``, and on Python 3.11 that call makes
each cached ``zipimport.zipimporter`` (14-16 of them) re-parse the zip's
whole central directory: ~0.11-0.13 s of CPU per task. The zip does not change
under a running worker, so before each task this daemon drops the
zipimporters from ``sys.path_importer_cache``. An import that needs one
again rebuilds it from ``zipimport._zip_directory_cache``, which still
holds the parsed directory.

``get_spark`` sets ``spark.python.daemon.module`` to this module; it must
be importable when the daemon starts (see ``session.py``).
"""

from __future__ import annotations

import sys
import zipimport


def without_zipimporters(main):
    """Wrap a worker ``main(infile, outfile)`` to drop the cached
    zipimporters before it runs."""

    def run(infile, outfile):
        for path, finder in list(sys.path_importer_cache.items()):
            if isinstance(finder, zipimport.zipimporter):
                del sys.path_importer_cache[path]
        return main(infile, outfile)

    return run


if __name__ == "__main__":
    from pyspark import daemon

    daemon.worker_main = without_zipimporters(daemon.worker_main)
    daemon.manager()
