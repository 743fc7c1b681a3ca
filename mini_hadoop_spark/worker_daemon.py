"""Python worker daemon: ``pyspark.daemon`` with zipimport's per-task
directory re-read turned off.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``).  Before CPython 3.13 that makes each
``zipimporter`` re-read its archive's whole central directory in pure
Python (CPython gh-103200): the worker has one importer per imported
package of ``pyspark.zip`` and the py4j zip, and the re-reads cost ~0.25 s
per task on a 4-core x86 host, whatever the task does.  3.13's
``invalidate_caches`` only drops the cached directory, to be re-read on
the next lookup.  A Spark py-file is never rewritten in place (re-adding a
path is refused), and a newly added archive is a new ``sys.path`` entry
with a fresh importer, so a cached directory is never stale.

``session.get_spark`` names this module in ``spark.python.daemon.module``;
the workers the daemon forks inherit the patch.
"""

import sys
import zipimport

from pyspark.daemon import manager

if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = lambda self: None
    manager()
