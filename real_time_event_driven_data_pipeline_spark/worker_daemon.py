"""Python worker daemon: ``pyspark.daemon`` without the per-task zip re-read.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython 3.11 that makes
each ``zipimporter`` on ``sys.path`` re-read its archive's central
directory, and ``pyspark.zip`` (3.5 MB) sits behind 14-16 of them, so a
task pays 150-290 ms before it runs a line of user code.  The archives on
a worker's ``sys.path`` do not change during the worker's life, so this
daemon makes that re-read a no-op and then runs the stock daemon.
Directory finders are still invalidated, and a newly added archive still
gets a fresh importer.  ``session.get_spark`` selects it with
``spark.python.daemon.module``.
"""

import zipimport

if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = lambda self: None
    daemon.manager()
