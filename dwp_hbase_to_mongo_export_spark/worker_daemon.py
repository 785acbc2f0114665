"""Python worker daemon that does not re-read Spark's own archives per task.

Spark starts it as ``python -m <this module> <worker module>`` (see
``session.get_spark``). pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` once per task; on CPython 3.10–3.12 that
makes every zipimporter re-read its archive's central directory. The
archives on ``sys.path`` at daemon start (``pyspark.zip``, the py4j zip,
the spark-core jar) are shipped by Spark and never change while the JVM
runs, so their importers skip the re-read; archives added later
(``addPyFile``) keep the stock behaviour. Forked workers inherit the patch.
"""

import os
import runpy
import sys
import zipimport

if __name__ == "__main__":
    shipped = frozenset(p for p in sys.path if os.path.isfile(p))
    stock_invalidate = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if self.archive not in shipped:
            stock_invalidate(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # sys.argv[1] still names the worker module pyspark.daemon runs
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
