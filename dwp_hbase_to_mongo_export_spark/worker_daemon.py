"""Python worker daemon that does not re-read Spark's own archives per task.

Spark starts it as ``python -m <this module> <worker module>`` (see
``session.get_spark``). pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` once per task; on CPython 3.10–3.12 that
makes every zipimporter re-read its archive's central directory. The
archives named in the process's launch ``PYTHONPATH`` (``pyspark.zip``,
the py4j zip, the spark-core jar) are shipped by Spark and never change
while the JVM runs, so their importers skip the re-read; archives added
later (``addPyFile``) keep the stock behaviour. Forked workers inherit
the patch.

Spark starts its Python DataSource planner workers through a hard-coded
``pyspark.daemon``, so this daemon never runs there. Those workers
unpickle the data source on every call, which imports
``sources.hbase_cells_source``; that module applies the same patch, and
the planner child Spark keeps and reuses skips the re-read from then on.
"""

import os
import runpy
import zipimport


def skip_shipped_archive_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` skip the archives on the
    launch ``PYTHONPATH``. Idempotent: a method already patched (by the
    daemon, or by an earlier call in a forked child) is left as it is."""
    stock_invalidate = zipimport.zipimporter.invalidate_caches
    if getattr(stock_invalidate, "skips_shipped_archives", False):
        return
    shipped = frozenset(
        os.path.abspath(p)
        for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if os.path.isfile(p)
    )

    def invalidate_caches(self):
        if self.archive not in shipped:
            stock_invalidate(self)

    invalidate_caches.skips_shipped_archives = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    skip_shipped_archive_rereads()
    # sys.argv[1] still names the worker module pyspark.daemon runs
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
