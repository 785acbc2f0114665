"""SparkSession construction tuned for the engine.

Local mode is a single JVM; the same configs are what we would ship on a
real 1000-executor cluster: AQE on (runtime coalesce + skew-join), UTC
session timezone (oracle comparability), Arrow enabled for the pandas-UDF
slow path.

Python workers start from ``worker_daemon`` (``spark.python.daemon.module``)
instead of ``pyspark.daemon``. pyspark calls ``importlib.invalidate_caches()``
once per Python task, and on CPython 3.10–3.12 that eagerly re-reads the
central directory of every zip on the worker path — ``pyspark.zip``, the
py4j zip and the spark-core jar, 16 zipimporters in all — 0.13–0.30 s per
task on a 4-core VM before any UDF, ``mapIn*`` or Python DataSource code
runs (CPython 3.13 made the re-read lazy). The daemon skips the re-read for
those archives only. Spark starts its planner workers (Python DataSource
``create``/``plan``/filter pushdown) through a hard-coded ``pyspark.daemon``;
those unpickle ``sources.hbase_cells_source`` on every call, and importing
it applies the same skip, so only the first call into a planner worker
pays the re-read and each later ``.load()`` and plan in it does not. The
package root goes on the workers' PYTHONPATH so they can import the daemon
(and the package's UDFs) from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "dwp-hbase-to-mongo-export-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    shuffle.partitions defaults to the core count: at 100 TB on a real
    cluster this is retuned upward (or left to AQE's coalescing with a
    high initial value); locally 32 avoids 200 tiny shuffle files.
    """
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # local mode: driver heap IS the executor heap for all 32 threads
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # testdata events.parquet stores a NAIVE timestamp[us] ts column;
        # without this Spark 4 infers TIMESTAMP_NTZ, which breaks
        # unix_micros/watermarks. Read as TIMESTAMP under UTC session tz
        # (value-identical to the DuckDB oracle's naive-UTC reads).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # guard: a TIMESTAMP(NANOS) fixture degrades to bigint (normalised
        # in sources.parquet._normalise_ts) instead of failing the read
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python DataSource filter pushdown (sources/hbase_cells_source.py
        # pushes ts range bounds into its scan) is opt-in in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # write timestamps as INT64 micros, not the deprecated INT96:
        # INT96 columns carry NO parquet min-max statistics, which
        # disables file/row-group pruning on every timestamp column —
        # the whole point of sorted/z-ordered layouts (operators/layout)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.python.daemon.module", "dwp_hbase_to_mongo_export_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
