"""A PySpark Python DataSource presenting an HBase-shaped cell table.

This is the Spark-4-native answer to the reference's source stack
(SURVEY.md §2 rows 1-4), one concept per hook:

- table scan            (HBaseReader.kt:34-60)      -> DataSourceReader.read
- key-range partitioning (HBasePartitioner.kt:12-37) -> partitions(): one
  input partition per scan.width-wide range of the first row-key byte —
  the same 256-value grid, ceil(256/width) splits
- time-range predicate  (HBaseReader.kt:145-150)     -> pushFilters: ts
  bounds are accepted and evaluated INSIDE the scan (pyarrow row-group
  pruning on the backing parquet), the DSv2 analogue of
  Scan.setTimeRange running in the regionserver
- scan retry/resume     (HBaseReader.kt:62-90)       -> not needed: a
  failed Spark task re-reads its whole split (task retry is built in)

The backing store is a parquet directory with a `key_byte` column (the
first row-key byte, materialised so range predicates prune row groups);
a production deployment swaps the pyarrow read for an HBase client scan
over [start, stop) with the same partition planning. Rows flow back as
Arrow RecordBatches — the zero-copy path through the Python worker.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

# Spark's DataSource planner workers start from pyspark.daemon, not the
# package's worker daemon, and unpickle this module's source on every
# call: patch them here, so the planner child Spark reuses stops
# re-reading Spark's archives on each later call.
if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
    from ..worker_daemon import skip_shipped_archive_rereads

    skip_shipped_archive_rereads()

SOURCE_NAME = "hbase_cells_fixture"
SCHEMA = "row_key binary, ts bigint, value string"


class KeyRangePartition(InputPartition):
    def __init__(self, start: int, stop: int) -> None:
        self.start = start
        self.stop = stop


class HBaseCellsReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.path = options["path"]
        self.scan_width = int(options.get("scan_width", 5))
        self._ts_filters: list[tuple[str, str, int]] = []

    def pushFilters(self, filters):  # noqa: N802 — DataSource API name
        """Accept ts range bounds (the incremental-scan predicate); push
        them into the pyarrow scan. Everything else is returned for Spark
        to evaluate post-scan."""
        ops = {
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
        for f in filters:
            op = ops.get(type(f))
            if op is not None and tuple(f.attribute) == ("ts",) and isinstance(
                f.value, int
            ):
                self._ts_filters.append(("ts", op, f.value))
            else:
                yield f

    def partitions(self) -> list[KeyRangePartition]:
        w = self.scan_width
        return [KeyRangePartition(lo, min(lo + w, 256)) for lo in range(0, 256, w)]

    def read(self, partition: KeyRangePartition) -> Iterator:
        import pyarrow.parquet as pq

        filters = [
            ("key_byte", ">=", partition.start),
            ("key_byte", "<", partition.stop),
        ] + self._ts_filters
        table = pq.read_table(
            self.path, columns=["row_key", "ts", "value"], filters=filters
        )
        yield from table.to_batches()


class KeyRangeTsPartition(InputPartition):
    def __init__(self, key_lo: int, key_hi: int, ts_lo: int, ts_hi: int) -> None:
        self.key_lo = key_lo
        self.key_hi = key_hi
        self.ts_lo = ts_lo
        self.ts_hi = ts_hi


class HBaseCellsStreamReader(DataSourceStreamReader):
    """The incremental-export mode (SURVEY §3.2) as a REAL streaming
    source: offsets are cell-timestamp watermarks, each micro-batch reads
    the cells whose ts falls in [start, end) — the continuous form of
    `scan.time.range.start/end` — and a batch's work is split into the
    same key-range grid as the batch reader, so a 1000-executor cluster
    scans each time slice with full key parallelism. Offsets live in the
    checkpoint: a restarted query resumes from the last committed ts,
    which is exactly the reference's resume-from-time-range contract."""

    def __init__(self, options) -> None:
        self.path = options["path"]
        self.scan_width = int(options.get("scan_width", 32))
        self._min_ts: int | None = None

    def _ts_minmax(self) -> tuple[int, int]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        col = pq.read_table(self.path, columns=["ts"])["ts"]
        return (pc.min(col).as_py(), pc.max(col).as_py())

    def initialOffset(self) -> dict:
        if self._min_ts is None:
            self._min_ts = self._ts_minmax()[0]
        return {"ts": self._min_ts}

    def latestOffset(self) -> dict:
        # recomputed EVERY call — caching it would freeze the stream at
        # the first micro-batch's high-water mark and newly appended
        # cells would never be read on a continuous (non-AvailableNow)
        # run. The min (initial offset) is immutable and stays cached.
        return {"ts": self._ts_minmax()[1] + 1}

    def partitions(self, start: dict, end: dict) -> list[KeyRangeTsPartition]:
        w = self.scan_width
        return [
            KeyRangeTsPartition(lo, min(lo + w, 256), start["ts"], end["ts"])
            for lo in range(0, 256, w)
        ]

    def read(self, partition: KeyRangeTsPartition) -> Iterator:
        import pyarrow.parquet as pq

        table = pq.read_table(
            self.path,
            columns=["row_key", "ts", "value"],
            filters=[
                ("key_byte", ">=", partition.key_lo),
                ("key_byte", "<", partition.key_hi),
                ("ts", ">=", partition.ts_lo),
                ("ts", "<", partition.ts_hi),
            ],
        )
        yield from table.to_batches()

    def commit(self, end: dict) -> None:
        pass


class HBaseCellsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> HBaseCellsReader:
        return HBaseCellsReader(self.options)

    def streamReader(self, schema) -> HBaseCellsStreamReader:
        return HBaseCellsStreamReader(self.options)


def register(spark) -> None:
    """Idempotent per-session registration. Python-source filter pushdown
    is opt-in in Spark 4.1 and a session (not static) conf, so it can be
    enabled here — a session built without it would otherwise refuse to
    initialise any reader that implements pushFilters."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(HBaseCellsDataSource)


def ensure_cells_fixture(spark, sf_dir: str) -> str:
    """Materialise the HBase-shaped cell fixture for `sf_dir` once per
    machine: envelope cells derived deterministically from orders (row
    key = 4 md5-prefix bytes + the utf-8 key, the reference fixture's
    hash-prefixed layout; ts = order-date epoch millis so time-range
    scans are selective). Returns the parquet path."""
    import os

    from pyspark.sql import functions as F

    from .parquet import load_table

    sf_name = os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_hbase_cells_{sf_name}.parquet"
    if os.path.isdir(path) and os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey").cast("string")
    key_hex = F.concat(F.substring(F.md5(k), 1, 8), F.hex(F.encode(k, "utf-8")))
    envelope = F.to_json(
        F.struct(
            k.alias("traceId"),
            F.lit("OUTER_TYPE").alias("@type"),
            F.struct(
                F.lit("srcdb").alias("db"),
                F.lit("srccoll").alias("collection"),
                F.base64(F.encode(F.col("o_orderpriority"), "utf-8")).alias("dbObject"),
            ).alias("message"),
        )
    )
    cells = o.select(
        F.conv(F.substring(F.md5(k), 1, 2), 16, 10).cast("int").alias("key_byte"),
        F.to_binary(key_hex, F.lit("hex")).alias("row_key"),
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("ts"),
        envelope.alias("value"),
    )
    tmp = f"{path}.tmp.{os.getpid()}"
    cells.coalesce(1).write.mode("overwrite").parquet(tmp)
    import shutil

    # A leftover dir WITHOUT _SUCCESS is a crashed prior run's partial
    # write (the probe above already declined it) — clear it so the
    # rename below can't fail into returning corrupt data. A dir WITH
    # _SUCCESS appearing between probe and here is a concurrent writer
    # that won the race with an identical copy — keep theirs.
    if os.path.isdir(path) and not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
    try:
        os.rename(tmp, path)
    except OSError:  # lost a concurrent race — the other writer's copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return path
