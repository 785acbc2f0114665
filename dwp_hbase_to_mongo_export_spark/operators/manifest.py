"""Manifest side-output derivation.

Reference: ManifestRecord fields (src/main/kotlin/app/domain/
DomainClasses.kt:58-60), derived per record at Validator.kt:52-58, and
rendered as a pipe-delimited, CSV-escaped line at DomainClasses.kt:83-88:
id|timestamp|db|collection|source|externalOuterSource|originalId|externalInnerSource

Spark-first: a second projection off the main DataFrame — Catalyst reuses
the upstream plan; writing happens in sinks/manifest_csv.py. The export's
per-file manifest lines are rendered by sinks/snapshot._RollingWriter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MANIFEST_COLUMNS = [
    "id",
    "timestamp",
    "db",
    "collection",
    "source",
    "externalOuterSource",
    "originalId",
    "externalInnerSource",
]


def manifest_records(normalised: DataFrame, source: str = "EXPORT") -> DataFrame:
    return normalised.select(
        F.col("manifest_id").alias("id"),
        F.col("ts").alias("timestamp"),
        "db",
        "collection",
        F.lit(source).alias("source"),
        F.col("outer_type").alias("externalOuterSource"),
        F.col("manifest_original_id").alias("originalId"),
        F.col("inner_type").alias("externalInnerSource"),
    )
