"""Declared schema of the raw cells the export reads.

The envelope inside each cell is parsed in Python
(operators.envelope.parse_batch, HBaseResultProcessor.kt:24-50); the
payload (dbObject) stays an opaque string until decryption because its
schema is dynamic (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Raw HBase-shaped cell: (row_key, cell value JSON, cell timestamp).
CELLS_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType(), False),
        T.StructField("row_key", T.BinaryType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("value", T.StringType(), False),
    ]
)
