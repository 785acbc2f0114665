"""Declared schemas for the envelope and intermediate records.

Reference: envelope fields extracted at
src/main/kotlin/app/batch/HBaseResultProcessor.kt:24-50; the payload
(dbObject) stays an opaque string until decryption because its schema is
dynamic (SURVEY.md §1.2).
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

# Kafka-style envelope inside the cell. Unknown/extra fields are ignored by
# from_json; _id is kept as a raw JSON string via a separate get_json_object
# because it is string-or-object (SURVEY.md §1.4).
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("traceId", T.StringType(), True),
        T.StructField("unitOfWorkId", T.StringType(), True),
        T.StructField("@type", T.StringType(), True),
        T.StructField(
            "message",
            T.StructType(
                [
                    T.StructField("db", T.StringType(), True),
                    T.StructField("collection", T.StringType(), True),
                    T.StructField("@type", T.StringType(), True),
                    T.StructField("_lastModifiedDateTime", T.StringType(), True),
                    T.StructField(
                        "encryption",
                        T.StructType(
                            [
                                T.StructField("keyEncryptionKeyId", T.StringType(), True),
                                T.StructField("initialisationVector", T.StringType(), True),
                                T.StructField("encryptedEncryptionKey", T.StringType(), True),
                            ]
                        ),
                        True,
                    ),
                    T.StructField("dbObject", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField("version", T.StringType(), True),
        T.StructField("timestamp", T.StringType(), True),
    ]
)
