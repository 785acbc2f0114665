"""Consumer-side unwrap of the exported extended JSON.

The forward topic-conditional transform (the data.equality wrap,
TransformationProcessor.kt:21-48: {"message": {...payload, "@type":
innerType}}) is part of the per-record export kernel
(operators.decryption._process_batch, functions.record_norm.equality_wrap),
so it runs in the same Python pass as decrypt and sanitise. This module
holds its inverse for readers of the snapshot output.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _unwrap_batch(db_object: pd.Series) -> pd.DataFrame:
    from ..functions.record_norm import unwrap_record

    docs, ids, lms = [], [], []
    for j in db_object:
        if j is None:
            docs.append(None), ids.append(None), lms.append(None)
            continue
        doc, rid, lm = unwrap_record(j)
        docs.append(doc), ids.append(rid), lms.append(lm)
    return pd.DataFrame({"doc": docs, "rid": ids, "lm": lms})


def unwrap_records(df: DataFrame, json_col: str = "db_object") -> DataFrame:
    """Consumer-side inverse of the export normalisation: adds
    (doc, recovered_id, last_modified) from each extended-JSON line —
    the typed re-ingestion path for the reference's snapshot output
    (composes with sinks.snapshot.read_encrypted_snapshots, whose
    db_object column is exactly this input). One Arrow-batched pass,
    map-only; schemaless recursion is the same honest pandas-UDF
    mapping as the forward date wrapper (SURVEY.md section 7 hard
    part b)."""
    udf = F.pandas_udf(
        _unwrap_batch,
        T.StructType(
            [
                T.StructField("doc", T.StringType()),
                T.StructField("rid", T.StringType()),
                T.StructField("lm", T.StringType()),
            ]
        ),
    )
    return (
        df.withColumn("_u", udf(json_col))
        .withColumn("doc", F.col("_u.doc"))
        .withColumn("recovered_id", F.col("_u.rid"))
        .withColumn("last_modified", F.col("_u.lm"))
        .drop("_u")
    )
