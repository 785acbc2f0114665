"""Per-record AES-CTR decryption + normalisation as one Arrow batch pass.

Reference: src/main/kotlin/app/batch/DecryptionProcessor.kt:34-73 and
src/main/kotlin/app/batch/Validator.kt:34-70.

Spark-first: the schemaless JSON work (decrypt -> businessAudit lift ->
recursive date wrap -> id normalisation) cannot be expressed with typed
column functions, so it runs as ONE pandas UDF — a single Python/Arrow
round-trip per batch instead of four chained UDFs. The batch export job
runs the same kernel (_process_batch) inside its one-pass export stage
(sinks.snapshot.export_envelopes) instead of this UDF. The data-key cache is
per executor (functions/crypto.py), mirroring HttpKeyService's
decryptedKeyCache so key-service traffic is O(distinct keks).
Failures don't fail the job: the struct carries an `error` field and the
caller splits good/bad (the skip-with-count policy,
configuration/JobConfiguration.kt:57-61).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import crypto, record_norm
from ..schemas import NORMALISED_SCHEMA


def _process_batch(
    db_object_enc: pd.Series,
    kek_id: pd.Series,
    iv: pd.Series,
    encrypted_key: pd.Series,
    row_key: pd.Series,
    db: pd.Series,
    collection: pd.Series,
    message_last_modified: pd.Series,
) -> pd.DataFrame:
    service = crypto.local_key_service()
    out = {"db_object": [], "manifest_id": [], "manifest_original_id": [], "error": []}
    for ct, kek, iv_, ek, key, db_, coll, mlm in zip(
        db_object_enc, kek_id, iv, encrypted_key, row_key, db, collection, message_last_modified
    ):
        try:
            data_key = service.decrypt_key(kek, ek)
            decrypted = crypto.aes_ctr_decrypt(data_key, iv_, ct).decode("utf-8")
            if (
                db_ == record_norm.BUSINESS_AUDIT_DB
                and coll == record_norm.BUSINESS_AUDIT_COLLECTION
            ):
                decrypted = record_norm.business_audit_transform(decrypted, mlm or "")
            suffix = bytes(key)[4:].decode("utf-8", errors="replace")
            rec = record_norm.normalise_payload(decrypted, suffix)
            out["db_object"].append(record_norm.dumps_compact(rec.db_object))
            out["manifest_id"].append(rec.manifest_id)
            out["manifest_original_id"].append(rec.manifest_original_id)
            out["error"].append(None)
        except Exception as e:  # noqa: BLE001 — record-level skip, never job fail
            out["db_object"].append(None)
            out["manifest_id"].append(None)
            out["manifest_original_id"].append(None)
            out["error"].append(f"{type(e).__name__}: {e}")
    return pd.DataFrame(out)


def decrypt_and_normalise(source: DataFrame) -> DataFrame:
    """source-record DF -> + (db_object, manifest_id, manifest_original_id,
    error) columns. Split good/bad with split_normalised()."""
    # asNondeterministic: semantically honest (the production decrypt calls
    # an external key service) AND load-bearing for the plan — a
    # deterministic UDF gets substituted into downstream filter conditions
    # by PushDownPredicates and dragged below the parallelising Exchange,
    # serialising the whole Python stage onto the source's input splits.
    udf = F.pandas_udf(_process_batch, NORMALISED_SCHEMA).asNondeterministic()
    norm = udf(
        "db_object_enc",
        "kek_id",
        "iv",
        "encrypted_key",
        "row_key",
        "db",
        "collection",
        "message_last_modified",
    )
    return source.withColumn("norm", norm).select(
        "*",
        F.col("norm.db_object").alias("db_object"),
        F.col("norm.manifest_id").alias("manifest_id"),
        F.col("norm.manifest_original_id").alias("manifest_original_id"),
        F.col("norm.error").alias("error"),
    ).drop("norm", "db_object_enc")


def split_normalised(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, failed) — failed rows carry `error` for the
    DecryptionFailure/BadDecryptedData skip counters."""
    return df.filter(F.col("error").isNull()), df.filter(F.col("error").isNotNull())
