"""The per-record export kernel: decrypt -> normalise -> sanitise ->
transform, one pass over an Arrow batch.

Reference: src/main/kotlin/app/batch/DecryptionProcessor.kt:34-73,
Validator.kt:34-70, SanitisationProcessor.kt:14-44 and
TransformationProcessor.kt:21-48 — the reference's chunk loop runs each
record through these processors in turn.

Spark-first: the schemaless JSON work (decrypt -> businessAudit lift ->
recursive date wrap -> id normalisation -> sanitise -> equality wrap)
cannot be expressed with typed column functions, so it is ONE Python
function (_process_batch) over the valid rows of a batch, fed the lists
operators.envelope.parse_batch returns. Both export paths run parse ->
kernel in one Python pass: the batch export job inside its sink stage
(sinks.snapshot.export_envelopes), and pipeline.export_topic as one
mapInPandas over the cells (parse_and_normalise). The data-key cache is
per executor (functions/crypto.py), mirroring HttpKeyService's
decryptedKeyCache so key-service traffic is O(distinct keks).
Failures don't fail the job: the record carries an `error` and the
caller splits good/bad (the skip-with-count policy,
configuration/JobConfiguration.kt:57-61).
"""

from __future__ import annotations

from itertools import compress

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import crypto, record_norm
from .envelope import PARSED_SCHEMA, parse_batch

# What the kernel adds per record. normalised_len is the character length
# of the normalised line BEFORE sanitise (the bytes_normalised counter);
# the failed records carry NULL in everything but `error`.
KERNEL_FIELDS = [
    T.StructField("db_object", T.StringType(), True),
    T.StructField("manifest_id", T.StringType(), True),
    T.StructField("manifest_original_id", T.StringType(), True),
    T.StructField("error", T.StringType(), True),
    T.StructField("normalised_len", T.LongType(), True),
]


def _process_batch(rows, topic: str | None) -> dict[str, list]:
    """The kernel over one batch of valid source records (the envelope
    columns of the valid rows, as a pandas frame or a dict of lists —
    see valid_rows): per record, decrypt ->
    businessAudit lift -> normalise -> dumps_compact -> sanitise -> the
    equality wrap when ``topic`` is data.equality. Returns the
    KERNEL_FIELDS as lists, one entry per input row."""
    service = crypto.local_key_service()
    wrap = topic == record_norm.EQUALITY_TOPIC
    out = {f.name: [] for f in KERNEL_FIELDS}
    lines, ids, orig_ids, errors, lens = out.values()
    for ct, kek, iv_, ek, key, db_, coll, mlm, inner in zip(
        rows["db_object_enc"],
        rows["kek_id"],
        rows["iv"],
        rows["encrypted_key"],
        rows["row_key"],
        rows["db"],
        rows["collection"],
        rows["message_last_modified"],
        rows["inner_type"],
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
            normalised = record_norm.dumps_compact(rec.db_object)
            line = record_norm.sanitise(normalised, db_, coll)
            if wrap:
                line = record_norm.equality_wrap(line, inner or "")
        except Exception as e:  # noqa: BLE001 — record-level skip, never job fail
            lines.append(None)
            ids.append(None)
            orig_ids.append(None)
            errors.append(f"{type(e).__name__}: {e}")
            lens.append(None)
            continue
        lines.append(line)
        ids.append(rec.manifest_id)
        orig_ids.append(rec.manifest_original_id)
        errors.append(None)
        lens.append(len(normalised))
    return out


def valid_rows(env: dict[str, list]) -> dict[str, list]:
    """parse_batch's columns restricted to its valid rows."""
    return {c: list(compress(v, env["valid"])) for c, v in env.items()}


def parse_and_normalise(cells: DataFrame, topic: str) -> DataFrame:
    """cells(row_key, ts, value) -> the envelope columns, `valid` and the
    KERNEL_FIELDS: parse_batch, then the kernel over the valid rows, in
    ONE mapInPandas. Quarantined rows carry NULL kernel fields; valid rows
    carry db_object_enc as NULL, so the ciphertext does not travel back
    to the JVM once decrypted."""
    schema = T.StructType(PARSED_SCHEMA.fields + KERNEL_FIELDS)

    def kernel_partition(batches):
        for pdf in batches:
            env = parse_batch(pdf, topic)
            ok = env["valid"]
            at = [i for i, v in enumerate(ok) if v]
            for name, values in _process_batch(valid_rows(env), topic).items():
                col = env[name] = [None] * len(ok)
                for i, v in zip(at, values):
                    col[i] = v
            env["db_object_enc"] = [None if v else enc for v, enc in zip(ok, env["db_object_enc"])]
            # nullable integers: a None in a plain list would turn the column float
            env["normalised_len"] = pd.array(env["normalised_len"], dtype="Int64")
            yield pd.DataFrame(env)

    return cells.select("row_key", "ts", "value").mapInPandas(kernel_partition, schema)


def decrypt_and_normalise(source: DataFrame, topic: str | None = None) -> DataFrame:
    """Valid source records -> the same columns minus db_object_enc, plus
    the KERNEL_FIELDS (db_object is the final, sanitised and — on the
    data.equality topic — wrapped line). One mapInPandas; without a
    topic there is no equality wrap. Split good/bad with
    split_normalised()."""
    schema = T.StructType(
        [f for f in source.schema.fields if f.name != "db_object_enc"] + KERNEL_FIELDS
    )

    def normalise_partition(batches):
        for pdf in batches:
            out = _process_batch(pdf, topic)
            # nullable integers: a None in a plain list would turn the column float
            out["normalised_len"] = pd.array(out["normalised_len"], dtype="Int64")
            yield pdf.drop(columns="db_object_enc").assign(**out)

    return source.mapInPandas(normalise_partition, schema)


def split_normalised(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, failed) — failed rows carry `error` for the
    DecryptionFailure/BadDecryptedData skip counters."""
    return df.filter(F.col("error").isNull()), df.filter(F.col("error").isNotNull())
