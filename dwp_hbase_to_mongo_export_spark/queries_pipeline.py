"""Oracle-checked end-to-end pipeline query.

Builds reference-shaped envelope cells deterministically FROM the orders
table (all Spark-side: payload JSON via string concat, AES-CTR encryption
via a pandas UDF with per-record deterministic IVs), runs the FULL export
pipeline (envelope parse -> mandatory-field gate -> decrypt -> normalise
-> sanitise), and returns (okey, db_object, manifest_id, original_id).

The DuckDB oracle computes the same final strings directly — decrypt(
encrypt(x)) == x, so the expected output is pure string construction:
- even orderkeys: object _id kept in place; odd: primitive _id -> $oid
  wrap moved to the end (reference remove+add semantics);
- createdDateTime (outgoing format) gets $date-wrapped in place;
- _lastModifiedDateTime injected from the fallback chain at the end;
- sanitisation turns $oid/$date into d_oid/d_date in the payload but NOT
  in the manifest id (derived pre-sanitise) — all reference quirks pinned
  end-to-end against an independent implementation.
"""

from __future__ import annotations

import base64

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pipeline import export_topic
from .queries import query
from .sources.hbase_cells import DATA_KEY_B64, MASTER_KEK_ID, deterministic_iv
from .functions.crypto import LocalKeyService, aes_ctr_encrypt
from .sources.parquet import load_table

TOPIC = "db.pipedb.pipecoll"
_CANON = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


@F.pandas_udf(
    T.StructType(
        [T.StructField("iv", T.StringType()), T.StructField("ct", T.StringType())]
    )
)
def _encrypt_udf(payload: pd.Series, okey: pd.Series) -> pd.DataFrame:
    """(iv_b64, ciphertext_b64) in ONE pandas UDF: every chained
    ArrowEvalPython operator is a separate Python worker per task, so
    fusing the iv derivation with the encryption halves the fixture's
    Python-stage count."""
    ivs, cts = [], []
    for p, k in zip(payload, okey):
        iv = deterministic_iv(int(k))
        ivs.append(base64.b64encode(iv).decode("ascii"))
        cts.append(aes_ctr_encrypt(DATA_KEY_B64, iv, p.encode("utf-8")))
    return pd.DataFrame({"iv": ivs, "ct": cts})


# Production payload encryption draws a fresh random IV per file
# (S3StreamingWriter.kt:95-161) — nondeterministic is the honest contract,
# and it keeps PushDownPredicates from dragging the crypto below the
# parallelising Exchange (see operators/decryption.py).
_encrypt_udf = _encrypt_udf.asNondeterministic()


def build_cells(
    spark: SparkSession, sf_dir: str, orders: DataFrame | None = None
) -> DataFrame:
    from .sources.parquet import ensure_parallelism

    # the whole pipeline is narrow (pandas-UDF crypto both ways): spread
    # the single small input split across cores up front. A caller may
    # inject a STREAMING orders frame — the cell construction below is
    # pure projections, identical on either execution mode.
    if orders is None:
        orders = ensure_parallelism(load_table(spark, sf_dir, "orders"))
    o = orders
    service = LocalKeyService()
    encrypted_key = service.encrypt_data_key(MASTER_KEK_ID, DATA_KEY_B64)
    k = F.col("o_orderkey").cast("string")
    d = F.date_format("o_orderdate", _CANON)
    id_part = F.when(
        F.col("o_orderkey") % 2 == 0,
        F.concat(F.lit('{"record_id": "'), k, F.lit('"}')),
    ).otherwise(F.concat(F.lit('"'), k, F.lit('"')))
    payload = F.concat(
        F.lit('{"_id": '),
        id_part,
        F.lit(', "createdDateTime": "'),
        d,
        F.lit('", "note": "'),
        F.col("o_orderpriority"),
        F.lit('"}'),
    )
    # The UDF is nondeterministic, so it must land in its OWN projection:
    # CollapseProject refuses to inline nondeterministic expressions, which
    # guarantees one evaluation even though two fields of the result are
    # consumed below.
    row_key = F.to_binary(F.lpad(F.hex(F.crc32(k.cast("binary"))), 8, "0"), F.lit("hex"))
    base = o.select(
        k.alias("okey"),
        row_key.alias("row_key"),  # diagnostic only (_id always present)
        _encrypt_udf(payload, "o_orderkey").alias("enc"),
    )
    envelope = F.to_json(
        F.struct(
            F.col("okey").alias("traceId"),
            F.lit("OUTER_TYPE").alias("@type"),
            F.struct(
                F.lit("pipedb").alias("db"),
                F.lit("pipecoll").alias("collection"),
                F.lit("INNER_TYPE").alias("@type"),
                F.struct(
                    F.lit(encrypted_key).alias("encryptedEncryptionKey"),
                    F.col("enc.iv").alias("initialisationVector"),
                    F.lit(MASTER_KEK_ID).alias("keyEncryptionKeyId"),
                ).alias("encryption"),
                F.col("enc.ct").alias("dbObject"),
            ).alias("message"),
        )
    )
    return base.select(
        F.lit(TOPIC).alias("topic"),
        "row_key",
        F.lit(1000).cast("long").alias("ts"),
        envelope.alias("value"),
        "okey",
    )


@query(
    "export_pipeline_e2e",
    oracle="""
    WITH base AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS k,
             strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS d,
             o_orderpriority AS note,
             o_orderkey % 2 = 0 AS even
      FROM orders
    )
    SELECT k AS okey,
           CASE WHEN even THEN
             '{"_id":{"record_id":"' || k || '"},"createdDateTime":{"d_date":"' || d ||
             '"},"note":"' || note || '","_lastModifiedDateTime":{"d_date":"' || d || '"}}'
           ELSE
             '{"createdDateTime":{"d_date":"' || d || '"},"note":"' || note ||
             '","_lastModifiedDateTime":{"d_date":"' || d || '"},"_id":{"d_oid":"' || k || '"}}'
           END AS db_object,
           CASE WHEN even THEN '{"record_id":"' || k || '"}'
                ELSE '{"$oid":"' || k || '"}' END AS manifest_id,
           CASE WHEN even THEN '{"record_id":"' || k || '"}'
                ELSE k END AS original_id
    FROM base
    """,
)
def export_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = build_cells(spark, sf_dir)
    res = export_topic(cells.drop("okey"), TOPIC)
    return res.extra["sink_frame"].select(
        F.regexp_extract("id", r"(\d+)", 1).alias("okey"),
        F.col("db_object"),
        F.col("id").alias("manifest_id"),
        F.col("originalId").alias("original_id"),
    )


@query(
    "streaming_export_pipeline",
    oracle="""
    WITH base AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS k,
             strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS d,
             o_orderpriority AS note,
             o_orderkey % 2 = 0 AS even
      FROM orders WHERE o_orderkey < 40000
    )
    SELECT k AS okey,
           CASE WHEN even THEN
             '{"_id":{"record_id":"' || k || '"},"createdDateTime":{"d_date":"' || d ||
             '"},"note":"' || note || '","_lastModifiedDateTime":{"d_date":"' || d || '"}}'
           ELSE
             '{"createdDateTime":{"d_date":"' || d || '"},"note":"' || note ||
             '","_lastModifiedDateTime":{"d_date":"' || d || '"},"_id":{"d_oid":"' || k || '"}}'
           END AS db_object,
           CASE WHEN even THEN '{"record_id":"' || k || '"}'
                ELSE '{"$oid":"' || k || '"}' END AS manifest_id,
           CASE WHEN even THEN '{"record_id":"' || k || '"}'
                ELSE k END AS original_id
    FROM base
    """,
)
def streaming_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME export DAG as export_pipeline_e2e executed as a
    Structured Streaming query: orders arrive through a file-source
    readStream, the cell construction + envelope parse + mandatory-field
    gate + AES-CTR decrypt + normalise + sanitise chain is the identical
    plan (every operator in it is streaming-safe — narrow projections,
    the fixture's encrypt UDF and the export kernel's one mapInPandas),
    and an AvailableNow drain must reproduce
    the batch oracle byte-for-byte. This is the reference's incremental
    mode taken to its Spark-native conclusion: continuous export is not
    a second code path, it is the batch plan on a stream
    (HBaseReader.kt:131-150's time-range resume contract becomes the
    stream's checkpointed offset).

    Input is bounded to a CONSTANT orderkey range (like the other
    cost-capped catalog queries) so bench times stay comparable across
    scale factors — the per-row crypto otherwise scales the timing
    linearly with SF while demonstrating nothing new."""
    from .streaming.incremental import run_available_now, stream_table

    orders = stream_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 40000
    )
    cells = build_cells(spark, sf_dir, orders=orders)
    res = export_topic(cells.drop("okey"), TOPIC, observe_metrics=False)
    out = res.extra["sink_frame"].select(
        F.regexp_extract("id", r"(\d+)", 1).alias("okey"),
        F.col("db_object"),
        F.col("id").alias("manifest_id"),
        F.col("originalId").alias("original_id"),
    )
    return run_available_now(out, state_partitions=None)


@query(
    "export_unwrap_roundtrip",
    oracle="""
    WITH base AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS k,
             strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS d,
             o_orderpriority AS note,
             o_orderkey % 2 = 0 AS even
      FROM orders
    )
    SELECT k AS okey,
           CASE WHEN even THEN
             '{"_id":{"record_id":"' || k || '"},"_lastModifiedDateTime":"' || d ||
             '","createdDateTime":"' || d || '","note":"' || note || '"}'
           ELSE
             '{"_id":"' || k || '","_lastModifiedDateTime":"' || d ||
             '","createdDateTime":"' || d || '","note":"' || note || '"}'
           END AS doc,
           CASE WHEN even THEN '{"record_id":"' || k || '"}' ELSE k END AS recovered_id,
           d AS last_modified
    FROM base
    """,
)
def export_unwrap_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full circle: export pipeline output (extended JSON with the
    sanitised d_oid/d_date wrappers) fed through the consumer-side
    unwrap (operators/transformation.unwrap_records) must recover the
    original typed values — scalar ids, object ids, and canonical
    dates. The oracle constructs the expected UNWRAPPED key-sorted
    documents directly from orders, so the wrap -> sanitise -> unwrap
    chain is pinned as the identity on everything but the wrappers."""
    from .operators.transformation import unwrap_records

    cells = build_cells(spark, sf_dir)
    res = export_topic(cells.drop("okey"), TOPIC)
    sink = res.extra["sink_frame"].select(
        F.regexp_extract("id", r"(\d+)", 1).alias("okey"), "db_object"
    )
    return unwrap_records(sink).select(
        "okey", "doc", "recovered_id", "last_modified"
    )


from .queries import bench_only  # noqa: E402


@bench_only("snapshot_sink_export")
def snapshot_sink_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The size-rolled encrypted snapshot sink exercised AT BENCH SCALE
    (round-8 verdict task 5: correctness-tested, never timed): the full
    export pipeline's sink frame streams through the REAL producer path
    (sinks/snapshot.write_encrypted_snapshots — byte-exact rolling,
    gzip, AES-CTR with one broadcast data key per run, aligned per-file
    manifest CSVs: S3StreamingWriter.kt:73-187 semantics), then the
    returned frame is the CONSUMER path reading every file back
    (binaryFile scan -> sidecar IV -> decrypt -> decompress -> line
    split), aggregated to one verification row. bench.py therefore
    times write+read of the whole rolled export; tools/plan_audit.py
    audits the consumer-side plan.

    BENCH-ONLY by structure: the surface's value is a filesystem side
    effect (files, sidecars, manifests) plus a count the gated
    export_pipeline_e2e already hash-pins record-by-record; DuckDB
    cannot observe the rolling/encryption. Value-level evidence lives
    in tests/test_sinks.py (byte-level roundtrip, roll bounds, manifest
    alignment) and the alignment test over this very surface.

    Scale shape: the write is one map-only mapInPandas pass whose
    parallelism is the partition count (each partition rolls its own
    files — no shuffle, no driver data motion beyond file metadata);
    the read fans out per file. max_batch_bytes=256 KiB forces many
    rolls at sf0.1 so the roll path itself is what gets timed."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from .sinks.snapshot import (
        SnapshotSinkConfig,
        read_encrypted_snapshots,
        write_encrypted_snapshots,
    )

    out = _os.path.join(_tempfile.gettempdir(), "spark_graft_snapshot_bench")
    _shutil.rmtree(out, ignore_errors=True)
    cells = build_cells(spark, sf_dir)
    res = export_topic(cells.drop("okey"), TOPIC)
    service = LocalKeyService()
    cfg = SnapshotSinkConfig(
        output_dir=out,
        topic=TOPIC,
        max_batch_bytes=256 * 1024,
        compression="gz",
        data_key_b64=DATA_KEY_B64,
        encrypted_data_key_b64=service.encrypt_data_key(
            MASTER_KEK_ID, DATA_KEY_B64
        ),
        kek_id=MASTER_KEK_ID,
    )
    metas = write_encrypted_snapshots(res.extra["sink_frame"], cfg)
    back = read_encrypted_snapshots(spark, out, data_key_b64=DATA_KEY_B64)
    return back.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.count_distinct("object_key").alias("n_files"),
    ).withColumn("n_files_written", F.lit(len(metas)).cast("bigint"))
