"""End-to-end export pipeline composition.

Reference lifecycle (SURVEY.md §3.1): scan -> envelope parse -> decrypt ->
normalise -> sanitise -> transform -> snapshot + manifest sinks.

Two shapes share one front half (scan_envelopes: gate, ts range,
envelope parse, read/valid counters, quarantine split):
- export_topic: the whole lifecycle as ONE lazy, narrow DataFrame DAG
  (no shuffle) with codegen'd sanitise and an Arrow-batched decrypt UDF;
  its frames feed the sinks (sinks/), the catalog and streaming export.
- orchestration.run_topic_export: the batch export job. Everything
  after the split runs as one Python pass per partition
  (sinks.snapshot.export_envelopes), the reference's chunk loop.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .operators.decryption import decrypt_and_normalise, split_normalised
from .operators.envelope import parse_envelope, split_valid
from .operators.latest import keep_latest
from .operators.manifest import manifest_records
from .operators.sanitisation import sanitise_column
from .operators.transformation import apply_topic_transform


class BlockedTopicError(Exception):
    """utils/FilterBlockedTopicsUtils.kt:13-25 — driver-side pre-flight."""


@dataclass
class ExportResult:
    records: DataFrame  # (db_object line + metadata) — feed to sinks/snapshot
    manifest: DataFrame  # ManifestRecord rows — feed to sinks/manifest_csv
    quarantined: DataFrame  # envelope-level skips (MissingFieldException)
    failed: DataFrame  # decrypt/validation skips (error column)
    topic: str = ""
    extra: dict = field(default_factory=dict)


def scan_envelopes(
    cells: DataFrame,
    topic: str,
    scan_time_range: tuple[int, int] | None = None,
    blocked_topics: tuple[str, ...] = (),
    dedup_versions: bool = False,
    observe_metrics: bool = True,
) -> tuple[DataFrame, DataFrame, Observation | None]:
    """The export's front half, shared by export_topic and
    orchestration.run_topic_export: blocked-topic gate -> ts range ->
    envelope parse -> observe(records_read, records_valid) -> split.
    Returns (valid, quarantined, observation or None).

    scan_time_range maps to the incremental-mode Scan.setTimeRange
    (HBaseReader.kt:131-150): a pushed-down ts filter. dedup_versions
    reinstates latest-version-per-key when the source materialises all
    versions. observe_metrics=False skips the Observation node — pass
    it when `cells` is a STREAMING DataFrame (the batch Observation
    helper can't wait on a streaming query)."""
    if topic in blocked_topics:
        raise BlockedTopicError(f"Provided topic is blocked so cannot be processed: '{topic}'")

    df = cells
    if scan_time_range is not None:
        start, end = scan_time_range
        df = df.filter((F.col("ts") >= start) & (F.col("ts") < end))
    if dedup_versions:
        df = keep_latest(df, ["row_key"], "ts")

    parsed = parse_envelope(df, topic)

    # Metrics (MetricsConfiguration.kt counters) ride the SAME pass as the
    # export action: observe() on an ancestor of the sink counts
    # read/valid rows with zero extra jobs — the quarantine filter
    # happens downstream of this node, so it still sees every record.
    obs = None
    if observe_metrics:
        obs = Observation()
        parsed = parsed.observe(
            obs,
            F.count(F.lit(1)).alias("records_read"),
            _sum0(F.col("valid").cast("long")).alias("records_valid"),
        )
    valid, quarantined = split_valid(parsed)
    return valid, quarantined, obs


def _sum0(c: Column) -> Column:
    """A counter: 0, not NULL, over no rows."""
    return F.coalesce(F.sum(c), F.lit(0).cast("long"))


def export_topic(
    cells: DataFrame,
    topic: str,
    snapshot_type: str = "full",
    scan_time_range: tuple[int, int] | None = None,
    blocked_topics: tuple[str, ...] = (),
    dedup_versions: bool = False,
    observe_metrics: bool = True,
) -> ExportResult:
    """The full reference dataflow over a cells DataFrame, as lazy frames:
    scan_envelopes, then the decrypt + normalise pandas UDF, the JVM
    sanitise and the equality transform. Every operator in the DAG is
    streaming-safe, which is the point: incremental export is the same
    plan on a readStream (pass observe_metrics=False there).

    These frames are what consumers of the records, manifest and
    quarantine/failed side outputs query; the batch export job itself
    (orchestration.run_topic_export) runs the same per-record work as
    one Python pass instead (sinks.snapshot.export_envelopes), writing
    byte-identical files to write_encrypted_snapshots over the
    `sink_frame` here."""
    valid, quarantined, obs_parsed = scan_envelopes(
        cells, topic, scan_time_range, blocked_topics, dedup_versions, observe_metrics
    )
    normalised = decrypt_and_normalise(valid)
    obs_norm = None
    if observe_metrics:
        obs_norm = Observation()
        normalised = normalised.observe(
            obs_norm,
            _sum0(F.col("error").isNotNull().cast("long")).alias("records_failed"),
            _sum0(F.when(F.col("error").isNull(), F.length("db_object"))).alias("bytes_normalised"),
        )
    good, failed = split_normalised(normalised)

    good = good.withColumn(
        "db_object", sanitise_column(F.col("db_object"), F.col("db"), F.col("collection"))
    )
    good = apply_topic_transform(good, topic)

    manifest = manifest_records(good)
    records = good.select(
        "row_key", "ts", "db", "collection", "db_object", "manifest_id"
    )
    # wide frame for the encrypted snapshot sink: payload + manifest fields
    sink_frame = good.select(
        "db_object",
        F.col("manifest_id").alias("id"),
        F.col("ts").alias("timestamp"),
        "db",
        "collection",
        F.lit("EXPORT").alias("source"),
        F.col("outer_type").alias("externalOuterSource"),
        F.col("manifest_original_id").alias("originalId"),
        F.col("inner_type").alias("externalInnerSource"),
    )
    return ExportResult(
        records,
        manifest,
        quarantined,
        failed,
        topic=topic,
        extra={
            "sink_frame": sink_frame,
            # read after any action over the records/sink branch:
            # {"records_read", "records_valid"} / {"records_failed", "bytes_normalised"}
            "observations": {"parsed": obs_parsed, "normalised": obs_norm},
        },
    )
