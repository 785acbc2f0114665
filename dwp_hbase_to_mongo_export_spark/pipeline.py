"""End-to-end export pipeline composition.

Reference lifecycle (SURVEY.md §3.1): scan -> envelope parse -> decrypt ->
normalise -> sanitise -> transform -> snapshot + manifest sinks.

Two shapes share one front half (scan_cells: blocked-topic gate, ts
range pushed into the source) and one Python pass per batch —
operators.envelope.parse_batch, then the per-record kernel
(operators.decryption._process_batch: decrypt -> normalise -> sanitise
-> transform) over the valid rows, the reference's chunk loop:
- export_topic: the whole lifecycle as ONE lazy, narrow DataFrame DAG
  (no shuffle) whose per-record work is one mapInPandas
  (operators.decryption.parse_and_normalise); its frames feed the sinks
  (sinks/), the catalog and streaming export.
- orchestration.run_topic_export: the batch export job. Parse and
  kernel run inside the sink's one Python pass per partition
  (sinks.snapshot.export_envelopes), straight into the rolling writer.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .operators.decryption import parse_and_normalise, split_normalised
from .operators.envelope import ENVELOPE_COLUMNS
from .operators.latest import keep_latest
from .operators.manifest import manifest_records


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


def scan_cells(
    cells: DataFrame,
    topic: str,
    scan_time_range: tuple[int, int] | None = None,
    blocked_topics: tuple[str, ...] = (),
    dedup_versions: bool = False,
) -> DataFrame:
    """The export's front half, shared by export_topic and
    orchestration.run_topic_export: blocked-topic gate -> ts range.

    scan_time_range maps to the incremental-mode Scan.setTimeRange
    (HBaseReader.kt:131-150): a ts filter the cells source takes as a
    pushed-down range. dedup_versions reinstates latest-version-per-key
    when the source materialises all versions."""
    if topic in blocked_topics:
        raise BlockedTopicError(f"Provided topic is blocked so cannot be processed: '{topic}'")
    df = cells
    if scan_time_range is not None:
        start, end = scan_time_range
        df = df.filter((F.col("ts") >= start) & (F.col("ts") < end))
    if dedup_versions:
        df = keep_latest(df, ["row_key"], "ts")
    return df


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
    scan_cells, then ONE mapInPandas that parses each envelope and runs
    the per-record kernel over the valid ones (decrypt, normalise,
    sanitise and the equality transform:
    operators.decryption.parse_and_normalise). The quarantined frame is
    its rows with `valid` false. Every operator in the DAG is
    streaming-safe, which is the point: incremental export is the same
    plan on a readStream (pass observe_metrics=False there — the batch
    Observation helper can't wait on a streaming query).

    These frames are what consumers of the records, manifest and
    quarantine/failed side outputs query; the batch export job itself
    (orchestration.run_topic_export) runs the same parse and kernel
    inside its sink pass instead (sinks.snapshot.export_envelopes),
    writing byte-identical files to write_encrypted_snapshots over the
    `sink_frame` here."""
    cells = scan_cells(cells, topic, scan_time_range, blocked_topics, dedup_versions)
    kernel = parse_and_normalise(cells, topic)
    obs_parsed = obs_norm = None
    if observe_metrics:
        # Metrics (MetricsConfiguration.kt counters) ride the SAME pass as
        # the export action: observe() on an ancestor of the sink counts
        # with zero extra jobs — the quarantine and failure filters happen
        # downstream of these nodes, so they see every record.
        obs_parsed, obs_norm = Observation(), Observation()
        kernel = kernel.observe(
            obs_parsed,
            F.count(F.lit(1)).alias("records_read"),
            _sum0(F.col("valid").cast("long")).alias("records_valid"),
        ).observe(
            obs_norm,
            _sum0(F.col("error").isNotNull().cast("long")).alias("records_failed"),
            _sum0(F.col("normalised_len")).alias("bytes_normalised"),
        )
    quarantined = kernel.filter(~F.col("valid")).select(*ENVELOPE_COLUMNS)
    good, failed = split_normalised(kernel.filter(F.col("valid")).drop("valid", "db_object_enc"))
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
