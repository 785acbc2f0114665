"""Run orchestration: per-collection status tracking, completion fold,
downstream messaging payloads, metrics.

Reference: services/impl/DynamoDBExportStatusService.kt:33-121 (status
fold + increments), services/impl/SQSMessagingService.kt:20-99 and
SnsServiceImpl.kt:51-135 (message payload shapes),
batch/JobCompletionNotificationListener.kt:47-141 (terminal routing).

All driver-side: the heavy lifting happened in the DataFrame job; these
are bookkeeping calls after actions complete. External services (DynamoDB
/SQS/SNS via boto3, Prometheus pushgateway) are behind small interfaces
with in-memory defaults so the logic is testable hermetically; production
impls are thin boto3 adapters.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from enum import Enum


class CollectionStatus(str, Enum):
    EXPORTED = "Exported"
    EXPORT_FAILED = "Export_Failed"
    TABLE_UNAVAILABLE = "Table_Unavailable"
    BLOCKED_TOPIC = "Blocked_Topic"
    EXPORTING = "Exporting"


class ExportCompletionStatus(str, Enum):
    COMPLETED_SUCCESSFULLY = "COMPLETED_SUCCESSFULLY"
    IN_PROGRESS = "IN_PROGRESS"
    COMPLETED_UNSUCCESSFULLY = "COMPLETED_UNSUCCESSFULLY"
    NOT_COMPLETED = "NOT_COMPLETED"


_SUCCESSFUL = {CollectionStatus.EXPORTED, CollectionStatus.TABLE_UNAVAILABLE, CollectionStatus.BLOCKED_TOPIC}
_IN_PROGRESS = {CollectionStatus.EXPORTING}
_FAILED = {CollectionStatus.EXPORT_FAILED}


def completion_fold(statuses: list[CollectionStatus]) -> ExportCompletionStatus:
    """DynamoDBExportStatusService.exportCompletionStatus (kt:33-58):
    all-successful > any-in-progress > any-failed > not-completed."""
    if statuses and all(s in _SUCCESSFUL for s in statuses):
        return ExportCompletionStatus.COMPLETED_SUCCESSFULLY
    if any(s in _IN_PROGRESS for s in statuses):
        return ExportCompletionStatus.IN_PROGRESS
    if any(s in _FAILED for s in statuses):
        return ExportCompletionStatus.COMPLETED_UNSUCCESSFULLY
    return ExportCompletionStatus.NOT_COMPLETED


@dataclass
class ExportStatusService:
    """In-memory stand-in for the DynamoDB status table, keyed
    (correlation_id, collection). Production: boto3 update_item with
    'SET FilesExported = FilesExported + :x' (kt:60-73)."""

    correlation_id: str
    statuses: dict[str, CollectionStatus] = field(default_factory=dict)
    files_exported: dict[str, int] = field(default_factory=dict)

    def set_status(self, collection: str, status: CollectionStatus) -> None:
        self.statuses[collection] = status

    def increment_exported_count(self, collection: str, n: int = 1) -> None:
        self.files_exported[collection] = self.files_exported.get(collection, 0) + n

    def completion(self) -> ExportCompletionStatus:
        return completion_fold(list(self.statuses.values()))


def snapshot_sender_message(
    correlation_id: str,
    topic: str,
    object_key: str,
    *,
    files_exported: int,
    snapshot_type: str = "full",
    export_date: str = "",
) -> str:
    """SQSMessagingService.notifySnapshotSender payload
    (services.snapshot_sender_payload, kt:62-84): the per-prefix message,
    or the files_exported=0 variant when nothing was written."""
    from .services import snapshot_sender_no_files_payload, snapshot_sender_payload

    if files_exported == 0:
        payload = snapshot_sender_no_files_payload(
            correlation_id=correlation_id,
            topic_name=topic,
            export_date=export_date,
            reprocess_files=True,
            shutdown_flag=True,
            snapshot_type=snapshot_type,
        )
    else:
        payload = snapshot_sender_payload(
            correlation_id=correlation_id,
            topic_name=topic,
            export_date=export_date,
            reprocess_files=True,
            shutdown_flag=True,
            s3_full_folder=object_key,
            snapshot_type=snapshot_type,
        )
    return json.dumps(payload, separators=(",", ":"))


def adg_trigger_message(object_key: str) -> str:
    """SQS data-egress trigger (services.data_egress_payload,
    SQSMessagingService.kt:87-99) — an S3-event-shaped envelope naming
    the exported prefix."""
    from .services import data_egress_payload

    return json.dumps(data_egress_payload(object_key), separators=(",", ":"))


@dataclass
class RunReport:
    """What JobCompletionNotificationListener.afterJob (kt:47-141) leaves
    behind: terminal status, file inventory, counters, message payloads."""

    topic: str
    status: CollectionStatus
    files: list = field(default_factory=list)  # per-file metadata Rows
    metrics: dict = field(default_factory=dict)
    messages: list[str] = field(default_factory=list)


def run_topic_export(
    cells,
    topic: str,
    sink_cfg,
    status_service: ExportStatusService,
    *,
    snapshot_type: str = "full",
    scan_time_range: tuple[int, int] | None = None,
    blocked_topics: tuple[str, ...] = (),
    export_date: str = "",
) -> RunReport:
    """One topic end-to-end: blocked-topic gate -> one export pass
    parsing the envelopes and writing the encrypted snapshots +
    manifests -> status increments -> terminal status -> message
    payloads.

    The §3.1 lifecycle as driver code around ONE DataFrame action and
    two Python stages at most (a Python source's read, then the export
    pass): pipeline.scan_cells gates the topic and pushes the ts range
    into the source, and sinks.snapshot.export_envelopes runs envelope
    parse -> mandatory-field gate -> decrypt -> normalise -> sanitise ->
    transform -> rolling encrypted writer per partition, the
    reference's chunk loop. records_read/records_valid/records_failed/
    bytes_normalised come back in each partition's counter row with the
    file rows (no second scan — at 100 TB a metrics-only pass would cost
    as much as the export). Blocked topics short-circuit before any
    job, exactly like the reference's pre-flight gate."""
    from .pipeline import BlockedTopicError, scan_cells
    from .sinks.snapshot import export_envelopes

    try:
        cells = scan_cells(
            cells, topic, scan_time_range=scan_time_range, blocked_topics=blocked_topics
        )
    except BlockedTopicError:
        status_service.set_status(topic, CollectionStatus.BLOCKED_TOPIC)
        return RunReport(
            topic,
            CollectionStatus.BLOCKED_TOPIC,
            messages=[
                monitoring_message(
                    status_service.correlation_id,
                    status_service.completion(),
                    snapshot_type,
                    export_date,
                )
            ],
        )

    try:
        files, counters = export_envelopes(cells, topic, sink_cfg)
    except Exception:
        status_service.set_status(topic, CollectionStatus.EXPORT_FAILED)
        raise
    status_service.increment_exported_count(topic, len(files))
    status_service.set_status(topic, CollectionStatus.EXPORTED)

    metrics = {**counters, "files_exported": len(files)}

    messages = [
        snapshot_sender_message(
            status_service.correlation_id,
            topic,
            f.object_key,
            files_exported=len(files),
            snapshot_type=snapshot_type,
            export_date=export_date,
        )
        for f in files
    ]
    if not files:
        # the reference sends noFilesExportedMessage when an export
        # succeeds with zero files (SQSMessagingService.kt:62-84) — the
        # payload inventory must include it, mirroring run_fleet's
        # notify_snapshot_sender_no_files_exported adapter branch
        messages.append(
            snapshot_sender_message(
                status_service.correlation_id,
                topic,
                "",
                files_exported=0,
                snapshot_type=snapshot_type,
                export_date=export_date,
            )
        )
    if files:
        # zero-file exports send the no-files snapshot message but NO
        # data-egress trigger — the same condition run_fleet's adapter
        # path applies; an ADG trigger naming key "" would start
        # analytical-dataset generation on an empty prefix
        messages.append(adg_trigger_message(files[-1].object_key))
    messages.append(
        monitoring_message(
            status_service.correlation_id,
            status_service.completion(),
            snapshot_type,
            export_date,
        )
    )
    return RunReport(topic, CollectionStatus.EXPORTED, files=files, metrics=metrics, messages=messages)


@dataclass
class FleetReport:
    """Outcome of a multi-topic run: per-topic reports, the cross-topic
    completion fold, and the terminal messages the last finisher sent."""

    reports: dict[str, RunReport]
    completion: ExportCompletionStatus
    messages: list[str] = field(default_factory=list)


def run_fleet(
    topics: list[str],
    cells_for,
    sink_cfg_for,
    status_service: ExportStatusService,
    *,
    snapshot_type: str = "full",
    export_date: str = "",
    s3_prefix: str = "",
    blocked_topics: tuple[str, ...] = (),
    unavailable_topics: tuple[str, ...] = (),
    messaging=None,
    sns=None,
    messaging_for=None,
    sns_for=None,
    push_gateway=None,
    product_status=None,
    export_prefix: str = "",
    pdm_common_model_site_prefix: str = "",
) -> FleetReport:
    """SURVEY §3.3 fleet semantics: the reference runs ONE JVM per topic
    (docker-compose.yml:46-105) and coordinates exclusively through the
    shared status table — every job's afterJob queries ALL rows for its
    correlation id (TableServiceImpl.kt:16-29) and folds them
    (DynamoDBExportStatusService.kt:30-46); the LAST finisher (the one
    whose fold comes back COMPLETED_SUCCESSFULLY) triggers the terminal
    export-completed + monitoring messages
    (JobCompletionNotificationListener.kt:47-141).

    Spark form: a driver loop over topics against one SparkSession —
    each topic's export is its own job (Spark schedules them over the
    same executors), and the same external-state fold runs after each.
    `status_service` is the shared table: the in-memory service here, or
    services.DynamoDbExportStatusService per topic in production.
    `cells_for(topic)` / `sink_cfg_for(topic)` supply each topic's input
    frame and sink config. Table-unavailable topics mirror the
    reference's pre-scan check (HBaseReader.kt table existence):
    status-only, no job.

    Optional service adapters (services.py — or fakes) make the terminal
    routing REAL instead of payload-only: `messaging`
    (SqsMessagingService) gets one notify_snapshot_sender per exported
    file prefix (or the no-files variant), `sns` (SnsService) gets the
    export-completed + completion-monitoring publishes from the last
    finisher (and topic-failed messages as failures happen), and
    `push_gateway` (PushGatewayService) gets push_final_metrics at the
    end — JobCompletionNotificationListener.kt:47-141's routing."""
    reports: dict[str, RunReport] = {}
    for topic in topics:
        status_service.set_status(topic, CollectionStatus.EXPORTING)
    messages: list[str] = []

    # The reference runs one JVM (one config, hence one topic_name) per
    # topic; a single-instance adapter here would stamp EVERY topic's
    # payloads/MessageGroupId with the one constructor topic. Per-topic
    # factories (messaging_for/sns_for, like cells_for/sink_cfg_for) are
    # the faithful form; absent a factory, rebind the shared adapter's
    # topic_name inside the loop so multi-topic fleets stay correct.
    def _adapter_for(t, factory, singleton):
        if factory is not None:
            return factory(t)
        if singleton is not None and hasattr(singleton, "topic_name"):
            singleton.topic_name = t
        return singleton

    messaging_t, sns_t = messaging, sns
    for topic in topics:
        messaging_t = _adapter_for(topic, messaging_for, messaging)
        sns_t = _adapter_for(topic, sns_for, sns)
        if topic in unavailable_topics:
            status_service.set_status(topic, CollectionStatus.TABLE_UNAVAILABLE)
            reports[topic] = RunReport(topic, CollectionStatus.TABLE_UNAVAILABLE)
        else:
            try:
                reports[topic] = run_topic_export(
                    cells_for(topic),
                    topic,
                    sink_cfg_for(topic),
                    status_service,
                    snapshot_type=snapshot_type,
                    blocked_topics=blocked_topics,
                    export_date=export_date,
                )
            except Exception as e:
                # run_topic_export sets EXPORT_FAILED only for sink-write
                # failures; cells_for(topic) / plan construction can raise
                # before any write, which would leave the topic Exporting
                # and the completion fold IN_PROGRESS forever. Set it here
                # unconditionally (idempotent when the sink already did),
                # like the reference marks failure on ANY job failure
                # (JobCompletionNotificationListener.afterJob).
                status_service.set_status(topic, CollectionStatus.EXPORT_FAILED)
                reports[topic] = RunReport(
                    topic, CollectionStatus.EXPORT_FAILED, metrics={"error": str(e)}
                )
                if sns_t is not None:
                    sns_t.send_topic_failed_monitoring_message()
        # per-topic snapshot-sender notifications ride the topic loop,
        # exactly like afterJob's per-file sends
        if messaging_t is not None:
            report = reports[topic]
            if report.status == CollectionStatus.EXPORTED and report.files:
                for f in report.files:
                    messaging_t.notify_snapshot_sender(f.object_key)
                # data-egress/RIS message names the topic's file prefix
                # (JobCompletionNotificationListener.kt:117-121)
                messaging_t.send_data_egress_message(f"{export_prefix}/{topic}-")
            elif report.status == CollectionStatus.EXPORTED:
                messaging_t.notify_snapshot_sender_no_files_exported()
        # the reference's afterJob fold runs after EVERY topic; only the
        # last finisher sees all-successful and routes terminal messages
        completion = status_service.completion()
        if completion == ExportCompletionStatus.COMPLETED_SUCCESSFULLY:
            from .services import export_completed_payload

            messages.append(
                json.dumps(
                    export_completed_payload(
                        correlation_id=status_service.correlation_id,
                        s3_prefix=s3_prefix,
                        snapshot_type=snapshot_type,
                        export_date=export_date,
                    ),
                    separators=(",", ":"),
                )
            )
            messages.append(
                monitoring_message(
                    status_service.correlation_id, completion, snapshot_type, export_date
                )
            )
            if sns_t is not None:
                # the LAST finisher routes the terminal publishes with
                # its own (current-topic) adapter, as that topic's JVM
                # would in the reference
                sns_t.send_export_completed_successfully_message()
                sns_t.send_completion_monitoring_message(completion)
    completion = status_service.completion()
    terminal = completion in (
        ExportCompletionStatus.COMPLETED_SUCCESSFULLY,
        ExportCompletionStatus.COMPLETED_UNSUCCESSFULLY,
    )
    if completion != ExportCompletionStatus.COMPLETED_SUCCESSFULLY:
        messages.append(
            monitoring_message(
                status_service.correlation_id, completion, snapshot_type, export_date
            )
        )
        # monitoring publishes only on TERMINAL folds (kt:138-142);
        # in-progress / not-completed runs stay silent
        if sns_t is not None and terminal:
            sns_t.send_completion_monitoring_message(completion)
    # PDM common-model trigger: incremental runs with a configured site
    # prefix message data egress on either terminal state (kt:106-112)
    if (
        messaging_t is not None
        and terminal
        and snapshot_type == "incremental"
        and pdm_common_model_site_prefix
    ):
        messaging_t.send_data_egress_message(pdm_common_model_site_prefix)
    # run-level product status row other pipeline stages poll (kt:126-135)
    if product_status is not None and terminal:
        if completion == ExportCompletionStatus.COMPLETED_SUCCESSFULLY:
            product_status.set_completed_status()
        else:
            product_status.set_failed_status()
    if push_gateway is not None:
        push_gateway.push_final_metrics()
    return FleetReport(reports, completion, messages)


def monitoring_message(
    correlation_id: str,
    status: ExportCompletionStatus,
    snapshot_type: str,
    export_date: str = "",
) -> str:
    """SNS completion-monitoring payload — delegates to the
    reference-exact builder (services.completion_monitoring_payload,
    SnsServiceImpl.kt:99-135: severity Critical + type Information on
    success, High + Warning otherwise, slack_username HTME)."""
    from .services import completion_monitoring_payload

    return json.dumps(
        completion_monitoring_payload(
            status,
            correlation_id=correlation_id,
            snapshot_type=snapshot_type,
            export_date=export_date,
        ),
        separators=(",", ":"),
    )
