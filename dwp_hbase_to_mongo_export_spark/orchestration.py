"""Run orchestration: per-collection status tracking, the completion
fold, and after_job, the one router of every downstream message.

Reference: services/impl/DynamoDBExportStatusService.kt:33-121 (status
fold + increments), batch/JobCompletionNotificationListener.kt:47-141
(afterJob: per-topic sends, then the fold and the terminal routing).
The message payload shapes (SQSMessagingService.kt:20-99,
SnsServiceImpl.kt:51-135) live only in services.py.

All driver-side: the heavy lifting happened in the DataFrame job; these
are bookkeeping calls after actions complete. External services (DynamoDB
/SQS/SNS via boto3, Prometheus pushgateway) are the services.py adapters
over injectable clients. A run given no SQS/SNS adapter drives the real
ones over an in-memory recording client, so a report's `messages` are
the bodies those adapters sent: the inventory is the record of what was
sent, not a second copy of the routing.
"""

from __future__ import annotations

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


# DynamoDBExportStatusService.kt:159-165 — the fold also counts states
# the DOWNSTREAM snapshot sender writes into the same table
# (Sent/Received/Success); CollectionStatus members match as strings.
SUCCESSFUL_COMPLETION_STATUSES = (
    "Exported",
    "Sent",
    "Received",
    "Success",
    "Table_Unavailable",
    "Blocked_Topic",
)
UNSUCCESSFUL_COMPLETION_STATUSES = ("Export_Failed",)
IN_PROGRESS_COMPLETION_STATUSES = ("Exporting",)


def completion_fold(statuses: list[str]) -> ExportCompletionStatus:
    """DynamoDBExportStatusService.exportCompletionStatus (kt:30-58)
    over status strings or ``CollectionStatus`` members:
    all-successful > any-in-progress > any-failed > not-completed."""
    if statuses and all(s in SUCCESSFUL_COMPLETION_STATUSES for s in statuses):
        return ExportCompletionStatus.COMPLETED_SUCCESSFULLY
    if any(s in IN_PROGRESS_COMPLETION_STATUSES for s in statuses):
        return ExportCompletionStatus.IN_PROGRESS
    if any(s in UNSUCCESSFUL_COMPLETION_STATUSES for s in statuses):
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


@dataclass
class RunReport:
    """What JobCompletionNotificationListener.afterJob (kt:47-141) leaves
    behind for one topic: terminal status, file inventory, counters, and
    `messages`, the bodies after_job sent through its default SQS/SNS
    adapters (none for a service whose adapter the caller injected).
    `export_prefix` is the sink config's prefix the data-egress message
    names."""

    topic: str
    status: CollectionStatus
    files: list = field(default_factory=list)  # per-file metadata Rows
    metrics: dict = field(default_factory=dict)
    messages: list[str] = field(default_factory=list)
    export_prefix: str = ""


class _SentBodies(list):
    """The in-memory client behind after_job's default adapters: boto3's
    sqs `send_message` and sns `publish` surfaces, keeping each message
    body in send order."""

    def send_message(self, *, MessageBody: str, **_) -> None:
        self.append(MessageBody)

    def publish(self, *, Message: str, **_) -> None:
        self.append(Message)


def after_job(
    report: RunReport,
    status_service,
    messaging=None,
    sns=None,
    *,
    product_status=None,
    snapshot_type: str = "full",
    export_date: str = "",
    s3_prefix: str = "",
    pdm_common_model_site_prefix: str = "",
) -> list[str]:
    """JobCompletionNotificationListener.afterJob (kt:47-141) for one
    topic's report: the only place a downstream message is decided.

    The topic's own sends come first: an export with files notifies the
    snapshot sender once per file, then sends the data-egress message
    naming `{export_prefix}/{topic}-` (kt:117-121); an export with no
    files sends the no-files variant; a failed topic publishes its
    topic-failed monitoring message. Then the shared status table is
    folded (kt:33-58). A successful terminal fold publishes
    export-completed, then completion monitoring; an unsuccessful one
    publishes completion monitoring only. Either terminal fold sends the
    incremental PDM egress message when a site prefix is configured
    (kt:106-112) and sets the product status (kt:126-135). An in-progress
    fold sends nothing, so only the last finisher routes the run's
    terminal messages.

    `messaging` / `sns` are services.SqsMessagingService / SnsService
    (or fakes with their methods); `product_status` is
    services.DynamoDbProductStatusService. A messaging or sns left None
    is the real adapter over one in-memory recording client; the bodies
    that client received are returned in send order."""
    from .services import SnsService, SqsMessagingService

    sent = _SentBodies()
    run = dict(
        correlation_id=status_service.correlation_id,
        topic_name=report.topic,
        snapshot_type=snapshot_type,
        export_date=export_date,
    )
    if messaging is None:
        queues = ("snapshot_sender_queue_url", "data_egress_queue_url")
        messaging = SqsMessagingService(sent, **dict.fromkeys(queues, "inventory"), **run)
    if sns is None:
        arns = ("monitoring_topic_arn", "full_topic_arn", "incremental_topic_arn")
        sns = SnsService(sent, s3_prefix=s3_prefix, **dict.fromkeys(arns, "inventory"), **run)

    if report.status == CollectionStatus.EXPORTED and report.files:
        for f in report.files:
            messaging.notify_snapshot_sender(f.object_key)
        messaging.send_data_egress_message(f"{report.export_prefix}/{report.topic}-")
    elif report.status == CollectionStatus.EXPORTED:
        messaging.notify_snapshot_sender_no_files_exported()
    elif report.status == CollectionStatus.EXPORT_FAILED:
        sns.send_topic_failed_monitoring_message()

    completion = status_service.completion()
    succeeded = completion == ExportCompletionStatus.COMPLETED_SUCCESSFULLY
    if not succeeded and completion != ExportCompletionStatus.COMPLETED_UNSUCCESSFULLY:
        return list(sent)
    if succeeded:
        sns.send_export_completed_successfully_message()
    sns.send_completion_monitoring_message(completion)
    if snapshot_type == "incremental" and pdm_common_model_site_prefix:
        messaging.send_data_egress_message(pdm_common_model_site_prefix)
    if product_status is not None:
        if succeeded:
            product_status.set_completed_status()
        else:
            product_status.set_failed_status()
    return list(sent)


def _export(
    cells,
    topic: str,
    sink_cfg,
    status_service: ExportStatusService,
    *,
    scan_time_range: tuple[int, int] | None = None,
    blocked_topics: tuple[str, ...] = (),
) -> RunReport:
    """The export itself: blocked-topic gate -> one export pass -> status
    writes. Sends nothing; after_job routes the messages."""
    from .pipeline import BlockedTopicError, scan_cells
    from .sinks.snapshot import export_envelopes

    try:
        cells = scan_cells(
            cells, topic, scan_time_range=scan_time_range, blocked_topics=blocked_topics
        )
    except BlockedTopicError:
        status_service.set_status(topic, CollectionStatus.BLOCKED_TOPIC)
        return RunReport(topic, CollectionStatus.BLOCKED_TOPIC)

    try:
        files, counters = export_envelopes(cells, topic, sink_cfg)
    except Exception:
        status_service.set_status(topic, CollectionStatus.EXPORT_FAILED)
        raise
    status_service.increment_exported_count(topic, len(files))
    status_service.set_status(topic, CollectionStatus.EXPORTED)
    return RunReport(
        topic,
        CollectionStatus.EXPORTED,
        files=files,
        metrics={**counters, "files_exported": len(files)},
        export_prefix=sink_cfg.export_prefix,
    )


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
    manifests -> status increments -> terminal status -> after_job,
    whose sent bodies become the report's `messages`.

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
    job, exactly like the reference's pre-flight gate. A failing export
    marks the topic Export_Failed and raises."""
    report = _export(
        cells, topic, sink_cfg, status_service,
        scan_time_range=scan_time_range, blocked_topics=blocked_topics,
    )
    report.messages = after_job(
        report, status_service, snapshot_type=snapshot_type, export_date=export_date
    )
    return report


@dataclass
class FleetReport:
    """Outcome of a multi-topic run: per-topic reports, the cross-topic
    completion fold, and `messages`, every body after_job sent through
    its default adapters, in send order across the topics."""

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
    pdm_common_model_site_prefix: str = "",
) -> FleetReport:
    """SURVEY §3.3 fleet semantics: the reference runs ONE JVM per topic
    (docker-compose.yml:46-105) and coordinates exclusively through the
    shared status table — every job's afterJob queries ALL rows for its
    correlation id (TableServiceImpl.kt:16-29) and folds them
    (DynamoDBExportStatusService.kt:30-46); the LAST finisher (the one
    whose fold comes back terminal) routes the terminal messages
    (JobCompletionNotificationListener.kt:47-141).

    Spark form: a driver loop over topics against one SparkSession —
    each topic's export is its own job (Spark schedules them over the
    same executors), and after_job runs after each, unavailable and
    failed topics included. `status_service` is the shared table: the
    in-memory service here, or services.DynamoDbExportStatusService per
    topic in production. `cells_for(topic)` / `sink_cfg_for(topic)`
    supply each topic's input frame and sink config; the sink config's
    `export_prefix` is the prefix the topic's data-egress message names.
    Table-unavailable topics mirror the reference's pre-scan check
    (HBaseReader.kt table existence): status-only, no job.

    Optional service adapters (services.py — or fakes) receive
    after_job's sends: `messaging` / `messaging_for(topic)`
    (SqsMessagingService), `sns` / `sns_for(topic)` (SnsService) and
    `product_status` (DynamoDbProductStatusService); `push_gateway`
    (PushGatewayService) gets push_final_metrics at the end, whatever
    the fold. A service left without an adapter is sent to through the
    real adapter over an in-memory client, and the fleet's `messages`
    are the bodies that client received."""
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

    for topic in topics:
        if topic in unavailable_topics:
            status_service.set_status(topic, CollectionStatus.TABLE_UNAVAILABLE)
            report = RunReport(topic, CollectionStatus.TABLE_UNAVAILABLE)
        else:
            try:
                report = _export(
                    cells_for(topic),
                    topic,
                    sink_cfg_for(topic),
                    status_service,
                    blocked_topics=blocked_topics,
                )
            except Exception as e:
                # _export sets EXPORT_FAILED only for sink-write
                # failures; cells_for(topic) / plan construction can raise
                # before any write, which would leave the topic Exporting
                # and the completion fold IN_PROGRESS forever. Set it here
                # unconditionally (idempotent when the sink already did),
                # like the reference marks failure on ANY job failure
                # (JobCompletionNotificationListener.afterJob).
                status_service.set_status(topic, CollectionStatus.EXPORT_FAILED)
                report = RunReport(
                    topic, CollectionStatus.EXPORT_FAILED, metrics={"error": str(e)}
                )
        report.messages = after_job(
            report,
            status_service,
            _adapter_for(topic, messaging_for, messaging),
            _adapter_for(topic, sns_for, sns),
            product_status=product_status,
            snapshot_type=snapshot_type,
            export_date=export_date,
            s3_prefix=s3_prefix,
            pdm_common_model_site_prefix=pdm_common_model_site_prefix,
        )
        reports[topic] = report
        messages += report.messages
    if push_gateway is not None:
        push_gateway.push_final_metrics()
    return FleetReport(reports, status_service.completion(), messages)
