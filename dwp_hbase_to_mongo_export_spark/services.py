"""Thin production service adapters: DynamoDB export-status table, SQS
messaging, SNS notifications, Prometheus pushgateway.

Reference parity targets (shapes reproduced request-for-request):
- services/impl/DynamoDBExportStatusService.kt:33-136 — status fold,
  `SET FilesExported = FilesExported + :x` / `SET CollectionStatus = :x`
  update items, (CorrelationId, CollectionName) primary key;
- services/impl/TableServiceImpl.kt:16-29 — per-correlation-id status
  query feeding the fold;
- services/impl/SQSMessagingService.kt:20-99 — snapshot-sender FIFO
  message (MessageGroupId = topic with dots underscored), the
  no-files-exported variant, and the data-egress Records/s3/object/key
  envelope;
- services/impl/SnsServiceImpl.kt:18-151 — export-completed payload
  (EMR overrides + additional_step_args) and the two monitoring
  payloads with the reference's severity/notification mapping;
- services/impl/PushGatewayServiceImpl.kt:19-49 — job "htme" with the
  (type, topic, instance, correlation_id, export_date) grouping key,
  final-push-then-delete lifecycle.

Design: every adapter takes its CLIENT as a constructor argument — a
boto3 client, a prometheus pushgateway, or a test fake exposing the same
methods. The AWS SDK / prometheus_client libraries are not required to
import this module (this sandbox has neither); `boto3_client()` /
`prometheus_pusher()` are the only functions that touch them, behind
lazy imports with a clear error. The payload contents live here only,
unit-tested with recorded request goldens; the completion fold and the
routing of every message (orchestration.after_job) live in
orchestration.py.

Retries mirror the reference's @Retryable defaults (5 attempts,
1 s delay, x2 backoff) with an injectable sleep.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from .orchestration import ExportCompletionStatus, completion_fold

# ExportCompletionStatus.kt:3-8 — the human description used in
# monitoring title_text.
COMPLETION_DESCRIPTION = {
    ExportCompletionStatus.COMPLETED_SUCCESSFULLY: "success",
    ExportCompletionStatus.COMPLETED_UNSUCCESSFULLY: "failed",
    ExportCompletionStatus.IN_PROGRESS: "in progress",
    ExportCompletionStatus.NOT_COMPLETED: "not completed",
}


def retrying(
    fn: Callable[[], Any],
    max_attempts: int = 5,
    delay: float = 1.0,
    multiplier: float = 2.0,
    sleep: Callable[[float], None] = time.sleep,
) -> Any:
    """@Retryable(maxAttempts=5, backoff delay=1000 multiplier=2)
    equivalent (DynamoDBExportStatusService.kt:26-29 et al.)."""
    attempt, wait = 0, delay
    while True:
        try:
            return fn()
        except Exception:
            attempt += 1
            if attempt >= max_attempts:
                raise
            sleep(wait)
            wait *= multiplier


def boto3_client(service: str, **kwargs: Any) -> Any:
    """Lazily construct a boto3 client; this sandbox ships no AWS SDK, so
    the import lives here and nowhere else."""
    try:
        import boto3  # type: ignore[import-not-found]
    except ImportError as e:  # pragma: no cover - no boto3 in test env
        raise ImportError(
            "boto3 is required for the production AWS adapters; install it "
            "or inject a compatible client/fake instead"
        ) from e
    return boto3.client(service, **kwargs)


# --------------------------------------------------------------------------
# DynamoDB status table
# --------------------------------------------------------------------------


@dataclass
class DynamoDbExportStatusService:
    """DynamoDBExportStatusService.kt:19-167 against any client exposing
    boto3's dynamodb `update_item` / `get_item` / `query` surface.

    Key schema and update expressions are byte-identical to the
    reference: primary key (CorrelationId S, CollectionName S), counter
    increment `SET FilesExported = FilesExported + :x`, status write
    `SET CollectionStatus = :x`, both with ReturnValues=ALL_NEW."""

    client: Any
    correlation_id: str
    topic_name: str
    table_name: str = "UCExportToCrownStatus"
    counters: dict[str, int] = field(default_factory=dict)
    retry_sleep: Callable[[float], None] = time.sleep

    def _key(self) -> dict:
        return {
            "CorrelationId": {"S": self.correlation_id},
            "CollectionName": {"S": self.topic_name},
        }

    def _retry(self, fn: Callable[[], Any]) -> Any:
        return retrying(fn, sleep=self.retry_sleep)

    def increment_exported_count(self, exported_file: str = "", n: int = 1) -> int:
        """Reference shape: +1 per exported file
        (DynamoDBExportStatusService.kt:60-73). Also accepts the
        orchestrator's (collection, n) positional call — the first
        positional is informational either way, and :x carries n."""
        result = self._retry(
            lambda: self.client.update_item(
                TableName=self.table_name,
                Key=self._key(),
                UpdateExpression="SET FilesExported = FilesExported + :x",
                ExpressionAttributeValues={":x": {"N": str(int(n))}},
                ReturnValues="ALL_NEW",
            )
        )
        return int(result["Attributes"]["FilesExported"]["N"])

    def exported_files_count(self) -> int:
        result = self._retry(
            lambda: self.client.get_item(
                TableName=self.table_name,
                Key=self._key(),
                AttributesToGet=["FilesExported"],
            )
        )
        n = result.get("Item", {}).get("FilesExported", {}).get("N")
        return int(n) if n is not None else -1

    def _set_status(self, status: str) -> dict:
        return self._retry(
            lambda: self.client.update_item(
                TableName=self.table_name,
                Key=self._key(),
                UpdateExpression="SET CollectionStatus = :x",
                ExpressionAttributeValues={":x": {"S": status}},
                ReturnValues="ALL_NEW",
            )
        )

    def set_exported_status(self) -> None:
        """kt:78-89 — status + success counter, then empty-vs-non-empty
        counter by the exported-file count."""
        self._set_status("Exported")
        self._bump("successful_collection")
        if self.exported_files_count() == 0:
            self._bump("empty_collection")
        else:
            self._bump("successful_non_empty_collection")

    def set_failed_status(self) -> None:
        self._set_status("Export_Failed")
        self._bump("failed_collection")

    def set_table_unavailable_status(self) -> None:
        self._set_status("Table_Unavailable")

    def set_blocked_topic_status(self) -> None:
        self._set_status("Blocked_Topic")

    def statuses(self) -> list[str]:
        """TableServiceImpl.statuses (kt:16-29): every collection's
        status under this correlation id. Follows LastEvaluatedKey —
        a fleet big enough to exceed DynamoDB's 1 MB query page would
        otherwise fold over a TRUNCATED status set and could declare
        completion while unfetched rows are still Exporting."""
        items: list[dict] = []
        start_key: dict | None = None
        while True:
            kwargs = {
                "TableName": self.table_name,
                "KeyConditionExpression": "#cId = :s",
                "ExpressionAttributeNames": {"#cId": "CorrelationId"},
                "ExpressionAttributeValues": {":s": {"S": self.correlation_id}},
            }
            if start_key is not None:
                kwargs["ExclusiveStartKey"] = start_key
            result = self._retry(lambda kw=kwargs: self.client.query(**kw))
            items.extend(result.get("Items", []))
            start_key = result.get("LastEvaluatedKey")
            if not start_key:
                break
        return [item["CollectionStatus"]["S"] for item in items]

    def export_completion_status(self) -> ExportCompletionStatus:
        return completion_fold(self.statuses())

    # -- orchestration.ExportStatusService interface compatibility ------
    # run_fleet's docstring offers this adapter as the per-topic
    # production status service; these shims make that wiring actually
    # hold (the adapter is per-topic, so `collection` is validated
    # against the constructor topic rather than re-keying the item).

    def set_status(self, collection: str, status) -> None:
        value = getattr(status, "value", str(status))
        if collection != self.topic_name:
            raise ValueError(
                f"per-topic adapter for {self.topic_name!r} got status for "
                f"{collection!r}; use a status_service factory per topic"
            )
        if value == "Exported":
            self.set_exported_status()
        elif value == "Export_Failed":
            self.set_failed_status()
        elif value == "Table_Unavailable":
            self.set_table_unavailable_status()
        elif value == "Blocked_Topic":
            self.set_blocked_topic_status()
        else:
            self._set_status(value)

    def completion(self) -> ExportCompletionStatus:
        return self.export_completion_status()

    def _bump(self, counter: str) -> None:
        self.counters[counter] = self.counters.get(counter, 0) + 1


@dataclass
class DynamoDbProductStatusService:
    """DynamoDBProductStatusService.kt:16-61: the run-level product
    status row other pipeline stages watch — key (Correlation_Id,
    DataProduct="HTME") in the data_pipeline_metadata table,
    `SET #y = :x` with #y -> Status."""

    client: Any
    correlation_id: str
    table_name: str = "data_pipeline_metadata"
    retry_sleep: Callable[[float], None] = time.sleep

    def _set_status(self, status: str) -> dict:
        return retrying(
            lambda: self.client.update_item(
                TableName=self.table_name,
                Key={
                    "Correlation_Id": {"S": self.correlation_id},
                    "DataProduct": {"S": "HTME"},
                },
                UpdateExpression="SET #y = :x",
                ExpressionAttributeNames={"#y": "Status"},
                ExpressionAttributeValues={":x": {"S": status}},
                ReturnValues="ALL_NEW",
            ),
            sleep=self.retry_sleep,
        )

    def set_completed_status(self) -> None:
        self._set_status("COMPLETED")

    def set_failed_status(self) -> None:
        self._set_status("FAILED")


# --------------------------------------------------------------------------
# SQS messaging
# --------------------------------------------------------------------------


def snapshot_sender_payload(
    *,
    correlation_id: str,
    topic_name: str,
    export_date: str,
    reprocess_files: bool,
    shutdown_flag: bool,
    s3_full_folder: str,
    snapshot_type: str,
) -> dict:
    """SQSMessagingService.message (kt:62-72)."""
    return {
        "shutdown_flag": str(shutdown_flag).lower(),
        "correlation_id": correlation_id,
        "topic_name": topic_name,
        "export_date": export_date,
        "reprocess_files": str(reprocess_files).lower(),
        "s3_full_folder": s3_full_folder,
        "snapshot_type": snapshot_type,
    }


def snapshot_sender_no_files_payload(
    *,
    correlation_id: str,
    topic_name: str,
    export_date: str,
    reprocess_files: bool,
    shutdown_flag: bool,
    snapshot_type: str,
) -> dict:
    """SQSMessagingService.noFilesExportedMessage (kt:74-84)."""
    return {
        "shutdown_flag": str(shutdown_flag).lower(),
        "correlation_id": correlation_id,
        "topic_name": topic_name,
        "export_date": export_date,
        "reprocess_files": str(reprocess_files).lower(),
        "snapshot_type": snapshot_type,
        "files_exported": 0,
    }


def data_egress_payload(key: str) -> dict:
    """SQSMessagingService.dataEgressRisMessage (kt:87-99) — an
    S3-event-shaped envelope."""
    return {"Records": [{"s3": {"object": {"key": key}}}]}


@dataclass
class SqsMessagingService:
    """SQSMessagingService.kt:14-131 against any client exposing boto3
    sqs `send_message`. The snapshot-sender queue is FIFO — MessageGroupId
    is the topic with dots underscored (kt:49-54); the data-egress queue
    is not."""

    client: Any
    topic_name: str
    snapshot_sender_queue_url: str
    data_egress_queue_url: str
    correlation_id: str
    snapshot_type: str = "full"
    export_date: str = ""
    reprocess_files: bool = True
    shutdown_flag: bool = True
    trigger_snapshot_sender: bool = True
    retry_sleep: Callable[[float], None] = time.sleep

    def _send_fifo(self, body: str, queue_url: str) -> None:
        retrying(
            lambda: self.client.send_message(
                QueueUrl=queue_url,
                MessageBody=body,
                MessageGroupId=self.topic_name.replace(".", "_"),
            ),
            sleep=self.retry_sleep,
        )

    def notify_snapshot_sender(self, prefix: str) -> None:
        if not self.trigger_snapshot_sender:
            return
        body = json.dumps(
            snapshot_sender_payload(
                correlation_id=self.correlation_id,
                topic_name=self.topic_name,
                export_date=self.export_date,
                reprocess_files=self.reprocess_files,
                shutdown_flag=self.shutdown_flag,
                s3_full_folder=prefix,
                snapshot_type=self.snapshot_type,
            )
        )
        self._send_fifo(body, self.snapshot_sender_queue_url)

    def notify_snapshot_sender_no_files_exported(self) -> None:
        if not self.trigger_snapshot_sender:
            return
        body = json.dumps(
            snapshot_sender_no_files_payload(
                correlation_id=self.correlation_id,
                topic_name=self.topic_name,
                export_date=self.export_date,
                reprocess_files=self.reprocess_files,
                shutdown_flag=self.shutdown_flag,
                snapshot_type=self.snapshot_type,
            )
        )
        self._send_fifo(body, self.snapshot_sender_queue_url)

    def send_data_egress_message(self, prefix: str) -> None:
        retrying(
            lambda: self.client.send_message(
                QueueUrl=self.data_egress_queue_url,
                MessageBody=json.dumps(data_egress_payload(prefix)),
            ),
            sleep=self.retry_sleep,
        )


# --------------------------------------------------------------------------
# SNS notifications
# --------------------------------------------------------------------------


def export_completed_payload(
    *, correlation_id: str, s3_prefix: str, snapshot_type: str, export_date: str
) -> dict:
    """SnsServiceImpl.exportCompletedPayload (kt:50-75) — the EMR launch
    override + per-step args."""
    step_args = [
        "--correlation_id",
        correlation_id,
        "--s3_prefix",
        s3_prefix,
        "--snapshot_type",
        snapshot_type,
        "--export_date",
        export_date,
    ]
    return {
        "overrides": {"Name": f"analytical-dataset-generator-{snapshot_type}"},
        "additional_step_args": {
            "submit-job": step_args,
            "courtesy-flush": step_args,
            "send_notification": step_args,
        },
    }


def failed_topic_monitoring_payload(
    *, correlation_id: str, topic_name: str, snapshot_type: str, export_date: str
) -> dict:
    """SnsServiceImpl.failedTopicMonitoringPayload (kt:77-97)."""
    return {
        "severity": "High",
        "notification_type": "Warning",
        "slack_username": "HTME",
        "title_text": f"{snapshot_type.capitalize()} - Collection failed",
        "custom_elements": [
            {"key": "Export date", "value": export_date},
            {"key": "Correlation Id", "value": correlation_id},
            {"key": "Topic", "value": topic_name},
        ],
    }


def completion_monitoring_payload(
    status: ExportCompletionStatus,
    *,
    correlation_id: str,
    snapshot_type: str,
    export_date: str,
) -> dict:
    """SnsServiceImpl.completionMonitoringPayload (kt:99-135). NB the
    reference's mapping really is severity=Critical / type=Information
    for SUCCESS and High/Warning otherwise (kt:117-135)."""
    success = status == ExportCompletionStatus.COMPLETED_SUCCESSFULLY
    return {
        "severity": "Critical" if success else "High",
        "notification_type": "Information" if success else "Warning",
        "slack_username": "HTME",
        "title_text": (
            f"{snapshot_type.capitalize()} - Export finished - "
            f"{COMPLETION_DESCRIPTION[status]}"
        ),
        "custom_elements": [
            {"key": "Export date", "value": export_date},
            {"key": "Correlation Id", "value": correlation_id},
        ],
    }


@dataclass
class SnsService:
    """SnsServiceImpl.kt:16-177 against any client exposing boto3 sns
    `publish`. Blank ARNs silently skip the publish (kt:39-48)."""

    client: Any
    correlation_id: str
    monitoring_topic_arn: str = ""
    full_topic_arn: str = ""
    incremental_topic_arn: str = ""
    snapshot_type: str = "full"
    export_date: str = ""
    s3_prefix: str = ""
    topic_name: str = ""
    retry_sleep: Callable[[float], None] = time.sleep

    def _publish(self, arn: str, payload: dict) -> None:
        if not arn.strip():
            return
        retrying(
            lambda: self.client.publish(TopicArn=arn, Message=json.dumps(payload)),
            sleep=self.retry_sleep,
        )

    def send_export_completed_successfully_message(self) -> None:
        arn = (
            self.full_topic_arn
            if self.snapshot_type == "full"
            else self.incremental_topic_arn
        )
        self._publish(
            arn,
            export_completed_payload(
                correlation_id=self.correlation_id,
                s3_prefix=self.s3_prefix,
                snapshot_type=self.snapshot_type,
                export_date=self.export_date,
            ),
        )

    def send_topic_failed_monitoring_message(self) -> None:
        self._publish(
            self.monitoring_topic_arn,
            failed_topic_monitoring_payload(
                correlation_id=self.correlation_id,
                topic_name=self.topic_name,
                snapshot_type=self.snapshot_type,
                export_date=self.export_date,
            ),
        )

    def send_completion_monitoring_message(self, status: ExportCompletionStatus) -> None:
        self._publish(
            self.monitoring_topic_arn,
            completion_monitoring_payload(
                status,
                correlation_id=self.correlation_id,
                snapshot_type=self.snapshot_type,
                export_date=self.export_date,
            ),
        )


# --------------------------------------------------------------------------
# S3 object puts
# --------------------------------------------------------------------------


@dataclass
class S3ObjectService:
    """S3ObjectServiceImpl.kt:17-58 + StreamingManifestWriter.kt:23-65
    against any client exposing boto3 s3 `put_object`.

    Snapshot puts carry the decryption material as USER METADATA — the
    downstream snapshot-sender reads iv/cipherText/dataKeyEncryptionKeyId
    off the object, which is why the sink returns per-file metadata rows
    (sinks/snapshot.py FILE_META_SCHEMA maps 1:1 onto this call).
    Manifest puts are plain text/plain objects under the manifest
    prefix."""

    client: Any
    export_bucket: str
    topic_name: str
    snapshot_type: str = "full"
    retry_sleep: Callable[[float], None] = time.sleep
    put_counts: dict[str, int] = field(default_factory=dict)

    def put_snapshot_object(
        self,
        object_key: str,
        body: bytes,
        *,
        iv: str,
        ciphertext_key: str,
        kek_id: str,
    ) -> None:
        retrying(
            lambda: self.client.put_object(
                Bucket=self.export_bucket,
                Key=object_key,
                Body=body,
                ContentType="binary/octetstream",
                ContentLength=len(body),
                Metadata={
                    "x-amz-meta-title": object_key,
                    "iv": iv,
                    "cipherText": ciphertext_key,
                    "dataKeyEncryptionKeyId": kek_id,
                    "data_product": self.topic_name,
                    "data_product_type": self.snapshot_type,
                },
            ),
            sleep=self.retry_sleep,
        )
        self._bump("batch_put")

    def put_manifest(
        self, manifest_bucket: str, manifest_prefix: str, file_name: str, body: bytes
    ) -> None:
        retrying(
            lambda: self.client.put_object(
                Bucket=manifest_bucket,
                Key=f"{manifest_prefix}/{file_name}",
                Body=body,
                ContentType="text/plain",
                ContentLength=len(body),
                Metadata={"x-amz-meta-title": file_name},
            ),
            sleep=self.retry_sleep,
        )
        self._bump("manifest_put")

    def _bump(self, counter: str) -> None:
        self.put_counts[counter] = self.put_counts.get(counter, 0) + 1


# --------------------------------------------------------------------------
# Prometheus pushgateway
# --------------------------------------------------------------------------


def prometheus_pusher(gateway_url: str) -> Any:
    """A pusher exposing push(job, grouping_key)/delete(job, grouping_key)
    over prometheus_client's default registry; the library import is
    local so the module works without it (inject a fake instead)."""
    try:
        from prometheus_client import (  # type: ignore[import-not-found]
            REGISTRY,
            delete_from_gateway,
            push_to_gateway,
        )
    except ImportError as e:  # pragma: no cover - not in test env
        raise ImportError(
            "prometheus_client is required for the pushgateway adapter; "
            "install it or inject a compatible pusher/fake instead"
        ) from e

    class _Pusher:
        def push(self, job: str, grouping_key: dict) -> None:
            push_to_gateway(gateway_url, job=job, registry=REGISTRY, grouping_key=grouping_key)

        def delete(self, job: str, grouping_key: dict) -> None:
            delete_from_gateway(gateway_url, job=job, grouping_key=grouping_key)

    return _Pusher()


@dataclass
class PushGatewayService:
    """PushGatewayServiceImpl.kt:16-70: periodic push of job "htme" under
    the (type, topic, instance, correlation_id, export_date) grouping
    key; on completion push once more, then delete the group after one
    scrape interval so the gateway doesn't serve stale series forever."""

    pusher: Any
    correlation_id: str
    snapshot_type: str
    topic_name: str
    instance_name: str
    export_date: str  # yyyy-MM-dd; the reference stamps "today"
    delete_metrics: bool = True
    scrape_interval_s: float = 70.0
    job: str = "htme"
    sleep: Callable[[float], None] = time.sleep

    def grouping_key(self) -> dict:
        return {
            "type": self.snapshot_type,
            "topic": self.topic_name,
            "instance": self.instance_name,
            "correlation_id": self.correlation_id,
            "export_date": self.export_date,
        }

    def push_metrics(self) -> None:
        self.pusher.push(self.job, self.grouping_key())

    def push_final_metrics(self) -> None:
        self.push_metrics()
        self.delete(self.job)

    def delete(self, job: str) -> None:
        if self.delete_metrics:
            # wait one scrape so Prometheus collects the final push first
            self.sleep(self.scrape_interval_s)
            self.pusher.delete(job, self.grouping_key())
