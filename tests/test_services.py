"""Adapter tests for the production service shims (services.py): fake
clients record every request and the tests assert the exact boto3-shaped
request dicts and payload bodies the reference emits
(DynamoDBExportStatusService.kt, SQSMessagingService.kt,
SnsServiceImpl.kt, PushGatewayServiceImpl.kt). No Spark session needed.
"""

from __future__ import annotations

import json

import pytest

from dwp_hbase_to_mongo_export_spark.orchestration import ExportCompletionStatus as ECS
from dwp_hbase_to_mongo_export_spark import services as svc


class FakeDynamo:
    def __init__(self, files_exported: int = 3, statuses: list[str] | None = None):
        self.calls: list[tuple[str, dict]] = []
        self._files = files_exported
        self._statuses = statuses or []

    def update_item(self, **kw):
        self.calls.append(("update_item", kw))
        return {"Attributes": {"FilesExported": {"N": str(self._files)}, "CollectionStatus": {"S": "x"}}}

    def get_item(self, **kw):
        self.calls.append(("get_item", kw))
        return {"Item": {"FilesExported": {"N": str(self._files)}}}

    def query(self, **kw):
        self.calls.append(("query", kw))
        return {"Items": [{"CollectionStatus": {"S": s}} for s in self._statuses]}


def _dynamo(files=3, statuses=None):
    client = FakeDynamo(files, statuses)
    return client, svc.DynamoDbExportStatusService(
        client, correlation_id="corr-1", topic_name="db.database.collection",
        retry_sleep=lambda _: None,
    )


def test_dynamo_increment_request_shape():
    client, service = _dynamo()
    assert service.increment_exported_count("file-1.txt.gz.enc") == 3
    name, kw = client.calls[0]
    assert name == "update_item"
    assert kw == {
        "TableName": "UCExportToCrownStatus",
        "Key": {
            "CorrelationId": {"S": "corr-1"},
            "CollectionName": {"S": "db.database.collection"},
        },
        "UpdateExpression": "SET FilesExported = FilesExported + :x",
        "ExpressionAttributeValues": {":x": {"N": "1"}},
        "ReturnValues": "ALL_NEW",
    }


def test_dynamo_status_write_and_counters():
    client, service = _dynamo(files=0)
    service.set_exported_status()
    # status write first, then the empty/non-empty decision reads the count
    name, kw = client.calls[0]
    assert kw["UpdateExpression"] == "SET CollectionStatus = :x"
    assert kw["ExpressionAttributeValues"] == {":x": {"S": "Exported"}}
    assert service.counters == {"successful_collection": 1, "empty_collection": 1}

    client2, service2 = _dynamo(files=5)
    service2.set_exported_status()
    assert service2.counters == {
        "successful_collection": 1,
        "successful_non_empty_collection": 1,
    }
    service2.set_failed_status()
    assert service2.counters["failed_collection"] == 1


def test_dynamo_completion_fold_includes_downstream_statuses():
    # Sent/Received/Success are written by downstream services into the
    # same table and count as successful (kt:159-165)
    _, service = _dynamo(statuses=["Exported", "Sent", "Received", "Success", "Table_Unavailable"])
    assert service.export_completion_status() == ECS.COMPLETED_SUCCESSFULLY
    _, service = _dynamo(statuses=["Exported", "Exporting"])
    assert service.export_completion_status() == ECS.IN_PROGRESS
    _, service = _dynamo(statuses=["Exported", "Export_Failed"])
    assert service.export_completion_status() == ECS.COMPLETED_UNSUCCESSFULLY
    _, service = _dynamo(statuses=[])
    assert service.export_completion_status() == ECS.NOT_COMPLETED


def test_dynamo_query_request_shape():
    client, service = _dynamo(statuses=["Exported"])
    service.statuses()
    name, kw = client.calls[0]
    assert name == "query"
    assert kw["KeyConditionExpression"] == "#cId = :s"
    assert kw["ExpressionAttributeNames"] == {"#cId": "CorrelationId"}
    assert kw["ExpressionAttributeValues"] == {":s": {"S": "corr-1"}}


def test_retry_backoff_sequence():
    sleeps: list[float] = []
    attempts = {"n": 0}

    def flaky():
        attempts["n"] += 1
        if attempts["n"] < 4:
            raise RuntimeError("boom")
        return "ok"

    assert svc.retrying(flaky, sleep=sleeps.append) == "ok"
    assert sleeps == [1.0, 2.0, 4.0]  # delay=1000ms, multiplier=2

    with pytest.raises(RuntimeError):
        svc.retrying(lambda: (_ for _ in ()).throw(RuntimeError("always")), sleep=lambda _: None)


class FakeSqs:
    def __init__(self):
        self.calls: list[dict] = []

    def send_message(self, **kw):
        self.calls.append(kw)
        return {"MessageId": "m-1"}


def _sqs(**over):
    client = FakeSqs()
    service = svc.SqsMessagingService(
        client,
        topic_name="db.database.collection",
        snapshot_sender_queue_url="https://sqs/q1.fifo",
        data_egress_queue_url="https://sqs/q2",
        correlation_id="corr-1",
        retry_sleep=lambda _: None,
        **over,
    )
    return client, service


def test_sqs_snapshot_sender_fifo_message():
    client, service = _sqs()
    service.notify_snapshot_sender("prefix/db.database.collection-001.txt.gz.enc")
    (call,) = client.calls
    assert call["QueueUrl"] == "https://sqs/q1.fifo"
    assert call["MessageGroupId"] == "db_database_collection"  # dots underscored
    assert json.loads(call["MessageBody"]) == {
        "shutdown_flag": "true",
        "correlation_id": "corr-1",
        "topic_name": "db.database.collection",
        "export_date": "",
        "reprocess_files": "true",
        "s3_full_folder": "prefix/db.database.collection-001.txt.gz.enc",
        "snapshot_type": "full",
    }


def test_sqs_no_files_exported_message():
    client, service = _sqs()
    service.notify_snapshot_sender_no_files_exported()
    body = json.loads(client.calls[0]["MessageBody"])
    assert body["files_exported"] == 0
    assert "s3_full_folder" not in body


def test_sqs_trigger_flag_gates_sends():
    client, service = _sqs(trigger_snapshot_sender=False)
    service.notify_snapshot_sender("p")
    service.notify_snapshot_sender_no_files_exported()
    assert client.calls == []  # kt:21,32 — gated on trigger flag


def test_sqs_data_egress_envelope():
    client, service = _sqs()
    service.send_data_egress_message("prefix/part-001")
    (call,) = client.calls
    assert "MessageGroupId" not in call  # data-egress queue is not FIFO
    assert json.loads(call["MessageBody"]) == {
        "Records": [{"s3": {"object": {"key": "prefix/part-001"}}}]
    }


class FakeSns:
    def __init__(self):
        self.calls: list[dict] = []

    def publish(self, **kw):
        self.calls.append(kw)
        return {"MessageId": "m-1"}


def _sns(**over):
    client = FakeSns()
    kwargs = dict(
        correlation_id="corr-1",
        monitoring_topic_arn="arn:monitoring",
        full_topic_arn="arn:full",
        incremental_topic_arn="arn:incremental",
        snapshot_type="full",
        export_date="2024-01-01",
        s3_prefix="prefix/2024-01-01",
        topic_name="db.database.collection",
        retry_sleep=lambda _: None,
    )
    kwargs.update(over)
    return client, svc.SnsService(client, **kwargs)


def test_sns_completion_monitoring_payload_reference_mapping():
    client, service = _sns()
    service.send_completion_monitoring_message(ECS.COMPLETED_SUCCESSFULLY)
    msg = json.loads(client.calls[0]["Message"])
    # the reference really maps SUCCESS -> Critical/Information (kt:117-135)
    assert msg["severity"] == "Critical"
    assert msg["notification_type"] == "Information"
    assert msg["slack_username"] == "HTME"
    assert msg["title_text"] == "Full - Export finished - success"

    service.send_completion_monitoring_message(ECS.COMPLETED_UNSUCCESSFULLY)
    msg = json.loads(client.calls[1]["Message"])
    assert (msg["severity"], msg["notification_type"]) == ("High", "Warning")
    assert msg["title_text"].endswith("failed")


def test_sns_failed_topic_payload():
    client, service = _sns()
    service.send_topic_failed_monitoring_message()
    msg = json.loads(client.calls[0]["Message"])
    assert msg["title_text"] == "Full - Collection failed"
    assert {"key": "Topic", "value": "db.database.collection"} in msg["custom_elements"]


def test_sns_export_completed_routes_by_snapshot_type():
    client, service = _sns()
    service.send_export_completed_successfully_message()
    assert client.calls[0]["TopicArn"] == "arn:full"
    msg = json.loads(client.calls[0]["Message"])
    assert msg["overrides"] == {"Name": "analytical-dataset-generator-full"}
    assert msg["additional_step_args"]["submit-job"] == [
        "--correlation_id", "corr-1",
        "--s3_prefix", "prefix/2024-01-01",
        "--snapshot_type", "full",
        "--export_date", "2024-01-01",
    ]

    client2, service2 = _sns(snapshot_type="incremental")
    service2.send_export_completed_successfully_message()
    assert client2.calls[0]["TopicArn"] == "arn:incremental"


def test_sns_blank_arn_skips_publish():
    client, service = _sns(monitoring_topic_arn="")
    service.send_completion_monitoring_message(ECS.COMPLETED_SUCCESSFULLY)
    assert client.calls == []  # kt:39-48


class FakePusher:
    def __init__(self):
        self.pushes: list[tuple[str, dict]] = []
        self.deletes: list[tuple[str, dict]] = []

    def push(self, job, grouping_key):
        self.pushes.append((job, dict(grouping_key)))

    def delete(self, job, grouping_key):
        self.deletes.append((job, dict(grouping_key)))


def test_pushgateway_lifecycle():
    pusher = FakePusher()
    slept: list[float] = []
    service = svc.PushGatewayService(
        pusher,
        correlation_id="corr-1",
        snapshot_type="full",
        topic_name="db.database.collection",
        instance_name="i-0abc",
        export_date="2024-01-01",
        scrape_interval_s=70.0,
        sleep=slept.append,
    )
    service.push_metrics()
    service.push_final_metrics()
    key = {
        "type": "full",
        "topic": "db.database.collection",
        "instance": "i-0abc",
        "correlation_id": "corr-1",
        "export_date": "2024-01-01",
    }
    assert pusher.pushes == [("htme", key), ("htme", key)]
    # delete waits one scrape interval so the final push is collected
    assert slept == [70.0]
    assert pusher.deletes == [("htme", key)]


def test_pushgateway_delete_disabled():
    pusher = FakePusher()
    service = svc.PushGatewayService(
        pusher, correlation_id="c", snapshot_type="full", topic_name="t",
        instance_name="i", export_date="2024-01-01", delete_metrics=False,
        sleep=lambda _: None,
    )
    service.push_final_metrics()
    assert pusher.deletes == []


class FakeS3:
    def __init__(self):
        self.calls: list[dict] = []

    def put_object(self, **kw):
        self.calls.append(kw)
        return {"ETag": "x"}


def test_s3_snapshot_put_carries_decryption_metadata():
    client = FakeS3()
    service = svc.S3ObjectService(
        client, export_bucket="exports", topic_name="db.database.collection",
        snapshot_type="full", retry_sleep=lambda _: None,
    )
    service.put_snapshot_object(
        "prefix/db.database.collection-000-128-000001.txt.gz.enc",
        b"\x00\x01\x02",
        iv="aXY=", ciphertext_key="ck", kek_id="kek-1",
    )
    (call,) = client.calls
    assert call["Bucket"] == "exports"
    assert call["ContentType"] == "binary/octetstream"
    assert call["ContentLength"] == 3
    assert call["Metadata"] == {
        "x-amz-meta-title": "prefix/db.database.collection-000-128-000001.txt.gz.enc",
        "iv": "aXY=",
        "cipherText": "ck",
        "dataKeyEncryptionKeyId": "kek-1",
        "data_product": "db.database.collection",
        "data_product_type": "full",
    }
    assert service.put_counts == {"batch_put": 1}


def test_s3_manifest_put_plain_text():
    client = FakeS3()
    service = svc.S3ObjectService(
        client, export_bucket="exports", topic_name="db.t", retry_sleep=lambda _: None,
    )
    service.put_manifest("manifests", "streaming/full", "db.t-000-128-000001.csv", b"a|b\n")
    (call,) = client.calls
    assert call["Bucket"] == "manifests"
    assert call["Key"] == "streaming/full/db.t-000-128-000001.csv"
    assert call["ContentType"] == "text/plain"
    assert call["Metadata"] == {"x-amz-meta-title": "db.t-000-128-000001.csv"}


def test_product_status_request_shape():
    client = FakeDynamo()
    service = svc.DynamoDbProductStatusService(
        client, correlation_id="corr-1", retry_sleep=lambda _: None
    )
    service.set_completed_status()
    name, kw = client.calls[0]
    assert name == "update_item"
    assert kw == {
        "TableName": "data_pipeline_metadata",
        "Key": {"Correlation_Id": {"S": "corr-1"}, "DataProduct": {"S": "HTME"}},
        "UpdateExpression": "SET #y = :x",
        "ExpressionAttributeNames": {"#y": "Status"},
        "ExpressionAttributeValues": {":x": {"S": "COMPLETED"}},
        "ReturnValues": "ALL_NEW",
    }
    service.set_failed_status()
    assert client.calls[1][1]["ExpressionAttributeValues"] == {":x": {"S": "FAILED"}}


def test_http_key_service_contract():
    from dwp_hbase_to_mongo_export_spark.functions.crypto import (
        DataKeyDecryptionException,
        DataKeyServiceUnavailableException,
        HttpKeyService,
    )

    calls = []

    def transport(method, url, body, content_type):
        calls.append((method, url, body))
        if "/datakey/actions/decrypt" in url:
            if body == "bad":
                return 400, "no"
            return 200, '{"dataKeyEncryptionKeyId":"kek-1","plaintextDataKey":"pt==","ciphertextDataKey":"ct=="}'
        return 201, '{"dataKeyEncryptionKeyId":"kek-1","plaintextDataKey":"new==","ciphertextDataKey":"enc=="}'

    svc_k = HttpKeyService("https://dks:8443", transport=transport, retry_sleep=lambda _: None)
    # one data key per run: memoised across calls (kt:43-49)
    k1, k2 = svc_k.batch_data_key(), svc_k.batch_data_key()
    assert k1 is k2 and k1["plaintextDataKey"] == "new=="
    assert sum("/datakey?" in u for _, u, _b in calls) == 1

    # decrypt: request shape + cache by encryptedKey/kekId (kt:100-104)
    assert svc_k.decrypt_key("kek/1", "enc==") == "pt=="
    assert svc_k.decrypt_key("kek/1", "enc==") == "pt=="
    decrypts = [(m, u, b) for m, u, b in calls if "actions/decrypt" in u]
    assert len(decrypts) == 1  # second call served from cache
    m, u, b = decrypts[0]
    assert m == "POST" and b == "enc=="
    assert "keyId=kek%2F1" in u and "correlationId=" in u

    # 400 is permanent: no retries, distinct exception
    with pytest.raises(DataKeyDecryptionException):
        svc_k.decrypt_key("kek-1", "bad")
    assert len([1 for m2, u2, b2 in calls if b2 == "bad"]) == 1

    # unavailability retries 5x with doubling backoff then raises
    sleeps = []
    down = HttpKeyService(
        "https://dks:8443",
        transport=lambda *a: (503, "down"),
        retry_sleep=sleeps.append,
    )
    with pytest.raises(DataKeyServiceUnavailableException):
        down.batch_data_key()
    assert sleeps == [1.0, 2.0, 4.0, 8.0]
