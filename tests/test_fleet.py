"""Multi-topic fleet e2e under failure, with per-topic service
adapters — the concurrency scenario matrix of the reference's
docker-compose.yml:46-105 / UberTestSpec.kt:208-243 (one exporting
topic, one exporting-nothing, one failing before the sink, one
blocked, one table-unavailable), folded through one shared status
table."""

from __future__ import annotations

import json

import pytest

from dwp_hbase_to_mongo_export_spark import services as services_mod
from dwp_hbase_to_mongo_export_spark.orchestration import (
    CollectionStatus as CS,
    ExportCompletionStatus as ECS,
    ExportStatusService,
    run_fleet,
    run_topic_export,
)
from dwp_hbase_to_mongo_export_spark.sinks.snapshot import SnapshotSinkConfig
from dwp_hbase_to_mongo_export_spark.sources.hbase_cells import fixture_cells
from tests.test_services import FakeDynamo, FakePusher, FakeSns, FakeSqs

DATA_KEY_B64 = "MDEyMzQ1Njc4OWFiY2RlZjAxMjM0NTY3ODlhYmNkZWY="

OK, EMPTY, FAILING, BLOCKED, UNAVAILABLE = (
    "db.ok.one",
    "db.empty.two",
    "db.bad.three",
    "db.blocked.four",
    "db.gone.five",
)
TOPICS = [OK, EMPTY, FAILING, BLOCKED, UNAVAILABLE]


@pytest.fixture()
def fleet_run(spark, tmp_path):
    """Run the 5-scenario fleet once with per-topic adapter factories;
    yields (fleet, status service, per-topic fake clients)."""
    sqs_clients: dict[str, FakeSqs] = {}
    sns_clients: dict[str, FakeSns] = {}

    def messaging_for(topic):
        client = sqs_clients.setdefault(topic, FakeSqs())
        return services_mod.SqsMessagingService(
            client, topic_name=topic,
            snapshot_sender_queue_url="q1.fifo", data_egress_queue_url="q2",
            correlation_id="corr-fleet", retry_sleep=lambda _: None,
        )

    def sns_for(topic):
        client = sns_clients.setdefault(topic, FakeSns())
        return services_mod.SnsService(
            client, correlation_id="corr-fleet",
            monitoring_topic_arn="arn:mon", full_topic_arn="arn:full",
            snapshot_type="full", export_date="2024-01-01",
            topic_name=topic, retry_sleep=lambda _: None,
        )

    def cells_for(topic):
        if topic == FAILING:
            raise RuntimeError("scan planning blew up before any write")
        return fixture_cells(spark, n=0 if topic == EMPTY else 8, topic=topic).coalesce(1)

    def cfg_for(topic):
        return SnapshotSinkConfig(
            output_dir=str(tmp_path / topic), topic=topic, compression="gz",
            data_key_b64=DATA_KEY_B64, encrypted_data_key_b64="e", kek_id="k",
            export_prefix="exports/2024-01-01", deterministic_iv=True,
        )

    svc_status = ExportStatusService(correlation_id="corr-fleet")
    pusher = FakePusher()
    pg = services_mod.PushGatewayService(
        pusher, correlation_id="corr-fleet", snapshot_type="full",
        topic_name=OK, instance_name="i-1", export_date="2024-01-01",
        sleep=lambda _: None,
    )
    fleet = run_fleet(
        TOPICS, cells_for, cfg_for, svc_status,
        blocked_topics=(BLOCKED,), unavailable_topics=(UNAVAILABLE,),
        messaging_for=messaging_for, sns_for=sns_for, push_gateway=pg,
        export_date="2024-01-01",
    )
    return fleet, svc_status, sqs_clients, sns_clients, pusher


def test_fleet_statuses_and_terminal_fold(fleet_run):
    """Per-topic terminal statuses land in the shared table and the
    fold is COMPLETED_UNSUCCESSFULLY (terminal — never stuck
    IN_PROGRESS): one failure poisons the run even though blocked /
    unavailable / empty all count successful (kt:33-58)."""
    fleet, svc_status, *_ = fleet_run
    assert svc_status.statuses == {
        OK: CS.EXPORTED,
        EMPTY: CS.EXPORTED,
        FAILING: CS.EXPORT_FAILED,
        BLOCKED: CS.BLOCKED_TOPIC,
        UNAVAILABLE: CS.TABLE_UNAVAILABLE,
    }
    assert fleet.completion == ECS.COMPLETED_UNSUCCESSFULLY
    assert fleet.reports[OK].files and not fleet.reports[EMPTY].files
    assert "scan planning" in fleet.reports[FAILING].metrics["error"]


def test_fleet_per_topic_sqs_routing(fleet_run):
    """Every SQS payload names the topic whose adapter sent it: the
    exporting topic gets one FIFO message per file plus its data-egress
    trigger; the zero-file topic gets exactly the no-files variant and
    NO egress; failed/blocked/unavailable topics send nothing."""
    fleet, _, sqs_clients, _, _ = fleet_run

    ok_calls = sqs_clients[OK].calls
    n_files = len(fleet.reports[OK].files)
    fifo = [c for c in ok_calls if c["QueueUrl"] == "q1.fifo"]
    egress = [c for c in ok_calls if c["QueueUrl"] == "q2"]
    assert n_files > 0 and len(fifo) == n_files and len(egress) == 1
    for c in fifo:
        assert c["MessageGroupId"] == OK.replace(".", "_")
        assert json.loads(c["MessageBody"])["topic_name"] == OK
    assert json.loads(egress[0]["MessageBody"]) == services_mod.data_egress_payload(
        "exports/2024-01-01/db.ok.one-"
    )

    empty_calls = sqs_clients[EMPTY].calls
    assert len(empty_calls) == 1 and empty_calls[0]["QueueUrl"] == "q1.fifo"
    body = json.loads(empty_calls[0]["MessageBody"])
    assert body["topic_name"] == EMPTY and body["files_exported"] == 0
    assert empty_calls[0]["MessageGroupId"] == EMPTY.replace(".", "_")

    for t in (FAILING, BLOCKED, UNAVAILABLE):
        assert sqs_clients.get(t, FakeSqs()).calls == []


def test_fleet_per_topic_sns_routing(fleet_run):
    """The failing topic's OWN adapter publishes the topic-failed
    monitoring message naming that topic; no export-completed publish
    happens anywhere (the run is unsuccessful); the terminal
    completion-monitoring publish is routed once, by the LAST topic's
    adapter, with failure severity (kt:117-142)."""
    fleet, _, _, sns_clients, pusher = fleet_run

    bad = sns_clients[FAILING].calls
    assert len(bad) == 1 and bad[0]["TopicArn"] == "arn:mon"
    failed_payload = json.loads(bad[0]["Message"])
    assert FAILING in str(failed_payload)
    assert failed_payload["severity"] == "High"

    all_calls = [c for client in sns_clients.values() for c in client.calls]
    assert all(c["TopicArn"] != "arn:full" for c in all_calls)

    last = sns_clients[UNAVAILABLE].calls
    assert len(last) == 1
    terminal = json.loads(last[0]["Message"])
    assert terminal["title_text"].endswith("failed")
    assert (terminal["severity"], terminal["notification_type"]) == ("High", "Warning")
    # exactly one terminal completion publish fleet-wide
    assert (
        sum(1 for c in all_calls if "Export finished" in json.loads(c["Message"]).get("title_text", ""))
        == 1
    )
    # final metrics still pushed (then deleted) despite the failure
    assert len(pusher.pushes) == 1 and len(pusher.deletes) == 1


class FakeQueues(FakeSqs, FakeSns):
    """One recording client behind both the SQS and the SNS adapter, so
    their sends keep one order."""


@pytest.mark.parametrize("shape", ["topic", "fleet"])
def test_inventory_equals_adapter_bodies(spark, tmp_path, shape):
    """The same export run with no adapters and with recording adapters
    injected: the report's message inventory holds exactly the bodies
    the adapters were sent, in the same order. `topic` runs
    run_topic_export without adapters against a one-topic run_fleet with
    them; `fleet` runs an exported, a blocked and a failing topic."""

    def cells_for(topic):
        if topic == FAILING:
            raise RuntimeError("scan planning blew up before any write")
        return fixture_cells(spark, n=8, topic=topic).coalesce(1)

    def cfg_for(root):
        return lambda topic: SnapshotSinkConfig(
            output_dir=str(tmp_path / root / topic), topic=topic, compression="gz",
            data_key_b64=DATA_KEY_B64, encrypted_data_key_b64="e", kek_id="k",
            export_prefix="exports/2024-01-01", deterministic_iv=True,
        )

    client = FakeQueues()
    adapters = dict(
        messaging=services_mod.SqsMessagingService(
            client, topic_name="", snapshot_sender_queue_url="q1.fifo",
            data_egress_queue_url="q2", correlation_id="corr-p",
            export_date="2024-01-01", retry_sleep=lambda _: None,
        ),
        sns=services_mod.SnsService(
            client, correlation_id="corr-p", monitoring_topic_arn="arn:mon",
            full_topic_arn="arn:full", export_date="2024-01-01",
            retry_sleep=lambda _: None,
        ),
    )
    if shape == "topic":
        report = run_topic_export(
            cells_for(OK), OK, cfg_for("bare")(OK), ExportStatusService("corr-p"),
            export_date="2024-01-01",
        )
        inventory = report.messages
        run_fleet([OK], cells_for, cfg_for("adapted"), ExportStatusService("corr-p"),
                  export_date="2024-01-01", **adapters)
    else:
        topics = [OK, BLOCKED, FAILING]
        kw = dict(export_date="2024-01-01", blocked_topics=(BLOCKED,))
        inventory = run_fleet(topics, cells_for, cfg_for("bare"), ExportStatusService("corr-p"), **kw).messages
        run_fleet(topics, cells_for, cfg_for("adapted"), ExportStatusService("corr-p"), **kw, **adapters)
    sent = [json.loads(c["MessageBody"] if "MessageBody" in c else c["Message"]) for c in client.calls]
    assert [json.loads(m) for m in inventory] == sent
    assert len(client.calls) >= 4


def _status_only_fleet(topics, status=None, **kw):
    """A fleet of blocked, unavailable and pre-write-failing topics: the
    whole routing runs and no Spark job does."""

    def cells_for(topic):
        if topic == FAILING:
            raise RuntimeError("scan planning blew up before any write")

    return run_fleet(
        topics, cells_for, lambda t: None, status or ExportStatusService("corr-t"),
        blocked_topics=(BLOCKED,), unavailable_topics=(UNAVAILABLE,), **kw,
    )


@pytest.mark.parametrize(
    "topics, completion, product",
    [
        ([BLOCKED, UNAVAILABLE], ECS.COMPLETED_SUCCESSFULLY, "COMPLETED"),
        ([BLOCKED, FAILING], ECS.COMPLETED_UNSUCCESSFULLY, "FAILED"),
    ],
)
def test_terminal_fold_sets_product_status_once(topics, completion, product):
    dynamo = FakeDynamo()
    fleet = _status_only_fleet(
        topics, product_status=services_mod.DynamoDbProductStatusService(
            dynamo, correlation_id="corr-t", retry_sleep=lambda _: None,
        ),
    )
    assert fleet.completion == completion
    assert [kw["ExpressionAttributeValues"][":x"]["S"] for _, kw in dynamo.calls] == [product]


@pytest.mark.parametrize("snapshot_type", ["full", "incremental"])
@pytest.mark.parametrize("site_prefix", ["", "pdm/site"])
@pytest.mark.parametrize("topics", [[BLOCKED, UNAVAILABLE], [BLOCKED, FAILING]])
def test_terminal_fold_sends_pdm_egress_once(snapshot_type, site_prefix, topics):
    """The PDM common-model egress message goes out exactly once, on
    either terminal fold, only for incremental runs with a site prefix
    (kt:106-112); blocked, unavailable and failed topics send no egress
    of their own."""
    client = FakeSqs()
    messaging = services_mod.SqsMessagingService(
        client, topic_name="", snapshot_sender_queue_url="q1.fifo",
        data_egress_queue_url="q2", correlation_id="corr-t", retry_sleep=lambda _: None,
    )
    _status_only_fleet(
        topics, messaging=messaging, snapshot_type=snapshot_type,
        pdm_common_model_site_prefix=site_prefix,
    )
    expected = [services_mod.data_egress_payload("pdm/site")]
    if snapshot_type == "full" or not site_prefix:
        expected = []
    assert [json.loads(c["MessageBody"]) for c in client.calls] == expected


def test_in_progress_fold_routes_nothing():
    """A foreign topic still Exporting in the shared table keeps the fold
    IN_PROGRESS: no monitoring, PDM or product-status call, no inventory
    entry, and the push gateway still pushes."""
    status = ExportStatusService("corr-t")
    status.set_status("db.other.topic", CS.EXPORTING)
    sqs, sns_client, dynamo, pusher = FakeSqs(), FakeSns(), FakeDynamo(), FakePusher()
    fleet = _status_only_fleet(
        [BLOCKED, UNAVAILABLE], status,
        messaging=services_mod.SqsMessagingService(
            sqs, topic_name="", snapshot_sender_queue_url="q1.fifo",
            data_egress_queue_url="q2", correlation_id="corr-t", retry_sleep=lambda _: None,
        ),
        sns=services_mod.SnsService(
            sns_client, correlation_id="corr-t", monitoring_topic_arn="arn:mon",
            full_topic_arn="arn:full", incremental_topic_arn="arn:inc",
            retry_sleep=lambda _: None,
        ),
        product_status=services_mod.DynamoDbProductStatusService(
            dynamo, correlation_id="corr-t", retry_sleep=lambda _: None,
        ),
        push_gateway=services_mod.PushGatewayService(
            pusher, correlation_id="corr-t", snapshot_type="incremental",
            topic_name=BLOCKED, instance_name="i-1", export_date="2024-01-01",
            sleep=lambda _: None,
        ),
        snapshot_type="incremental", pdm_common_model_site_prefix="pdm/site",
    )
    assert fleet.completion == ECS.IN_PROGRESS
    assert sqs.calls == [] and sns_client.calls == [] and dynamo.calls == []
    # the default (inventory) adapters record nothing on an in-progress fold either
    assert _status_only_fleet([BLOCKED], status).messages == []
    assert len(pusher.pushes) == 1 and len(pusher.deletes) == 1
