"""Sink tests mirroring S3StreamingWriterTest: faithful bytes
(decrypt∘decompress == input), size-based chunking, manifest fidelity —
plus the orchestration status fold matrix
(JobCompletionNotificationListenerTest)."""

from __future__ import annotations

import bz2
import glob
import pytest
import gzip
import json
import os

from pyspark.sql import functions as F

from dwp_hbase_to_mongo_export_spark.functions.crypto import aes_ctr_decrypt
from dwp_hbase_to_mongo_export_spark.orchestration import (
    CollectionStatus as CS,
    ExportCompletionStatus as ECS,
    ExportStatusService,
    completion_fold,
)
from dwp_hbase_to_mongo_export_spark.pipeline import export_topic
from dwp_hbase_to_mongo_export_spark.sinks.manifest_csv import write_manifest_csv
from dwp_hbase_to_mongo_export_spark.sinks.snapshot import (
    SnapshotSinkConfig,
    write_encrypted_snapshots,
    write_snapshot_text,
)
from dwp_hbase_to_mongo_export_spark.sources.hbase_cells import DATA_KEY_B64, fixture_cells

import base64


def test_encrypted_snapshot_roundtrip(spark, tmp_path):
    cells = fixture_cells(spark, n=50)
    res = export_topic(cells, "db.database.collection")
    sink_frame = res.extra["sink_frame"].coalesce(1)
    cfg = SnapshotSinkConfig(
        output_dir=str(tmp_path),
        topic="db.database.collection",
        max_batch_bytes=2000,  # force several rolls
        compression="gz",
        data_key_b64=DATA_KEY_B64,
        encrypted_data_key_b64="enc-key-b64",
        kek_id="local-kek-1",
        deterministic_iv=True,
    )
    metas = write_encrypted_snapshots(sink_frame, cfg)
    assert len(metas) > 1  # rolled
    total_records = 0
    all_lines = []
    for m in metas:
        assert m.batch_size_bytes <= 2000
        raw = open(os.path.join(str(tmp_path), m.object_key), "rb").read()
        body = gzip.decompress(
            aes_ctr_decrypt(DATA_KEY_B64, m.iv, base64.b64encode(raw).decode())
        )
        lines = body.decode().splitlines()
        assert len(lines) == m.records_in_batch
        total_records += len(lines)
        all_lines.extend(lines)
        # aligned manifest exists with same record count
        mlines = open(os.path.join(str(tmp_path), m.manifest_key)).read().splitlines()
        assert len(mlines) == len(lines)
        assert all(len(line.split("|")) == 8 for line in mlines)
    assert total_records == 50
    assert all(line.startswith("{") for line in all_lines)


def test_plaintext_snapshot_bz2(spark, tmp_path):
    cells = fixture_cells(spark, n=10)
    res = export_topic(cells, "db.database.collection")
    cfg = SnapshotSinkConfig(
        output_dir=str(tmp_path),
        topic="db.database.collection",
        max_batch_bytes=10**9,
        compression="bz2",
    )
    metas = write_encrypted_snapshots(res.extra["sink_frame"].coalesce(1), cfg)
    assert len(metas) == 1
    body = bz2.decompress(open(os.path.join(str(tmp_path), metas[0].object_key), "rb").read())
    assert len(body.decode().splitlines()) == 10


def test_spark_native_text_sink(spark, tmp_path):
    cells = fixture_cells(spark, n=20)
    res = export_topic(cells, "db.database.collection")
    out = str(tmp_path / "txt")
    write_snapshot_text(res.records, out, compression="gzip")
    read_back = spark.read.text(out)
    assert read_back.count() == 20


def test_manifest_csv_sink(spark, tmp_path):
    cells = fixture_cells(spark, n=10)
    res = export_topic(cells, "db.database.collection")
    out = str(tmp_path / "manifest")
    write_manifest_csv(res.manifest, out)
    files = glob.glob(out + "/*.csv")
    assert files
    lines = [line for f in files for line in open(f).read().splitlines()]
    assert len(lines) == 10
    assert all(line.count("|") >= 7 for line in lines)


# --- completion fold matrix (DynamoDBExportStatusService.kt:33-58) ----------


def test_completion_fold_matrix():
    assert completion_fold([CS.EXPORTED, CS.BLOCKED_TOPIC, CS.TABLE_UNAVAILABLE]) == ECS.COMPLETED_SUCCESSFULLY
    assert completion_fold([CS.EXPORTED, CS.EXPORTING]) == ECS.IN_PROGRESS
    assert completion_fold([CS.EXPORTED, CS.EXPORT_FAILED]) == ECS.COMPLETED_UNSUCCESSFULLY
    assert completion_fold([]) == ECS.NOT_COMPLETED


def test_status_service_increments():
    svc = ExportStatusService("corr-1")
    svc.set_status("c1", CS.EXPORTED)
    svc.increment_exported_count("c1")
    svc.increment_exported_count("c1")
    assert svc.files_exported["c1"] == 2
    assert svc.completion() == ECS.COMPLETED_SUCCESSFULLY


def test_run_topic_export_end_to_end(spark, tmp_path):
    """run_topic_export: one action drives sink + observe() metrics +
    status + message payloads (the afterJob analogue, §3.1)."""
    import json

    from dwp_hbase_to_mongo_export_spark.orchestration import run_topic_export

    cells = fixture_cells(spark, n=40)
    svc = ExportStatusService(correlation_id="corr-1")
    cfg = SnapshotSinkConfig(
        output_dir=str(tmp_path),
        topic="db.database.collection",
        max_batch_bytes=2000,
        compression="gz",
        data_key_b64=DATA_KEY_B64,
        encrypted_data_key_b64="enc-key-b64",
        kek_id="local-kek-1",
        deterministic_iv=True,
    )
    report = run_topic_export(
        cells.coalesce(1), "db.database.collection", cfg, svc
    )
    assert report.status == CS.EXPORTED
    assert svc.statuses["db.database.collection"] == CS.EXPORTED
    assert svc.files_exported["db.database.collection"] == len(report.files) > 0
    assert report.metrics["records_read"] == 40
    assert report.metrics["records_valid"] == 40
    assert report.metrics["records_failed"] == 0
    assert report.metrics["files_exported"] == len(report.files)
    assert report.metrics["bytes_normalised"] > 0
    # one snapshot-sender message per file + adg + monitoring
    assert len(report.messages) == len(report.files) + 2
    mon = json.loads(report.messages[-1])
    assert mon["title_text"] == "Full - Export finished - success"
    assert (mon["severity"], mon["notification_type"]) == ("Critical", "Information")
    assert svc.completion() == ECS.COMPLETED_SUCCESSFULLY


def test_run_topic_export_blocked(spark):
    from dwp_hbase_to_mongo_export_spark.orchestration import run_topic_export

    cells = fixture_cells(spark, n=5)
    svc = ExportStatusService(correlation_id="corr-2")
    report = run_topic_export(
        cells, "db.database.collection", None, svc,
        blocked_topics=("db.database.collection",),
        export_date="2020-07-06",
    )
    assert report.status == CS.BLOCKED_TOPIC
    assert svc.statuses["db.database.collection"] == CS.BLOCKED_TOPIC
    assert report.files == [] and report.metrics == {}
    # the blocked-topic monitoring payload must carry the export_date
    # like every other path (ADVICE round 4)
    mon = json.loads(report.messages[-1])
    assert {"key": "Export date", "value": "2020-07-06"} in mon["custom_elements"]
    # blocked is a SUCCESSFUL terminal state in the fold (kt:33-58)
    assert svc.completion() == ECS.COMPLETED_SUCCESSFULLY


@pytest.mark.parametrize("codec", ["lz4", "lz4_block"])
def test_lz4_codec_profiles(spark, tmp_path, codec):
    """Both LZ4 profiles from ContextConfiguration.kt:34-50 — framed
    (lz4.frame) and block (BlockLZ4CompressorOutputStream byte format)
    — round-trip decrypt+decompress, and both write the reference's
    .lz4 extension. The BLOCK profile runs with OR without the native
    lib (vendored pure-Python block codec as the fallback), so its
    store_size=False framing is byte-verified in every environment;
    only the FRAMED profile skips without the lib (after asserting its
    honest unavailable gate)."""
    from dwp_hbase_to_mongo_export_spark.functions import lz4block
    from dwp_hbase_to_mongo_export_spark.sinks import snapshot as snap

    if not snap.HAVE_LZ4 and codec == "lz4":
        cfg = SnapshotSinkConfig(
            output_dir=str(tmp_path), topic="db.database.collection",
            compression=codec, data_key_b64=DATA_KEY_B64,
            encrypted_data_key_b64="e", kek_id="k",
        )
        cells = fixture_cells(spark, n=5)
        res = export_topic(cells, "db.database.collection")
        with pytest.raises(ValueError, match="unavailable"):
            write_encrypted_snapshots(res.extra["sink_frame"].coalesce(1), cfg)
        pytest.skip("lz4 library not installed (framed profile only)")

    cells = fixture_cells(spark, n=20)
    res = export_topic(cells, "db.database.collection")
    cfg = SnapshotSinkConfig(
        output_dir=str(tmp_path), topic="db.database.collection",
        max_batch_bytes=2000, compression=codec,
        data_key_b64=DATA_KEY_B64, encrypted_data_key_b64="e", kek_id="k",
        deterministic_iv=True,
    )
    metas = write_encrypted_snapshots(res.extra["sink_frame"].coalesce(1), cfg)
    if codec == "lz4":
        import lz4.frame as lz4_frame

        decomp = lambda data, m: lz4_frame.decompress(data)  # noqa: E731
    else:
        # block profile matches the Java BlockLZ4CompressorOutputStream
        # byte format (no python-lz4 size prefix); the uncompressed size
        # comes from the sink's metadata row, as a consumer would use
        # it. The vendored decoder implements the public block format,
        # so decoding from byte 0 IS the no-size-prefix proof.
        decomp = lambda data, m: lz4block.decompress_block(  # noqa: E731
            data, uncompressed_size=m.batch_size_bytes
        )
    total = 0
    for m in metas:
        assert ".txt.lz4.enc" in m.object_key  # reference extension for both
        raw = open(os.path.join(str(tmp_path), m.object_key), "rb").read()
        plain = aes_ctr_decrypt(DATA_KEY_B64, m.iv, base64.b64encode(raw).decode())
        body = decomp(plain, m)
        total += len(body.decode().splitlines())
        if codec == "lz4_block":
            # no 4-byte LE size header anywhere: the first 4 bytes must
            # NOT be the little-endian uncompressed size python-lz4
            # writes with store_size=True
            import struct

            assert plain[:4] != struct.pack("<I", m.batch_size_bytes)
            if snap.HAVE_LZ4:
                # native cross-checks, both directions: the file bytes
                # decode with python-lz4, and re-compressing the body
                # with store_size=False reproduces them exactly
                import lz4.block as lz4_block

                assert (
                    lz4_block.decompress(
                        plain, uncompressed_size=m.batch_size_bytes
                    )
                    == body
                )
                assert plain == lz4_block.compress(body, store_size=False)
    assert total == 20


def test_run_fleet_last_finisher_routes_terminal_messages(spark, tmp_path):
    """SURVEY §3.3: per-topic status rows under one correlation id,
    cross-topic fold after every topic, terminal messages only from the
    last finisher. Mix: one exporting topic, one blocked, one
    table-unavailable — all count successful (kt:159-165)."""
    from dwp_hbase_to_mongo_export_spark.orchestration import run_fleet

    topics = ["db.a.one", "db.blocked.two", "db.gone.three"]
    svc = ExportStatusService(correlation_id="corr-f")

    def cells_for(topic):
        return fixture_cells(spark, n=10).coalesce(1)

    def cfg_for(topic):
        return SnapshotSinkConfig(
            output_dir=str(tmp_path / topic), topic=topic,
            compression="gz", data_key_b64=DATA_KEY_B64,
            encrypted_data_key_b64="e", kek_id="k", deterministic_iv=True,
        )

    fleet = run_fleet(
        topics, cells_for, cfg_for, svc,
        export_date="2024-01-01", s3_prefix="prefix/2024-01-01",
        blocked_topics=("db.blocked.two",),
        unavailable_topics=("db.gone.three",),
    )
    assert fleet.completion == ECS.COMPLETED_SUCCESSFULLY
    assert svc.statuses["db.a.one"] == CS.EXPORTED
    assert svc.statuses["db.blocked.two"] == CS.BLOCKED_TOPIC
    assert svc.statuses["db.gone.three"] == CS.TABLE_UNAVAILABLE
    # exactly one terminal pair (export-completed + monitoring), sent by
    # the LAST finisher — earlier folds saw Exporting rows
    completed = [m for m in fleet.messages if "additional_step_args" in m]
    assert len(completed) == 1
    assert json.loads(completed[0])["overrides"] == {
        "Name": "analytical-dataset-generator-full"
    }
    mons = [m for m in fleet.messages if "title_text" in m and "Export finished" in m]
    assert len(mons) == 1 and "success" in json.loads(mons[-1])["title_text"]


def test_run_fleet_failure_folds_unsuccessfully(spark, tmp_path):
    from dwp_hbase_to_mongo_export_spark.orchestration import run_fleet

    svc = ExportStatusService(correlation_id="corr-g")

    def cells_for(topic):
        return fixture_cells(spark, n=5).coalesce(1)

    def cfg_for(topic):
        if topic == "db.bad.two":
            return SnapshotSinkConfig(
                output_dir="/proc/definitely/not/writable", topic=topic,
                compression="nope",  # unknown codec -> raises in the sink
                data_key_b64=DATA_KEY_B64, encrypted_data_key_b64="e", kek_id="k",
            )
        return SnapshotSinkConfig(
            output_dir=str(tmp_path / topic), topic=topic, compression="gz",
            data_key_b64=DATA_KEY_B64, encrypted_data_key_b64="e", kek_id="k",
        )

    fleet = run_fleet(["db.ok.one", "db.bad.two"], cells_for, cfg_for, svc)
    assert fleet.completion == ECS.COMPLETED_UNSUCCESSFULLY
    assert svc.statuses["db.bad.two"] == CS.EXPORT_FAILED
    assert svc.statuses["db.ok.one"] == CS.EXPORTED
    mon = json.loads(fleet.messages[-1])
    assert (mon["severity"], mon["notification_type"]) == ("High", "Warning")
    assert mon["title_text"].endswith("failed")


def test_run_fleet_drives_service_adapters(spark, tmp_path):
    """With real adapters injected (recording fakes underneath), the
    fleet routes per-file SQS notifications, SNS terminal publishes, and
    the final pushgateway push — kt:47-141's afterJob wiring."""
    import json as _json
    from dwp_hbase_to_mongo_export_spark.orchestration import run_fleet
    from dwp_hbase_to_mongo_export_spark import services as services_mod
    from tests.test_services import FakePusher, FakeSns, FakeSqs

    sqs_client, sns_client, pusher = FakeSqs(), FakeSns(), FakePusher()
    messaging = services_mod.SqsMessagingService(
        sqs_client, topic_name="db.a.one",
        snapshot_sender_queue_url="q1.fifo", data_egress_queue_url="q2",
        correlation_id="corr-h", retry_sleep=lambda _: None,
    )
    sns = services_mod.SnsService(
        sns_client, correlation_id="corr-h", monitoring_topic_arn="arn:mon",
        full_topic_arn="arn:full", retry_sleep=lambda _: None,
    )
    pg = services_mod.PushGatewayService(
        pusher, correlation_id="corr-h", snapshot_type="full",
        topic_name="db.a.one", instance_name="i-1", export_date="2024-01-01",
        sleep=lambda _: None,
    )
    svc_status = ExportStatusService(correlation_id="corr-h")

    def cells_for(topic):
        return fixture_cells(spark, n=8).coalesce(1)

    def cfg_for(topic):
        return SnapshotSinkConfig(
            output_dir=str(tmp_path / topic), topic=topic, compression="gz",
            data_key_b64=DATA_KEY_B64, encrypted_data_key_b64="e", kek_id="k",
            deterministic_iv=True,
        )

    fleet = run_fleet(
        ["db.a.one"], cells_for, cfg_for, svc_status,
        messaging=messaging, sns=sns, push_gateway=pg,
    )
    assert fleet.completion == ECS.COMPLETED_SUCCESSFULLY
    # one FIFO send per exported file + the topic's data-egress message
    n_files = len(fleet.reports["db.a.one"].files)
    assert n_files > 0 and len(sqs_client.calls) == n_files + 1
    fifo = [c for c in sqs_client.calls if c["QueueUrl"] == "q1.fifo"]
    egress = [c for c in sqs_client.calls if c["QueueUrl"] == "q2"]
    assert len(fifo) == n_files and len(egress) == 1
    assert "db.a.one-" in egress[0]["MessageBody"]
    # terminal SNS: export-completed to the full ARN + completion monitoring
    arns = [c["TopicArn"] for c in sns_client.calls]
    assert arns == ["arn:full", "arn:mon"]
    assert "additional_step_args" in sns_client.calls[0]["Message"]
    mon = _json.loads(sns_client.calls[1]["Message"])
    assert mon["title_text"].endswith("success")
    # pushgateway final push + delete
    assert len(pusher.pushes) == 1 and len(pusher.deletes) == 1


def test_sink_metas_map_onto_s3_adapter(spark, tmp_path):
    """The sink's per-file metadata rows carry exactly what the S3
    object put needs (iv/cipherText/kekId as user metadata) — prove the
    1:1 mapping by feeding real sink output through the adapter."""
    from dwp_hbase_to_mongo_export_spark import services as services_mod
    from tests.test_services import FakeS3

    cells = fixture_cells(spark, n=20)
    res = export_topic(cells, "db.database.collection")
    cfg = SnapshotSinkConfig(
        output_dir=str(tmp_path), topic="db.database.collection",
        max_batch_bytes=2000, compression="gz", data_key_b64=DATA_KEY_B64,
        encrypted_data_key_b64="enc-key-b64", kek_id="local-kek-1",
        deterministic_iv=True,
    )
    metas = write_encrypted_snapshots(res.extra["sink_frame"].coalesce(1), cfg)
    client = FakeS3()
    s3 = services_mod.S3ObjectService(
        client, export_bucket="exports", topic_name="db.database.collection",
        retry_sleep=lambda _: None,
    )
    for m in metas:
        body = open(os.path.join(str(tmp_path), m.object_key), "rb").read()
        s3.put_snapshot_object(
            m.object_key, body, iv=m.iv, ciphertext_key=m.ciphertext_key,
            kek_id=m.kek_id,
        )
    assert len(client.calls) == len(metas) > 1
    for call, m in zip(client.calls, metas):
        assert call["Key"] == m.object_key
        # on-disk bytes = compressed+encrypted (data_size_bytes);
        # batch_size_bytes is the UNCOMPRESSED roll size
        assert call["ContentLength"] == m.data_size_bytes
        assert call["Metadata"]["iv"] == m.iv
        assert call["Metadata"]["cipherText"] == "enc-key-b64"
        assert call["Metadata"]["dataKeyEncryptionKeyId"] == "local-kek-1"


def test_run_fleet_prewrite_failure_reaches_terminal_fold(spark, tmp_path):
    """A topic whose cells_for raises BEFORE any sink write must still be
    marked EXPORT_FAILED so the completion fold terminates — otherwise
    the row stays Exporting and the fold answers IN_PROGRESS forever,
    and none of the terminal routing (monitoring publish, product-status
    FAILED, PDM trigger) ever fires. Mirrors the reference's
    JobCompletionNotificationListener marking failure on ANY job
    failure, not only write failures."""
    from dwp_hbase_to_mongo_export_spark.orchestration import run_fleet

    svc_status = ExportStatusService(correlation_id="corr-pw")

    def cells_for(topic):
        if topic == "db.bad.two":
            raise RuntimeError("scan planning blew up before any write")
        return fixture_cells(spark, n=5).coalesce(1)

    def cfg_for(topic):
        return SnapshotSinkConfig(
            output_dir=str(tmp_path / topic), topic=topic, compression="gz",
            data_key_b64=DATA_KEY_B64, encrypted_data_key_b64="e", kek_id="k",
        )

    fleet = run_fleet(["db.ok.one", "db.bad.two"], cells_for, cfg_for, svc_status)
    assert svc_status.statuses["db.bad.two"] == CS.EXPORT_FAILED
    assert fleet.completion == ECS.COMPLETED_UNSUCCESSFULLY  # terminal, not IN_PROGRESS
    assert "scan planning" in fleet.reports["db.bad.two"].metrics["error"]


def test_run_fleet_multi_topic_adapter_binding(spark, tmp_path):
    """Multi-topic fleet with ONE shared SQS adapter: every payload's
    topic_name and the FIFO MessageGroupId must name the topic being
    exported, not the adapter's constructor topic (the reference gets
    this for free by running one JVM per topic). Covers both forms:
    the rebind of a shared adapter and a messaging_for factory."""
    from dwp_hbase_to_mongo_export_spark import services as services_mod
    from dwp_hbase_to_mongo_export_spark.orchestration import run_fleet
    from tests.test_services import FakeSqs

    topics = ["db.a.one", "db.b.two"]

    def cells_for(topic):
        return fixture_cells(spark, n=6).coalesce(1)

    def cfg_for(topic):
        return SnapshotSinkConfig(
            output_dir=str(tmp_path / topic), topic=topic, compression="gz",
            data_key_b64=DATA_KEY_B64, encrypted_data_key_b64="e", kek_id="k",
            deterministic_iv=True,
        )

    def groups_and_names(client):
        groups, names = set(), set()
        for call in client.calls:
            if call["QueueUrl"] == "q1.fifo":
                groups.add(call["MessageGroupId"])
                names.add(json.loads(call["MessageBody"])["topic_name"])
        return groups, names

    # (a) one shared adapter, topic_name rebound inside the loop
    shared_client = FakeSqs()
    shared = services_mod.SqsMessagingService(
        shared_client, topic_name="db.a.one",
        snapshot_sender_queue_url="q1.fifo", data_egress_queue_url="q2",
        correlation_id="corr-mt", retry_sleep=lambda _: None,
    )
    svc_a = ExportStatusService(correlation_id="corr-mt")
    run_fleet(topics, cells_for, cfg_for, svc_a, messaging=shared)
    groups, names = groups_and_names(shared_client)
    assert groups == {"db_a_one", "db_b_two"}
    assert names == {"db.a.one", "db.b.two"}

    # (b) per-topic factory, like cells_for/sink_cfg_for
    clients = {}

    def messaging_for(topic):
        clients[topic] = FakeSqs()
        return services_mod.SqsMessagingService(
            clients[topic], topic_name=topic,
            snapshot_sender_queue_url="q1.fifo", data_egress_queue_url="q2",
            correlation_id="corr-mt2", retry_sleep=lambda _: None,
        )

    svc_b = ExportStatusService(correlation_id="corr-mt2")
    run_fleet(topics, cells_for, cfg_for, svc_b, messaging_for=messaging_for)
    for topic in topics:
        groups, names = groups_and_names(clients[topic])
        assert groups == {topic.replace(".", "_")} and names == {topic}


def test_run_topic_export_no_files_message_in_inventory(spark, tmp_path):
    """Zero-file success must put the files_exported=0 snapshot-sender
    payload in the report's message inventory (the reference's
    noFilesExportedMessage) — previously only the run_fleet adapter
    branch sent it and the payload-inventory path omitted it."""
    from dwp_hbase_to_mongo_export_spark.orchestration import run_topic_export

    svc_status = ExportStatusService(correlation_id="corr-nf")
    cells = fixture_cells(spark, n=5).filter("1=0")  # valid plan, no rows
    cfg = SnapshotSinkConfig(
        output_dir=str(tmp_path), topic="db.database.collection",
        compression="gz", data_key_b64=DATA_KEY_B64,
        encrypted_data_key_b64="e", kek_id="k",
    )
    report = run_topic_export(cells, "db.database.collection", cfg, svc_status)
    assert report.status == CS.EXPORTED and report.files == []
    no_files = [
        json.loads(m) for m in report.messages
        if '"files_exported"' in m and json.loads(m).get("files_exported") == 0
    ]
    assert len(no_files) == 1
    assert no_files[0]["topic_name"] == "db.database.collection"


def test_key_range_file_naming(spark, tmp_path):
    """With partition_ranges supplied, snapshot/manifest names carry the
    partition's KEY-RANGE bounds — the reference's
    {topic}-{start}-{stop}-{seq:06d} contract (S3StreamingWriter.kt:95-101
    reads start/stop from the HBasePartitioner execution context) —
    instead of the (pid, pid) fallback."""
    from dwp_hbase_to_mongo_export_spark.sinks.snapshot import key_range_naming

    cells = fixture_cells(spark, n=30)
    res = export_topic(cells, "db.database.collection")
    sink_frame = res.extra["sink_frame"].repartition(4)
    cfg = SnapshotSinkConfig(
        output_dir=str(tmp_path), topic="db.database.collection",
        compression="gz", data_key_b64=DATA_KEY_B64,
        encrypted_data_key_b64="e", kek_id="k", deterministic_iv=True,
        partition_ranges=key_range_naming(scan_width=64),
    )
    metas = write_encrypted_snapshots(sink_frame, cfg)
    names = sorted(m.object_key for m in metas)
    # 4 partitions -> ranges (0,64) (64,128) (128,192) (192,256)
    expected_prefixes = {
        "db.database.collection-000-064-",
        "db.database.collection-064-128-",
        "db.database.collection-128-192-",
        "db.database.collection-192-256-",
    }
    got_prefixes = {n.rsplit("-", 1)[0] + "-" for n in names}
    assert got_prefixes <= expected_prefixes
    assert all(n.endswith(".txt.gz.enc") for n in names)
    # golden EXACT key list for the deterministic single-partition case,
    # mirroring UberTestSpec.kt:140-142's S3 object-key assertion
    cfg1 = SnapshotSinkConfig(
        output_dir=str(tmp_path / "one"), topic="db.database.collection",
        max_batch_bytes=2000, compression="gz", data_key_b64=DATA_KEY_B64,
        encrypted_data_key_b64="e", kek_id="k", deterministic_iv=True,
        partition_ranges={0: (0, 256)},
    )
    metas1 = write_encrypted_snapshots(res.extra["sink_frame"].coalesce(1), cfg1)
    keys1 = [m.object_key for m in metas1]
    assert keys1 == [
        f"db.database.collection-000-256-{i:06d}.txt.gz.enc"
        for i in range(len(keys1))
    ]
    assert len(keys1) > 1  # the 2000-byte cap actually rolled


def test_read_encrypted_snapshots_roundtrip(spark, tmp_path):
    """Consumer-side contract: read_encrypted_snapshots over a sink
    output directory recovers EXACTLY the written records — the
    distributed decrypt∘decompress∘split that every downstream reader
    of the export performs."""
    from dwp_hbase_to_mongo_export_spark.sinks.snapshot import (
        read_encrypted_snapshots,
    )

    cells = fixture_cells(spark, n=40)
    res = export_topic(cells, "db.database.collection")
    cfg = SnapshotSinkConfig(
        output_dir=str(tmp_path), topic="db.database.collection",
        max_batch_bytes=2000, compression="gz", data_key_b64=DATA_KEY_B64,
        encrypted_data_key_b64="e", kek_id="k", deterministic_iv=True,
    )
    metas = write_encrypted_snapshots(res.extra["sink_frame"].coalesce(1), cfg)
    assert len(metas) > 1
    back = read_encrypted_snapshots(spark, str(tmp_path), DATA_KEY_B64)
    rows = back.collect()
    assert len(rows) == 40
    written = sorted(r.db_object for r in res.extra["sink_frame"].collect())
    assert sorted(r.db_object for r in rows) == written
    # per-file record counts line up with the sink's metadata rows
    by_key = back.groupBy("object_key").count().collect()
    assert {r.object_key: r["count"] for r in by_key} == {
        m.object_key: m.records_in_batch for m in metas
    }
    # plaintext profile needs no key
    cfg2 = SnapshotSinkConfig(
        output_dir=str(tmp_path / "plain"), topic="db.database.collection",
        max_batch_bytes=10**9, compression="bz2",
    )
    write_encrypted_snapshots(res.extra["sink_frame"].coalesce(1), cfg2)
    back2 = read_encrypted_snapshots(spark, str(tmp_path / "plain"))
    assert back2.count() == 40


def test_snapshot_read_then_unwrap_recovers_typed_values(spark, tmp_path):
    """The full consumer chain: snapshot files -> read_encrypted_snapshots
    -> unwrap_records recovers scalar/object ids and dates from the
    sanitised d_oid/d_date wrappers in the on-disk payload."""
    from dwp_hbase_to_mongo_export_spark.operators.transformation import (
        unwrap_records,
    )
    from dwp_hbase_to_mongo_export_spark.sinks.snapshot import (
        read_encrypted_snapshots,
    )

    cells = fixture_cells(spark, n=20)
    res = export_topic(cells, "db.database.collection")
    cfg = SnapshotSinkConfig(
        output_dir=str(tmp_path), topic="db.database.collection",
        max_batch_bytes=10**9, compression="gz", data_key_b64=DATA_KEY_B64,
        encrypted_data_key_b64="e", kek_id="k", deterministic_iv=True,
    )
    write_encrypted_snapshots(res.extra["sink_frame"].coalesce(1), cfg)
    back = unwrap_records(read_encrypted_snapshots(spark, str(tmp_path), DATA_KEY_B64))
    rows = back.collect()
    assert len(rows) == 20
    for r in rows:
        assert r.recovered_id is not None
        assert "d_oid" not in r.doc and "d_date" not in r.doc
        assert r.last_modified is None or "T" in r.last_modified


def test_compaction_shrinks_file_count_and_preserves_rows(spark, tmp_path):
    from dwp_hbase_to_mongo_export_spark.sinks.compaction import (
        compact_parquet_dir,
        plan_compaction,
    )

    d = str(tmp_path / "tbl")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(d)
    before = plan_compaction(d, target_bytes=10**9)
    assert before["n_files"] == 40
    res = compact_parquet_dir(spark, d, target_bytes=10**9)
    assert res["compacted"] and res["target_files"] == 1
    after = plan_compaction(d, target_bytes=10**9)
    assert after["n_files"] == 1
    back = spark.read.parquet(d)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).collect()[0][0] == df.agg(F.sum("v")).collect()[0][0]
    # already-compact dirs are a metadata-only no-op
    res2 = compact_parquet_dir(spark, d, target_bytes=10**9)
    assert not res2["compacted"]


def test_compaction_recovers_from_mid_swap_crash(spark, tmp_path):
    """The two-rename swap is not atomic; a crash between them leaves
    the table stranded in '.swap-old'. A retry must restore it (not
    silently no-op on a missing dir), and leftover staging/backup dirs
    from completed-but-uncleaned swaps must not fail the next run."""
    import os
    import shutil

    import pytest

    from dwp_hbase_to_mongo_export_spark.sinks.compaction import (
        compact_parquet_dir,
    )

    d = str(tmp_path / "tbl")
    df = spark.range(0, 1_000).withColumn("v", F.col("id") * 2)
    df.repartition(8).write.parquet(d)

    # crash between rename(input, backup) and rename(staging, input):
    # input missing, all data in backup, half-written staging present
    os.rename(d, d + ".swap-old")
    os.makedirs(d + ".swap-staging")
    res = compact_parquet_dir(spark, d, target_bytes=10**9)
    assert res["compacted"]
    back = spark.read.parquet(d)
    assert back.count() == 1_000
    assert not os.path.exists(d + ".swap-old")
    assert not os.path.exists(d + ".swap-staging")

    # crash after the swap completed but before backup cleanup: input
    # is current, stale backup must be dropped, run proceeds normally
    shutil.copytree(d, d + ".swap-old")
    res2 = compact_parquet_dir(spark, d, target_bytes=10**9)
    assert not os.path.exists(d + ".swap-old")
    assert spark.read.parquet(d).count() == 1_000
    assert res2["compacted"] is False  # single file already

    # a genuinely missing table (no backup either) raises — never an
    # n_files=0 silent no-op
    with pytest.raises(FileNotFoundError):
        compact_parquet_dir(spark, str(tmp_path / "never_existed"))


def test_partitioned_write_prunes_at_read(spark, sf_dir, tmp_path):
    """Partition-layout lever: a write partitioned by a filter column
    must scan ONLY the matching directory at read time (partition
    pruning shows in PartitionFilters, and the scan's input files all
    come from the one partition)."""
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

    d = str(tmp_path / "events_by_type")
    load_table(spark, sf_dir, "events").write.partitionBy("event_type").parquet(d)
    q = spark.read.parquet(d).filter(F.col("event_type") == "click")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters")[1].split("]")[0]
    # pruned read returns exactly the one partition's rows
    # (inputFiles() is the ANALYZED file index, pre-pruning, so the
    # PartitionFilters assertion above is the plan-level pin)
    expected = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .count()
    )
    assert q.count() == expected > 0


def test_partitioned_compaction_preserves_layout_and_pruning(spark, sf_dir, tmp_path):
    """compact_partitioned_dir: every key=value leaf is compacted
    independently; the directory tree (and thus partition pruning)
    survives, rows and values are intact, and a second run no-ops."""
    from dwp_hbase_to_mongo_export_spark.sinks.compaction import (
        compact_partitioned_dir,
        plan_compaction,
    )
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

    d = str(tmp_path / "events_by_type")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(6).write.partitionBy("event_type").parquet(d)
    before = plan_compaction(d, target_bytes=10**9)
    assert before["partitioned"] and before["n_files"] > before["target_files"]

    res = compact_partitioned_dir(spark, d, target_bytes=10**9)
    assert res["n_partitions"] >= 2
    assert res["n_compacted"] == res["n_partitions"]
    for rel, leaf_plan in res["per_partition"].items():
        assert "=" in rel and leaf_plan["compacted"]

    after = plan_compaction(d, target_bytes=10**9)
    assert after["partitioned"]  # layout preserved
    assert after["n_files"] == res["n_partitions"]  # one file per leaf
    back = spark.read.parquet(d)
    assert back.count() == ev.count()
    # integer column: double sums are partition-order-dependent
    assert (
        back.agg(F.sum("event_id")).first()[0]
        == ev.agg(F.sum("event_id")).first()[0]
    )
    # pruning still works on the compacted layout
    q = back.filter(F.col("event_type") == "click")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()
    # idempotent: second run finds nothing to do
    res2 = compact_partitioned_dir(spark, d, target_bytes=10**9)
    assert res2["n_compacted"] == 0

    # crash recovery composes per leaf: one leaf stranded mid-swap (only
    # its .swap-old backup exists), another with a stale backup AND a
    # stale staging dir next to intact data — a rerun must restore the
    # first under its REAL partition name (not compact the backup dir in
    # place), drop the stale artifacts, and not raise
    leaves = sorted(
        os.path.join(d, x) for x in os.listdir(d) if x.startswith("event_type=")
    )
    os.rename(leaves[0], leaves[0] + ".swap-old")
    import shutil as _sh

    _sh.copytree(leaves[1], leaves[1] + ".swap-old")
    os.makedirs(leaves[1] + ".swap-staging")
    res3 = compact_partitioned_dir(spark, d, target_bytes=10**9)
    assert res3["n_partitions"] == res["n_partitions"]  # no phantom leaves
    assert not any(".swap-" in rel for rel in res3["per_partition"])
    assert os.path.isdir(leaves[0])
    assert not os.path.exists(leaves[0] + ".swap-old")
    assert not os.path.exists(leaves[1] + ".swap-old")
    assert not os.path.exists(leaves[1] + ".swap-staging")
    assert spark.read.parquet(d).count() == ev.count()


def test_streaming_export_then_compaction_e2e(spark, sf_dir, tmp_path):
    """The composition that motivates compaction: the streaming export
    pipeline's file sink accumulates one parquet file per micro-batch
    (the 100 TB continuous-export failure mode in miniature), and
    compact_parquet_dir rewrites the directory to its planned file
    count with rows and values intact. Source is split into 6 files and
    drained at maxFilesPerTrigger=1, so the sink provably accumulates
    multiple micro-batch files before compaction."""
    import tempfile

    from dwp_hbase_to_mongo_export_spark.queries_pipeline import (
        TOPIC,
        build_cells,
    )
    from dwp_hbase_to_mongo_export_spark.pipeline import export_topic
    from dwp_hbase_to_mongo_export_spark.sinks.compaction import (
        compact_parquet_dir,
        plan_compaction,
    )
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table
    from dwp_hbase_to_mongo_export_spark.streaming.incremental import stream_table

    # 6-file copy of orders so the file source produces 6 micro-batches
    src_root = str(tmp_path / "src")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(6).write.parquet(os.path.join(src_root, "orders.parquet"))
    stream = stream_table(spark, src_root, "orders", max_files_per_trigger=1)

    cells = build_cells(spark, sf_dir, orders=stream)
    res = export_topic(cells.drop("okey"), TOPIC, observe_metrics=False)
    out = res.extra["sink_frame"].select("id", "db_object")

    sink_dir = str(tmp_path / "exported")
    ckpt = tempfile.mkdtemp(prefix="ckpt_export_compact_")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain"
    q.stop()

    before = plan_compaction(sink_dir, target_bytes=10**9)
    assert before["n_files"] >= 6  # one (or more) file per micro-batch
    baseline = {
        (r.id, r.db_object) for r in spark.read.parquet(sink_dir).collect()
    }
    assert len(baseline) == orders.count()

    res2 = compact_parquet_dir(spark, sink_dir, target_bytes=10**9)
    assert res2["compacted"] and res2["target_files"] == 1
    after = plan_compaction(sink_dir, target_bytes=10**9)
    assert after["n_files"] == 1
    assert after["total_bytes"] > 0
    # rows and VALUES round-trip through the rewrite
    back = {(r.id, r.db_object) for r in spark.read.parquet(sink_dir).collect()}
    assert back == baseline


def test_snapshot_sink_bench_surface_roundtrip_aligns(spark, sf_dir):
    """The bench-only snapshot_sink_export surface (round-8 verdict:
    the sink was correctness-tested but never timed) must verify its
    own roundtrip: every record written through the rolled encrypted
    producer path is read back by the consumer path, and the read-side
    file count equals what the writer reported."""
    from dwp_hbase_to_mongo_export_spark.queries import BENCH_ONLY
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

    row = BENCH_ONLY["snapshot_sink_export"](spark, sf_dir).head()
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert row["n_records"] == n_orders
    assert row["n_files"] == row["n_files_written"] > 1  # rolling happened


# --- the fused export pass against the DataFrame path ----------------------


def _mixed_payload(i: int) -> tuple[str, str, str]:
    """(db, collection, payload) cycling through a plain record, a
    businessAudit record, a scoped-sanitise record and a payload that
    decrypts but is not JSON."""
    kind = i % 4
    if kind == 0:
        return "core", "claimant", json.dumps(
            {
                "_id": {"record_id": f"{i:05d}"},
                "createdDateTime": "2015-03-20T12:23:25.183Z",
                "_lastModifiedDateTime": "2018-12-14T15:01:02.000+0000",
                "_archivedDateTime": "2016-01-01T00:00:00.000Z",
                "_removedDateTime": "2017-01-01T00:00:00.000Z",
                "note": f"cost $5, \"q\" a\r\nb \u0000 é 日本 {i}",
            }
        )
    if kind == 1:
        return "data", "businessAudit", json.dumps(
            {"auditType": "AUDIT", "context": {"note": f"line\nbreak ${i}", "_archived": "x"}}
        )
    if kind == 2:
        return "core", "healthAndDisabilityDeclaration", json.dumps(
            {"_id": f"{i:05d}", "text": "a\r\nb\\rc|d", "nested": [{"x": "y\n"}]}
        )
    return "core", "claimant", "not json"


def _mixed_cells(spark, topic: str, n: int = 64, quarantine_all: bool = False):
    """Cells over 3 input partitions: every 10th envelope from the 4th
    lacks dbObject (quarantined), every 10th from the 8th carries a
    5-byte IV (undecryptable)."""
    from dwp_hbase_to_mongo_export_spark.schemas import CELLS_SCHEMA
    from dwp_hbase_to_mongo_export_spark.sources.hbase_cells import envelope

    rows = []
    for i in range(n):
        key, value = envelope(i, *_mixed_payload(i))
        env = json.loads(value)
        if quarantine_all or i % 10 == 3:
            del env["message"]["dbObject"]
        elif i % 10 == 7:
            env["message"]["encryption"]["initialisationVector"] = base64.b64encode(b"short").decode()
        rows.append((topic, key, 1000 + i, json.dumps(env)))
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), CELLS_SCHEMA)


def _sink_cfg(out_dir, topic: str) -> SnapshotSinkConfig:
    return SnapshotSinkConfig(
        output_dir=str(out_dir), topic=topic, max_batch_bytes=700, compression="gz",
        data_key_b64=DATA_KEY_B64, encrypted_data_key_b64="enc-key-b64",
        kek_id="local-kek-1", deterministic_iv=True,
    )


def _dir_bytes(d) -> dict:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


@pytest.mark.parametrize("topic", ["db.core.healthAndDisabilityDeclaration", "data.equality"])
def test_run_topic_export_matches_dataframe_path(spark, tmp_path, topic):
    """run_topic_export's one-pass export writes byte-identical object
    files, manifests and .metadata.json sidecars to
    write_encrypted_snapshots over export_topic's sink frame (same input
    partitioning, deterministic IVs), and reports the same counters."""
    from dwp_hbase_to_mongo_export_spark.orchestration import run_topic_export

    cells = _mixed_cells(spark, topic)
    res = export_topic(cells, topic)
    metas = write_encrypted_snapshots(res.extra["sink_frame"], _sink_cfg(tmp_path / "df", topic))
    obs = res.extra["observations"]
    want = {**obs["parsed"].get, **obs["normalised"].get, "files_exported": len(metas)}

    report = run_topic_export(cells, topic, _sink_cfg(tmp_path / "fused", topic), ExportStatusService("parity"))
    assert report.status == CS.EXPORTED
    assert report.metrics == want
    assert sorted(report.files) == sorted(metas)
    assert _dir_bytes(tmp_path / "fused") == _dir_bytes(tmp_path / "df")

    # the fixture exercises every branch it is meant to
    assert want["records_read"] == 64 and want["records_valid"] == 57
    assert want["records_failed"] == 6 + 9  # 5-byte IVs + the other non-JSON payloads
    assert len({m.object_key.split("-")[-2] for m in metas}) == 3  # files from 3 partitions
    assert len(metas) > 3  # the 700-byte bound rolled
    rows = res.extra["sink_frame"].collect()
    lines = [r.db_object for r in rows]
    assert any("AUDIT_EVENT" in line for line in lines)
    assert not any("$" in line or "_archived" in line for line in lines)
    scoped = [r.db_object for r in rows if r.collection == "healthAndDisabilityDeclaration"]
    assert scoped and all('"text":"ab' in line for line in scoped)  # CR/LF escapes stripped
    assert any("\\r" in line for line in lines)  # unscoped collections keep it
    assert all(line.startswith('{"message":') for line in lines) == (topic == "data.equality")


def test_run_topic_export_all_quarantined(spark, tmp_path):
    """A topic whose every envelope is quarantined exports zero files,
    reports counters of 0 (not None) and sends the no-files message."""
    from dwp_hbase_to_mongo_export_spark.orchestration import run_topic_export

    topic = "db.core.claimant"
    report = run_topic_export(
        _mixed_cells(spark, topic, quarantine_all=True), topic, _sink_cfg(tmp_path, topic),
        ExportStatusService("all-quarantined"),
    )
    assert report.status == CS.EXPORTED and report.files == [] and os.listdir(tmp_path) == []
    assert report.metrics == {
        "records_read": 64, "records_valid": 0, "records_failed": 0,
        "bytes_normalised": 0, "files_exported": 0,
    }
    assert [json.loads(m)["files_exported"] for m in report.messages if '"files_exported"' in m] == [0]
