"""End-to-end pipeline test over reference-shaped fixture cells, mirroring
the integration assertions of src/integration/kotlin/UberTestSpec.kt:
- every record decrypts, normalises, and round-trips its id (d_oid for odd
  scalar ids, record_id for even object ids — 50/50 split);
- manifest lines carry the cell timestamp and both id forms;
- quarantine catches records with missing mandatory fields;
- versioned cells dedup to the latest;
- equality topic wraps payloads in {"message": ...}.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from dwp_hbase_to_mongo_export_spark.pipeline import BlockedTopicError, export_topic
from dwp_hbase_to_mongo_export_spark.sources.hbase_cells import (
    default_payload,
    envelope,
    fixture_cells,
)
from dwp_hbase_to_mongo_export_spark.schemas import CELLS_SCHEMA

N = 200


@pytest.fixture(scope="module")
def cells(spark):
    # unpersist at teardown so the cache entry can't substitute into
    # later modules' plans (see tests/test_extensions.py fixtures).
    df = fixture_cells(spark, n=N, topic="db.database.collection").cache()
    yield df
    df.unpersist()


def test_full_export_id_roundtrip(spark, cells):
    res = export_topic(cells, "db.database.collection")
    rows = res.records.collect()
    assert len(rows) == N
    ids = []
    for r in rows:
        obj = json.loads(r.db_object)
        # after sanitisation the $oid key is d_oid (reference quirk,
        # pinned by UberTestSpec.kt:419)
        idv = obj["_id"]
        ids.append(idv["record_id"] if "record_id" in idv else idv["d_oid"])
    assert sorted(ids) == [f"{i:05d}" for i in range(N)]
    n_oid = sum(1 for r in rows if "d_oid" in json.loads(r.db_object)["_id"])
    assert n_oid == N // 2  # odd ids scalar -> wrapped


def test_dates_normalised_in_output(spark, cells):
    res = export_topic(cells, "db.database.collection")
    obj = json.loads(res.records.limit(1).collect()[0].db_object)
    # createdDateTime was outgoing-format, lastModified incoming-format
    assert obj["createdDateTime"] == {"d_date": "2015-03-20T12:23:25.183Z"}
    assert obj["_lastModifiedDateTime"] == {"d_date": "2018-12-14T15:01:02.000Z"}


def test_manifest_contents(spark, cells):
    res = export_topic(cells, "db.database.collection")
    m = res.manifest.collect()
    assert len(m) == N
    assert all(r.timestamp == 1000 for r in m)  # cell ts, as UberTestSpec
    assert all(r.db == "database" and r.collection == "collection" for r in m)
    assert all(r.source == "EXPORT" and r.externalOuterSource == "OUTER_TYPE" for r in m)
    by_id = {r.originalId: r for r in m}
    assert by_id["00001"].id == '{"$oid":"00001"}'  # manifest keeps $oid (pre-sanitise)
    assert by_id['{"record_id":"00000"}'].id == '{"record_id":"00000"}'


def test_quarantine_on_missing_mandatory_fields(spark):
    # strip the dbObject from one record
    key, value = envelope(7, "database", "collection", default_payload(7))
    broken = json.loads(value)
    broken["message"]["dbObject"] = ""
    rows = [("db.database.collection", key, 1000, json.dumps(broken))]
    ok_key, ok_value = envelope(8, "database", "collection", default_payload(8))
    rows.append(("db.database.collection", ok_key, 1000, ok_value))
    cells = spark.createDataFrame(rows, CELLS_SCHEMA)
    res = export_topic(cells, "db.database.collection")
    assert res.records.count() == 1
    assert res.quarantined.count() == 1


def test_db_collection_fallback_from_topic(spark):
    key, value = envelope(3, "", "", default_payload(3))
    cells = spark.createDataFrame([("db.fbdb.fbcoll", key, 1000, value)], CELLS_SCHEMA)
    res = export_topic(cells, "db.fbdb.fbcoll")
    m = res.manifest.collect()[0]
    assert m.db == "fbdb" and m.collection == "fbcoll"


def test_versioned_cells_keep_latest(spark):
    cells = fixture_cells(spark, n=20, versions_per_key=3)
    res = export_topic(cells, "db.database.collection", dedup_versions=True)
    assert res.records.count() == 20
    assert res.records.agg(F.min("ts")).collect()[0][0] == 1000


def test_time_range_scan_excludes(spark):
    cells = fixture_cells(spark, n=10, ts=1000)
    res = export_topic(cells, "db.database.collection", scan_time_range=(0, 1000))
    assert res.records.count() == 0
    res2 = export_topic(cells, "db.database.collection", scan_time_range=(0, 1001))
    assert res2.records.count() == 10


def test_blocked_topic_raises(spark, cells):
    with pytest.raises(BlockedTopicError):
        export_topic(cells, "db.database.collection", blocked_topics=("db.database.collection",))


def test_equality_topic_wrap(spark):
    key, value = envelope(5, "data", "equality", default_payload(5))
    cells = spark.createDataFrame([("data.equality", key, 1000, value)], CELLS_SCHEMA)
    res = export_topic(cells, "data.equality")
    obj = json.loads(res.records.collect()[0].db_object)
    assert "message" in obj
    assert obj["message"]["@type"] == "INNER_TYPE"
    assert "d_oid" in obj["message"]["_id"]


def test_business_audit_context_lift(spark):
    payload = json.dumps(
        {"context": {"k": "v"}, "auditType": "AT", "_id": {"record_id": "00009"}}
    )
    key, value = envelope(9, "data", "businessAudit", payload)
    cells = spark.createDataFrame([("data.businessAudit", key, 1000, value)], CELLS_SCHEMA)
    res = export_topic(cells, "data.businessAudit")
    obj = json.loads(res.records.collect()[0].db_object)
    assert obj["AUDIT_EVENT"] == "AT"
    # TIME_STAMP matches the incoming date gate, so the recursive wrapper
    # turns it into a (sanitised) d_date object — as in the reference,
    # where the audit lift runs before Validator.wrapDates.
    assert obj["TIME_STAMP"] == {"d_date": "2018-12-14T15:01:02.000Z"}
    # context had no _id -> reverse-engineered manifest id from row key
    m = res.manifest.collect()[0]
    assert m.originalId == '{"record_id": "00009"}' or "record_id" in m.originalId


def test_bad_decrypted_data_skipped_not_failed(spark):
    # encrypt a non-JSON payload: decrypts fine, fails validation -> failed DF
    key, value = envelope(11, "database", "collection", "not valid json at all")
    ok_key, ok_value = envelope(12, "database", "collection", default_payload(12))
    cells = spark.createDataFrame(
        [("db.database.collection", key, 1000, value),
         ("db.database.collection", ok_key, 1000, ok_value)],
        CELLS_SCHEMA,
    )
    res = export_topic(cells, "db.database.collection")
    assert res.records.count() == 1
    failed = res.failed.collect()
    assert len(failed) == 1 and "ValidationError" in failed[0].error


def test_cli_main_exports_topic(spark, tmp_path):
    """python -m dwp_hbase_to_mongo_export_spark contract: one JSON
    report line, exit 0, encrypted snapshots + aligned manifests on
    disk (main() reuses the live test session via getOrCreate)."""
    import json

    from dwp_hbase_to_mongo_export_spark.__main__ import main

    out = str(tmp_path / "cli")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main([
            "--topic", "db.pipedb.pipecoll",
            "--source", "/root/testdata/sf0.001",
            "--output", out,
        ])
    assert rc == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert report["status"] == "Exported"
    assert report["metrics"]["records_read"] == 1500
    assert report["completion"] == "COMPLETED_SUCCESSFULLY"
    assert report["files"]
    for f in report["files"]:
        assert (tmp_path / "cli" / f).exists()
    # the data-egress message names the prefix the files were written under
    bodies = [json.loads(m) for m in report["messages"]]
    egress = [b for b in bodies if "Records" in b]
    assert egress == [{"Records": [{"s3": {"object": {"key": f"{out}/db.pipedb.pipecoll-"}}}]}]
