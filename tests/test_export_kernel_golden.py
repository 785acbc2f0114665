"""Golden digest of the per-record export kernel's output.

perfbench's line-hash check computes its expected lines with the same
``functions.record_norm`` code the kernel runs, so a change in that code
moves both sides of the check together. This test pins the kernel's
output over a seeded corpus to a fixed sha256 instead: any change to
``operators.decryption._process_batch`` that alters a byte of a line,
a manifest id or an error message fails it.

The corpus covers both row-key id shapes (``{"id": ...}`` and a
multi-key object), object, string, integer and missing ``_id``s, dates
in ``Z``/``+0000``/``-0130`` form with 1-6 fraction digits, invalid
calendar dates, Unicode-digit dates, ``$date`` objects and dates nested
in arrays, businessAudit records, the scoped-sanitise collection, the
``data.equality`` wrap, and records that fail decryption or validation.
"""

from __future__ import annotations

import base64
import hashlib
import json
import random

import pandas as pd

from dwp_hbase_to_mongo_export_spark.functions import crypto
from dwp_hbase_to_mongo_export_spark.functions.jsonfns import make_row_key
from dwp_hbase_to_mongo_export_spark.operators.decryption import _process_batch

KEK = "golden-kek"
RECORDS = 400
# Per topic: the sha256 of the kernel's (db_object, manifest_id,
# manifest_original_id, error) per record, one JSON line each (_digest),
# computed with the kernel as it stood before its fast paths. Error
# texts come from json and cryptography, so a new version of either can
# move a digest without any change to the package.
GOLDEN = {
    "db.core.claimant": "b7958ccbecc08ab50e4a8add48309cdb4e4b445a3b7b1d5d439c083fb93276cf",
    "db.core.healthAndDisabilityDeclaration": "42eb3d27b4faaba10c8e5c619154473db18917b112f93021ab7bf1ca91871295",
    "data.equality": "32f0005c1f167644ef203848d7b9b97800e450bcb332ba6f4f99cf84090f89b2",
    "db.data.businessAudit": "d64e696d9c337c8154ad686f29474c7d73161fe52e36ebe24b6f98ee751ba767",
}


def _date(rng: random.Random) -> str:
    y, mo, d = rng.randint(1890, 2199), rng.randint(1, 12), rng.randint(1, 31)
    h, mi, s = rng.randint(0, 24), rng.randint(0, 60), rng.randint(0, 60)
    if rng.random() < 0.9:  # mostly valid calendar fields
        d, h, mi, s = min(d, 28), min(h, 23), min(mi, 59), min(s, 59)
    frac = str(rng.randint(0, 999_999)).zfill(6)[: rng.choice((3, 3, 3, 1, 2, 4, 5, 6))]
    zone = rng.choice(("Z", "Z", "+0000", "+0000", "-0130", "+0530", "-0000"))
    stamp = f"{y:04d}-{mo:02d}-{d:02d}T{h:02d}:{mi:02d}:{s:02d}.{frac}{zone}"
    if rng.random() < 0.03:  # fullwidth digits in the year
        stamp = "".join(chr(ord(c) + 0xFEE0) for c in stamp[:4]) + stamp[4:]
    if rng.random() < 0.02:
        stamp = "0000" + stamp[4:]
    return stamp


def _payload(rng: random.Random, i: int, audit: bool) -> str:
    doc: dict = {}
    shape = rng.random()
    if shape < 0.35:
        doc["_id"] = {"record_id": f"r{i}", "b": i % 3, "a": [1, {"z": 1, "y": 2}]}
    elif shape < 0.7:
        doc["_id"] = f"id-{i}"
    elif shape < 0.8:
        doc["_id"] = i
    # else: no _id, reverse-engineered from the row key
    for j in range(rng.choice((0, 1, 2, 4))):
        doc[f"date{j}"] = _date(rng)
    if rng.random() < 0.2:
        doc["when"] = {"$date": _date(rng)}
    if rng.random() < 0.8:
        doc["_lastModifiedDateTime"] = _date(rng)
    elif rng.random() < 0.5:
        doc["createdDateTime"] = _date(rng)
    if rng.random() < 0.3:
        doc["items"] = [{"seq": k, "due": _date(rng), "tags": [_date(rng), "x"]} for k in range(2)]
    if rng.random() < 0.1:
        doc["_archivedDateTime"] = _date(rng)
        if rng.random() < 0.5:
            doc["_removedDateTime"] = _date(rng)
    doc["notes"] = rng.choice(("plain", "a\r\nb", "a\\r\\nb", "cost $5", "nul \x00 x", "ünïçode", "_archived"))
    doc["seq"] = i
    doc["ratio"] = rng.random()
    if audit:
        doc = {"auditType": "AUDIT", "context": doc} if rng.random() < 0.9 else {"context": doc}
    if rng.random() < 0.02:
        return "{not json"
    if rng.random() < 0.02:
        return json.dumps([doc])
    return json.dumps(doc)


def _corpus(topic: str, seed: int) -> pd.DataFrame:
    rng = random.Random(seed)
    db, coll = (
        ("data", "businessAudit") if topic == "db.data.businessAudit"
        else ("core", "healthAndDisabilityDeclaration") if "healthAndDisability" in topic
        else ("data", "equality") if topic == "data.equality"
        else ("core", "claimant")
    )
    service = crypto.LocalKeyService()
    data_key = base64.b64encode(rng.randbytes(32)).decode("ascii")
    enc_key = service.encrypt_data_key(KEK, data_key)
    rows = []
    for i in range(RECORDS):
        id_json = json.dumps({"id": f"k{i}"}) if rng.random() < 0.5 else json.dumps(
            {"shard": i % 7, "id": f"k{i}"}
        )
        plaintext = _payload(rng, i, db == "data")
        iv = rng.randbytes(16)
        shipped_iv = iv if rng.random() > 0.02 else iv[:8]  # 8 bytes: AES-CTR rejects it
        rows.append(
            {
                "db_object_enc": crypto.aes_ctr_encrypt(data_key, iv, plaintext.encode("utf-8")),
                "kek_id": KEK,
                "iv": base64.b64encode(shipped_iv).decode("ascii"),
                "encrypted_key": enc_key,
                "row_key": make_row_key(id_json),
                "db": db,
                "collection": coll,
                "message_last_modified": _date(rng),
                "inner_type": "INNER_TYPE",
            }
        )
    return pd.DataFrame(rows)


def _digest(out: dict) -> str:
    h = hashlib.sha256()
    for rec in zip(out["db_object"], out["manifest_id"], out["manifest_original_id"], out["error"]):
        h.update(json.dumps(rec, ensure_ascii=False).encode("utf-8") + b"\n")
    return h.hexdigest()


def test_kernel_output_matches_golden_digest():
    outs = {topic: _process_batch(_corpus(topic, seed), topic) for seed, topic in enumerate(GOLDEN)}
    assert all(len(out["db_object"]) == RECORDS for out in outs.values())
    assert {topic: _digest(out) for topic, out in outs.items()} == GOLDEN
    # the corpus reaches what the digest is meant to pin
    lines = [line for out in outs.values() for line in out["db_object"] if line]
    errors = [e for out in outs.values() for e in out["error"] if e]
    assert any(e.startswith("DateParseError") for e in errors)
    assert any(e.startswith("ValidationError") for e in errors)
    assert any(e.startswith("ValueError") for e in errors)  # bad IV length
    assert any('"d_oid"' in line for line in lines)
    assert any('"d_date"' in line for line in lines)
    assert all(line.startswith('{"message":') for line in outs["data.equality"]["db_object"] if line)
    assert any('"AUDIT_EVENT"' in line for line in outs["db.data.businessAudit"]["db_object"] if line)
    ids = [i for out in outs.values() for i in out["manifest_original_id"] if i]
    assert any(i.startswith("{") for i in ids) and any(not i.startswith("{") for i in ids)
