"""Seeded input generators and the ledgers the output checks compare against.

Every generator takes a ``random.Random`` and returns the inputs the
package sees (parquet files on disk) together with a ledger of what it
produced: how many envelopes are valid, quarantined (mandatory field
missing) or doomed to fail decryption, and the order-free hash of the
lines a correct export must write. The expected lines are computed
in-process from the generator's own plaintext through
``functions.record_norm``, never by reading the program's output.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from dwp_hbase_to_mongo_export_spark.functions import record_norm
from dwp_hbase_to_mongo_export_spark.functions.crypto import LocalKeyService, aes_ctr_encrypt
from dwp_hbase_to_mongo_export_spark.functions.jsonfns import make_row_key
from dwp_hbase_to_mongo_export_spark.operators.envelope import topic_db_collection

KEK_ID = "bench-kek-1"
_WORDS = (
    "claim award payment review appeal account address benefit case note "
    "agent office period change status letter record decision evidence "
    "schedule contact summary request update balance service outcome"
).split()
# Share of envelopes that must be skipped, as the reference's fixtures
# exercise them: a mandatory envelope field missing (quarantine), or an
# IV of the wrong length, which AES-CTR rejects (decrypt failure).
# Document vocabulary for the store corpus: wide enough that random
# documents share few shingles, so near-duplicate candidates are the
# planted ones and not vocabulary collisions.
_SYLLABLES = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
_DOC_WORDS = sorted(
    {a + b + c for a in _SYLLABLES for b in _SYLLABLES[::7] for c in ("", "n", "s", "r")}
)
QUARANTINE_SHARE = 0.01
DECRYPT_FAIL_SHARE = 0.005


def line_digest(line: str) -> int:
    return int.from_bytes(hashlib.blake2b(line.encode("utf-8"), digest_size=8).digest(), "big")


def lines_hash(lines) -> tuple[int, int]:
    """(count, sum of 64-bit digests mod 2^64): equal for equal multisets
    of lines, whatever order they were written in."""
    n = total = 0
    for line in lines:
        n += 1
        total = (total + line_digest(line)) & 0xFFFFFFFFFFFFFFFF
    return n, total


@dataclass
class TopicLedger:
    topic: str
    records: int = 0
    quarantined: int = 0
    failed: int = 0
    valid: int = 0
    plain_bytes: int = 0  # bytes of the expected output lines, newline included
    lines_n: int = 0
    lines_sum: int = 0
    data_key_b64: str = ""
    samples: list = field(default_factory=list)  # (plaintext, row_key suffix) for kernel timing


def _date(rng: random.Random, incoming: bool) -> str:
    y, mo, d = rng.randint(2015, 2024), rng.randint(1, 12), rng.randint(1, 28)
    h, mi, s, ms = rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59), rng.randint(0, 999)
    stem = f"{y:04d}-{mo:02d}-{d:02d}T{h:02d}:{mi:02d}:{s:02d}.{ms:03d}"
    return stem + ("+0000" if incoming else "Z")


def _payload(rng: random.Random, i: int, key_id: str) -> dict:
    """A Mongo-style document: id shape, number of date fields and text
    size all vary, since the normaliser's work depends on them."""
    doc: dict = {}
    shape = rng.random()
    if shape < 0.5:
        doc["_id"] = {"record_id": key_id}
    elif shape < 0.95:
        doc["_id"] = key_id
    # else: no _id, reverse-engineered from the row key
    for j in range(rng.choice((0, 1, 1, 2, 3, 5))):
        doc[f"date{j}"] = _date(rng, rng.random() < 0.5)
    if rng.random() < 0.9:
        doc["_lastModifiedDateTime"] = _date(rng, True)
    n_words = int(rng.lognormvariate(3.0, 1.0)) + 1
    doc["notes"] = " ".join(rng.choice(_WORDS) for _ in range(min(n_words, 600)))
    if rng.random() < 0.3:
        doc["items"] = [
            {"seq": k, "amount": rng.randint(1, 10_000), "due": _date(rng, False)}
            for k in range(rng.randint(1, 4))
        ]
    if rng.random() < 0.05:
        doc["_archivedDateTime"] = _date(rng, False)
    doc["seq"] = i
    return doc


def expected_line(plaintext: str, suffix: str, db: str, coll: str) -> str:
    rec = record_norm.normalise_payload(plaintext, suffix)
    return record_norm.sanitise(record_norm.dumps_compact(rec.db_object), db, coll)


def write_topic(
    rng: random.Random,
    topic: str,
    n: int,
    out_dir: str,
    *,
    files: int,
    ts_span: tuple[int, int],
    scan_range: tuple[int, int] | None = None,
    with_key_byte: bool = False,
    samples: int = 0,
    data_key_b64: str | None = None,
    sort_by_ts: bool = False,
) -> TopicLedger:
    """Write ``n`` envelope cells for ``topic`` as ``files`` parquet files
    under ``out_dir`` (row_key, ts, value [, key_byte]) and return the
    ledger. Cells are sorted by row key across the files, as an HBase
    table stores them, so key-range scans can prune row groups; with
    ``sort_by_ts`` each file is sorted by ts instead, so a pushed-down
    time range can."""
    db, coll = topic_db_collection(topic)
    service = LocalKeyService()
    data_key = data_key_b64 or base64.b64encode(rng.randbytes(32)).decode("ascii")
    enc_key = service.encrypt_data_key(KEK_ID, data_key)
    led = TopicLedger(topic, data_key_b64=data_key)
    rows = []
    for i in range(n):
        key_id = f"{topic}-{i:07d}"
        id_json = json.dumps({"id": key_id}) if rng.random() < 0.5 else json.dumps(
            {"id": key_id, "shard": i % 7}
        )
        row_key = make_row_key(id_json)
        plaintext = json.dumps(_payload(rng, i, key_id))
        iv = rng.randbytes(16)
        ts = rng.randrange(*ts_span)
        fate = rng.random()
        encryption = {
            "encryptionKeyId": "",
            "encryptedEncryptionKey": enc_key,
            "initialisationVector": base64.b64encode(iv).decode("ascii"),
            "keyEncryptionKeyId": KEK_ID,
        }
        db_object = aes_ctr_encrypt(data_key, iv, plaintext.encode("utf-8"))
        in_range = scan_range is None or scan_range[0] <= ts < scan_range[1]
        if fate < QUARANTINE_SHARE:
            encryption.pop(rng.choice(("initialisationVector", "keyEncryptionKeyId", "encryptedEncryptionKey")))
            kind = "quarantined"
        elif fate < QUARANTINE_SHARE + DECRYPT_FAIL_SHARE:
            encryption["initialisationVector"] = base64.b64encode(iv[:8]).decode("ascii")
            kind = "failed"
        else:
            kind = "valid"
        envelope = {
            "traceId": key_id,
            "unitOfWorkId": key_id,
            "@type": "OUTER_TYPE",
            "message": {
                "db": db,
                "collection": coll,
                "@type": "INNER_TYPE",
                "_lastModifiedDateTime": _date(rng, True),
                "encryption": encryption,
                "dbObject": db_object,
            },
            "version": "core-4.master.9790",
        }
        rows.append((row_key[0], row_key, ts, json.dumps(envelope)))
        if not in_range:
            continue
        led.records += 1
        if kind == "valid":
            line = expected_line(plaintext, row_key[4:].decode("utf-8"), db, coll)
            led.valid += 1
            led.plain_bytes += len(line.encode("utf-8")) + 1
            led.lines_n += 1
            led.lines_sum = (led.lines_sum + line_digest(line)) & 0xFFFFFFFFFFFFFFFF
            if len(led.samples) < samples:
                led.samples.append((plaintext, row_key[4:].decode("utf-8")))
        elif kind == "quarantined":
            led.quarantined += 1
        else:
            led.failed += 1
    os.makedirs(out_dir, exist_ok=True)
    if not sort_by_ts:
        rows.sort(key=lambda r: r[1])
    per_file = -(-len(rows) // files)
    for f in range(files):
        chunk = rows[f * per_file : (f + 1) * per_file]
        if sort_by_ts:
            chunk.sort(key=lambda r: r[2])
        cols = {
            "row_key": pa.array([r[1] for r in chunk], pa.binary()),
            "ts": pa.array([r[2] for r in chunk], pa.int64()),
            "value": pa.array([r[3] for r in chunk], pa.string()),
        }
        if with_key_byte:
            cols = {"key_byte": pa.array([r[0] for r in chunk], pa.int32()), **cols}
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"part-{f:03d}.parquet"), row_group_size=512)
    return led


def write_documents(rng: random.Random, sf_dir: str, n_docs: int, n_vecs: int, dim: int = 64) -> None:
    """The ``documents`` and ``embeddings`` tables the durable stores and
    the recovery drill are built over (same schemas as the test fixtures)."""
    os.makedirs(sf_dir, exist_ok=True)
    texts = [doc_text(rng) for _ in range(n_docs)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": texts,
                "lang": [rng.choice(("en", "fr", "de")) for _ in range(n_docs)],
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(
                    [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_vecs)],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([i % 8 for i in range(n_vecs)], pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )


def doc_text(rng: random.Random, extra: str = "") -> str:
    words = [rng.choice(_DOC_WORDS) for _ in range(rng.randint(12, 40))]
    if extra:
        words.insert(rng.randrange(len(words)), extra)
    return " ".join(words)


def edit_once(rng: random.Random, text: str) -> str:
    """One character substituted: edit distance 1 from ``text``."""
    i = rng.randrange(len(text))
    c = "x" if text[i] != "x" else "y"
    return text[:i] + c + text[i + 1 :]
