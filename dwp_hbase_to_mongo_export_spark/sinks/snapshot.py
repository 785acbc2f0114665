"""Snapshot sinks — "mongo backup format" (one JSON record per line),
size-bounded, compressed, optionally envelope-encrypted, plus the aligned
per-file manifest CSVs.

Reference: src/main/kotlin/app/batch/S3StreamingWriter.kt:73-187 —
roll a new file when uncompressed bytes would exceed
output.batch.size.max.bytes; per file: compress (bz2/gz/lz4) -> AES-CTR
encrypt (fresh random IV per file, ONE data key per run) -> put with
metadata (iv, ciphertext of data key, kek id); object key
{prefix}/{topic}-{start:03d}-{stop:03d}-{seq:06d}.txt.{ext}.enc and a
matching manifest CSV per file (DomainClasses.kt:83-88).

Writers:
- write_snapshot_text: the pure-Spark path (codegen'd, no Python) for
  when byte-exact rolling and envelope encryption are not required —
  this is what you'd run at 100 TB with sizes controlled by
  maxRecordsPerFile, letting the committer handle naming/atomicity.
- write_encrypted_snapshots: faithful reference semantics over an
  already-normalised record frame (pipeline.export_topic's sink_frame)
  via mapInPandas — each partition streams its records through
  compress+encrypt with byte-exact rolls; returns per-file metadata
  rows to the driver (for status counts / notifications).
- export_envelopes: the batch export job's stage (run_topic_export) —
  the same writer fed straight from the per-record kernel
  (operators.decryption._process_batch: decrypt -> normalise ->
  sanitise -> transform, the kernel export_topic's frame runs too), in
  ONE Python pass per partition over the valid envelope frame, so the
  records never go back to the JVM between normalising and writing.
Both encrypted stages share one per-partition _RollingWriter (roll,
compress, encrypt, manifest lines, sidecars) and write identical bytes
for the same records and partitioning. The data key is fetched ONCE on
the driver and shipped with the task closure (the "single datakey per
collection" invariant, UberTestSpec.kt:144-154).
"""

from __future__ import annotations

import base64
import bz2 as _bz2
import gzip as _gzip
import hashlib
import json
import os
import re
import secrets
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.crypto import aes_ctr_decrypt, aes_ctr_encrypt
from ..operators.manifest import MANIFEST_COLUMNS

try:  # lz4 isn't in the base image; gate like the reference's codec profiles
    import lz4.block as _lz4_block  # type: ignore
    import lz4.frame as _lz4  # type: ignore

    HAVE_LZ4 = True
except ImportError:
    _lz4 = None
    _lz4_block = None
    HAVE_LZ4 = False

# Codec profiles mirror ContextConfiguration.kt:20-52: bz2Compressor /
# gzCompressor / framedLZ4Compressor / blockLZ4Compressor. "lz4" is the
# FRAMED format (FramedLZ4CompressorOutputStream = the interoperable
# LZ4 frame spec = python lz4.frame); "lz4_block" is the raw BLOCK
# format (BlockLZ4CompressorOutputStream). store_size=False drops
# python-lz4's 4-byte little-endian uncompressed-size prefix so the
# bytes match the Java block stream exactly — a reference-side consumer
# can decode these files. Raw blocks are not self-describing, so the
# decompressor needs the uncompressed size externally: the sink records
# it as batch_size_bytes in the per-file metadata row, exactly the hint
# a consumer passes to lz4.block.decompress(uncompressed_size=...).
# Both profiles write the reference's "lz4" file extension.
#
# Without the native lz4 package the BLOCK profile falls back to the
# vendored pure-Python block codec (functions/lz4block.py — the public
# block format, spec-compliant but ~3 orders slower): format
# correctness stays executable and byte-verifiable everywhere, while a
# real deployment installs the native lib (requirements-extras.txt).
# The FRAMED profile stays gated on the native lib (the frame adds
# xxhash-checksummed headers this repo has no reason to reimplement).
from ..functions import lz4block as _lz4block_py

_COMPRESSORS = {
    "bz2": (lambda b: _bz2.compress(b), "bz2"),
    # mtime=0, like commons-compress's GzipParameters default: the
    # header carries no wall clock, so the same records give the same bytes
    "gz": (lambda b: _gzip.compress(b, mtime=0), "gz"),
    "lz4": ((lambda b: _lz4.compress(b)) if HAVE_LZ4 else None, "lz4"),
    "lz4_block": (
        (lambda b: _lz4_block.compress(b, store_size=False))
        if HAVE_LZ4
        else _lz4block_py.compress_block,
        "lz4",
    ),
}

# LZ4 FRAME magic (little-endian 0x184D2204) — how the read side tells
# a framed file from a raw block stream when only one can be decoded.
_LZ4_FRAME_MAGIC = b"\x04\x22\x4d\x18"


def write_snapshot_text(
    records: DataFrame,
    path: str,
    compression: str = "bzip2",
    max_records_per_file: int | None = None,
) -> None:
    """Spark-native line-JSON snapshot write (db_object column only)."""
    w = records.select("db_object").write.mode("overwrite")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.option("compression", compression).text(path)


FILE_META_SCHEMA = T.StructType(
    [
        T.StructField("object_key", T.StringType()),
        T.StructField("manifest_key", T.StringType()),
        T.StructField("records_in_batch", T.LongType()),
        T.StructField("batch_size_bytes", T.LongType()),
        T.StructField("data_size_bytes", T.LongType()),
        T.StructField("iv", T.StringType()),
        T.StructField("ciphertext_key", T.StringType()),
        T.StructField("kek_id", T.StringType()),
    ]
)


@dataclass
class SnapshotSinkConfig:
    output_dir: str
    topic: str
    max_batch_bytes: int = 100_000_000
    compression: str = "gz"
    data_key_b64: str | None = None  # None -> plaintext (compressed only)
    encrypted_data_key_b64: str = ""
    kek_id: str = ""
    export_prefix: str = ""
    deterministic_iv: bool = False  # tests only
    # partition id -> (start, stop) key-range bounds for file naming.
    # The reference names snapshots {topic}-{start}-{stop}-{seq:06d}
    # with the PARTITION'S KEY RANGE (S3StreamingWriter.kt:95-101 reads
    # start/stop from the HBasePartitioner execution context); when the
    # sink frame flows narrow from the key-range-planned source, pass
    # key_range_naming(scan_width) here to reproduce that contract.
    # None falls back to (pid, pid) — stable but not range-named.
    partition_ranges: dict | None = None


def key_range_naming(scan_width: int = 5) -> dict[int, tuple[int, int]]:
    """pid -> (start, stop) for the hbase_cells_source partition grid:
    partition i scans first-key-byte range [i*w, min(i*w+w, 256)) —
    identical to HBaseCellsReader.partitions(), so file names line up
    with the ranges the reference's partitioner would print."""
    w = scan_width
    return {
        i: (lo, min(lo + w, 256)) for i, lo in enumerate(range(0, 256, w))
    }


_CSV_SPECIAL = re.compile(r'[",\n\r]')


def _csv_escape(v: str) -> str:
    if _CSV_SPECIAL.search(v):
        return '"' + v.replace('"', '""') + '"'
    return v


FILE_META_ROW = Row(*(f.name for f in FILE_META_SCHEMA))


class _RollingWriter:
    """One partition's size-rolled snapshot stream: the roll -> compress
    -> AES-CTR -> write loop, its manifest lines and its metadata
    sidecars. Both sink stages (write_encrypted_snapshots and
    export_envelopes) feed records into it, one instance per task;
    files are named after the task's partition."""

    def __init__(self, cfg: SnapshotSinkConfig):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        self.cfg = cfg
        self.pid = pid
        self.compress, ext = _COMPRESSORS[cfg.compression]
        self.suffix = f".txt.{ext}.enc" if cfg.data_key_b64 else f".txt.{ext}"
        self.start, self.stop = (cfg.partition_ranges or {}).get(pid, (pid, pid))
        self.seq = 0
        self.lines: list[bytes] = []
        self.manifest_lines: list[str] = []
        self.nbytes = 0
        self.metas: list[tuple] = []

    def add(self, db_object: str, manifest_fields) -> None:
        """One record: its db_object line and its MANIFEST_COLUMNS values."""
        # UTF-8 BYTE length, not char count — the reference sizes
        # batches on the encoded record (S3StreamingWriter.kt:78-80)
        line = (db_object + "\n").encode("utf-8")
        # roll BEFORE writing when the next record would overflow
        if self.lines and self.nbytes + len(line) > self.cfg.max_batch_bytes:
            self._flush()
        self.lines.append(line)
        self.nbytes += len(line)
        self.manifest_lines.append(
            "|".join(_csv_escape(str(v) if v is not None else "") for v in manifest_fields) + "\n"
        )

    def close(self) -> list[tuple]:
        """Flush the open file; the FILE_META_SCHEMA tuples of every file."""
        if self.lines:
            self._flush()
        return self.metas

    def _flush(self) -> None:
        cfg = self.cfg
        stem = f"{cfg.topic}-{self.start:03d}-{self.stop:03d}-{self.seq:06d}"
        object_key, manifest_key = stem + self.suffix, stem + ".csv"
        comp = self.compress(b"".join(self.lines))
        iv_b64 = ""
        if cfg.data_key_b64:
            iv = (
                hashlib.sha256(f"{cfg.topic}:{self.pid}:{self.seq}".encode()).digest()[:16]
                if cfg.deterministic_iv
                else secrets.token_bytes(16)
            )
            payload = base64.b64decode(aes_ctr_encrypt(cfg.data_key_b64, iv, comp))
            iv_b64 = base64.b64encode(iv).decode("ascii")
        else:
            payload = comp
        with open(os.path.join(cfg.output_dir, object_key), "wb") as f:
            f.write(payload)
        with open(os.path.join(cfg.output_dir, manifest_key), "w", encoding="utf-8") as f:
            f.write("".join(self.manifest_lines))
        with open(os.path.join(cfg.output_dir, object_key + ".metadata.json"), "w") as f:
            # iv/ciphertext/kek mirror the reference's S3 user metadata
            # (S3ObjectServiceImpl.kt:24-47); batch_size_bytes is the
            # UNCOMPRESSED batch size — the raw-block-LZ4 reader needs it
            # as its decompress size hint (no size header in that format)
            json.dump(
                {
                    "iv": iv_b64,
                    "ciphertext": cfg.encrypted_data_key_b64,
                    "dataKeyEncryptionKeyId": cfg.kek_id,
                    "batch_size_bytes": self.nbytes,
                },
                f,
            )
        self.metas.append(
            (
                object_key,
                manifest_key,
                len(self.lines),
                self.nbytes,
                len(payload),
                iv_b64,
                cfg.encrypted_data_key_b64,
                cfg.kek_id,
            )
        )
        self.seq += 1
        self.lines, self.manifest_lines, self.nbytes = [], [], 0


def _open_sink(cfg: SnapshotSinkConfig) -> None:
    """Driver-side checks before any task writes."""
    if _COMPRESSORS[cfg.compression][0] is None:
        raise ValueError(f"compression codec {cfg.compression} unavailable")
    os.makedirs(cfg.output_dir, exist_ok=True)


def write_encrypted_snapshots(records: DataFrame, cfg: SnapshotSinkConfig) -> list[Row]:
    """records must carry db_object + the manifest columns
    (id/timestamp/db/collection/source/externalOuterSource/originalId/
    externalInnerSource as produced by operators.manifest.manifest_records
    joined back, or the pipeline's wide record frame).

    Executor-side: stream each partition into size-rolled files under
    cfg.output_dir; returns collected per-file metadata (driver-side
    bookkeeping — the incrementExportedCount / notifySnapshotSender hook).
    """
    _open_sink(cfg)

    def write_partition(batches):
        # mapInPandas (not .rdd.mapPartitions): the write stays a DataFrame
        # action, so upstream observe() metrics fire on the same pass — an
        # RDD action executes outside SQL-execution tracking and would leave
        # Observation.get blocked forever.
        import pandas as _pd

        writer = _RollingWriter(cfg)
        for pdf in batches:
            for db_object, *fields in zip(pdf["db_object"], *(pdf[c] for c in MANIFEST_COLUMNS)):
                writer.add(db_object, fields)
        yield _pd.DataFrame(writer.close(), columns=list(FILE_META_ROW))

    return records.mapInPandas(write_partition, FILE_META_SCHEMA).collect()


EXPORT_SCHEMA = T.StructType(
    FILE_META_SCHEMA.fields
    + [
        T.StructField("records_failed", T.LongType()),
        T.StructField("bytes_normalised", T.LongType()),
    ]
)


def export_envelopes(
    valid: DataFrame, topic: str, cfg: SnapshotSinkConfig
) -> tuple[list[Row], dict]:
    """The export's per-record work as ONE Python pass per partition —
    the reference's chunk loop (CompositeItemProcessor -> S3StreamingWriter,
    JobConfiguration.kt:49-76) as one mapInPandas over the VALID envelope
    frame (operators.envelope.split_valid's first half): per Arrow batch,
    the per-record kernel (operators.decryption._process_batch: decrypt,
    normalise, sanitise and the data.equality wrap), then straight into
    the partition's rolling writer. Undecryptable and invalid payloads
    are counted, not written.

    Writes exactly what write_encrypted_snapshots writes for
    pipeline.export_topic's sink frame over the same partitioning, with
    one Python stage fewer. Returns (per-file metadata rows, {"records_failed",
    "bytes_normalised"}): each partition ends with one counter row
    (object_key NULL) and the driver sums the counters."""
    from ..operators.decryption import _process_batch

    _open_sink(cfg)

    def export_partition(batches):
        import pandas as _pd

        writer = _RollingWriter(cfg)
        failed = nbytes = 0
        for pdf in batches:
            out = _process_batch(pdf, topic)
            for line, mid, orig_id, n, ts, db, coll, outer, inner in zip(
                out["db_object"],
                out["manifest_id"],
                out["manifest_original_id"],
                out["normalised_len"],
                pdf["ts"],
                pdf["db"],
                pdf["collection"],
                pdf["outer_type"],
                pdf["inner_type"],
            ):
                if line is None:
                    failed += 1
                    continue
                nbytes += n
                # MANIFEST_COLUMNS order (operators.manifest.manifest_records)
                writer.add(line, (mid, ts, db, coll, "EXPORT", outer, orig_id, inner))
        # integer columns stay NULL-free (a None would turn them float)
        rows = [m + (0, 0) for m in writer.close()]
        rows.append((None, None, 0, 0, 0, None, None, None, failed, nbytes))
        yield _pd.DataFrame(rows, columns=EXPORT_SCHEMA.fieldNames())

    rows = valid.mapInPandas(export_partition, EXPORT_SCHEMA).collect()
    files = [FILE_META_ROW(*r[: len(FILE_META_ROW)]) for r in rows if r.object_key is not None]
    counters = {c: sum(r[c] for r in rows) for c in ("records_failed", "bytes_normalised")}
    return files, counters


def read_encrypted_snapshots(
    spark,
    snapshot_dir: str,
    data_key_b64: str | None = None,
) -> DataFrame:
    """The CONSUMER side of the snapshot contract: read a directory of
    size-rolled (optionally encrypted) snapshot files back into a
    DataFrame of (object_key, db_object) line-JSON records — what every
    downstream reader of the reference's export (snapshot-sender, ADG)
    does with S3 objects + their .metadata.json
    (S3ObjectServiceImpl.kt:24-47 writes iv/ciphertext/kek as user
    metadata; the sink here mirrors it as a sidecar file).

    Spark shape: binaryFile scan of the snapshot objects (metadata and
    manifest sidecars filtered out by pathGlobFilter), then ONE
    mapInPandas pass that per file reads the sidecar IV, AES-CTR
    decrypts, decompresses by the file's codec extension, and splits
    lines — a map-only DAG whose parallelism is the file count, exactly
    how a 20k-file 100 TB export fans out. The data key is passed once
    from the driver (the broadcast-one-key invariant in reverse);
    plaintext profiles need no key.
    """
    import json as _json

    from pyspark.sql import functions as F

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt.*")
        .load(snapshot_dir)
        # the glob also matches the "<object>.metadata.json" sidecars —
        # they are read per-file inside the decode pass, not as rows
        .filter(~F.col("path").endswith(".metadata.json"))
        .select(F.col("path"), F.col("content"))
    )

    def decode_partition(batches):
        import bz2 as _bz2d
        import gzip as _gzipd
        import os as _os

        import pandas as _pd

        for pdf in batches:
            out_keys: list[str] = []
            out_lines: list[str] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                local = path[len("file:") :] if path.startswith("file:") else path
                key = _os.path.basename(local)
                payload = bytes(content)
                if key.endswith(".enc"):
                    if data_key_b64 is None:
                        raise ValueError(f"{key}: encrypted snapshot, no data key")
                    with open(local + ".metadata.json") as fh:
                        iv = _json.load(fh)["iv"]
                    ct_b64 = base64.b64encode(payload).decode("ascii")
                    payload = aes_ctr_decrypt(data_key_b64, iv, ct_b64)
                    stem = key[: -len(".enc")]
                else:
                    stem = key
                codec = stem.rsplit(".", 1)[-1]
                if codec == "bz2":
                    payload = _bz2d.decompress(payload)
                elif codec == "gz":
                    payload = _gzipd.decompress(payload)
                elif codec == "lz4":
                    # framed (frame magic) vs raw block: a raw block
                    # (no magic, no stored size) needs the uncompressed
                    # size — read it from the sidecar's
                    # batch_size_bytes (written per file by the sink),
                    # falling back to a generous constant only when no
                    # sidecar exists. Without the native lib, raw
                    # blocks decode through the vendored pure-Python
                    # codec; framed files cannot.
                    framed = payload[:4] == _LZ4_FRAME_MAGIC
                    if framed:
                        if not HAVE_LZ4:
                            raise ValueError(
                                "lz4 library unavailable (framed lz4)"
                            )
                        payload = _lz4.decompress(payload)
                    else:
                        size_hint = None
                        try:
                            with open(local + ".metadata.json") as fh:
                                size_hint = int(
                                    _json.load(fh)["batch_size_bytes"]
                                )
                        except (OSError, KeyError, ValueError):
                            pass
                        if HAVE_LZ4:
                            # native decompress needs a buffer bound;
                            # generous constant when no sidecar exists
                            payload = _lz4_block.decompress(
                                payload,
                                uncompressed_size=size_hint
                                or 256 * 1024 * 1024,
                            )
                        else:
                            # pure decoder validates the exact size
                            # when the sidecar recorded it
                            payload = _lz4block_py.decompress_block(
                                payload, uncompressed_size=size_hint
                            )
                else:
                    raise ValueError(f"{key}: unknown codec {codec!r}")
                lines = payload.decode("utf-8").splitlines()
                out_keys.extend([key] * len(lines))
                out_lines.extend(lines)
            yield _pd.DataFrame({"object_key": out_keys, "db_object": out_lines})

    return files.mapInPandas(decode_partition, "object_key string, db_object string")
