"""The three workloads. Each one is a closed loop with a single client:
the next call starts only when the previous one has returned.

``generate`` writes the inputs from the seed without Spark (it runs
while the session starts); ``setup`` builds what the workload reuses and
runs one warm-up iteration; ``iterate`` is one timed
iteration followed by its output checks; ``report`` turns what the
iterations recorded into metrics. Why each workload exists is written
in README.md next to this file.
"""

from __future__ import annotations

import base64
import os
import random
import re
import shutil
import sys
import tempfile
import time
import traceback
from collections import defaultdict

import pyarrow.parquet as pq

import gen
from harness import Outcome, Tracer, median

from dwp_hbase_to_mongo_export_spark.functions import crypto, record_norm
from dwp_hbase_to_mongo_export_spark.orchestration import (
    CollectionStatus,
    ExportStatusService,
    run_topic_export,
)
from dwp_hbase_to_mongo_export_spark.sinks.snapshot import (
    SnapshotSinkConfig,
    key_range_naming,
    read_encrypted_snapshots,
    write_encrypted_snapshots,
)

T0 = 1_600_000_000_000  # cell timestamps, epoch millis
DAY = 86_400_000


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, nproc: int, tracer: Tracer, outcome: Outcome):
        self.spark = None  # set by the runner once the session is up
        self.work = work
        self.seed = seed
        self.nproc = nproc
        self.tracer = tracer
        self.outcome = outcome
        self.rng = random.Random(seed)
        self.samples: list = []  # (plaintext, row-key suffix) for the kernel timings
        self.sample_key = ""
        self.op_samples = 0  # operations timed (exports, topics or store calls)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op_failed(self, what: str) -> None:
        self.outcome.failed += 1
        print(f"perfbench: {self.name}: {what}", file=sys.stderr)

    def kernel_metrics(self) -> dict:
        """crypto.us_per_record and record_norm.us_per_record: the public
        per-record functions the decrypt UDF calls, timed in-process on
        generated records, without Spark."""
        if not self.samples:
            return {"crypto.us_per_record": 0.0, "record_norm.us_per_record": 0.0}
        rng = random.Random(self.seed + 1)
        enc = []
        for plaintext, _ in self.samples:
            iv = rng.randbytes(16)
            ct = crypto.aes_ctr_encrypt(self.sample_key, iv, plaintext.encode("utf-8"))
            enc.append((base64.b64encode(iv).decode("ascii"), ct))

        def per_record(fn) -> float:
            passes = []
            spent = 0.0
            while spent < 0.25 or len(passes) < 5:
                t = time.perf_counter()
                fn()
                d = time.perf_counter() - t
                spent += d
                passes.append(d * 1e6 / len(self.samples))
            return median(passes)

        def decrypt_all():
            for iv, ct in enc:
                crypto.aes_ctr_decrypt(self.sample_key, iv, ct)

        def normalise_all():
            for plaintext, suffix in self.samples:
                rec = record_norm.normalise_payload(plaintext, suffix)
                record_norm.dumps_compact(rec.db_object)

        return {
            "crypto.us_per_record": per_record(decrypt_all),
            "record_norm.us_per_record": per_record(normalise_all),
        }


# --- export workloads -------------------------------------------------------


def check_export(outcome: Outcome, topic: str, rep, led: gen.TopicLedger, lines_by_key: dict,
                 out_dir: str, roll_bytes: int, name_re: re.Pattern | None = None) -> bool:
    """One exported topic against the generator's ledger: status, the
    observe() counters, records per file (data lines and manifest lines
    alike), size-bounded rolls, file naming, and the order-free hash of
    every line read back through read_encrypted_snapshots."""
    ok = outcome.check(rep.status == CollectionStatus.EXPORTED, f"{topic}: status {rep.status}")
    m = rep.metrics
    ok &= outcome.check(m.get("records_read") == led.records, f"{topic}: records_read {m.get('records_read')} != {led.records}")
    ok &= outcome.check(
        m.get("records_valid") == led.records - led.quarantined,
        f"{topic}: records_valid {m.get('records_valid')} != {led.records - led.quarantined}",
    )
    ok &= outcome.check(m.get("records_failed") == led.failed, f"{topic}: records_failed {m.get('records_failed')} != {led.failed}")
    ok &= outcome.check(sum(f.records_in_batch for f in rep.files) == led.valid, f"{topic}: records in files != {led.valid}")
    lines = []
    for f in rep.files:
        got = lines_by_key.get(f.object_key, [])
        lines.extend(got)
        ok &= outcome.check(len(got) == f.records_in_batch, f"{f.object_key}: {len(got)} lines, metadata says {f.records_in_batch}")
        with open(os.path.join(out_dir, f.manifest_key), encoding="utf-8") as fh:
            n_manifest = sum(1 for _ in fh)
        ok &= outcome.check(n_manifest == f.records_in_batch, f"{f.manifest_key}: {n_manifest} manifest lines")
        ok &= outcome.check(
            f.batch_size_bytes <= roll_bytes or f.records_in_batch == 1, f"{f.object_key}: roll bound exceeded"
        )
        if name_re is not None:
            ok &= outcome.check(bool(name_re.fullmatch(f.object_key)), f"{f.object_key}: not key-range named")
    ok &= outcome.check(gen.lines_hash(lines) == (led.lines_n, led.lines_sum), f"{topic}: line hash differs")
    return ok


def read_back(spark, out_dir: str, data_key: str) -> dict:
    by_key = defaultdict(list)
    for r in read_encrypted_snapshots(spark, out_dir, data_key).collect():
        by_key[r.object_key].append(r.db_object)
    return by_key


def hbase_cells(spark, cells_dir: str, scan_width: int):
    """Cells through the package's HBase-shaped DataSource: one input
    partition per key range, ts bounds pushed into the scan."""
    return (
        spark.read.format("hbase_cells_fixture")
        .option("path", cells_dir)
        .option("scan_width", scan_width)
        .load()
    )


def unpruned_rows(cells_dir: str, ranges: dict, scan_range=None) -> int:
    """Rows the source decodes: each key-range partition reads every row
    group whose key_byte (and, with a scan range, ts) statistics overlap
    its scan; pyarrow filters rows only after decoding the group."""
    total = 0
    for f in sorted(os.listdir(cells_dir)):
        md = pq.ParquetFile(os.path.join(cells_dir, f)).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = {rg.column(c).path_in_schema: rg.column(c).statistics for c in range(rg.num_columns)}
            ts, kb = st["ts"], st["key_byte"]
            if scan_range is not None and (ts.max < scan_range[0] or ts.min >= scan_range[1]):
                continue
            total += rg.num_rows * sum(1 for lo, hi in ranges.values() if kb.max >= lo and kb.min < hi)
    return total


def key_range_name_re(topic: str, codec: str) -> re.Pattern:
    return re.compile(re.escape(topic) + r"-(\d{3})-(\d{3})-\d{6}\.txt\." + codec + r"\.enc")


def named_by_ranges(files, name_re: re.Pattern, ranges: dict) -> bool:
    """Every object key carries the (start, stop) of a key-range partition."""
    spans = set(ranges.values())
    return all((int(m.group(1)), int(m.group(2))) in spans for m in (name_re.fullmatch(f.object_key) for f in files) if m)


class PrefixTimer:
    """Per-layer times of the lazy export DAG. Each prefix of the DAG is
    run to completion with ``bench.bench_action`` (a hash over every
    output column, so nothing is pruned); a layer's self time is the
    difference between consecutive prefixes."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.self_s: dict[str, list[float]] = defaultdict(list)
        self.plan_s: list[float] = []
        self.chain_s: list[float] = []  # plan + every prefix + sink: the traced export's wall

    def run(self, cells_fn, topic: str, cfg: SnapshotSinkConfig, snapshot_type: str, scan_range=None):
        from bench import bench_action
        from pyspark.sql import functions as F

        from dwp_hbase_to_mongo_export_spark.operators.decryption import decrypt_and_normalise
        from dwp_hbase_to_mongo_export_spark.operators.envelope import parse_envelope, split_valid
        from dwp_hbase_to_mongo_export_spark.pipeline import export_topic

        def cells():
            df = cells_fn()
            if scan_range is not None:
                df = df.filter((F.col("ts") >= scan_range[0]) & (F.col("ts") < scan_range[1]))
            return df

        kw = dict(snapshot_type=snapshot_type, scan_time_range=scan_range)
        t_start = time.perf_counter()
        with self.tracer.span("orchestration.plan") as s:
            res = export_topic(cells_fn(), topic, **kw)
        self.plan_s.append(s.end - s.start)
        prefixes = {
            "scan": lambda: cells(),
            "envelope": lambda: parse_envelope(cells(), topic),
            "decryption": lambda: decrypt_and_normalise(split_valid(parse_envelope(cells(), topic))[0]),
            "sanitisation": lambda: export_topic(cells_fn(), topic, observe_metrics=False, **kw).extra["sink_frame"],
        }
        cum = {}
        for layer, build in prefixes.items():
            with self.tracer.span(f"prefix.{layer}") as s:
                bench_action(build()).collect()
            cum[layer] = s.end - s.start
        with self.tracer.span("prefix.sink") as s:
            files = write_encrypted_snapshots(res.extra["sink_frame"], cfg)
        cum["sink"] = s.end - s.start
        self.chain_s.append(time.perf_counter() - t_start)
        prev = 0.0
        for layer, t in cum.items():
            self.self_s[layer].append(t - prev)
            prev = t
        return files

    def metrics(self, untraced_s: float) -> dict:
        """Layer self times, and how the traced export compares with the
        untraced one (``untraced_s``): the residual the layers leave
        unexplained, and the time tracing added."""
        if not self.plan_s:
            return {}
        self_s = {layer: median(v) for layer, v in self.self_s.items()}
        return {
            "sources.scan_s": self_s["scan"],
            "envelope.self_s": self_s["envelope"],
            "decryption.self_s": self_s["decryption"],
            "sanitisation.self_s": self_s["sanitisation"],
            "sink.self_s": self_s["sink"],
            "orchestration.plan_s": median(self.plan_s),
            "trace.residual_s": untraced_s - median(self.plan_s) - sum(self_s.values()),
            "trace.overhead_s": median(self.chain_s) - untraced_s,
        }


class ExportFull(Workload):
    """One large topic, full snapshot, gz + AES, read from a cells parquet
    through the HBase-shaped source."""

    name = "export_full"
    TOPIC = "db.core.claimant"
    RECORDS = 12_000
    ROLL_BYTES = 1_000_000  # several files per partition

    def generate(self) -> None:
        self.cells_dir = self.path("cells_full")
        self.led = gen.write_topic(
            self.rng, self.TOPIC, self.RECORDS, self.cells_dir,
            files=2 * self.nproc, ts_span=(T0, T0 + 30 * DAY), with_key_byte=True, samples=200,
        )
        self.scan_width = -(-256 // self.nproc)  # one key-range partition per core
        self.ranges = key_range_naming(self.scan_width)
        self.rows_scanned = unpruned_rows(self.cells_dir, self.ranges)
        self.name_re = key_range_name_re(self.TOPIC, "gz")
        self.samples, self.sample_key = self.led.samples, self.led.data_key_b64
        self.enc_key = crypto.LocalKeyService().encrypt_data_key(gen.KEK_ID, self.led.data_key_b64)
        self.status = ExportStatusService(f"perfbench-{self.seed}")
        self.walls: list[float] = []
        self.readback_s: list[float] = []
        self.bytes_out: list[int] = []
        self.files: list[int] = []
        self.bytes_in: list[int] = []
        self.prefix = PrefixTimer(self.tracer)
        self.counts = {"quarantined": 0, "failed": 0}

    def setup(self) -> None:
        from dwp_hbase_to_mongo_export_spark.sources import hbase_cells_source

        hbase_cells_source.register(self.spark)
        # warm-up: one file's cells through the export and the read-back
        # pays the JVM's and the Python workers' start-up; the first full
        # export is still about a third slower than the ones after it, so
        # one runs untimed too. When tracing, every prefix the traced
        # iterations time also runs once.
        first = os.path.join(self.cells_dir, sorted(os.listdir(self.cells_dir))[0])
        warm = self.path("warm_full")
        for cells in (hbase_cells(self.spark, first, self.scan_width), self.cells()):
            run_topic_export(cells, self.TOPIC, self.cfg(warm), ExportStatusService("warm-up"))
            read_back(self.spark, warm, self.led.data_key_b64)
            shutil.rmtree(warm)
        if self.tracer.enabled:
            PrefixTimer(Tracer(False)).run(
                lambda: hbase_cells(self.spark, first, self.scan_width), self.TOPIC, self.cfg(warm), "full"
            )
            shutil.rmtree(warm)

    def cells(self):
        return hbase_cells(self.spark, self.cells_dir, self.scan_width)

    def cfg(self, out: str) -> SnapshotSinkConfig:
        return SnapshotSinkConfig(
            output_dir=out, topic=self.TOPIC, max_batch_bytes=self.ROLL_BYTES, compression="gz",
            data_key_b64=self.led.data_key_b64, encrypted_data_key_b64=self.enc_key, kek_id=gen.KEK_ID,
            partition_ranges=self.ranges,
        )

    def iterate(self, i: int) -> None:
        out = self.path("out_full", str(i))
        self.outcome.attempted += 1
        try:
            with self.tracer.span("export") as s:
                rep = run_topic_export(self.cells(), self.TOPIC, self.cfg(out), self.status)
            with self.tracer.span("sink.readback") as r:
                lines = read_back(self.spark, out, self.led.data_key_b64)
            ok = check_export(self.outcome, self.TOPIC, rep, self.led, lines, out, self.ROLL_BYTES, self.name_re)
            ok &= self.outcome.check(named_by_ranges(rep.files, self.name_re, self.ranges), "files not key-range named")
        except Exception:  # an operation that raises counts as failed; the loop goes on
            traceback.print_exc()
            ok = False
        if not ok:
            self.op_failed(f"iteration {i} failed")
            return
        self.walls.append(s.end - s.start)
        self.readback_s.append(r.end - r.start)
        self.bytes_out.append(sum(f.data_size_bytes for f in rep.files))
        self.bytes_in.append(sum(f.batch_size_bytes for f in rep.files))
        self.files.append(len(rep.files))
        self.counts = {
            "quarantined": rep.metrics["records_read"] - rep.metrics["records_valid"],
            "failed": rep.metrics["records_failed"],
        }
        shutil.rmtree(out)
        if self.tracer.enabled:
            traced = self.path("out_full_traced", str(i))
            self.prefix.run(self.cells, self.TOPIC, self.cfg(traced), "full")
            shutil.rmtree(traced)

    def report(self) -> tuple[dict, dict]:
        wall = median(self.walls)
        self.op_samples = len(self.walls)
        e2e = {
            "wall_s": wall,
            "records_per_s": self.led.valid / wall if wall else 0.0,
            "output_bytes_ratio": median(self.bytes_out) / self.led.plain_bytes,
        }
        layer = {
            **self.prefix.metrics(wall),
            "sources.rows_scanned": float(self.rows_scanned),
            "sources.range_hit_ratio": self.led.records / self.rows_scanned,
            "envelope.quarantined": float(self.counts["quarantined"]),
            "decryption.failed": float(self.counts["failed"]),
            "sink.files": median(self.files),
            "sink.bytes_in": median(self.bytes_in),
            "sink.bytes_out": median(self.bytes_out),
            "sink.readback_s": median(self.readback_s),
        }
        return e2e, layer


class ExportFleet(Workload):
    """Fourteen small topics of skewed sizes, incremental, through the
    HBase-shaped source, one after another, sharing one status service."""

    name = "export_fleet"
    TOPICS = 14
    LARGEST = 1_600
    ROLL_BYTES = 64_000
    SCAN_DAYS = (7, 10)  # incremental window inside the 10 days of cells
    TRACED_TOPICS = 3

    def generate(self) -> None:
        rng = self.rng
        self.scan_width = -(-256 // self.nproc)  # one key-range partition per core
        self.ranges = key_range_naming(self.scan_width)
        self.scan_range = (T0 + self.SCAN_DAYS[0] * DAY, T0 + self.SCAN_DAYS[1] * DAY)
        self.data_key = base64.b64encode(rng.randbytes(32)).decode("ascii")  # one data key per run
        self.enc_key = crypto.LocalKeyService().encrypt_data_key(gen.KEK_ID, self.data_key)
        sizes = [max(40, int(self.LARGEST / (k + 1) ** 1.1)) for k in range(self.TOPICS)]
        rng.shuffle(sizes)
        self.topics = [f"db.fleet{k:02d}.records" for k in range(self.TOPICS)]
        self.blocked, self.unavailable = rng.sample(self.topics, 2)
        self.codec = {t: rng.choice(("gz", "bz2")) for t in self.topics}
        self.ledgers: dict[str, gen.TopicLedger] = {}
        self.rows_scanned = 0
        for t, n in zip(self.topics, sizes):
            if t == self.unavailable:
                continue  # no table: the topic is reported unavailable without a job
            d = self.path("cells_fleet", t)
            self.ledgers[t] = gen.write_topic(
                rng, t, n, d, files=2, ts_span=(T0, T0 + 10 * DAY), scan_range=self.scan_range,
                with_key_byte=True, samples=20, data_key_b64=self.data_key, sort_by_ts=True,
            )
            if t != self.blocked:
                self.rows_scanned += unpruned_rows(d, self.ranges, self.scan_range)
        exported = [t for t in self.topics if t not in (self.blocked, self.unavailable)]
        self.samples = [s for t in exported for s in self.ledgers[t].samples][:200]
        self.sample_key = self.data_key
        self.traced = sorted(rng.sample(exported, self.TRACED_TOPICS))
        self.status = ExportStatusService(f"perfbench-{self.seed}")
        self.name_re = {t: key_range_name_re(t, self.codec[t]) for t in self.topics}
        self.topic_s: list[float] = []
        self.passes: list[float] = []
        self.pass_export_s: list[float] = []
        self.readback_s: list[float] = []
        self.files: list[int] = []
        self.bytes_in: list[int] = []
        self.bytes_out: list[int] = []
        self.plain_bytes = sum(self.ledgers[t].plain_bytes for t in exported)
        self.exported_records = sum(self.ledgers[t].valid for t in exported)
        self.prefix = PrefixTimer(self.tracer)
        self.exported = exported

    def setup(self) -> None:
        from dwp_hbase_to_mongo_export_spark.sources import hbase_cells_source

        hbase_cells_source.register(self.spark)
        # warm-up: the smallest exported topic, exported and read back
        small = min(self.exported, key=lambda t: self.ledgers[t].records)
        warm = self.path("warm_fleet")
        run_topic_export(
            self.cells(small), small, self.cfg(small, warm), ExportStatusService("warm-up"),
            snapshot_type="incremental", scan_time_range=self.scan_range,
        )
        read_back(self.spark, warm, self.data_key)
        shutil.rmtree(warm)

    def cells(self, topic: str):
        return hbase_cells(self.spark, self.path("cells_fleet", topic), self.scan_width)

    def cfg(self, topic: str, out: str) -> SnapshotSinkConfig:
        return SnapshotSinkConfig(
            output_dir=out, topic=topic, max_batch_bytes=self.ROLL_BYTES, compression=self.codec[topic],
            data_key_b64=self.data_key, encrypted_data_key_b64=self.enc_key, kek_id=gen.KEK_ID,
            partition_ranges=self.ranges,
        )

    def iterate(self, i: int) -> None:
        out = self.path("out_fleet", str(i))  # every topic of a pass writes here; keys are topic-prefixed
        reports = {}
        t_pass = time.perf_counter()
        export_s = 0.0
        for t in self.topics:
            self.outcome.attempted += 1
            if t == self.unavailable:
                # as run_fleet does for a missing table: status only, no job
                self.status.set_status(t, CollectionStatus.TABLE_UNAVAILABLE)
                continue
            try:
                with self.tracer.span("topic") as s:
                    reports[t] = run_topic_export(
                        self.cells(t), t, self.cfg(t, out), self.status, snapshot_type="incremental",
                        scan_time_range=self.scan_range, blocked_topics=(self.blocked,),
                    )
            except Exception:
                traceback.print_exc()
                self.op_failed(f"pass {i}: {t} raised")
                continue
            if t != self.blocked:
                self.topic_s.append(s.end - s.start)
                export_s += s.end - s.start
        wall = time.perf_counter() - t_pass
        try:
            with self.tracer.span("sink.readback") as r:
                lines = read_back(self.spark, out, self.data_key)
        except Exception:
            traceback.print_exc()
            lines = {}
        ok_pass = True
        for t, rep in reports.items():
            if t == self.blocked:
                ok = self.outcome.check(rep.status == CollectionStatus.BLOCKED_TOPIC and not rep.files, f"{t}: not blocked")
            else:
                ok = check_export(self.outcome, t, rep, self.ledgers[t], lines, out, self.ROLL_BYTES, self.name_re[t])
                ok &= self.outcome.check(named_by_ranges(rep.files, self.name_re[t], self.ranges), f"{t}: naming")
            if not ok:
                self.op_failed(f"pass {i}: {t} output check failed")
                ok_pass = False
        ok_pass &= self.outcome.check(
            self.status.statuses.get(self.unavailable) == CollectionStatus.TABLE_UNAVAILABLE, "unavailable topic status"
        )
        ok_pass &= self.outcome.check(len(reports) == self.TOPICS - 1, f"pass {i}: {len(reports)} topics reported")
        if ok_pass:
            files = [f for t, rep in reports.items() for f in rep.files]
            self.passes.append(wall)
            self.pass_export_s.append(export_s)
            self.readback_s.append(r.end - r.start)
            self.files.append(len(files))
            self.bytes_in.append(sum(f.batch_size_bytes for f in files))
            self.bytes_out.append(sum(f.data_size_bytes for f in files))
        shutil.rmtree(out, ignore_errors=True)
        if self.tracer.enabled:
            for t in self.traced:
                traced = self.path("out_fleet_traced", str(i))
                self.prefix.run(lambda t=t: self.cells(t), t, self.cfg(t, traced), "incremental", self.scan_range)
                shutil.rmtree(traced)

    def report(self) -> tuple[dict, dict]:
        quarantined = sum(led.quarantined for t, led in self.ledgers.items() if t != self.blocked)
        failed = sum(led.failed for t, led in self.ledgers.items() if t != self.blocked)
        in_range = sum(led.records for t, led in self.ledgers.items() if t != self.blocked)
        export_s = median(self.pass_export_s)
        self.op_samples = len(self.topic_s)
        e2e = {
            "wall_s": median(self.passes),
            "records_per_s": self.exported_records / export_s if export_s else 0.0,
            "output_bytes_ratio": median(self.bytes_out) / self.plain_bytes,
        }
        layer = {
            **self.prefix.metrics(median(self.topic_s)),
            "sources.rows_scanned": float(self.rows_scanned),
            "sources.range_hit_ratio": in_range / self.rows_scanned,
            "envelope.quarantined": float(quarantined),
            "decryption.failed": float(failed),
            "sink.files": median(self.files),
            "sink.bytes_in": median(self.bytes_in),
            "sink.bytes_out": median(self.bytes_out),
            "sink.readback_s": median(self.readback_s),
        }
        return e2e, layer


# --- durable stores ---------------------------------------------------------

STORES = ("textindex", "dedupindex", "editindex")
DRILL_STORES = ("text", "dedup", "ivf", "pq", "gram", "edit")


class StoreCycle(Workload):
    """Append a seeded delta to the text, dedup and edit stores, query
    all three, then run the six-store recovery drill."""

    name = "store_cycle"
    DOCS = 500
    DELTA = 40
    PROBES = 10
    DELTA_BASE = 10_000_000
    PROBE_BASE = 20_000_000

    # The cache directories the drill builds its stores in start with these
    # names (functions/indexcache.user_cache_dir under the temp directory).
    DRILL_DIRS = {
        "textindex": "spark_graft_textindex",
        "dedupindex": "spark_graft_dedupindex",
        "editindex": "spark_graft_editindex",
    }

    def generate(self) -> None:
        self.sf = self.path("sf_docs")
        gen.write_documents(self.rng, self.sf, self.DOCS, self.DOCS)
        led = gen.write_topic(
            self.rng, "db.kernel.sample", 250, self.path("kernel_cells"), files=1,
            ts_span=(T0, T0 + DAY), samples=200,
        )
        self.samples, self.sample_key = led.samples, led.data_key_b64
        self.op_s: dict[str, list[float]] = defaultdict(list)
        self.walls: list[float] = []
        self.work_s: list[float] = []
        self.recover: dict[str, list[float]] = defaultdict(list)
        self.leaves: list[int] = []
        self.growth: list[float] = []

    def setup(self) -> None:
        """The drill's first call builds its six fingerprint-gated stores
        over ``documents``; the text, dedup and edit ones are the stores
        this workload appends to and queries, so the drill recovers stores
        that carry the appended deltas."""
        from dwp_hbase_to_mongo_export_spark.operators import dedupindex, editindex, textindex
        from dwp_hbase_to_mongo_export_spark.queries_extensions import index_recovery_drill

        self.drill = index_recovery_drill
        with self.tracer.span("setup.drill"):
            self.drill(self.spark, self.sf).collect()
        tmp = tempfile.gettempdir()
        leaf = os.path.basename(self.sf)
        self.store = {}
        for s, prefix in self.DRILL_DIRS.items():
            hits = [
                os.path.join(tmp, d, leaf)
                for d in sorted(os.listdir(tmp))
                if d.startswith(prefix) and os.path.isdir(os.path.join(tmp, d, leaf))
            ]
            if len(hits) != 1:
                raise RuntimeError(f"expected one {prefix}* store under {tmp}, found {hits}")
            self.store[s] = hits[0]
        mods = {"textindex": textindex, "dedupindex": dedupindex, "editindex": editindex}
        # appends keep the stored source fingerprint, so the drill reuses the stores
        fps = {s: mods[s].stored_fingerprint(self.spark, self.store[s]) for s in STORES}
        self.append = {
            "textindex": lambda d, b: textindex.append_to_text_index(
                d, self.store["textindex"], fingerprint=fps["textindex"], batch_id=b),
            "dedupindex": lambda d, b: dedupindex.append_to_dedup_index(
                d, self.store["dedupindex"], fingerprint=fps["dedupindex"], batch_id=b),
            "editindex": lambda d, b: editindex.append_to_edit_index(
                d, self.store["editindex"], fingerprint=fps["editindex"], batch_id=b),
        }
        self.query = {
            "textindex": lambda token, batches: textindex.query_text_index(
                self.spark, self.store["textindex"], [token]),
            "dedupindex": lambda token, batches: dedupindex.query_dedup_index(
                self.spark, self.store["dedupindex"], batches[0]),
            "editindex": lambda token, batches: editindex.query_edit_index(
                self.spark, self.store["editindex"], batches[1]),
        }
        for s in STORES:
            shutil.copytree(self.store[s], self.path("pristine", s))

    def iterate(self, i: int) -> None:
        rng, spark = self.rng, self.spark
        token = f"zq{self.seed}n{i}"
        ids = [self.DELTA_BASE + i * 1000 + j for j in range(self.DELTA)]
        texts = [gen.doc_text(rng, token) for _ in ids]
        delta = spark.createDataFrame(list(zip(ids, texts)), "doc_id long, text string")
        probes = list(range(self.PROBE_BASE, self.PROBE_BASE + self.PROBES))
        dedup_batch = spark.createDataFrame(list(zip(probes, texts)), "doc_id long, text string")
        edit_batch = spark.createDataFrame(
            [(p, gen.edit_once(rng, t)) for p, t in zip(probes, texts)], "doc_id long, text string"
        )
        before = sum(dir_bytes(self.store[s]) for s in STORES)
        out = self.outcome
        t_iter = time.perf_counter()
        results = {}
        batch_id = f"perfbench-{self.seed}-{i}"
        calls = [(f"{st}.append", lambda st=st: self.append[st](delta, batch_id)) for st in STORES]
        calls += [(f"{st}.query", lambda st=st: self.query[st](token, (dedup_batch, edit_batch)).collect()) for st in STORES]
        calls += [("recover.drill", lambda: self.drill(spark, self.sf).collect())]
        ok = True
        work = 0.0
        for name, call in calls:
            out.attempted += 1
            try:
                with self.tracer.span(name) as s:
                    results[name] = call()
            except Exception:
                traceback.print_exc()
                self.op_failed(f"iteration {i}: {name} raised")
                ok = False
                continue
            self.op_s[name].append(s.end - s.start)
            if name != "recover.drill":
                work += s.end - s.start
        wall = time.perf_counter() - t_iter
        if ok:
            appended = sum(dir_bytes(self.store[s]) for s in STORES) - before
            delta_bytes = sum(len(t.encode("utf-8")) for t in texts)
            for s in STORES:
                ok &= out.check(bool(results[f"{s}.append"].get("committed")), f"{s}: append not committed")
            top = results["textindex.query"]
            ok &= out.check(
                len(top) == min(10, self.DELTA) and all(r.doc_id in ids for r in top),
                f"textindex: query for {token} did not return the appended docs",
            )
            pairs = {(r.doc_id, r.dup_of) for r in results["dedupindex.query"]}
            ok &= out.check(all((p, d) in pairs for p, d in zip(probes, ids)), "dedupindex: appended docs not found")
            near = {(r.doc_id, r.dup_of): r.dist for r in results["editindex.query"]}
            ok &= out.check(
                all(near.get((p, d), 99) <= 1 for p, d in zip(probes, ids)), "editindex: appended docs not found"
            )
            rows = {r.store: r for r in results["recover.drill"]}
            ok &= out.check(set(rows) == set(DRILL_STORES), f"drill stores {sorted(rows)}")
            ok &= out.check(all(r.leaves_purged > 0 for r in rows.values()), "drill: a store purged no leaves")
            if not ok:
                self.op_failed(f"iteration {i}: output check failed")
            else:
                self.walls.append(wall)
                self.work_s.append(work)
                self.growth.append(appended / (len(STORES) * delta_bytes))
                for r in rows.values():
                    self.recover[r.store].append(r.recover_sec)
                self.leaves.append(sum(r.leaves_purged for r in rows.values()))
        # restore the three stores to their built state, outside timing
        for s in STORES:
            shutil.rmtree(self.store[s])
            shutil.copytree(self.path("pristine", s), self.store[s])

    def report(self) -> tuple[dict, dict]:
        work = median(self.work_s)
        docs = len(STORES) * self.DELTA + 2 * self.PROBES
        self.op_samples = sum(len(v) for v in self.op_s.values())
        e2e = {
            "wall_s": median(self.walls),
            "records_per_s": docs / work if work else 0.0,
            "output_bytes_ratio": median(self.growth),
        }
        layer = {f"{name}_s": median(v) for name, v in self.op_s.items() if name != "recover.drill"}
        layer.update({f"recover.{s}_s": median(self.recover[s]) for s in DRILL_STORES})
        layer["recover.leaves_purged"] = median(self.leaves)
        spans = sum(median(v) for v in self.op_s.values())
        layer["trace.residual_s"] = median(self.walls) - spans if self.walls else 0.0
        layer["trace.overhead_s"] = self.tracer.bookkeeping_s / max(1, len(self.walls))
        return e2e, layer


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


WORKLOADS = {w.name: w for w in (ExportFull, ExportFleet, StoreCycle)}
