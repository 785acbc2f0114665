"""Export-engine benchmark.

    python3 perfbench/run.py --workload export_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed, measures for ``--seconds`` with one client in a closed loop,
checks every output, and prints one JSON object as the last line of
stdout: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. Exits 1 when an output check fails and 2 when the
package is not there to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dwp_hbase_to_mongo_export_spark"
WORKLOADS = ("export_full", "export_fleet", "store_cycle")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "records_per_s": "1/s",
    "output_bytes_ratio": "ratio",
    "success_rate": "ratio",
}
PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "sources.scan_s": "s",
    "sources.rows_scanned": "count",
    "sources.range_hit_ratio": "ratio",
    "envelope.self_s": "s",
    "envelope.quarantined": "count",
    "decryption.self_s": "s",
    "decryption.failed": "count",
    "crypto.us_per_record": "us",
    "record_norm.us_per_record": "us",
    "sanitisation.self_s": "s",
    "sink.self_s": "s",
    "sink.files": "count",
    "sink.bytes_in": "bytes",
    "sink.bytes_out": "bytes",
    "sink.readback_s": "s",
    "orchestration.plan_s": "s",
    "textindex.append_s": "s",
    "dedupindex.append_s": "s",
    "editindex.append_s": "s",
    "textindex.query_s": "s",
    "dedupindex.query_s": "s",
    "editindex.query_s": "s",
    "recover.text_s": "s",
    "recover.dedup_s": "s",
    "recover.ivf_s": "s",
    "recover.pq_s": "s",
    "recover.gram_s": "s",
    "recover.edit_s": "s",
    "recover.leaves_purged": "count",
    "trace.residual_s": "s",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
}
# Spans that are one client operation: a topic export or a store call.
OP_SPANS = {"export", "topic"} | {
    f"{s}.{op}" for s in ("textindex", "dedupindex", "editindex") for op in ("append", "query")
} | {"recover.drill"}


def pin_environment(work: str, nproc: int) -> dict:
    """Settings the package would otherwise default wrongly here: local[32]
    and a 24g heap whatever the machine, workers that cannot import the
    package, and store/multifile caches shared through the system temp
    directory. Everything the run writes stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_mb = max(1024, min(2048, mem_kb // 1024 // 8))
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # the JVM's own temp files and perf-data files stay in the run directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    tempfile.tempdir = None
    return env


def measure_loop(seconds: float, step) -> int:
    """Closed loop: call ``step(i)`` until ``seconds`` have passed; at
    least one call, and the last one may end past ``seconds``."""
    t0 = time.perf_counter()
    i = 0
    while True:
        step(i)
        i += 1
        if time.perf_counter() - t0 >= seconds:
            return i


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    t_start = time.perf_counter()
    env = pin_environment(work, nproc)
    sys.path[:0] = [ROOT, HERE]

    from harness import Outcome, RssSampler, SparkCounters, Tracer, median
    from workloads import WORKLOADS as CLASSES

    from dwp_hbase_to_mongo_export_spark.session import get_spark

    outcome = Outcome()
    tracer = Tracer(bool(args.trace))
    wl = CLASSES[args.workload](work, args.seed, nproc, tracer, outcome)
    try:
        with RssSampler() as rss, ThreadPoolExecutor(1) as pool:
            # inputs are generated while the JVM starts; the session must be
            # created on the main thread
            generated = pool.submit(wl.generate)
            spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                },
            )
            gateway = spark.sparkContext._gateway
            try:
                generated.result()
                if args.trace:
                    tracer.counters = SparkCounters(spark.sparkContext)
                wl.spark = spark
                wl.setup()
                setup_s = time.perf_counter() - t_start

                def step(i: int) -> None:
                    tracer.iteration = i
                    wl.iterate(i)

                iterations = measure_loop(args.seconds, step)
                e2e, layer = wl.report()
                if args.trace:
                    layer.update(wl.kernel_metrics())
                    ops = [s for s in tracer.spans if s.name in OP_SPANS]
                    for k in ("jobs", "stages", "tasks", "failed_tasks"):
                        layer[f"spark.{k}"] = median([getattr(s, k) for s in ops])
                    tracer.dump(os.path.join(ROOT, ".perfbench_work", "traces", f"{args.workload}-seed{args.seed}.jsonl"))
            finally:
                rss.sample()  # the JVM and its workers, before they stop
                spark.stop()
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e["setup_s"] = setup_s
    layer["peak_rss_mb"] = rss.peak_mb
    e2e["success_rate"] = 1.0 - outcome.failed / max(1, outcome.attempted)
    wanted, values = (PER_LAYER, layer) if args.trace else (END_TO_END, e2e)
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in wanted.items()}
    correct = not outcome.check_failures and outcome.failed == 0
    for what in outcome.check_failures:
        print(f"perfbench: check failed: {what}", file=sys.stderr)
    for k, m in metrics.items():
        print(f"perfbench: {k:28s} {m['value']:16.6f} {m['unit']}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} samples: iterations={iterations} "
        f"operations={wl.op_samples} | attempted={outcome.attempted} failed={outcome.failed} "
        f"correct={correct} | env={json.dumps(env)}",
        file=sys.stderr,
    )
    print(json.dumps({"correct": correct, "attempted": outcome.attempted, "failed": outcome.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
