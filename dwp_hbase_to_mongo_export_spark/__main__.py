"""Runnable single-topic export — the analogue of the reference's Spring
Boot application (HBaseToMongoExport.kt + application properties):

    python -m dwp_hbase_to_mongo_export_spark \\
        --topic db.database.collection \\
        --source /root/testdata/sf0.001 \\
        --output /tmp/export \\
        [--compression gz|bz2|lz4|lz4_block] [--snapshot-type full] \\
        [--blocked-topics a,b] [--scan-ts-start N --scan-ts-end N] \\
        [--correlation-id id] [--cpus 8] [--max-batch-bytes N]

``--source`` accepts either a parquet file/dir of envelope CELLS
(columns topic,row_key,ts,value — what an HBase scan materialises) or a
testdata sf directory (orders.parquet present), in which case the
deterministic fixture cells stand in for the HBase scan exactly like the
reference's integration harness seeds its local HBase.

Prints ONE JSON report line (status, per-file metadata, metrics,
message payloads) and exits 0 on success / 1 on failure — the
batch-job contract schedulers expect (JobCompletionNotificationListener
exit-status analogue).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dwp_hbase_to_mongo_export_spark")
    p.add_argument("--topic", required=True, help="db.database.collection")
    p.add_argument("--source", required=True, help="cells parquet or sf dir")
    p.add_argument("--output", required=True, help="snapshot output directory")
    p.add_argument("--compression", default="gz")
    p.add_argument("--snapshot-type", default="full", choices=["full", "incremental"])
    p.add_argument("--blocked-topics", default="", help="comma-separated")
    p.add_argument("--scan-ts-start", type=int, default=None)
    p.add_argument("--scan-ts-end", type=int, default=None)
    p.add_argument("--correlation-id", default="local-run")
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument("--max-batch-bytes", type=int, default=100_000_000)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from .orchestration import CollectionStatus, ExportStatusService, run_topic_export
    from .session import get_spark
    from .sinks.snapshot import SnapshotSinkConfig
    from .sources.hbase_cells import DATA_KEY_B64, MASTER_KEK_ID
    from .functions.crypto import LocalKeyService

    spark = get_spark(app_name=f"export-{args.topic}", cpus=args.cpus)

    if os.path.exists(os.path.join(args.source, "orders.parquet")):
        # sf-dir mode: deterministic envelope cells derived from orders
        # stand in for the HBase scan (queries_pipeline.build_cells)
        from .queries_pipeline import build_cells

        cells = build_cells(spark, args.source).drop("okey")
    else:
        cells = spark.read.parquet(args.source)

    service = LocalKeyService()
    cfg = SnapshotSinkConfig(
        output_dir=args.output,
        topic=args.topic,
        max_batch_bytes=args.max_batch_bytes,
        compression=args.compression,
        data_key_b64=DATA_KEY_B64,
        encrypted_data_key_b64=service.encrypt_data_key(MASTER_KEK_ID, DATA_KEY_B64),
        kek_id=MASTER_KEK_ID,
        # the data-egress message names {export_prefix}/{topic}-: the
        # prefix is where the files are written
        export_prefix=args.output.rstrip("/"),
    )
    status_service = ExportStatusService(correlation_id=args.correlation_id)
    scan_range = None
    if args.scan_ts_start is not None and args.scan_ts_end is not None:
        scan_range = (args.scan_ts_start, args.scan_ts_end)

    blocked = tuple(t for t in args.blocked_topics.split(",") if t)
    try:
        report = run_topic_export(
            cells,
            args.topic,
            cfg,
            status_service,
            snapshot_type=args.snapshot_type,
            scan_time_range=scan_range,
            blocked_topics=blocked,
        )
    except Exception as e:  # noqa: BLE001 — report then non-zero exit
        print(json.dumps({"status": "Export_Failed", "error": str(e)[:500]}))
        return 1

    print(
        json.dumps(
            {
                "status": report.status.value,
                "topic": report.topic,
                "files": [f.object_key for f in report.files],
                "metrics": {k: v for k, v in report.metrics.items()},
                "messages": report.messages,
                "completion": status_service.completion().value,
            }
        )
    )
    return 0 if report.status in (CollectionStatus.EXPORTED, CollectionStatus.BLOCKED_TOPIC) else 1


if __name__ == "__main__":
    sys.exit(main())
