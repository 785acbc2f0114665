"""Small-file compaction for parquet table directories.

The 100 TB failure mode this addresses: incremental/streaming writers
emit per-micro-batch files, and a table accumulates millions of
KB-sized parquet files whose open/footer overhead dominates scan time
(every file costs a task schedule + footer parse + S3 GET). Compaction
rewrites the directory to ~``target_bytes`` files.

Spark shape: one distributed read -> repartition(ceil(bytes/target)) ->
write to a staging dir, then an atomic-as-possible directory swap. The
file-count estimate is metadata-only (no data read); the single shuffle
is round-robin, which also rebalances skewed input files. Row-group
layout within files is preserved by parquet itself.
"""

from __future__ import annotations

import math
import os

from ..operators.storeprotocol import _recover_swap, _swap_dir


def plan_compaction(
    input_dir: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Metadata-only look: current file count/bytes (recursive, so
    Hive-partitioned layouts report truthfully) and the output file
    count a compaction would produce, plus whether the layout is
    partitioned (key=value subdirectories)."""
    files: list[str] = []
    partitioned = False
    for root, dirs, names in os.walk(input_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any("=" in d for d in dirs):
            partitioned = True
        files.extend(
            os.path.join(root, f)
            for f in names
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    total = sum(os.path.getsize(f) for f in files)
    return {
        "n_files": len(files),
        "total_bytes": total,
        "target_files": max(1, math.ceil(total / target_bytes)),
        "partitioned": partitioned,
    }


def compact_parquet_dir(
    spark,
    input_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> dict:
    """Rewrite ``input_dir``'s parquet files into ~target_bytes files.

    Returns the plan dict plus ``compacted: bool``. No-ops (and reads
    nothing) when the directory already has fewer than
    ``min_files_to_compact`` files or one output file would not shrink
    the count. The rewrite goes through a sibling staging directory and
    the durable stores' swap (operators/storeprotocol: ``.swap-staging``
    then two renames through ``.swap-old``); a crash mid-write leaves
    the original intact. The two renames are NOT atomic: a crash between
    them strands the data in the ``.swap-old`` backup — so entry-time
    recovery restores a stale backup before planning, and a missing
    input dir raises instead of being read as an empty table. Because
    the remnant naming is the stores' own, a store append or recovery
    that runs after a crashed compaction restores the stranded leaf
    BEFORE writing into the relation, instead of recreating the leaf
    and leaving the backup to be deleted as a completed swap."""
    _recover_swap(input_dir)
    if not os.path.isdir(input_dir):
        raise FileNotFoundError(
            f"{input_dir} does not exist (and no recoverable "
            f"{input_dir}.swap-old backup) — refusing to treat a missing "
            "table as an empty one"
        )
    plan = plan_compaction(input_dir, target_bytes)
    if plan["partitioned"]:
        # a flat repartition-and-rewrite would DESTROY the partition
        # directory layout (and its pruning); partitioned tables need a
        # per-partition rewrite, which is a different contract — refuse
        # loudly rather than silently flattening or no-opping.
        raise ValueError(
            f"{input_dir} is a partitioned layout; compact each "
            "partition directory individually"
        )
    if (
        plan["n_files"] < min_files_to_compact
        or plan["target_files"] >= plan["n_files"]
    ):
        return {**plan, "compacted": False}

    staging = input_dir.rstrip("/") + ".swap-staging"
    df = spark.read.parquet(input_dir)
    df.repartition(plan["target_files"]).write.mode("overwrite").parquet(staging)
    _swap_dir(staging, input_dir)
    return {**plan, "compacted": True}


def compact_partitioned_dir(
    spark,
    input_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> dict:
    """Compaction for Hive-partitioned layouts (key=value directories):
    each LEAF partition directory is compacted independently through
    compact_parquet_dir, preserving the directory tree and therefore
    partition pruning. This is the per-partition contract the flat
    compactor's refusal message points at.

    Crash-safety composes: each leaf runs the flat compactor's
    recover-then-swap protocol, so a crash mid-run leaves every leaf
    either fully old, fully new, or recoverable on retry — and a retry
    simply resumes (already-compacted leaves no-op on file count).
    At 100 TB this runs as one driver loop issuing independent Spark
    jobs per partition — trivially parallelisable across partitions,
    and each job's shuffle is bounded by that partition's bytes.

    Returns {n_partitions, n_compacted, per_partition: {relpath: plan}}.
    """
    # The walk must see THROUGH the swap's crash-recovery artifacts: a
    # stale '<leaf>.swap-old' is not a partition — it is the stranded
    # backup of '<leaf>' (crash between the two swap renames), so the
    # ORIGINAL leaf name goes on the work list and compact_parquet_dir's
    # entry recovery restores it; stale staging dirs are junk the flat
    # compactor clears itself.
    raw: list[str] = []
    for root, dirs, names in os.walk(input_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(f.endswith(".parquet") for f in names) and not dirs:
            raw.append(root)
    leaf_set: set[str] = set()
    for r in raw:
        if r.endswith(".swap-staging"):
            continue
        leaf_set.add(r.removesuffix(".swap-old"))
    leaves = sorted(leaf_set)
    if not leaves:
        raise FileNotFoundError(
            f"{input_dir}: no leaf partition directories with parquet files"
        )
    # Leaves are independent (distinct directories, own staging/backup
    # brackets), so submit their rewrites concurrently — a sequential
    # driver loop pays one job-scheduling round-trip per leaf, which at
    # a thousands-of-leaves store turns an I/O-bounded maintenance pass
    # into hours of scheduler latency. Bounded pool: each rewrite is
    # its own Spark job, and ~8 in flight keeps the cluster busy
    # without driver-side job pileup. Crash-safety is unchanged — each
    # leaf's recover-then-swap protocol is leaf-local, and a failed/
    # partial run retries exactly like the sequential form (compacted
    # leaves no-op on file count).
    from concurrent.futures import ThreadPoolExecutor

    def _one(leaf: str) -> tuple[str, dict]:
        res = compact_parquet_dir(
            spark,
            leaf,
            target_bytes=target_bytes,
            min_files_to_compact=min_files_to_compact,
        )
        return os.path.relpath(leaf, input_dir), res

    with ThreadPoolExecutor(min(8, len(leaves))) as ex:
        results = list(ex.map(_one, leaves))
    per = dict(results)
    n_compacted = sum(bool(r["compacted"]) for _, r in results)
    return {
        "n_partitions": len(leaves),
        "n_compacted": n_compacted,
        "per_partition": per,
    }


def fragmentation_report(
    input_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    max_files_per_leaf: int = 8,
    max_listed: int = 16,
) -> dict:
    """Metadata-only fragmentation verdict: SHOULD this store be
    compacted now? The compactors exist but nothing decided WHEN to run
    them (round-9 verdict #5) — an ingest cadence of one file set per
    append quietly walks a leaf from 2 files to 2,000, and scan cost
    becomes file-open overhead long before anyone runs the compactor by
    hand. This is the store-size-independent decision rule the rebuild
    verdicts already follow: pure os.walk + getsize, no Spark job, no
    data read.

    A leaf is FRAGMENTED when its file count exceeds both
    ``max_files_per_leaf`` (the cadence tolerance — a few appends
    between maintenance windows are fine) and the file count a
    compaction to ``target_bytes`` would actually produce (so a leaf
    that is legitimately large — 40 full-sized files — is never flagged:
    compaction could not shrink it). ``compact`` is True iff any leaf is
    fragmented. Flat directories are treated as a single leaf.

    Returns {n_leaves, n_files, total_bytes, max_files_in_leaf,
    n_frag_leaves, frag_leaves (relpaths, capped at ``max_listed`` —
    the diagnostic stays driver-sized on a store with thousands of hot
    leaves), max_files_per_leaf, compact}.
    """
    leaves: dict[str, list[str]] = {}
    for root, dirs, names in os.walk(input_dir):
        dirs[:] = [
            d
            for d in dirs
            if not d.startswith(("_", "."))
            and not d.endswith((".swap-staging", ".swap-old"))
        ]
        data = [
            os.path.join(root, f)
            for f in names
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
        if data:
            leaves[os.path.relpath(root, input_dir)] = data
    if not leaves:
        raise FileNotFoundError(
            f"{input_dir}: no parquet data files to assess"
        )
    frag: list[str] = []
    n_files = 0
    total_bytes = 0
    max_in_leaf = 0
    for rel in sorted(leaves):
        files = leaves[rel]
        leaf_bytes = sum(os.path.getsize(f) for f in files)
        n_files += len(files)
        total_bytes += leaf_bytes
        max_in_leaf = max(max_in_leaf, len(files))
        would_produce = max(1, math.ceil(leaf_bytes / target_bytes))
        if len(files) > max(max_files_per_leaf, would_produce):
            frag.append(rel)
    return {
        "n_leaves": len(leaves),
        "n_files": n_files,
        "total_bytes": total_bytes,
        "max_files_in_leaf": max_in_leaf,
        "n_frag_leaves": len(frag),
        "frag_leaves": frag[:max_listed],
        "max_files_per_leaf": max_files_per_leaf,
        "compact": bool(frag),
    }
