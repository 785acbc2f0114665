"""Durable HLL register store — the SIXTH persisted artifact, and the
one that deliberately needs almost none of the shared store protocol.

The six row stores (text postings, dedup signatures, edit prefixes,
gram hashes, IVF postings, PQ codes) carry a full crash bracket — pending markers,
batch-id exactly-once sidecars, flock, leaf recovery — because their
append is ADDITIVE: replaying a crashed or retried append double-writes
rows, and duplicated rows silently corrupt downstream answers. An HLL
register relation composes by register-wise MAX, which is IDEMPOTENT:
merging the same delta twice, or a torn half of it, yields the same
registers as merging it once. So the entire durability story collapses
to one primitive — write-to-staging + atomic swap (storeprotocol's
_swap_write, recover-on-entry) — and a retried append is simply safe.
This module exists as much to DOCUMENT that contrast as to provide the
store: choose merge algebras whose replays are no-ops and the
exactly-once machinery becomes unnecessary (the same reason the
streaming MAX-fold needs no dedup of late micro-batch replays).

The artifact: ``<path>/registers`` — at most HLL_M rows (r, mr), plus
a one-row ``<path>/meta`` pinning the layout constants (m, w) so a
reader never merges registers built under a different geometry. The
whole store is O(m) bytes per key-domain regardless of corpus size —
persisting the SKETCH rather than rescanning is the point of keeping
one (distinct_users_hll's closing note, now a real artifact).

Concurrency: appends take the same per-store flock as the row stores —
two concurrent swap-writes would otherwise race the rename pair. The
lock is cheap insurance, not a correctness crutch (either append's
result merged with the other's delta is recoverable by re-appending —
idempotence again — but a lost update is still a lost update).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sketches import HLL_M, HLL_W
from .storeprotocol import _append_lock, _recover_swap, _swap_write

_REGISTERS = "registers"
_META = "meta.json"


def _check_meta(path: str) -> None:
    meta_path = os.path.join(path, _META)
    with open(meta_path, encoding="utf-8") as f:
        meta = json.load(f)
    if meta.get("m") != HLL_M or meta.get("w") != HLL_W:
        raise ValueError(
            f"{path}: register geometry mismatch (store m={meta.get('m')} "
            f"w={meta.get('w')}, engine m={HLL_M} w={HLL_W}) — registers "
            "from different geometries must never merge; rebuild the store"
        )


def save_hll_registers(regs: DataFrame, path: str) -> None:
    """Persist a register relation (r, mr) as a new store at ``path``.
    The parquet write is staged by Spark itself (overwrite of a fresh
    dir); meta is written last so a torn save is unreadable rather than
    silently geometry-less."""
    os.makedirs(path, exist_ok=True)
    with _append_lock(path):
        regs.select("r", "mr").write.mode("overwrite").parquet(
            os.path.join(path, _REGISTERS)
        )
        with open(os.path.join(path, _META), "w", encoding="utf-8") as f:
            json.dump({"m": HLL_M, "w": HLL_W}, f)


def load_hll_registers(spark: SparkSession, path: str) -> DataFrame:
    """Read the persisted registers; geometry-checked, swap-recovered."""
    _check_meta(path)
    reg_path = os.path.join(path, _REGISTERS)
    _recover_swap(reg_path)
    return spark.read.parquet(reg_path)


def append_to_hll_registers(delta: DataFrame, path: str) -> None:
    """Merge a delta register relation into the store: register-wise
    MAX of (stored ∪ delta), swapped in atomically. Safe to RETRY
    verbatim after any crash — max-merge is idempotent, so no batch-id
    sidecar or pending marker is needed (the module docstring's
    contrast with the six row stores). The merge reads the store and
    writes its replacement; _swap_write stages first, so a crash at any
    point leaves either the old or the new registers, both valid."""
    _check_meta(path)
    spark = delta.sparkSession
    reg_path = os.path.join(path, _REGISTERS)
    with _append_lock(path):
        _recover_swap(reg_path)
        merged = (
            spark.read.parquet(reg_path)
            .unionAll(delta.select("r", "mr"))
            .groupBy("r")
            .agg(F.max("mr").alias("mr"))
        )
        _swap_write(merged, reg_path)
