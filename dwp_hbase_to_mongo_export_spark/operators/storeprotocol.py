"""The durable stores' one append/recover protocol.

Six row stores persist an artifact that later batches append to: text
postings (textindex), dedup signatures (dedupindex), edit prefixes
(editindex), gram hashes (gramindex), and the IVF postings and PQ codes
(similarity). The reference's incremental mode appends new cells
behind a fixed artifact and keys every run by a correlation id
(HBaseReader.kt:131-150); here an append must survive a crash at any
step and a retry of any batch without double-writing rows, because
duplicated rows silently corrupt every downstream answer (doubled
tf/df, duplicate neighbours, duplicate candidate pairs) and evade the
stores' own distinct-count governance. This module owns that protocol.
Each store contributes a module-level ``StoreSpec`` (its relations and
leaf prefixes, marker scalars, purge and meta writer) and, per append,
a ``Batch`` (its marker scalars, ids record, insert and the derived
relations it rewrites).

Meta belongs to the spec: a store's marker scalars are its meta row,
read only through ``read_meta`` (which refuses an older format) and
written only through ``StoreSpec.meta``. An append's new meta records
the caller's fingerprint, else ``""``: unknown content, a rebuild for
any consumer that reuses the artifact by fingerprint.

State inside a store directory:

* ``_append.lock`` — the flock serializing mutations (``_append_lock``).
* ``_append-pending`` — the marker, ``{"protocol": 2, <store scalars>,
  "last_append": ...}``: the pre-append state a recovery restores,
  written before any store write. Its removal is the commit record.
* ``_pending-ids`` (``_pending-docs`` for the text index) — the ids
  record: what a recovery purges, written after the marker and before
  any store write; its ``_SUCCESS`` proves it complete.
* ``_last-append`` — the last committed batch id (``read_last_append``).
* ``_build-pending`` — brackets an in-place rebuild
  (``rebuild_bracket``); readers and appends refuse it.

Append (``append``): build-pending refusal → entry recovery → batch-id
gate → empty batch → marker → ids record → store insert → derived
rewrites (stats, meta) → sidecar stamp → marker removal (the commit) →
ids delete.

Recovery (``recover``): stranded swap remnants restored; no marker →
clear a stale ids record; parse the marker (protocol 2, or refuse:
anything else is ambiguous); ids record not committed → nothing reached
the store (``store_untouched``); else purge the recorded ids, restore
the recorded meta and sidecar, commit.

Every rewrite of a stored relation goes through a staging dir and a
two-rename swap with ONE remnant naming (``.swap-staging`` /
``.swap-old``), including the compactor's leaf swaps
(sinks/compaction), so a crash between the renames is restored by
whichever entry point runs next.

Maintenance is the protocol's too, driven by the relations each spec
declares ``appended`` (the ones every append adds files to):
compaction (``compact``: leaf recovery, then the per-leaf compactor on
partitioned relations and the flat one on flat relations, under the
store's lock), the fragmentation verdict (``fragmentation``) and the
exactly-once stream ingest (``stream_ingest``) whose between-epoch
maintenance compacts when that verdict flags.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PENDING = "_append-pending"
_PENDING_IDS = "_pending-ids"
_BUILD_PENDING = "_build-pending"
_LAST_APPEND = "_last-append"
# recovery sentinel: a marker without a "last_append" key leaves the
# sidecar alone (it may hold a legitimately committed earlier batch id)
_UNKNOWN = "__no-last-append-recorded__"
# Purge lists up to this size are inlined as a NOT-IN scan predicate in
# _batched_leaf_purge (no broadcast-build job, parquet pushdown); larger
# ones anti-join. Sized to keep literal plans small while covering every
# realistic single-batch purge.
_ISIN_PURGE_MAX = 10_000


def opt_str(v) -> str:
    """Marker parser for a text scalar that may be unset (a store built
    without a fingerprint records null)."""
    return "" if v is None else str(v)


@dataclass(frozen=True)
class StoreSpec:
    """What one durable store contributes to the protocol.

    ``store`` names it in refusals ("rebuild the <store>") and
    ``recover_fn`` is its public recovery entry point. ``relations``
    lists every mutable directory with its Hive leaf prefix (None for a
    flat relation): their swap remnants are recovered on every entry,
    and any of them existing makes a build an in-place rebuild.
    ``appended`` names the relations each append adds files to — the
    ones that fragment, and so the ones compaction, the fragmentation
    verdict and stream-ingest maintenance walk (relations an append
    rewrites whole, like the text index's stats, are left out).
    ``marker`` maps each recorded pre-append scalar (a meta column, when
    the store has a ``meta`` relation) to its parser.
    ``purge(spark, path, ids, scalars)`` removes the recorded ids from
    the store and returns the result counts (``untouched`` when nothing
    reached the store); ``meta(spark, scalars)``, for stores with a
    ``meta`` relation, is the one meta writer of builds, appends and
    recovery."""

    store: str
    recover_fn: str
    relations: tuple[tuple[str, str | None], ...]
    marker: dict[str, Callable]
    purge: Callable[..., dict]
    untouched: dict
    appended: tuple[str, ...]
    meta: Callable[[SparkSession, dict], DataFrame] | None = None
    ids_record: str = _PENDING_IDS


@dataclass
class Batch:
    """One append, planned before any write: ``marker`` (the pre-append
    scalars), ``ids`` (the purge record), ``insert`` (the store's row
    writes) and ``derive`` — run after the insert, it returns the
    derived relations to swap in as (relation, frame, partition column)
    and extra result keys. ``cached`` frames are released at the end."""

    marker: dict
    ids: DataFrame
    insert: Callable[[], None]
    derive: Callable[[], tuple[list, dict]] = lambda: ([], {})
    cached: tuple = ()

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()


@contextlib.contextmanager
def _append_lock(path: str):
    """Exclusive per-store advisory lock serializing MUTATIONS (append,
    recovery, in-place rebuild). Without it, two concurrent appends are
    mutually destructive in a way no marker can fix: each one's
    entry-time recovery reads the OTHER's live marker as a torn append
    and purges its in-flight rows, and the second marker write
    overwrites the first's recorded pre-append state. POSIX flock on a
    file INSIDE the store (so the lock travels with the artifact),
    released by the OS if the holder dies — a crashed append leaves its
    marker, never a wedged lock. Readers stay lock-free: a live
    append's marker already makes them refuse loudly, which is the
    store's documented consistency model."""
    os.makedirs(path, exist_ok=True)
    fd = os.open(os.path.join(path, "_append.lock"), os.O_CREAT | os.O_RDWR, 0o600)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


# --- batch-id sidecar ---------------------------------------------------------


def read_last_append(path: str) -> str | None:
    """The batch id of the last COMMITTED append at ``path`` (None when
    no batch-id-stamped append ever committed). This is the store's
    idempotence record: a crash can always land between the commit
    point (marker removal) and the CALLER learning of it, so ingest
    retries are inevitable — and a retry of an already-committed batch
    would double-write rows that recovery (correctly) refuses to touch.
    The reference keys every run by a correlation id
    (HBaseReader.kt/UberTestSpec.kt's correlationId); passing that id
    as ``batch_id`` to the append makes the retry an explicit no-op:
    exactly-once appends under at-least-once delivery.

    SINGLE-SLOT by design: the sidecar records the LAST committed
    batch only — a marker-bracketed store can have at most one append
    in flight, and Structured Streaming replays at most the last
    uncommitted epoch against a durable checkpoint (``stream_ingest``,
    keyed by epoch id, and its per-store bindings in
    streaming/incremental), so the retry that can actually occur is
    always against the last slot. A
    full re-delivery of older batches (fresh checkpoint, source rewind)
    is a rebuild scenario, deliberately NOT absorbed."""
    f = os.path.join(path, _LAST_APPEND)
    if not os.path.exists(f):
        return None
    with open(f, encoding="utf-8") as fh:
        try:
            return json.loads(fh.read()).get("batch_id")
        except ValueError:
            return None


def _write_last_append(path: str, batch_id: str) -> None:
    """Atomic (write-temp + rename) sidecar update — written AFTER the
    store/stats/meta writes and BEFORE the marker removal, so the
    marker bracket protects it like every other mutation."""
    f = os.path.join(path, _LAST_APPEND)
    tmp = f + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(json.dumps({"batch_id": batch_id}))
    os.replace(tmp, f)


def _restore_last_append(path: str, old) -> None:
    """Recovery-side sidecar restore from the marker's recorded value:
    None -> remove (no batch had ever committed), a string -> rewrite,
    the _UNKNOWN sentinel -> leave untouched."""
    if old == _UNKNOWN:
        return
    f = os.path.join(path, _LAST_APPEND)
    if old is None:
        if os.path.exists(f):
            os.remove(f)
    else:
        _write_last_append(path, old)


# --- marker and ids record ----------------------------------------------------


def _write_ids_record(spec: StoreSpec, path: str, ids: DataFrame) -> None:
    ids.write.mode("overwrite").parquet(os.path.join(path, spec.ids_record))


def begin(spec: StoreSpec, path: str, batch: Batch) -> None:
    """The first two writes of every append: the marker (recorded
    pre-append scalars and sidecar), then the ids record. Both precede
    every store write, so a marker whose ids record never committed
    proves the store untouched."""
    state = {"protocol": 2, **batch.marker, "last_append": read_last_append(path)}
    with open(os.path.join(path, _PENDING), "w", encoding="utf-8") as f:
        f.write(json.dumps(state))
    _write_ids_record(spec, path, batch.ids)


def _ambiguous(spec: StoreSpec, path: str, why: str) -> ValueError:
    return ValueError(
        f"{path}: the pending-append marker {why} — a legacy or corrupt "
        "marker is ambiguous between 'nothing written' and 'fully "
        "committed' and cannot be auto-recovered; rebuild the "
        f"{spec.store} from the corpus"
    )


def _read_marker(spec: StoreSpec, path: str) -> dict:
    """The one marker parser: only ``"protocol": 2`` is recoverable.
    An older marker could not prove its ids record preceded the store
    writes (its commit deleted the record FIRST), and an unreadable one
    proves nothing, so both refuse instead of guessing."""
    try:
        with open(os.path.join(path, _PENDING), encoding="utf-8") as f:
            state = json.loads(f.read())
        protocol = state.get("protocol")
    except (ValueError, AttributeError) as e:
        raise _ambiguous(spec, path, f"is unreadable ({e!r})") from None
    if protocol != 2:
        raise _ambiguous(spec, path, f"has protocol {protocol!r}, not 2")
    return state


def _marker_scalars(spec: StoreSpec, path: str, state: dict) -> dict:
    try:
        return {k: parse(state.get(k)) for k, parse in spec.marker.items()}
    except (ValueError, TypeError) as e:
        raise _ambiguous(spec, path, f"lacks its recorded state ({e!r})") from None


def _commit(spec: StoreSpec, path: str) -> None:
    """Marker removal IS the commit record, so it precedes the
    ids-record delete: a crash between the two leaves a marker-less
    stale ids dir (inert; the next entry recovery clears it) instead of
    a live marker whose purge record is gone, which recovery would
    mis-read as "restore meta, skip the purge" and silently revert meta
    under committed rows."""
    os.remove(os.path.join(path, _PENDING))
    shutil.rmtree(os.path.join(path, spec.ids_record))


def _clear_stale_ids_record(path: str, ids_name: str) -> dict:
    """No-marker recovery tail: a marker-LESS ids record is inert junk
    from a crash between the commit point (marker removal) and the
    ids-record delete — but it must not survive into the NEXT append,
    which writes its own marker BEFORE Spark's overwrite replaces the
    ids dir. A crash inside that window would pair the fresh marker
    with the PREVIOUS batch's committed ids record, and recovery would
    then purge already-committed store rows while restoring meta that
    still counts them — silent corruption that even governance's
    distinct checks cannot see. Clearing the stale record here keeps
    the invariant every recovery relies on: an ids record on disk
    always belongs to the live marker. Every append runs entry-time
    recovery first, so this executes before any new marker exists."""
    stale = os.path.join(path, ids_name)
    if os.path.isdir(stale):
        shutil.rmtree(stale)
        return {"recovered": False, "stale_ids_cleared": True}
    return {"recovered": False}


# --- append and recovery ------------------------------------------------------


def append(
    spec: StoreSpec,
    path: str,
    delta: DataFrame,
    batch_id: str | None,
    plan: Callable[[SparkSession], Batch],
) -> dict:
    """Append ``delta`` under the store's lock. ``plan(spark)`` runs
    after entry recovery, the batch-id gate and the empty-batch check,
    and returns the store's ``Batch`` — no store write happens before
    the marker and ids record are down.

    ``batch_id`` (the caller's correlation/run id) gives exactly-once
    appends under retry: a batch already recorded as the last commit
    no-ops, and an empty batch still consumes its id (atomic sidecar
    write; empty file sets would only fragment the store)."""
    with _append_lock(path):
        if os.path.exists(os.path.join(path, _BUILD_PENDING)):
            raise ValueError(
                f"{path}: a rebuild died mid-flight — rebuild the "
                f"{spec.store} before appending"
            )
        spark = delta.sparkSession
        _recover(spec, spark, path)
        if batch_id is not None and read_last_append(path) == batch_id:
            return {"committed": False, "skipped_duplicate_batch": True}
        if delta.isEmpty():
            if batch_id is not None:
                _write_last_append(path, batch_id)
            return {"committed": True, "skipped_duplicate_batch": False}
        batch = plan(spark)
        try:
            begin(spec, path, batch)
            batch.insert()
            rewrites, extras = batch.derive()
            for rel, df, partition_by in rewrites:
                _swap_write(df, os.path.join(path, rel), partition_by)
            if batch_id is not None:
                _write_last_append(path, batch_id)
            _commit(spec, path)
        finally:
            batch.release()
    return {"committed": True, "skipped_duplicate_batch": False, **extras}


def recover(spec: StoreSpec, spark: SparkSession, path: str) -> dict:
    """Return a torn-append store to its EXACT pre-append state so the
    same batch can be re-appended safely; holds the store's lock so a
    recovery never races a live append (whose marker it would mis-read
    as torn). No-op without a marker."""
    with _append_lock(path):
        return _recover(spec, spark, path)


def _recover(spec: StoreSpec, spark: SparkSession, path: str) -> dict:
    recover_leaves(spec, path)
    pending = os.path.join(path, _PENDING)
    if not os.path.exists(pending):
        return _clear_stale_ids_record(path, spec.ids_record)
    state = _read_marker(spec, path)
    old_last = state.get("last_append", _UNKNOWN)
    ids_dir = os.path.join(path, spec.ids_record)
    if not os.path.exists(os.path.join(ids_dir, "_SUCCESS")):
        # The ids record precedes every store write and the marker's
        # removal is the commit record, so a marker without a committed
        # record PROVES nothing reached the store: clean up and leave
        # the store alone.
        if os.path.isdir(ids_dir):
            shutil.rmtree(ids_dir)
        _restore_last_append(path, old_last)
        os.remove(pending)
        return {"recovered": True, **spec.untouched, "store_untouched": True}
    scalars = _marker_scalars(spec, path, state)
    counts = spec.purge(spark, path, spark.read.parquet(ids_dir), scalars)
    if spec.meta is not None:
        meta = spec.meta(spark, scalars)
        meta_dir = os.path.join(path, "meta")
        if os.path.isdir(meta_dir):
            _swap_write(meta, meta_dir)
        else:
            meta.write.mode("overwrite").parquet(meta_dir)
    # The sidecar is pre-append state too: the crash may have landed
    # after the new batch id was stamped, and a restored-but-stamped
    # store would wrongly no-op the legitimate re-append.
    _restore_last_append(path, old_last)
    _commit(spec, path)
    return {"recovered": True, **counts}


# --- builds and readers -------------------------------------------------------


@contextlib.contextmanager
def rebuild_bracket(spec: StoreSpec, path: str, fingerprint: str | None):
    """Run a build under the store's lock (a rebuild never interleaves
    with a live append). On a FIRST build meta is written last — the
    commit record; a crashed first build leaves no meta and consumers
    treat the artifact as absent. An in-place REBUILD cannot rely on
    that (the old meta stays readable while the overwrites land), so it
    is bracketed by ``_build-pending``, which every reader refuses and
    ``stored_fingerprint`` reports as 'rebuild'. A build supersedes any
    torn append, and batch ids committed against the OLD artifact must
    not no-op appends to the rebuilt one."""
    with _append_lock(path):
        marker = os.path.join(path, _BUILD_PENDING)
        if any(os.path.isdir(os.path.join(path, rel)) for rel, _ in spec.relations):
            with open(marker, "w", encoding="utf-8") as f:
                f.write(fingerprint or "")
        for name in (_PENDING, _LAST_APPEND):
            if os.path.exists(os.path.join(path, name)):
                os.remove(os.path.join(path, name))
        ids_dir = os.path.join(path, spec.ids_record)
        if os.path.isdir(ids_dir):
            shutil.rmtree(ids_dir)
        yield
        if os.path.exists(marker):
            os.remove(marker)


def open_for_read(spec: StoreSpec, path: str) -> None:
    """Reader entry: refuse a marked artifact — its relations may
    disagree — with the action that is actually SAFE per marker (a
    crashed append may already have landed rows, so retrying it without
    recovery would double-write them); then restore any relation left
    stranded by a whole-relation swap."""
    rels = "/".join(rel for rel, _ in spec.relations)
    if os.path.exists(os.path.join(path, _BUILD_PENDING)):
        raise ValueError(
            f"{path}: a rebuild died mid-flight — {rels} may mix two "
            f"generations; rebuild the {spec.store} from the corpus"
        )
    if os.path.exists(os.path.join(path, _PENDING)):
        raise ValueError(
            f"{path}: an append is pending or died mid-flight — {rels} "
            f"may disagree (rows may already be stored); run "
            f"{spec.recover_fn} and re-append the batch, or rebuild the "
            f"{spec.store}"
        )
    for rel, _ in spec.relations:
        _recover_swap(os.path.join(path, rel))


def meta_frame(ddl: str) -> Callable[[SparkSession, dict], DataFrame]:
    """The ``StoreSpec.meta`` writer of a store whose meta row is
    exactly its marker scalars: one row in ``ddl``'s column order."""
    cols = [c.split()[0] for c in ddl.split(",")]
    return lambda spark, s: spark.createDataFrame([tuple(s[c] for c in cols)], ddl)


def read_meta(spec: StoreSpec, spark: SparkSession, path: str) -> dict:
    """The meta row parsed through ``spec.marker`` — the scalars an
    append records in its marker and writes back through ``spec.meta``.
    A meta missing one of them was written by an older on-disk format:
    refused, never read with a guessed default."""
    meta = spark.read.parquet(os.path.join(path, "meta"))
    missing = [k for k in spec.marker if k not in meta.columns]
    if missing:
        raise ValueError(
            f"{path}: meta lacks {', '.join(missing)} (an older on-disk "
            f"format); rebuild the {spec.store} from the corpus"
        )
    row = meta.head()
    return {k: parse(row[k]) for k, parse in spec.marker.items()}


def stored_fingerprint(spec: StoreSpec, spark: SparkSession, path: str) -> str | None:
    """The source fingerprint stamped into meta; None when the artifact
    is absent, torn (pending append OR crashed-rebuild marker),
    unreadable (empty/corrupt meta from a crashed overwrite), or
    predates fingerprinting — every case a fingerprint-checking
    consumer must treat as 'rebuild'."""
    if os.path.exists(os.path.join(path, _PENDING)) or os.path.exists(
        os.path.join(path, _BUILD_PENDING)
    ):
        return None
    meta_dir = os.path.join(path, "meta")
    _recover_swap(meta_dir)
    if not os.path.isdir(meta_dir):
        return None
    try:
        row = spark.read.parquet(meta_dir).select("fingerprint").head()
    except Exception:
        return None
    return row["fingerprint"] if row else None


# --- maintenance ---------------------------------------------------------------


def _by_relation(spec: StoreSpec, results: dict):
    """One appended relation reports alone; several are keyed by name."""
    return results if len(spec.appended) > 1 else results[spec.appended[0]]


def _compact(spec: StoreSpec, spark: SparkSession, path: str, target_bytes: int = 128 << 20):
    from ..sinks.compaction import compact_parquet_dir, compact_partitioned_dir

    recover_leaves(spec, path)
    prefix = dict(spec.relations)
    return _by_relation(spec, {
        rel: (compact_partitioned_dir if prefix[rel] else compact_parquet_dir)(
            spark, os.path.join(path, rel), target_bytes=target_bytes
        )
        for rel in spec.appended
    })


def compact(spec: StoreSpec, spark: SparkSession, path: str, target_bytes: int = 128 << 20) -> dict:
    """Small-file compaction of every appended relation after stranded
    leaves are restored: leaf by leaf on a partitioned relation (its
    Hive layout and pruning kept), whole on a flat one. Holds the
    store's lock — a leaf swap that overlapped an append could move
    files the append just committed into ``.swap-old`` and delete them
    with the backup."""
    with _append_lock(path):
        return _compact(spec, spark, path, target_bytes)


def _verdicts(path: str, rels, max_files_per_leaf: int) -> dict:
    from ..sinks.compaction import fragmentation_report

    return {
        rel: fragmentation_report(os.path.join(path, rel), max_files_per_leaf=max_files_per_leaf)
        for rel in rels
    }


def fragmentation(spec: StoreSpec, path: str, max_files_per_leaf: int = 8) -> dict:
    """The metadata-only WHEN-to-compact verdict over the appended
    relations (sinks/compaction.fragmentation_report, no Spark job):
    {"fragmentation": report(s), "compact": any relation flagged}."""
    frag = _verdicts(path, spec.appended, max_files_per_leaf)
    return {
        "fragmentation": _by_relation(spec, frag),
        "compact": any(f["compact"] for f in frag.values()),
    }


def store_maintenance(spec: StoreSpec, spark: SparkSession, path: str, max_files_per_leaf: int = 8):
    """``stream_ingest``'s between-epoch hook: under the store's lock
    (never interleaved with an append or a recovery), the fragmentation
    verdict over the appended relations that exist yet, then a
    compaction only when it flags."""

    def maintain() -> dict:
        with _append_lock(path):
            present = [r for r in spec.appended if os.path.isdir(os.path.join(path, r))]
            frag = _verdicts(path, present, max_files_per_leaf)
            if not any(f["compact"] for f in frag.values()):
                return {"compacted": False}
            return {"compacted": True, "result": _compact(spec, spark, path)}

    return maintain


def stream_ingest(
    spec: StoreSpec,
    spark: SparkSession,
    delta_dir: str,
    path: str,
    append: Callable[[DataFrame, str], dict],
    checkpoint_dir: str | None,
    max_files_per_trigger: int,
    timeout_sec: int,
    auto_compact: bool,
    compact_max_files_per_leaf: int,
) -> dict:
    """Exactly-once micro-batch ingest into the store at ``path``:
    streaming.index_stream_ingest calling ``append(batch, "epoch-<id>")``,
    with ``store_maintenance`` between epochs when ``auto_compact``."""
    from ..streaming.incremental import index_stream_ingest

    return index_stream_ingest(
        spark,
        delta_dir,
        append,
        checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger,
        timeout_sec=timeout_sec,
        maintenance=(
            store_maintenance(spec, spark, path, compact_max_files_per_leaf)
            if auto_compact
            else None
        ),
    )


# --- swaps and purges ---------------------------------------------------------


def _recover_swap(target: str) -> None:
    """Entry-time recovery for a swap target: a crash between the two
    swap renames strands the live data in ``.swap-old`` with no target
    — restore it; a backup alongside a surviving target is a completed
    swap whose cleanup died — drop it; staging remnants are always
    junk. Every reader and writer of a swappable relation calls this
    BEFORE touching the path — recovery inside the writer alone would
    leave a torn state unreadable until the next write."""
    staging = target.rstrip("/") + ".swap-staging"
    backup = target.rstrip("/") + ".swap-old"
    if os.path.isdir(backup):
        if not os.path.isdir(target):
            os.rename(backup, target)
        else:
            shutil.rmtree(backup)
    if os.path.isdir(staging):
        shutil.rmtree(staging)


def _recovered_leaves(parent: str, prefix: str) -> list[str]:
    """Leaf partition dirs of ``parent`` (``prefix``-style Hive names),
    AFTER recovering any swap remnants a crashed leaf rewrite left
    behind. The pre-pass matters: a leaf stranded mid-swap exists only
    as ``<leaf>.swap-old`` — naive listing would either miss the leaf
    entirely or treat the backup dir as a leaf of its own (and then
    crash when the real leaf's _recover_swap removes it first)."""
    if not os.path.isdir(parent):
        return []
    for d in sorted(os.listdir(parent)):
        if d.endswith(".swap-old") or d.endswith(".swap-staging"):
            _recover_swap(os.path.join(parent, d.rsplit(".swap-", 1)[0]))
    return sorted(
        d
        for d in os.listdir(parent)
        if d.startswith(prefix)
        and ".swap-" not in d
        and os.path.isdir(os.path.join(parent, d))
    )


def recover_leaves(spec: StoreSpec, path: str) -> None:
    """Restore every relation and leaf of ``spec`` stranded mid-swap —
    a directory listing, no Spark job. A stranded leaf must come back
    BEFORE anything writes into the relation: an append that recreated
    the leaf would make the stranded backup read as a completed swap
    and the next recovery would delete it with its rows."""
    for rel, prefix in spec.relations:
        target = os.path.join(path, rel)
        _recover_swap(target)
        if prefix:
            _recovered_leaves(target, prefix)


def _swap_dir(staged: str, target: str) -> None:
    """Swap a fully-written ``staged`` dir into ``target``:
    backup-rename, stage-rename, backup-delete. A crash between the
    renames leaves ``<target>.swap-old``, which ``_recover_swap``
    restores on the next entry."""
    backup = target.rstrip("/") + ".swap-old"
    os.rename(target, backup)
    os.rename(staged, target)
    shutil.rmtree(backup)


def _swap_write(df: DataFrame, target: str, partition_by: str | None = None) -> None:
    """Materialise ``df`` into a staging dir, then swap it in — safe
    even when ``df`` READS from ``target`` (the merge shapes), because
    the staging write completes before the swap. A crash before the
    swap leaves the original untouched."""
    staging = target.rstrip("/") + ".swap-staging"
    _recover_swap(target)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(staging)
    _swap_dir(staging, target)


def _batched_leaf_purge(
    spark: SparkSession,
    sdir: str,
    prefix: str,
    purge: DataFrame,
    key: str,
    columns: list[str] | None = None,
    sort_within: list[str] | None = None,
    leaf_values: list | None = None,
    derived: tuple[str, Callable[[DataFrame], DataFrame]] | None = None,
) -> list[str]:
    """Anti-join ``purge``'s ``key`` values out of every ``prefix``
    leaf under ``sdir`` with ONE Spark job, then swap each leaf in
    atomically — the batched form of the per-leaf read-rewrite loop.

    Why: recovery's cost at bench scale was JOB COUNT, not bytes — one
    read+anti-join+write job per leaf (64-bucket stores, ×2 relations,
    ×6 stores in the drill) is hundreds of tiny scheduling round-trips.
    One partitioned read of the store parent + one ``partitionBy``
    staging write computes every leaf's purged content in a single
    job; the per-leaf atomicity the crash protocol relies on is
    preserved because each leaf still changes only via its own
    directory swap (recovered by ``recover_leaves`` on re-entry).
    Idempotent exactly like the sequential form: the append marker
    outlives the whole loop, so a crashed/partial pass re-runs cleanly,
    and a stale ``.purge-staging`` from a crashed attempt is deleted on
    entry.

    ``columns`` pins the data-file column order (must match what the
    store's appends write); ``sort_within`` adds a within-file sort
    (after the partition column) for stores whose files are row-group
    pruned by min-max on that column; ``leaf_values`` restricts the
    purge to those partition values (partition-pruned read — the
    dedupindex sets/ shape where only the batch's buckets are
    touched). A leaf whose rows are ALL purged gets an empty rewrite
    via the single-leaf ``_swap_write`` fallback (the staging write
    cannot emit an empty partition).

    ``derived``, when given, is ``(ddir, agg)``: a sibling relation
    partitioned like ``sdir`` whose purged leaves are recomputed as
    ``agg(purged)`` while the purged frame is PERSISTED (e.g. the text
    index's per-bucket df stats) — computed from the purge pass's own
    output instead of re-reading the whole store afterwards. Because
    the frame is hash-partitioned by the partition column, a
    ``groupBy(part, ...)`` inside ``agg`` aggregates WITHOUT another
    exchange. The derived leaves swap in after the store's, under the
    same marker, so a crash anywhere re-runs cleanly.

    Returns the purged leaf names."""
    part = prefix.rstrip("=")
    leaves = _recovered_leaves(sdir, prefix)
    if leaf_values is not None:
        wanted = {f"{part}={v}" for v in leaf_values}
        leaves = [leaf for leaf in leaves if leaf in wanted]
    if not leaves:
        return []
    staging = sdir.rstrip("/") + ".purge-staging"
    dstaging = derived[0].rstrip("/") + ".purge-staging" if derived else None
    for d in (staging, dstaging):
        if d and os.path.isdir(d):
            shutil.rmtree(d)  # a crashed earlier attempt; recompute
    store = spark.read.parquet(sdir)
    if leaf_values is not None:
        store = store.filter(F.col(part).isin(list(leaf_values)))
    # A SMALL purge list becomes a literal NOT-IN predicate instead of
    # a broadcast anti-join: no broadcast-build job, and the In filter
    # pushes down into the parquet scan (recovery's cost is scheduling
    # round-trips, not bytes). Exact anti-join semantics: a NULL store
    # key never matches the join and must survive the filter too, and a
    # NULL purge key matches nothing — it is dropped from the list,
    # since `k NOT IN (.., NULL)` is NULL for every k and would purge
    # every non-NULL row. Large (delta-sized) purges keep the broadcast
    # anti-join — a million-term isin would bloat the plan, the
    # opposite trade.
    purge_vals = purge.select(key).distinct().limit(_ISIN_PURGE_MAX + 1).collect()
    if len(purge_vals) <= _ISIN_PURGE_MAX:
        vals = [r[0] for r in purge_vals if r[0] is not None]
        cleaned = store.filter(F.col(key).isNull() | ~F.col(key).isin(vals))
    else:
        cleaned = store.join(F.broadcast(purge), key, "left_anti")
    cols = columns or [c for c in cleaned.columns if c != part]
    # one task per partition value -> exactly ONE file per rewritten
    # leaf, like the old per-leaf rewrite (file-count governance and
    # the compaction verdict both watch files-per-leaf)
    cleaned = cleaned.select(*cols, part).repartition(F.col(part))
    if sort_within:
        cleaned = cleaned.sortWithinPartitions(part, *sort_within)
    if derived:
        cleaned = cleaned.persist()
    try:
        cleaned.write.mode("overwrite").partitionBy(part).parquet(staging)
        if derived:
            derived[1](cleaned).write.mode("overwrite").partitionBy(part).parquet(
                dstaging
            )
    finally:
        if derived:
            cleaned.unpersist()
    for leaf in leaves:
        target = os.path.join(sdir, leaf)
        staged = os.path.join(staging, leaf)
        if os.path.isdir(staged):
            _swap_dir(staged, target)
        else:
            # every row purged: rewrite the leaf empty (schema kept)
            empty = (
                spark.read.parquet(target)
                .join(F.broadcast(purge), key, "left_anti")
                .select(*cols)
            )
            _swap_write(empty, target)
    shutil.rmtree(staging, ignore_errors=True)
    if derived:
        for leaf in leaves:
            dleaf = os.path.join(derived[0], leaf)
            _recover_swap(dleaf)  # remnant from a crashed recovery
            staged = os.path.join(dstaging, leaf)
            if os.path.isdir(staged):
                if os.path.isdir(dleaf):
                    _swap_dir(staged, dleaf)
                else:
                    os.rename(staged, dleaf)
            elif os.path.isdir(dleaf):
                # the purged leaf is empty: its derived leaf must be too
                _swap_write(spark.read.parquet(dleaf).limit(0), dleaf)
        shutil.rmtree(dstaging, ignore_errors=True)
    return leaves
