"""Durable MinHash-LSH dedup signature index — build / append / query /
compact / govern, the same artifact lifecycle the IVF vector store
(operators/similarity.py) and the BM25 text index (operators/
textindex.py) already have, applied to the near-dup family.

Why it must exist at 100 TB: the one-shot ``minhash_lsh_dedup`` pays a
full-corpus signature pass per invocation. A production corpus ingests
daily; what it needs is the signatures of the EXISTING corpus persisted
once, so each nightly batch pays only batch-sized Python (its own
shingle/minhash work) and joins against the stored band keys — the
dedup analogue of the reference's incremental export mode, which scans
only records newer than the last run behind a fixed artifact
(src/main/kotlin/app/batch/HBaseReader.kt:131-150).

Artifact layout at ``path/``:

- ``bands/``    Hive-partitioned by ``band`` (n_bands leaves):
                (band_key string, doc id). Each append writes only into
                the band directories, rows sorted by id within each
                write so parquet min-max stats make id-filtered
                governance scans cheap.
- ``sets/``     Hive-partitioned by ``bucket`` = pmod(xxhash64(id), 64):
                (id, hs array<bigint>). The verify join probes it with a
                broadcast candidate list on (bucket, id), so dynamic
                partition pruning keeps a query from scanning the
                corpus-sized set store (the IVF posting-store
                discipline, pinned in tests/test_plans.py).
- ``meta/``     one row: n_docs, the signature parameters (n_perm,
                rows_per_band, k, max_chars) and the source-content
                fingerprint. Written LAST on build — it is the commit
                record — and swap-rewritten on append.

Signature values are produced by the SAME kernel as the one-shot path
(``dedup.minhash_sets_and_sigs``: md5-prefix shingle hash, (a*h+b) mod M
minima) and band keys by the same concat shape, so query results are
bit-identical to running ``minhash_lsh_dedup`` over old ∪ batch and the
existing DuckDB oracle arithmetic carries over unchanged.

Append contract: delta ids are NEW. A re-appended id double-writes its
set/band rows; ``dedup_index_governance`` detects exactly that (plus
signature/band drift) from bounded samples, mirroring
``textindex.text_index_governance``. Crash-safety and exactly-once
appends are the shared store protocol (operators/storeprotocol.py);
the marker records the whole pre-append meta row.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import minhash_sets_and_sigs
from .storeprotocol import (
    Batch,
    StoreSpec,
    _batched_leaf_purge,
    append,
    compact,
    fragmentation,
    meta_frame,
    open_for_read,
    opt_str,
    read_last_append,  # noqa: F401 — public: the store's idempotence record
    read_meta,
    rebuild_bracket,
    recover,
)
from .storeprotocol import stored_fingerprint as _stored_fingerprint

N_SET_BUCKETS = 64


def _bucket_of(id_col: str):
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(N_SET_BUCKETS)).cast("int")


def band_rows(
    mh: DataFrame, id_col: str, n_perm: int, rows_per_band: int
) -> DataFrame:
    """(id, band, band_key) from the (id, sigs) frame — the exact
    band-key shape minhash_lsh_dedup builds inline (comma-joined
    signature decimals per band), factored so the stored and the
    query-time band keys come from one expression."""
    n_bands = n_perm // rows_per_band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.element_at("sigs", i + 1).cast("string")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return mh.select(id_col, F.explode(band_structs).alias("bb")).select(
        id_col, "bb.band", "bb.band_key"
    )


def _sig_relations(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n_perm: int,
    rows_per_band: int,
    k: int,
    max_chars: int,
) -> tuple[DataFrame, DataFrame]:
    """(bands, sets) relations for one corpus/delta: one Arrow pass
    produces (id, hs, sigs); bands explode map-side from sigs; sets are
    the hs arrays with their storage bucket. Sorting within the band
    partitions keeps per-id governance scans skippable via row-group
    min-max."""
    mh = minhash_sets_and_sigs(
        docs, text_col, id_col, n_perm=n_perm, k=k, max_chars=max_chars
    )
    # NO repartition("band"): that would collapse the build to n_bands
    # tasks (8) — a 100 TB anti-pattern. Every task writes one sorted
    # file per band leaf instead (id-ordered for min-max skipping);
    # the resulting file count is what compact_dedup_index is for.
    bands = band_rows(mh, id_col, n_perm, rows_per_band).sortWithinPartitions(
        id_col
    )
    sets = mh.select(id_col, "hs").withColumn("bucket", _bucket_of(id_col))
    return bands, sets


def build_dedup_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 16,
    rows_per_band: int = 2,
    k: int = 5,
    max_chars: int = 256,
    fingerprint: str | None = None,
) -> None:
    """ONE corpus-scale signature pass to the two artifact relations.
    The only shuffles are the by-band repartition of the band rows and
    the parquet write of the bucketed sets — no joins, no aggregation:
    signature state is per-document. meta (params + id_col +
    fingerprint + n_docs) is written LAST as the commit record; a
    crashed FIRST build leaves no meta and consumers treat the artifact
    as absent. An in-place REBUILD over an existing artifact cannot
    rely on that (old meta stays readable while bands→sets→meta
    overwrites land), so it is bracketed by a ``_build-pending`` marker
    every reader refuses (storeprotocol.rebuild_bracket)."""
    with rebuild_bracket(SPEC, path, fingerprint):
        bands, sets = _sig_relations(
            corpus, text_col, id_col, n_perm, rows_per_band, k, max_chars
        )
        bands.write.mode("overwrite").partitionBy("band").parquet(
            os.path.join(path, "bands")
        )
        sets.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(path, "sets")
        )
        spark = corpus.sparkSession
        n_docs = spark.read.parquet(os.path.join(path, "sets")).count()
        SPEC.meta(
            spark,
            {
                "n_docs": n_docs,
                "n_perm": n_perm,
                "rows_per_band": rows_per_band,
                "k": k,
                "max_chars": max_chars,
                "id_col": id_col,
                "fingerprint": fingerprint or "",
            },
        ).write.mode("overwrite").parquet(os.path.join(path, "meta"))


def _purge(spark: SparkSession, path: str, ids: DataFrame, scalars: dict) -> dict:
    """Anti-join the recorded ids out of every band leaf (every doc
    writes one row per band, so all leaves are touched) and out of the
    ids' set buckets (computed from the ids — the other buckets cannot
    hold them): ONE batched job per relation. Purged band leaves are
    re-sorted by id so the governance min-max skipping property
    survives recovery. Zero signature recomputation."""
    id_col = scalars["id_col"]
    ids = ids.select(F.col("id").alias(id_col)).distinct()
    buckets = sorted(
        r["bucket"]
        for r in ids.withColumn("bucket", _bucket_of(id_col))
        .select("bucket")
        .distinct()
        .collect()
    )
    bands = _batched_leaf_purge(
        spark,
        os.path.join(path, "bands"),
        "band=",
        ids,
        id_col,
        columns=[id_col, "band_key"],
        sort_within=[id_col],
    )
    sets = _batched_leaf_purge(
        spark,
        os.path.join(path, "sets"),
        "bucket=",
        ids,
        id_col,
        columns=[id_col, "hs"],
        leaf_values=buckets,
    )
    return {"band_leaves_purged": len(bands), "set_leaves_purged": len(sets)}


SPEC = StoreSpec(
    store="dedup index",
    recover_fn="recover_dedup_index_append",
    relations=(("bands", "band="), ("sets", "bucket="), ("meta", None)),
    appended=("bands", "sets"),
    marker={
        "n_docs": int,
        "n_perm": int,
        "rows_per_band": int,
        "k": int,
        "max_chars": int,
        "id_col": str,
        "fingerprint": opt_str,
    },
    purge=_purge,
    untouched={"band_leaves_purged": 0, "set_leaves_purged": 0},
    meta=meta_frame(
        "n_docs bigint, n_perm int, rows_per_band int, k int, "
        "max_chars int, id_col string, fingerprint string"
    ),
)


def append_to_dedup_index(
    delta: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint: str | None = None,
    batch_id: str | None = None,
) -> dict:
    """Incrementally index NEW documents: delta-sized signature work,
    band/set rows appended into the same partition layout, n_docs
    refreshed by addition (never a corpus re-scan). Signature
    parameters come from the stored meta, so an append can never mix
    permutation constants with the build's. For disjoint id sets the
    merged artifact is row-identical to a full rebuild over old ∪ delta
    (pinned in tests/test_extensions.py). Crash-safety and exactly-once
    under ``batch_id``: storeprotocol.append."""
    return append(
        SPEC,
        path,
        delta,
        batch_id,
        lambda spark: _plan_append(spark, path, delta, text_col, id_col, fingerprint),
    )


def _plan_append(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint: str | None = None,
) -> Batch:
    old = read_meta(SPEC, spark, path)
    if old["id_col"] != id_col:
        raise ValueError(
            f"{path}: index was built with id_col={old['id_col']!r}; "
            f"append called with id_col={id_col!r} — mixed id columns "
            "would corrupt the band/set relations"
        )
    bands, sets = _sig_relations(
        delta,
        text_col,
        id_col,
        old["n_perm"],
        old["rows_per_band"],
        old["k"],
        old["max_chars"],
    )

    def insert() -> None:
        bands.write.mode("append").partitionBy("band").parquet(
            os.path.join(path, "bands")
        )
        sets.write.mode("append").partitionBy("bucket").parquet(
            os.path.join(path, "sets")
        )

    def derive() -> tuple[list, dict]:
        n_new = delta.select(F.count(F.lit(1))).head()[0]
        new = {**old, "n_docs": old["n_docs"] + int(n_new), "fingerprint": fingerprint or ""}
        return [("meta", SPEC.meta(spark, new), None)], {}

    return Batch(
        marker=old,
        ids=delta.select(F.col(id_col).alias("id")).distinct(),
        insert=insert,
        derive=derive,
    )


def recover_dedup_index_append(spark: SparkSession, path: str) -> dict:
    """Return a torn-append index to its EXACT pre-append state so the
    same delta can be re-appended safely (band/set rows may already be
    stored, so a blind retry double-writes them — after which
    collisions report duplicate pairs and verification picks an
    arbitrary hs set): purge the recorded ids from the band and set
    leaves, restore the recorded meta. Protocol: storeprotocol.recover."""
    return recover(SPEC, spark, path)


def compact_dedup_index(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Per-leaf small-file compaction of BOTH partitioned relations
    after many appends (storeprotocol.compact; each append writes one
    file set per touched band/bucket): {"bands": ..., "sets": ...}."""
    return compact(SPEC, spark, path, target_bytes)


def stored_fingerprint(spark: SparkSession, path: str) -> str | None:
    """The source fingerprint stamped into meta; None when the artifact
    is absent, torn or unreadable (storeprotocol.stored_fingerprint) —
    every case a fingerprint-checking consumer must treat as
    'rebuild'."""
    return _stored_fingerprint(SPEC, spark, path)


def query_dedup_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.25,
) -> DataFrame:
    """Near-dups of a NEW batch against the indexed corpus:
    (batch id, dup_of corpus id, jaccard >= threshold).

    Cost shape — the whole point of the artifact: Python runs ONLY on
    the batch (its signature pass, map-only, batch-sized); the corpus
    side is two parquet scans with zero Python (pinned in
    tests/test_plans.py). Candidates come from the (band, band_key)
    equi-join of the batch's band rows against the stored bands; the
    exact-jaccard verify reads corpus hs sets through a broadcast
    candidate join on (bucket, id), so dynamic partition pruning limits
    the set-store scan to the candidates' buckets. Values are identical
    to ``minhash_lsh_dedup`` over old ∪ batch restricted to cross
    pairs, so the same oracle arithmetic pins both.

    Refuses a torn index (an append or an in-place rebuild died
    mid-flight): bands may already hold delta rows whose set rows never
    landed, and a candidate without its verify set would be silently
    dropped; the error advises the safe fix (recover_dedup_index_append
    for an append, rebuild for a rebuild)."""
    open_for_read(SPEC, path)
    from ._cache import swap_cache

    m = read_meta(SPEC, spark, path)
    mh = swap_cache(
        "dedup_index_query",
        minhash_sets_and_sigs(
            batch,
            text_col,
            id_col,
            n_perm=m["n_perm"],
            k=m["k"],
            max_chars=m["max_chars"],
        ),
    )
    batch_bands = band_rows(mh, id_col, m["n_perm"], m["rows_per_band"])
    stored_bands = spark.read.parquet(os.path.join(path, "bands")).select(
        F.col(id_col).alias("dup_of"), "band", "band_key"
    )
    # The candidate relation is persisted: it feeds the verify pair
    # list, the candidate-id bucket probe below, AND the corpus-set
    # prune join — unpersisted, each consumer re-ran the 64-leaf bands
    # scan + band join (round-11 verdict #8: the probe's store-scan
    # fixed costs were the bench-visible cost).
    cand = swap_cache(
        "dedup_index_cand",
        batch_bands.join(stored_bands, ["band", "band_key"])
        .select(F.col(id_col).alias("id_a"), F.col("dup_of").alias("id_b"))
        .distinct(),
    )
    cand_ids = (
        cand.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("bucket", _bucket_of(id_col))
    )
    # leaf_values-style STATIC partition pruning (the shape the purges
    # already use): only the buckets the candidates can live in are
    # read — a bounded driver list (<= the store's bucket count, 64),
    # never corpus-sized. The broadcast id join alone relied on
    # runtime DPP, which leaves the full 64-leaf listing + scan in the
    # plan when it does not fire.
    cand_buckets = [
        r["bucket"] for r in cand_ids.select("bucket").distinct().collect()
    ]
    store_sets = spark.read.parquet(os.path.join(path, "sets"))
    if cand_buckets:
        store_sets = store_sets.filter(F.col("bucket").isin(cand_buckets))
    corpus_sets = store_sets.join(
        F.broadcast(cand_ids), ["bucket", id_col]
    ).select(id_col, "hs")
    all_sets = mh.select(id_col, "hs").unionByName(corpus_sets)
    from .dedup import jaccard_of_sets

    out = jaccard_of_sets(
        all_sets, cand, id_col, set_col="hs", min_jaccard=threshold
    ).filter(F.col("jaccard") >= threshold)
    return out.select(
        F.col("id_a").alias(id_col),
        F.col("id_b").alias("dup_of"),
        "jaccard",
    )


def dedup_index_governance(
    spark: SparkSession,
    path: str,
    sample_ids: list[int],
    max_ids: int = 64,
    max_files_per_leaf: int = 8,
) -> dict:
    """Integrity governance for the durable dedup index — the check
    whose absence lets an append-contract violation rot silently:
    re-appending an ALREADY-indexed id double-writes its set/band rows,
    after which every batch that collides with it reports duplicate
    candidate pairs and (if the text changed between writes) verifies
    against an arbitrary one of two hs sets. For a bounded
    caller-chosen id sample, verify (a) each sampled id has exactly ONE
    set row, and (b) the stored band keys equal the keys recomputed
    from the stored hs arrays with the meta's permutation constants —
    drift means the artifact was written by different parameters than
    meta claims.

    Cost shape: the sets scan is statically pruned to the sampled ids'
    buckets; the bands scan is id-filtered against row-group min-max
    (build/append sort band rows by id); everything downstream is
    sample-sized, and both collects are STRUCTURALLY capped (a badly
    corrupted index that mass-duplicated a sampled id yields a
    truncated diagnostic sample, never an unbounded driver collect —
    duplication is still detected from the capped rows).

    The id column is the one persisted in meta at build time. Returns
    {n_ids_checked, duplicate_ids, band_mismatches, healthy, rebuild,
    fragmentation, compact} (the last two from
    storeprotocol.fragmentation over bands and sets)."""
    import numpy as np

    from .dedup import MINHASH_MOD, minhash_perm_constants

    open_for_read(SPEC, path)
    ids = sorted(set(sample_ids))[:max_ids]
    if not ids:
        raise ValueError(
            "dedup_index_governance needs a non-empty id sample — "
            "a health check over zero ids would read as healthy"
        )
    m = read_meta(SPEC, spark, path)
    id_col = m["id_col"]
    # cap: a healthy sample has 1 set row and n_bands band rows per id;
    # allow 4x before truncating the diagnostic (4 dup generations per
    # id is already an unambiguous 'rebuild')
    sets_cap = 4 * len(ids)
    sets = (
        spark.read.parquet(os.path.join(path, "sets"))
        .filter(F.col(id_col).isin(ids))
        .select(id_col, "hs")
        .limit(sets_cap)
        .collect()
    )
    seen: dict[int, list] = {}
    for r in sets:
        seen.setdefault(r[id_col], []).append(r["hs"])
    duplicate_ids = sorted(i for i, rows in seen.items() if len(rows) > 1)
    consts = minhash_perm_constants(m["n_perm"])
    A = np.array([a for a, _ in consts], dtype=np.int64)[:, None]
    B = np.array([b for _, b in consts], dtype=np.int64)[:, None]
    rpb = m["rows_per_band"]
    expected: dict[tuple[int, int], str] = {}
    for i, rows in seen.items():
        if len(rows) != 1:
            continue  # already reported as duplicate
        hs = np.array(rows[0], dtype=np.int64)
        sigs = ((A * hs[None, :] + B) % MINHASH_MOD).min(axis=1)
        for b in range(m["n_perm"] // rpb):
            expected[(i, b)] = ",".join(
                str(int(s)) for s in sigs[b * rpb : (b + 1) * rpb]
            )
    stored = (
        spark.read.parquet(os.path.join(path, "bands"))
        .filter(F.col(id_col).isin(ids))
        .select(id_col, "band", "band_key")
        .limit(4 * len(ids) * (m["n_perm"] // rpb))
        .collect()
    )
    band_mismatches = []
    stored_keys = {(r[id_col], r["band"]): r["band_key"] for r in stored}
    for key, want in expected.items():
        got = stored_keys.get(key)
        if got != want:
            band_mismatches.append(
                {"doc_id": key[0], "band": key[1], "stored": got, "expected": want}
            )
    healthy = not duplicate_ids and not band_mismatches
    return {
        "n_ids_checked": len(ids),
        "duplicate_ids": duplicate_ids,
        "band_mismatches": band_mismatches,
        "healthy": healthy,
        "rebuild": not healthy,
        **fragmentation(SPEC, path, max_files_per_leaf),
    }
