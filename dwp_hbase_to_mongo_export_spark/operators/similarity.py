"""Similarity search over embedding columns (array<float>).

- cosine/dot as pure built-in expressions (zip_with + aggregate in
  doubles — JVM-side, codegen'd; no Python in the hot loop).
- brute_force_topk: exact top-k for a (small, broadcast) query set
  against the full corpus — the correctness baseline and the right plan
  whenever |queries| is small: one broadcast, no shuffle of the corpus.
- random_hyperplane_lsh: deterministic sign-bit bucketing; the scale
  path — join queries to candidates within a bucket (plus multiprobe
  neighbours), then exact-rank the survivors. Buckets are md5-derived so
  runs are reproducible across engines.
- durable IVF postings and PQ codes stores: save / load / append /
  recover / compact / govern; appends and recovery are the shared store
  protocol (operators/storeprotocol.py).
"""

from __future__ import annotations

import logging
import os
import threading

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_LOG = logging.getLogger(__name__)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    emb: DataFrame,
    query_ids: list[int] | DataFrame | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_id: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, rank) — exact cosine top-k per query.
    The query side is broadcast; ties broken by neighbor id for
    determinism."""
    q = emb
    if max_query_id is not None:
        q = q.filter(F.col(id_col) < max_query_id)
    elif query_ids is not None and not isinstance(query_ids, DataFrame):
        q = emb.filter(F.col(id_col).isin(list(query_ids)))
    elif isinstance(query_ids, DataFrame):
        q = query_ids
    q = q.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def filtered_topk(
    emb: DataFrame,
    filter_col: str = "label",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_id: int | None = None,
) -> DataFrame:
    """FILTERED vector search, per-query equality filter: exact cosine
    top-k where every candidate must share the query's ``filter_col``
    value (the tenant/category/language restriction every production
    vector system exposes — 'nearest neighbors WITHIN my partition').

    The Spark-first insight: an EQUALITY filter turns the brute-force
    crossJoin into an ordinary equi-join on the filter key — Catalyst
    hash-partitions both sides by the key (or broadcasts the query
    side), so each task only ever scores candidates that pass the
    filter. Search work is sum over groups of |q_g| x |c_g| instead of
    |q| x |c|: the filter is enforced by the JOIN, not by scoring
    everything and discarding — which is exactly what makes filtered
    search CHEAPER than unfiltered at 100 TB, where a post-filter
    top-k over the full corpus wastes (1 - selectivity) of its
    cosines. Ties break by neighbor id for determinism."""
    q = emb
    if max_query_id is not None:
        q = q.filter(F.col(id_col) < max_query_id)
    q = q.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col(filter_col).alias("_fk"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col(filter_col).alias("_fk"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "_fk")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _resolve_centroids(
    emb: DataFrame,
    centroids: DataFrame | None,
    centroid_stride: int,
    max_centroids: int | None,
    id_col: str,
    vec_col: str,
):
    """Driver-side centroid table for the IVF family.

    Trained path: any (cent_id, cent_vec) frame (k rows, k-bounded by
    construction — the same bounded class as kmeans_fit's update
    collect). Stride path (fixture/bootstrap default): a deterministic
    id-stride subset of the corpus — reproducible for the oracle, but
    its size is |corpus|/stride, which grows linearly with the corpus.
    ``max_centroids`` is the guard that keeps the driver collect
    bounded at scale: the stride selection is probed with a
    ``LIMIT max_centroids + 1`` collect first — when it stays under the
    cap (every fixture corpus, and the common case) that collect IS the
    centroid set and NO extra corpus pass runs; only on overflow does a
    count run to widen the stride by the smallest integer factor that
    brings the selection back under the cap — and the widening is
    LOGGED, because it silently changes the centroid set (and therefore
    results) as a corpus grows past stride * max_centroids. A 100 TB
    corpus should pass trained centroids anyway — the widened stride is
    the honest fallback, not the recommended index."""
    import math

    from .clustering import rows_to_centroids

    if centroids is not None:
        cent_rows = centroids.select(
            F.col(centroids.columns[0]).cast("bigint"),
            F.col(centroids.columns[1]),
        ).collect()
    else:
        sel = emb.filter(F.col(id_col) % centroid_stride == 0).select(
            F.col(id_col).cast("bigint"), F.col(vec_col)
        )
        if max_centroids is None:
            cent_rows = sel.collect()
        else:
            # probe with a capped collect: <= max_centroids rows means
            # the limit returned the COMPLETE selection (no extra scan)
            cent_rows = sel.limit(max_centroids + 1).collect()
            if len(cent_rows) > max_centroids:
                n = emb.count()
                widen = max(1, math.ceil(n / (centroid_stride * max_centroids)))
                stride = centroid_stride * widen
                _LOG.warning(
                    "IVF centroid stride widened %d -> %d (corpus %d rows "
                    "exceeds stride * max_centroids = %d): the centroid set "
                    "— and therefore approximate results — changes with "
                    "corpus growth on this path; pass trained centroids for "
                    "a stable quantiser",
                    centroid_stride, stride, n, centroid_stride * max_centroids,
                )
                cent_rows = (
                    emb.filter(F.col(id_col) % stride == 0)
                    .select(F.col(id_col).cast("bigint"), F.col(vec_col))
                    .collect()
                )
    cents = rows_to_centroids(cent_rows)
    if not cents:
        raise ValueError(
            "empty centroid set (stride larger than the id range, or an "
            "empty centroids frame) — no posting lists can exist; lower "
            "centroid_stride or pass trained centroids"
        )
    return cents


def _nearest_centroids(
    df: DataFrame, cents, n: int, vec_col: str, out: str
) -> DataFrame:
    """top-n centroids per row by cosine, exploded to one row per
    (row, centroid); ties to lowest id — map-only BLAS kernel (see
    build_ivf_index's assignment-shape note)."""
    from .clustering import assign_topn_centroids

    a = assign_topn_centroids(df, cents, n=n, vec_col=vec_col, out_col="_nc")
    return a.select(df["*"], F.explode("_nc").alias(out))


def build_ivf_index(
    emb: DataFrame,
    centroids: DataFrame | None = None,
    centroid_stride: int = 100,
    max_centroids: int | None = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    repartition: bool = True,
    persist: bool = True,
):
    """Build the IVF inverted file ONCE: assign every corpus vector to
    its nearest coarse centroid and materialise the posting-list
    relation (cluster, neighbor_id, cv), hash-partitioned by cluster id
    and persisted (memory-and-disk, slot-cached so re-invocations on
    the same corpus reuse the already-built index instead of
    re-assigning). Returns ``(index, cents)`` — pass both to
    ``query_ivf``.

    This is the partition-once-scan-many discipline the reference
    applies to its scan partitioning (HBasePartitioner.kt:12-37 builds
    the region-chunk table once per export, every scanner then reads
    its slice): the corpus-wide assignment + shuffle is BUILD cost,
    paid once; query-time joins touch the index without moving the
    corpus again. At 100 TB the persisted relation is the bucketed
    posting-list table and nprobe/|centroids| of it is what a probe
    reads.

    Assignment shape: one map-only BLAS matmul per Arrow batch against
    the driver-collected centroid table (clustering.assign_topn_
    centroids, k x d doubles in the task closure) — no crossJoin row
    blow-up, no per-row window shuffle. The only build-time exchange is
    the cluster-id repartition that gives the index its bucketed
    layout (skippable via ``repartition=False`` for one-shot use)."""
    from ._cache import swap_cache

    cents = _resolve_centroids(
        emb, centroids, centroid_stride, max_centroids, id_col, vec_col
    )
    index = _nearest_centroids(emb, cents, 1, vec_col, "cluster").select(
        "cluster",
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
    )
    if repartition:
        index = index.repartition("cluster")
    if persist:
        index = swap_cache("ivf_index", index)
    return index, cents


# Durable-store crash protocol (operators/storeprotocol.py): an append
# records its batch ids BEFORE any store write, loaders refuse a marked
# artifact, and recover_*_index_append purges the recorded ids — a
# crashed append may already have landed rows, so a blind retry would
# double-write them (duplicate posting/code rows distort top-k and are
# invisible to recall governance, which compares against the index's
# own corpus).
from .storeprotocol import (  # noqa: E402
    Batch,
    StoreSpec,
    _batched_leaf_purge,
    _swap_write,
    append,
    compact,
    fragmentation,
    meta_frame,
    open_for_read,
    read_last_append,  # noqa: F401 — public: the store's idempotence record
    recover,
)


def _purge_ivf(spark, path: str, ids: DataFrame, scalars: dict) -> dict:
    """Anti-join the recorded ids out of the recorded clusters' posting
    leaves (the assignment is deterministic under the frozen quantiser,
    so the recorded clusters are exactly where the crashed append's
    rows can be) — ONE partition-pruned batched job. No stats or meta
    to restore: posting rows are the IVF store's only mutable
    relation."""
    clusters = sorted(
        int(r["cluster"]) for r in ids.select("cluster").distinct().collect()
    )
    leaves = _batched_leaf_purge(
        spark,
        os.path.join(path, "postings"),
        "cluster=",
        ids.select(F.col("id").alias("neighbor_id")).distinct(),
        "neighbor_id",
        columns=["neighbor_id", "cv"],
        leaf_values=clusters,
    )
    return {"cluster_leaves_purged": len(leaves)}


def _purge_pq(spark, path: str, ids: DataFrame, scalars: dict) -> dict:
    """Anti-join the recorded ids out of the flat codes store: one
    store-sized swap rewrite — I/O only, no re-encoding."""
    id_col = scalars["id_col"]
    codes_dir = os.path.join(path, "codes")
    codes = spark.read.parquet(codes_dir)
    ids = ids.select(F.col("id").alias(id_col)).distinct()
    _swap_write(
        codes.join(F.broadcast(ids), id_col, "left_anti").select(*codes.columns),
        codes_dir,
    )
    return {"codes_purged": True}


IVF_SPEC = StoreSpec(
    store="IVF index",
    recover_fn="recover_ivf_index_append",
    relations=(("postings", "cluster="),),
    appended=("postings",),
    marker={},
    purge=_purge_ivf,
    untouched={"cluster_leaves_purged": 0},
)
PQ_SPEC = StoreSpec(
    store="PQ index",
    recover_fn="recover_pq_index_append",
    relations=(("codes", None),),
    appended=("codes",),
    marker={"id_col": str},
    purge=_purge_pq,
    untouched={"codes_purged": False},
)
# The IVF and PQ meta is one fingerprint row, written last by a build.
_fingerprint_meta = meta_frame("fingerprint string")


def save_ivf_index(
    index: DataFrame, cents, path: str, fingerprint: str | None = None
) -> None:
    """Persist a built IVF index DURABLY: the posting lists as a
    cluster-PARTITIONED parquet table (one directory per centroid)
    plus the centroid table as a small side relation. This is the
    100 TB artifact layout: because ``cluster`` is the storage
    partition key, a query's broadcast probe join triggers dynamic
    partition pruning — the scan reads ONLY the nprobe probed
    clusters' files (pinned by tests/test_plans.py), making the
    "a probe touches nprobe/|centroids| of the data" claim true at the
    FILE level, across sessions, with no warm cache required.

    ``fingerprint`` (functions/fingerprint.source_fingerprint of the
    source corpus) is stamped into a 1-row meta relation, written last
    so that meta is the build's commit record: a consumer keying reuse
    on the PATH reads it through storeprotocol.stored_fingerprint
    (IVF_SPEC) and rebuilds when the source changed underneath it."""
    spark = index.sparkSession
    index.write.partitionBy("cluster").parquet(os.path.join(path, "postings"))
    spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cents],
        "cent_id bigint, cv array<double>",
    ).write.parquet(os.path.join(path, "centroids"))
    if fingerprint is not None:
        _fingerprint_meta(spark, {"fingerprint": fingerprint}).write.parquet(
            os.path.join(path, "meta")
        )


def append_to_ivf_index(
    path: str,
    new_batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: str | None = None,
) -> dict:
    """Incrementally add a batch of vectors to a saved IVF index: the
    batch is assigned against the index's OWN stored centroids (the
    quantiser must not move, or existing posting lists silently become
    wrong) and appended into the cluster-partitioned posting store —
    each new row lands in its centroid's directory, dynamic partition
    pruning keeps working, and nothing already indexed is rewritten.
    This is the streaming-ingest shape: the reference's incremental
    mode appends new cells behind a time-range predicate
    (HBaseReader.kt:131-150); here new vectors append behind the fixed
    coarse quantiser. Re-train + rebuild only when centroid drift
    (ann_recall_report's governance loop) says the quantiser went
    stale. Crash-safety and exactly-once under ``batch_id``:
    storeprotocol.append; the ids record holds each row's (id,
    cluster)."""
    return append(
        IVF_SPEC,
        path,
        new_batch,
        batch_id,
        lambda spark: _plan_ivf_append(spark, path, new_batch, id_col, vec_col),
    )


def _plan_ivf_append(
    spark, path: str, new_batch: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> Batch:
    _, cents = load_ivf_index(spark, path)
    # persisted: the assignment feeds both the ids record and the
    # insert — one Arrow pass, and both writes see identical clusters
    batch_index = (
        _nearest_centroids(new_batch, cents, 1, vec_col, "cluster")
        .select(
            "cluster",
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
        )
        .persist()
    )

    def insert() -> None:
        batch_index.write.mode("append").partitionBy("cluster").parquet(
            os.path.join(path, "postings")
        )

    return Batch(
        marker={},
        ids=batch_index.select(F.col("neighbor_id").alias("id"), "cluster").distinct(),
        insert=insert,
        cached=(batch_index,),
    )


def recover_ivf_index_append(spark, path: str) -> dict:
    """Return a torn-append IVF artifact to its exact pre-append state
    so the same batch can be re-appended safely: purge the recorded ids
    from the recorded clusters' posting leaves (storeprotocol.recover)."""
    return recover(IVF_SPEC, spark, path)


def compact_ivf_postings(
    spark, path: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Compact a saved IVF index's posting store after incremental
    appends (storeprotocol.compact): each append_to_ivf_index call
    writes one file set per touched cluster directory, so a micro-batch
    cadence turns probe-time scan cost into file-open overhead. Each
    cluster=N leaf is rewritten on its own, so the Hive layout and the
    dynamic-partition-pruning probe path (tests/test_plans.py) survive.
    Centroids are untouched — compaction moves bytes, never the
    quantiser."""
    return compact(IVF_SPEC, spark, path, target_bytes)


def load_ivf_index(spark, path: str):
    """Load a save_ivf_index artifact: returns (index, cents) exactly
    as build_ivf_index does, ready for query_ivf — a fresh session
    queries the index without ever touching the float corpus. Refuses
    a torn artifact (open_for_read). The stamp is not checked here:
    path-keyed reuse checks it before loading
    (functions/indexcache.cached_store, through
    storeprotocol.stored_fingerprint)."""
    from .clustering import rows_to_centroids

    open_for_read(IVF_SPEC, path)
    index = spark.read.parquet(os.path.join(path, "postings"))
    rows = spark.read.parquet(os.path.join(path, "centroids")).collect()
    return index, rows_to_centroids(rows)


def ivf_index_corpus(index: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """The full vector corpus as stored IN a posting-list relation —
    the artifact is self-contained, so governance/rebuild never needs
    the original source table."""
    return index.select(
        F.col("neighbor_id").alias(id_col), F.col("cv").alias(vec_col)
    )


def ivf_index_governance(
    spark,
    path: str,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = 2,
    recall_floor: float = 0.6,
    max_files_per_leaf: int = 8,
) -> dict:
    """Recall governance for the DURABLE index path — the check whose
    absence lets a stale quantiser rot silently: ``append_to_ivf_index``
    deliberately never moves the coarse centroids (moving them would
    corrupt existing posting lists), so a drifting ingest distribution
    degrades probe recall with no error anywhere. This measures
    recall@k of the saved index's own query path against exact
    brute-force ground truth over the index's own stored corpus, for a
    caller-chosen query sample (production: sample RECENT ingest ids —
    drift shows up there first, while old-region queries stay healthy),
    and turns it into the rebuild decision.

    Returns {recall, n_queries, recall_floor, duplicate_ids, rebuild,
    fragmentation, compact} (the last two from
    storeprotocol.fragmentation over the postings). ``rebuild``
    True means: re-train the quantiser on the CURRENT corpus and
    rebuild the posting lists. Seed the re-train across ingest epochs
    (clustering.kmeans_fit's ``init``) — Lloyd from old-region-only
    seeds cannot colonise the drifted region, which is exactly how the
    index got stale in the first place.

    Cost shape: ground truth is brute force ONLY for the bounded query
    sample (broadcast side), the probe path is the production
    query_ivf plan, and the recall join moves k rows per query per
    side — everything after the index scan is sample-sized. This is
    the disk-path sibling of the in-session ann_recall_report query."""
    index, cents = load_ivf_index(spark, path)
    corpus = ivf_index_corpus(index)
    q = corpus.filter(F.col("vec_id").isin([int(i) for i in query_ids]))
    approx = {
        (r.query_id, r.neighbor_id)
        for r in query_ivf(index, cents, q, nprobe=nprobe, k=k).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(corpus, query_ids=q, k=k).collect()
    }
    if not exact:
        raise ValueError(
            f"{path}: governance query sample matched no stored ids — "
            "a recall over zero queries would read as healthy"
        )
    recall = len(approx & exact) / len(exact)
    # append-contract check (round-9): a re-appended existing id stores
    # duplicate posting rows, which DISTORT top-k yet are invisible to
    # the recall comparison (ground truth runs over the index's own
    # corpus, duplicates and all). Bounded: sampled ids only, capped
    # collect — the dedup/text index governance discipline.
    ids = [int(i) for i in query_ids]
    duplicate_ids = sorted(
        r["neighbor_id"]
        for r in index.filter(F.col("neighbor_id").isin(ids))
        .groupBy("neighbor_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(len(ids))
        .collect()
    )
    return {
        "recall": recall,
        "n_queries": len({qid for qid, _ in exact}),
        "recall_floor": recall_floor,
        "duplicate_ids": duplicate_ids,
        "rebuild": recall < recall_floor or bool(duplicate_ids),
        **fragmentation(IVF_SPEC, path, max_files_per_leaf),
    }


def query_ivf(
    index: DataFrame,
    cents,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_probes: bool = True,
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """Probe a built IVF index: each query row picks its ``nprobe``
    nearest centroids (the same map-only kernel as the build) and
    exact-ranks the candidates in those centroids' posting lists.
    Returns (query_id, neighbor_id, rank).

    Query-time plan: with ``broadcast_probes`` (right whenever the
    query set is sampling-sized — the production shape) the probe
    relation is broadcast, so the posting-list join has NO corpus-side
    exchange at all: the index is read in place (in-memory/bucketed)
    and the only shuffle is the final per-query rank, which moves
    candidate rows — query-set-sized, not corpus-sized. Set
    ``broadcast_probes=False`` for corpus-scale query sets; the join
    then shuffles only the probe side when the index kept its
    cluster-id partitioning.

    ``candidate_ids`` (a one-column frame of ``id_col`` values) makes
    this a FILTERED probe: posting rows are pruned by a LEFT SEMI join
    against the allowed-id set BEFORE scoring, so disallowed candidates
    cost no cosine and never reach the rank. The allowed set is usually
    metadata-predicate-sized (AQE broadcasts it when small; above the
    threshold it degrades to a shuffle semi-join on the id — never the
    vectors). The standard filtered-ANN caveat applies and is the
    CALLER's dial, not hidden magic: probing still visits nprobe
    clusters chosen by geometry alone, so a highly selective filter
    wants a larger nprobe to keep recall (the ann_recall_filtered
    governance query measures the dial at two settings — at the
    fixture's 50% selectivity, recall@5 reads 0.52/0.76 at sf0.01 and
    0.26/0.44 at sf0.1 for nprobe 2/4)."""
    probes = _nearest_centroids(queries, cents, nprobe, vec_col, "cluster").select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "cluster"
    )
    if broadcast_probes:
        probes = F.broadcast(probes)
    if candidate_ids is not None:
        index = index.join(
            candidate_ids.select(F.col(id_col).alias("neighbor_id")),
            "neighbor_id",
            "left_semi",
        )
    # no dropDuplicates: a neighbor lives in exactly one posting list and
    # a query's nprobe probes are distinct, so (query_id, neighbor_id)
    # pairs are unique by construction — a dedup would be a whole extra
    # shuffle for nothing
    scored = (
        probes.join(index, "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivf_near_dup(
    index: DataFrame,
    cents,
    queries: DataFrame,
    nprobe: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_probes: bool = True,
) -> DataFrame:
    """Near-duplicate detection against a BUILT IVF index: each query
    (new-batch) vector probes its nprobe nearest clusters and reports
    every posting whose exact cosine clears ``threshold`` — the
    embedding member of the incremental-dedup family (exact
    fingerprints: dedupindex; MinHash bands: dedup_incremental_indexed;
    word-8-grams: gramindex; embeddings: THIS). A nightly ingest asks
    'which new vectors already live in the corpus, semantically' and
    pays nprobe/|clusters| of the corpus per query instead of a full
    cosine join — the SemDeDup decision at index-probe cost.

    Same probe geometry and recall caveat as query_ivf (a true
    near-dup assigned to a cluster outside the probe set is missed;
    raise nprobe for recall — with near-dup thresholds this high the
    duplicate's cluster is almost always the query's own). Returns
    (batch_id, corpus_id, cos rounded 3), cos exact for every reported
    pair."""
    probes = _nearest_centroids(queries, cents, nprobe, vec_col, "cluster").select(
        F.col(id_col).alias("batch_id"), F.col(vec_col).alias("qv"), "cluster"
    )
    if broadcast_probes:
        probes = F.broadcast(probes)
    scored = (
        probes.join(index, "cluster")
        .filter(F.col("batch_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    return scored.filter(F.col("cos") >= F.lit(threshold)).select(
        "batch_id",
        F.col("neighbor_id").alias("corpus_id"),
        F.round("cos", 3).alias("cos"),
    )


def ivf_topk(
    emb: DataFrame,
    k: int = 5,
    centroid_stride: int = 100,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_id: int | None = None,
    centroids: DataFrame | None = None,
    max_centroids: int | None = 4096,
) -> DataFrame:
    """One-shot IVF approximate top-k: build_ivf_index + query_ivf
    composed WITHOUT persisting — the right plan when the corpus is
    scanned once and thrown away (ad-hoc queries, the oracle gate).
    Anything that queries the same corpus repeatedly should call
    build_ivf_index once and query_ivf per batch instead: this
    function re-assigns the whole corpus per invocation by design.

    Centroids default to a deterministic id-stride subset of the corpus
    (reproducible for the oracle; ``max_centroids`` bounds the driver
    collect at scale — see _resolve_centroids); pass ``centroids`` —
    any (cent_id, cent_vec) frame, e.g. clustering.centroids_df output
    — to use trained k-means centroids instead. The dataflow is
    identical. Returns (query_id, neighbor_id, rank).

    Plan shape: both assignment passes are map-only BLAS (see
    build_ivf_index); with a bounded query sample the probe side is
    broadcast, so even the one-shot form moves the corpus only through
    the final candidate rank. (The earlier crossJoin(broadcast)+
    row_number assignment was correct but evaluated |rows| x
    |centroids| interpreted HOF cosines and shuffled the corpus by
    unique id just to take an argmax — ~1.6x slower at sf0.1 and the
    wrong shape at 100x.)"""
    index, cents = build_ivf_index(
        emb,
        centroids=centroids,
        centroid_stride=centroid_stride,
        max_centroids=max_centroids,
        id_col=id_col,
        vec_col=vec_col,
        repartition=False,
        persist=False,
    )
    q = emb if max_query_id is None else emb.filter(F.col(id_col) < max_query_id)
    return query_ivf(
        index,
        cents,
        q,
        nprobe=nprobe,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        broadcast_probes=max_query_id is not None,
    )


def pq_train(
    emb: DataFrame,
    m: int = 4,
    k_codes: int = 8,
    iters: int = 1,
    n_dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Product-quantisation codebooks (Jégou/Douze/Schmid 2011, public
    literature): split each vector into ``m`` contiguous subvectors and
    run an independent L2 k-means (``k_codes`` codewords) per subspace.
    Returns a list of m Centroids (cluster ids = the init vectors' ids,
    per the kmeans_fit determinism contract).

    Scale: all m subspace fits advance TOGETHER — per iteration ONE
    corpus scan computes every subspace's assignment in a single
    Arrow-batched pass (pq_encode's kernel) and ONE map-side-combined
    (subspace, cluster, pos) aggregation updates every codebook, so the
    iteration cost is the same one-scan-one-agg shape as a single
    k-means fit rather than m of them (m separate Lloyd loops measured
    ~3x slower at sf0.1 purely in job-scheduling overhead; at 100 TB
    you additionally fit on a sample). Semantics are identical to m
    independent fits: subspaces never interact, per-subspace means are
    floor-rounded to 6 like kmeans_fit's update."""
    from ..functions.portable import round_portable

    assert n_dims % m == 0, (n_dims, m)
    dsub = n_dims // m
    init = (
        emb.orderBy(id_col)
        .limit(k_codes)
        .select(F.col(id_col).cast("bigint"), F.col(vec_col))
        .collect()
    )
    if not init:
        raise ValueError("cannot fit PQ codebooks on an empty input frame")
    from .clustering import rows_to_centroids

    full = rows_to_centroids(init)
    books = [
        [(cid, v[j * dsub : (j + 1) * dsub]) for cid, v in full]
        for j in range(m)
    ]
    for _ in range(iters):
        with_codes = emb.withColumn(
            "_codes", _pq_encode_udf(books)(F.col(vec_col))
        )
        rows = (
            with_codes.select("_codes", F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .withColumn("subspace", F.floor(F.col("pos") / dsub).cast("int"))
            .withColumn(
                "cluster", F.element_at(F.col("_codes"), F.col("subspace") + 1)
            )
            .groupBy("subspace", "cluster", (F.col("pos") % dsub).alias("spos"))
            .agg(round_portable(F.avg(F.col("x").cast("double")), 6).alias("mv"))
            .collect()
        )
        by: list[dict[int, list[float]]] = [dict() for _ in range(m)]
        for r in rows:
            by[r["subspace"]].setdefault(int(r["cluster"]), [0.0] * dsub)[
                r["spos"]
            ] = r["mv"]
        books = [sorted(by[j].items()) for j in range(m)]
    return books


def _pq_encode_udf(codebooks):
    """Arrow-batched kernel computing ALL m subspace argmins in one
    pass (codebooks ride the closure): nearest L2 codeword per
    subspace, ties to the lowest code id."""
    metas = []
    offset = 0
    for book in codebooks:
        ids = np.array([c for c, _ in book], dtype=np.int64)
        C = np.array([v for _, v in book], dtype=np.float64)
        metas.append((offset, ids, C))
        offset += C.shape[1]

    @F.pandas_udf("array<bigint>")
    def _encode(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="object")
        V = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        cols = []
        for off, ids, C in metas:
            S = V[:, off : off + C.shape[1]]
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            cols.append(ids[d2.argmin(axis=1)])
        return pd.Series(list(np.stack(cols, axis=1)))

    return _encode


def pq_encode(
    emb: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<bigint>) — each vector compressed to m codeword
    ids; this is the 100 TB storage representation: m * 1-8 bytes per
    vector instead of n_dims * 4. Map-only."""
    enc = _pq_encode_udf(codebooks)
    return emb.select(F.col(id_col), enc(F.col(vec_col)).alias("codes"))


# trained-codebook memo for build_pq_index: keyed by the input plan's
# 32-bit semantic hash as a probe, CONFIRMED with sameResult before
# reuse (the swap_cache hash-to-find/sameResult-to-trust pairing — a
# false hit would silently search with codebooks fitted on a different
# corpus); bounded so driver memory stays flat. Mutated only under
# _PQ_MEMO_LOCK — interleaved/threaded bench invocations (the same
# pattern _cache._SLOTS guards against) would otherwise race the
# check-then-set and the insertion-order eviction. The sameResult
# confirmation runs OUTSIDE the lock (it can call into the JVM).
_PQ_BOOKS_MEMO: dict = {}
_PQ_MEMO_LOCK = threading.Lock()


def build_pq_index(
    emb: DataFrame,
    m: int = 4,
    k_codes: int = 8,
    iters: int = 1,
    n_dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persist: bool = True,
):
    """Build the PQ index ONCE: fit the m codebooks (pq_train) and
    materialise the encoded corpus — (id, codes array<bigint>), m small
    ints per vector — persisted under the slot cache so re-invocations
    on the same corpus reuse the trained + encoded relation instead of
    re-running Lloyd iterations and the encode pass. Returns
    ``(codes, books)`` — pass both to ``query_pq``.

    The codes relation IS the 100 TB deployment artifact (m * 1-8
    bytes per vector instead of n_dims * 4); building it is the
    expensive scan-the-float-corpus step, querying it never touches a
    float vector again. Same partition-once-scan-many discipline as
    build_ivf_index (reference parity: HBasePartitioner.kt:12-37).

    Re-invocation skips BOTH build stages: the trained codebooks are
    memoised driver-side keyed by (input plan semantic hash, fit
    params) — they are k_codes x n_dims doubles, the same bounded class
    as the kmeans update collect — and the encoded relation reuses its
    swap_cache slot (identical books -> identical encode plan)."""
    from ._cache import _same_result, _semantic_key, swap_cache

    memo_key = (
        _semantic_key(emb), m, k_codes, iters, n_dims, id_col, vec_col
    )
    books = None
    if persist:
        with _PQ_MEMO_LOCK:
            hit = _PQ_BOOKS_MEMO.get(memo_key)
        if hit is not None and _same_result(hit[0], emb):
            books = hit[1]
    if books is None:
        books = pq_train(
            emb, m=m, k_codes=k_codes, iters=iters, n_dims=n_dims,
            id_col=id_col, vec_col=vec_col,
        )
        if persist:
            with _PQ_MEMO_LOCK:
                _PQ_BOOKS_MEMO[memo_key] = (emb, books)
                while len(_PQ_BOOKS_MEMO) > 4:  # bounded, insertion-order evict
                    _PQ_BOOKS_MEMO.pop(next(iter(_PQ_BOOKS_MEMO)))
    codes = pq_encode(emb, books, id_col=id_col, vec_col=vec_col)
    if persist:
        codes = swap_cache("pq_index", codes)
    return codes, books


def save_pq_index(
    codes: DataFrame, books, path: str, fingerprint: str | None = None
) -> None:
    """Persist a built PQ index DURABLY: the encoded corpus — (id,
    codes array<bigint>), m small ints per vector — as parquet, plus
    the m codebooks as a tiny (subspace, code, cw) side relation. This
    mirrors save_ivf_index's artifact discipline (and the reference's
    own persist-the-artifact-re-read-cheaply shape,
    S3StreamingWriter.kt:95-161): the expensive float-corpus scan is
    build cost, paid once; a fresh session loads the integer codes and
    the 32-row codebook table and serves ADC queries without EVER
    touching a float embedding or running Python (the
    tests/test_plans.py no-Python pin holds on the loaded index).
    Unlike the IVF postings there is no partition key: every ADC query
    scores every code row, so pruning has nothing to prune — a flat
    parquet layout is the right one.

    ``fingerprint`` is stamped into a 1-row meta relation written last,
    exactly as save_ivf_index does: meta is the commit record, and
    storeprotocol.stored_fingerprint (PQ_SPEC) reads it back."""
    spark = codes.sparkSession
    codes.write.parquet(os.path.join(path, "codes"))
    rows = [
        (j, int(code_id), [float(x) for x in cw])
        for j, book in enumerate(books)
        for code_id, cw in book
    ]
    spark.createDataFrame(
        rows, "subspace int, code bigint, cw array<double>"
    ).write.parquet(os.path.join(path, "codebooks"))
    if fingerprint is not None:
        _fingerprint_meta(spark, {"fingerprint": fingerprint}).write.parquet(
            os.path.join(path, "meta")
        )


def load_pq_index(spark, path: str):
    """Load a save_pq_index artifact: returns (codes, books) exactly as
    build_pq_index does, ready for query_pq — a fresh session queries
    the index without re-training or re-encoding anything. Refuses a
    torn artifact (append died mid-flight; see recover_pq_index_append)."""
    open_for_read(PQ_SPEC, path)
    codes = spark.read.parquet(os.path.join(path, "codes"))
    rows = spark.read.parquet(os.path.join(path, "codebooks")).collect()
    by: dict[int, list] = {}
    for r in rows:
        by.setdefault(int(r["subspace"]), []).append(
            (int(r["code"]), [float(x) for x in r["cw"]])
        )
    if not by:
        raise ValueError(f"{path}: empty PQ codebook relation")
    m = max(by) + 1
    assert sorted(by) == list(range(m)), f"{path}: non-contiguous subspaces {sorted(by)}"
    return codes, [sorted(by[j]) for j in range(m)]


def append_to_pq_index(
    path: str,
    new_batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: str | None = None,
) -> dict:
    """Incrementally add a batch of vectors to a saved PQ index: the
    batch is encoded with the index's OWN stored codebooks (the
    quantiser must not move, or existing codes silently stop being
    comparable — the same frozen-quantiser contract as
    append_to_ivf_index) and the m-small-ints rows are appended to the
    codes store; nothing already encoded is rewritten. Each append
    writes its own file set, so a micro-batch cadence fragments the
    flat codes directory — compose with ``compact_pq_codes`` on the
    same cadence the IVF postings store uses. Re-train + rebuild when
    recall governance says the codebooks went stale (the loaded index's
    results are pinned identical to in-session ones, so the in-session
    ann_recall_report PQ row transfers verbatim to this artifact).
    Crash-safety and exactly-once under ``batch_id``:
    storeprotocol.append; the marker records the id column name so
    recovery can anti-join without the caller's arguments."""
    return append(
        PQ_SPEC,
        path,
        new_batch,
        batch_id,
        lambda spark: _plan_pq_append(spark, path, new_batch, id_col, vec_col),
    )


def _plan_pq_append(
    spark, path: str, new_batch: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> Batch:
    _, books = load_pq_index(spark, path)

    def insert() -> None:
        pq_encode(new_batch, books, id_col=id_col, vec_col=vec_col).write.mode(
            "append"
        ).parquet(os.path.join(path, "codes"))

    return Batch(
        marker={"id_col": id_col},
        ids=new_batch.select(F.col(id_col).alias("id")).distinct(),
        insert=insert,
    )


def recover_pq_index_append(spark, path: str) -> dict:
    """Return a torn-append PQ artifact to its exact pre-append state:
    anti-join the recorded ids out of the flat codes store
    (storeprotocol.recover) — the rare recovery path, vs the
    re-encode-everything rebuild."""
    return recover(PQ_SPEC, spark, path)


def compact_pq_codes(
    spark, path: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Compact a PQ index's flat codes store after incremental appends
    (storeprotocol.compact; every ADC query scores every code row, so
    there is no partition key to keep). Codebooks are untouched."""
    return compact(PQ_SPEC, spark, path, target_bytes)


def pq_index_governance(
    spark,
    path: str,
    sample_ids: list[int],
    max_ids: int = 64,
    max_files_per_leaf: int = 8,
) -> dict:
    """Integrity + maintenance governance for the durable PQ store —
    the fourth store's analogue of ivf_index_governance: (a) the
    append-contract check (re-appending an already-encoded id stores
    duplicate code rows, which double-count in ADC top-k yet raise no
    error anywhere) over a bounded caller-chosen id sample, and (b) the
    compaction decision for the flat codes directory (each
    append_to_pq_index call writes its own file set; round-9 verdict
    #5: the compactor existed but nothing decided WHEN). Codebook-shape
    integrity (contiguous subspaces) is asserted by load_pq_index
    itself, which this calls first — so a structurally broken artifact
    fails loudly here too.

    Cost shape: the duplicate check scans codes filtered to the sample
    ids with a capped collect; fragmentation is metadata-only (os.walk,
    no Spark job). Returns {n_ids_checked, duplicate_ids, healthy,
    rebuild, fragmentation, compact}."""
    ids = sorted({int(i) for i in sample_ids})[:max_ids]
    if not ids:
        raise ValueError(
            "pq_index_governance needs a non-empty id sample — "
            "a health check over zero ids would read as healthy"
        )
    codes, _books = load_pq_index(spark, path)
    # the id column is whatever the builder used; 'codes' is the only
    # fixed column name in the stored relation
    id_name = next(c for c in codes.columns if c != "codes")
    duplicate_ids = sorted(
        r["vec_id"]
        for r in codes.filter(F.col(id_name).isin(ids))
        .groupBy(F.col(id_name).alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(len(ids))
        .collect()
    )
    healthy = not duplicate_ids
    return {
        "n_ids_checked": len(ids),
        "duplicate_ids": duplicate_ids,
        "healthy": healthy,
        "rebuild": not healthy,
        **fragmentation(PQ_SPEC, path, max_files_per_leaf),
    }


def query_pq(
    codes: DataFrame,
    books,
    queries: DataFrame,
    k: int = 5,
    n_dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k against a built PQ index:
    queries keep exact vectors, neighbors are m codeword ids, and the
    score is the sum over subspaces of the (query subvector -> codeword)
    squared distance. Returns (query_id, neighbor_id, rank), ranked
    ascending by distance; ranking keys on the 3-decimal-rounded score
    (per-entry distances rounded to 6) so engine summation order can't
    reorder near-ties — the bm25 determinism pattern.

    Scale shape: the per-(query, subspace, code) distance TABLE is
    |queries| * m * k_codes rows built driver-side from the collected
    (bounded, documented) query sample and broadcast; the index moves
    once as exploded (neighbor, subspace, code) rows — integers only,
    no vectors — through one broadcast equi-join and one sum
    aggregation. With the index persisted, query-time touches no float
    embedding and runs no Python at all (pinned by tests/test_plans.py:
    no ArrowEvalPython below the persisted scan)."""
    from ..functions.portable import round_portable

    m = len(books)
    dsub = n_dims // m
    q_rows = queries.select(F.col(id_col), F.col(vec_col)).collect()  # bounded sample
    table = []
    for r in q_rows:
        qv = np.asarray([float(x) for x in r[1]], dtype=np.float64)
        for j, book in enumerate(books):
            s = qv[j * dsub : (j + 1) * dsub]
            for code_id, cw in book:
                d2 = float(((s - np.asarray(cw, dtype=np.float64)) ** 2).sum())
                # portable floor-round, same op order as the oracle
                table.append(
                    (int(r[0]), j, int(code_id), float(np.floor(d2 * 1e6 + 0.5) / 1e6))
                )
    dtab = codes.sparkSession.createDataFrame(
        table, "query_id bigint, subspace int, code bigint, d2 double"
    )

    exploded = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("subspace", "code"),
    )
    scored = (
        exploded.join(F.broadcast(dtab), ["subspace", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").alias("dist"))
        .withColumn("dist3", round_portable(F.col("dist"), 3))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist3"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def pq_topk(
    emb: DataFrame,
    m: int = 4,
    k_codes: int = 8,
    iters: int = 1,
    k: int = 5,
    n_dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_id: int | None = 10,
) -> DataFrame:
    """One-shot ADC search: build_pq_index + query_pq composed WITHOUT
    persisting — the scan-once form (ad-hoc queries, the oracle gate).
    Anything querying the same corpus repeatedly should build the index
    once and call query_pq per batch; this function re-trains and
    re-encodes per invocation by design. See query_pq for the ADC
    semantics and scale shape."""
    codes, books = build_pq_index(
        emb, m=m, k_codes=k_codes, iters=iters, n_dims=n_dims,
        id_col=id_col, vec_col=vec_col, persist=False,
    )
    q = emb if max_query_id is None else emb.filter(F.col(id_col) < max_query_id)
    return query_pq(
        codes, books, q, k=k, n_dims=n_dims, id_col=id_col, vec_col=vec_col
    )


def opq_allocate(eigvals, m: int) -> list[int]:
    """Eigenvalue allocation in the spirit of OPQ's parametric init
    (Ge/He/Ke/Sun 2014, public literature): order dimensions by
    descending eigenvalue and greedily assign each to the subspace with
    the smallest current VARIANCE SUM (capacity d/m each), so every PQ
    subspace quantises a comparable share of the energy. The paper
    balances log-variance PRODUCTS; that criterion degenerates on real
    spectra — with eigenvalues < 1 every assignment shrinks the
    product, so the min bucket absorbs everything until capacity
    (reproducing the naive contiguous split), and on rank-deficient
    covariance the product is dominated by meaningless near-zero
    eigenvalues. Min-sum greedy is the standard balanced-partitioning
    fix and is non-degenerate because sums only grow. Returns a
    permutation: output position p holds eigenbasis dimension perm[p],
    first d/m entries = subspace 0. Driver-side, O(d log d)."""
    import heapq

    d = len(eigvals)
    assert d % m == 0, (d, m)
    cap = d // m
    order = sorted(range(d), key=lambda i: -float(eigvals[i]))
    heap = [(0.0, j) for j in range(m)]  # (variance sum, subspace)
    heapq.heapify(heap)
    buckets: list[list[int]] = [[] for _ in range(m)]
    for dim in order:
        popped = []
        while True:
            s, j = heapq.heappop(heap)
            if len(buckets[j]) < cap:
                break
            popped.append((s, j))
        for item in popped:
            heapq.heappush(heap, item)
        buckets[j].append(dim)
        heapq.heappush(heap, (s + max(float(eigvals[dim]), 0.0), j))
    return [dim for b in buckets for dim in b]


def opq_rotate(
    emb: DataFrame,
    m: int = 4,
    vec_col: str = "embedding",
    out_col: str = "rotated",
    n_dims: int = 64,
):
    """'OPQ-lite' preprocessing for PQ: rotate into the PCA eigenbasis,
    then permute dimensions by eigenvalue allocation so each contiguous
    d/m subspace carries a balanced share of the variance (plain PCA
    ordering would concentrate all energy in subspace 0 and starve the
    rest — the imbalance the OPQ paper corrects). The rotation is
    orthonormal, so all distances and cosines are EXACTLY preserved
    (pinned in tests); only the subspace split changes, which is what
    ADC quantisation error depends on. Map-only: one matmul per Arrow
    batch, the rotation matrix rides the closure. Returns
    (rotated_df, rotation_matrix) — quantise with build_pq_index on
    ``out_col`` and rotate queries with the same matrix."""
    from . import pca as _pca

    comps, vals, mean = _pca.fit_pca(emb, k=n_dims, vec_col=vec_col, n_dims=n_dims)
    perm = opq_allocate(vals, m)
    R = comps[perm, :]  # k x d rows reordered: output dim p = component perm[p]
    rotated = _pca.project(emb, R, np.zeros(n_dims), vec_col=vec_col, out_col=out_col)
    return rotated, R


def save_opq_rotation(spark, R, path: str) -> None:
    """Persist an opq_rotate rotation matrix alongside a saved PQ
    index: the rotated deployment is only reproducible cross-session if
    queries are rotated with the SAME matrix the corpus was encoded
    under — shipping codes without R would strand the index. Stored as
    a (row, vals) parquet relation (d rows of d doubles, trivially
    small); apply to a fresh session's queries with
    ``apply_opq_rotation``."""
    rows = [(i, [float(x) for x in R[i]]) for i in range(R.shape[0])]
    spark.createDataFrame(rows, "row int, vals array<double>").write.parquet(
        os.path.join(path, "rotation")
    )


def load_opq_rotation(spark, path: str):
    """Load a save_opq_rotation artifact back into the numpy rotation
    matrix opq_rotate returned (row-order restored)."""
    rows = spark.read.parquet(os.path.join(path, "rotation")).collect()
    if not rows:
        raise ValueError(f"{path}: empty OPQ rotation relation")
    by = {int(r["row"]): [float(x) for x in r["vals"]] for r in rows}
    assert sorted(by) == list(range(len(by))), f"{path}: non-contiguous rotation rows"
    return np.array([by[i] for i in range(len(by))], dtype=np.float64)


def apply_opq_rotation(
    emb: DataFrame,
    R,
    vec_col: str = "embedding",
    out_col: str = "rotated",
) -> DataFrame:
    """Rotate vectors (typically a fresh session's query batch) with a
    loaded rotation matrix — the same map-only matmul kernel the corpus
    was encoded under."""
    from . import pca as _pca

    return _pca.project(
        emb, R, np.zeros(R.shape[1]), vec_col=vec_col, out_col=out_col
    )


def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random plane component in [-1, 1): md5 of
    (plane, dim) scaled — a driver-side constant, so the per-row work is
    just the dot product (codegen'd multiply-adds, no per-row hashing)."""
    import hashlib

    h = int(hashlib.md5(f"p{plane}:d{dim}".encode()).hexdigest()[:8], 16)
    return h / float(2**31) - 1.0


def random_hyperplane_bucket(vec: Column, n_planes: int, n_dims: int) -> Column:
    """Bucket id = sign bits against n_planes deterministic hyperplanes.

    One Arrow-batched numpy matmul per batch: (batch x n_dims) @
    (n_dims x n_planes) then sign-bit packing. The plane matrix is an
    md5-derived driver constant captured in the UDF closure (broadcast
    with the task, a few KB). The pure-column form (n_planes * n_dims
    chained multiply-adds) was correct but produced a 512-node expression
    tree whose optimisation + janino codegen cost ~10 s of DRIVER time
    per query — planning cost, not data cost, so it would not amortise
    at 100 TB either."""
    P = np.array(
        [[_plane_component(p, d) for d in range(n_dims)] for p in range(n_planes)],
        dtype=np.float64,
    ).T  # n_dims x n_planes
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("bigint")
    def _bucket(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="int64")
        V = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        bits = (V @ P) > 0
        return pd.Series(bits @ weights)

    return _bucket(vec)


def lsh_topk(
    emb: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_id: int | None = None,
    multiprobe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket; exact rank within
    bucket. Queries multiprobe all buckets within `multiprobe_bits` Hamming
    distance (explode is on the small query side only — the corpus is hashed
    once and shuffled once on bucket). Recall measured against
    brute_force_topk in tests. At 100 TB: corpus is hash-partitioned by
    bucket (one shuffle), queries join only their buckets' partitions."""
    from ..sources.parquet import ensure_parallelism

    with_bucket = ensure_parallelism(emb).withColumn(
        "bucket", random_hyperplane_bucket(F.col(vec_col), n_planes, n_dims)
    )
    q = with_bucket
    if max_query_id is not None:
        q = q.filter(F.col(id_col) < max_query_id)
    probes = [F.col("bucket")]
    if multiprobe_bits >= 1:
        probes += [F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    if multiprobe_bits >= 2:
        probes += [
            F.col("bucket").bitwiseXOR(F.lit((1 << p) | (1 << r)))
            for p in range(n_planes)
            for r in range(p + 1, n_planes)
        ]
    q = q.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(F.array(*probes)).alias("bucket"),
    )
    c = with_bucket.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), F.col("bucket")
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantisation: scale = max|v| / 127,
    q_i = floor(v_i / scale + 0.5) — the standard storage/bandwidth
    lever for embedding corpora (4x smaller than float32; at 100 TB
    that is the difference between caching the corpus and not).

    Pure higher-order-function expressions — linear, no UDF, no
    shuffle. floor(x + 0.5) (round-half-toward-+inf) instead of
    round() because engines disagree on banker's rounding; this exact
    form is portable, which is what lets the DuckDB oracle reproduce
    the quantised vectors bit-for-bit. Returns (id, scale, q); cosine
    on dequantised vectors stays within ~1% of exact for 64-dim
    unit-ish vectors (pinned in tests)."""
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    q = F.when(
        maxabs > 0,
        F.transform(
            v,
            lambda x: F.floor(x.cast("double") * 127.0 / maxabs + 0.5).cast("int"),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return emb.select(
        F.col(id_col),
        (maxabs / 127.0).alias("scale"),
        q.alias("q"),
    )


def int8_topk(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_id: int | None = None,
) -> DataFrame:
    """Exact top-k over the DEQUANTISED int8 corpus — quantize_int8
    composed with search, the deployment shape where the 4x-smaller
    int8 corpus is what actually lives in memory/cache at 100 TB and
    rankings are computed on dequantised values (q_i * scale). Returns
    (query_id, neighbor_id, rank); rankings differ from exact float
    search only within quantisation error (pinned in tests)."""
    qt = quantize_int8(emb, id_col=id_col, vec_col=vec_col)
    deq = qt.select(
        F.col(id_col),
        F.transform(
            "q", lambda x: x.cast("double") * F.col("scale")
        ).alias("dv"),
    )
    return brute_force_topk(
        deq, k=k, id_col=id_col, vec_col="dv", max_query_id=max_query_id
    )
