"""Durable edit-distance screen index — the sixth durable store,
completing the edit-distance family (operators/editdist.py) with the
build / append / query / recover / compact / govern lifecycle the
signature index (dedupindex.py), BM25 index (textindex.py), gram store
(gramindex.py) and IVF/PQ vector stores (similarity.py) already have.

Why it must exist at 100 TB: ``edit_screen_batch`` recomputes the
corpus's q-grams, document frequencies, and rare-first prefixes on
every ingest just to probe them. Persisting each corpus document's
PREFIX rows once means a nightly batch pays only batch-sized gram work
plus an equi-join against the stored prefixes — the same amortisation
the reference's incremental export mode gets from scanning only
records newer than the last run (src/main/kotlin/app/batch/
HBaseReader.kt:131-150), applied to fuzzy matching.

The FROZEN-ORDER contract (what makes a durable prefix index sound):
the prefix-filter theorem requires ONE shared total order over grams
for both sides of a pair. Stored prefixes are selected under the
document-frequency order OF THE BUILD CORPUS, persisted in ``df/`` and
NEVER updated by appends — appended documents and probe batches rank
their grams by joining the frozen table (unseen grams read as df 0,
i.e. rarest). Any single total order is valid for the theorem, so
correctness never drifts; only PRUNING quality decays as the corpus
vocabulary drifts from the build snapshot, and a rebuild (or the
compaction verdict) refreshes it. This is the same freeze-vs-refresh
trade the IVF store makes with its centroids.

Artifact layout at ``path/``:

- ``df/``     the frozen gram order: (g, df) from the build corpus.
              Written at build only.
- ``prefix/`` Hive-partitioned by ``gbucket`` = pmod(xxhash64(g), 64):
              each document's EMIT rows — the q*k+1 rare-first prefix
              for long documents, the FULL distinct-gram set for short
              ones (<= q*k distinct grams) — as (g, id, len, hist).
              The candidate join probes it on (gbucket, g), so
              partition pruning keeps a small batch from scanning the
              whole gram space.
- ``docs/``   Hive-partitioned by ``bucket`` = pmod(xxhash64(id), 64):
              (id, text, len, hist, lbkt, is_short). Serves the
              DPP-pruned verify read (broadcast candidate list on
              (bucket, id) — the dedupindex sets/ discipline) and the
              short-pool length-bucket probe (lbkt = floor(len/(k+1))).
- ``meta/``   one row: n_docs, k, q, matching policy (normalise),
              fingerprint. Written LAST on
              first build (the commit record), swap-rewritten on
              append.

Append contract: delta ids are NEW (the doc-keyed contract of
dedupindex, NOT gramindex's overlap-tolerant one — prefix and doc rows
are per-document, so a re-appended id double-writes; governance
detects exactly that). Crash-safety and exactly-once appends are the
shared store protocol (operators/storeprotocol.py); the ids record
holds the delta's doc ids.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .editdist import _banded_distance, _hist_band, _prefix_emit, _staged
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

N_GRAM_BUCKETS = 64
N_DOC_BUCKETS = 64


def _gbucket(g) -> F.Column:
    """Static bucket of a gram: pure function of g, so equal grams
    always land in the same prefix/ leaf."""
    return F.pmod(F.xxhash64(g), F.lit(N_GRAM_BUCKETS)).cast("int")


def _dbucket(i) -> F.Column:
    return F.pmod(F.xxhash64(i), F.lit(N_DOC_BUCKETS)).cast("int")


def _emit_rows(
    docs: DataFrame,
    frozen_df: DataFrame,
    k: int,
    q: int,
    normalise: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(emit, doc_rows) for ``docs`` under the FROZEN gram order.

    emit:     (g, id, len, hist) — prefix rows for long docs, full
              distinct-gram set for short ones (editdist.py semantics).
    doc_rows: (id, text, len, hist, lbkt, is_short) — verify + short
              pool attributes; ``text`` is the MATCHING form (normalised
              when the store's policy says so), which is exactly what
              the verify distance must run over.
    """
    staged = _staged(docs, "text", "doc_id", normalise=normalise, q=q)
    emit = (
        _prefix_emit(staged, q, k, frozen_df=frozen_df)
        .join(staged.select("_id", "_len", "_hist"), "_id")
        .select(
            "g",
            F.col("_id").alias("id"),
            F.col("_len").alias("len"),
            F.col("_hist").alias("hist"),
        )
    )
    doc_rows = staged.select(
        F.col("_id").alias("id"),
        F.col("_t").alias("text"),
        F.col("_len").alias("len"),
        F.col("_hist").alias("hist"),
        F.floor(F.col("_len") / (k + 1)).cast("int").alias("lbkt"),
        (F.size("_grams") <= q * k).alias("is_short"),
    )
    return emit, doc_rows


def build_edit_index(
    corpus: DataFrame,
    path: str,
    k: int = 8,
    q: int = 4,
    fingerprint: str | None = None,
    normalise: bool = False,
) -> None:
    """ONE corpus-scale gram/df/prefix pass into the bucketed store.
    First-build commit record is meta-written-last; an in-place rebuild
    is bracketed by ``_build-pending`` (readers refuse) and holds the
    mutation lock like every append. ``k`` and ``q`` are stamped into
    meta — probes read them from there, so a caller can never probe
    with mismatched parameters; so is the matching policy
    (``normalise`` — editdist._staged's dial), so strict and
    normalised data can never mix in one store."""
    with rebuild_bracket(SPEC, path, fingerprint):
        spark = corpus.sparkSession
        staged = _staged(corpus, "text", "doc_id", normalise=normalise, q=q)
        grams = staged.select("_id", F.explode("_grams").alias("g"))
        dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("_df"))
        dfreq.write.mode("overwrite").parquet(os.path.join(path, "df"))
        frozen = spark.read.parquet(os.path.join(path, "df"))
        emit, doc_rows = _emit_rows(corpus, frozen, k, q, normalise=normalise)
        emit.withColumn("gbucket", _gbucket(F.col("g"))).write.mode(
            "overwrite"
        ).partitionBy("gbucket").parquet(os.path.join(path, "prefix"))
        doc_rows.withColumn("bucket", _dbucket(F.col("id"))).write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(os.path.join(path, "docs"))
        n_docs = spark.read.parquet(os.path.join(path, "docs")).count()
        SPEC.meta(
            spark,
            {
                "n_docs": n_docs,
                "k": k,
                "q": q,
                "fingerprint": fingerprint or "",
                "normalise": normalise,
            },
        ).write.mode("overwrite").parquet(os.path.join(path, "meta"))


def _purge(spark: SparkSession, path: str, ids: DataFrame, scalars: dict) -> dict:
    """Purge the recorded doc ids from both partitioned stores' leaves,
    ONE batched job per relation."""
    purge = ids.select("id")
    leaves_purged = 0
    for store, part in (("prefix", "gbucket="), ("docs", "bucket=")):
        leaves_purged += len(
            _batched_leaf_purge(spark, os.path.join(path, store), part, purge, "id")
        )
    return {"leaves_purged": leaves_purged}


SPEC = StoreSpec(
    store="edit index",
    recover_fn="recover_edit_index_append",
    relations=(("prefix", "gbucket="), ("docs", "bucket="), ("meta", None)),
    appended=("prefix", "docs"),
    marker={"n_docs": int, "k": int, "q": int, "normalise": bool, "fingerprint": opt_str},
    purge=_purge,
    untouched={"leaves_purged": 0},
    meta=meta_frame("n_docs bigint, k int, q int, fingerprint string, normalise boolean"),
)


def append_to_edit_index(
    delta: DataFrame,
    path: str,
    fingerprint: str | None = None,
    batch_id: str | None = None,
) -> dict:
    """Add an ACCEPTED batch (ids NEW): delta-sized gram work under the
    FROZEN order, prefix and doc rows appended into their static
    buckets, meta n_docs merged by addition. ``df/`` is deliberately
    NOT updated (module docstring — the order freeze IS the
    correctness contract). Crash-safety and exactly-once under
    ``batch_id``: storeprotocol.append."""
    return append(
        SPEC,
        path,
        delta,
        batch_id,
        lambda spark: _plan_append(spark, path, delta, fingerprint),
    )


def _plan_append(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    fingerprint: str | None = None,
) -> Batch:
    old = read_meta(SPEC, spark, path)
    frozen = spark.read.parquet(os.path.join(path, "df"))
    emit, doc_rows = _emit_rows(delta, frozen, old["k"], old["q"], old["normalise"])

    def insert() -> None:
        emit.withColumn("gbucket", _gbucket(F.col("g"))).write.mode(
            "append"
        ).partitionBy("gbucket").parquet(os.path.join(path, "prefix"))
        doc_rows.withColumn("bucket", _dbucket(F.col("id"))).write.mode(
            "append"
        ).partitionBy("bucket").parquet(os.path.join(path, "docs"))

    def derive() -> tuple[list, dict]:
        n_batch = spark.read.parquet(os.path.join(path, SPEC.ids_record)).count()
        new = {**old, "n_docs": old["n_docs"] + n_batch, "fingerprint": fingerprint or ""}
        return [("meta", SPEC.meta(spark, new), None)], {
            "docs_appended": int(n_batch)
        }

    return Batch(
        marker=old,
        ids=delta.select(F.col("doc_id").alias("id")).distinct(),
        insert=insert,
        derive=derive,
    )


def recover_edit_index_append(spark: SparkSession, path: str) -> dict:
    """Return a torn-append store to its exact pre-append state: purge
    the recorded delta doc ids from both partitioned stores' leaves,
    restore the recorded meta scalars and last-append slot
    (storeprotocol.recover)."""
    return recover(SPEC, spark, path)


def query_edit_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Indexed form of ``edit_screen_batch``: (batch_id, dup_of, dist)
    for every batch-vs-corpus pair within the store's distance k — the
    SAME result set as the index-free screen over the same corpus (both
    are exact; candidate sets differ, verified answers cannot), so the
    two share one oracle.

    k and q come from meta; the batch ranks its grams under the FROZEN
    ``df/`` order (unseen grams read as df 0), joins the stored prefix
    rows on (gbucket, g) — partition pruning limits the read to the
    batch's gram buckets — and short batch docs probe the stored
    length buckets. Verification reads candidate corpus texts from the
    id-bucketed docs/ store behind a broadcast candidate list, the
    dedupindex sets/ DPP discipline."""
    open_for_read(SPEC, path)
    meta = read_meta(SPEC, spark, path)
    k, q, normalise = meta["k"], meta["q"], meta["normalise"]
    frozen = spark.read.parquet(os.path.join(path, "df"))

    from ._cache import swap_cache

    bemit, bdocs = _emit_rows(
        batch.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        ),
        frozen,
        k,
        q,
        normalise=normalise,
    )
    bemit = swap_cache("editindex.bemit", bemit)

    band_pred = (F.abs(F.col("_len_a") - F.col("_len_b")) <= k) & _hist_band(
        "_hist_a", "_hist_b", k
    )
    # the probe side recomputes gbucket (a pure function of g) so the
    # equi-join includes the store's PARTITION column — that is what
    # lets dynamic partition pruning limit the prefix/ read to the
    # batch's gram buckets
    pa = bemit.select(
        F.col("id").alias("id_a"),
        "g",
        _gbucket(F.col("g")).alias("gbucket"),
        F.col("len").alias("_len_a"),
        F.col("hist").alias("_hist_a"),
    )
    store_prefix = spark.read.parquet(os.path.join(path, "prefix"))
    pb = store_prefix.select(
        F.col("id").alias("id_b"),
        "g",
        "gbucket",
        F.col("len").alias("_len_b"),
        F.col("hist").alias("_hist_b"),
    )
    cand_gram = (
        pa.join(pb, ["gbucket", "g"]).filter(band_pred).select("id_a", "id_b")
    )

    store_docs = spark.read.parquet(os.path.join(path, "docs"))
    sh_a = bdocs.filter(F.col("is_short")).select(
        F.col("id").alias("id_a"),
        F.col("len").alias("_len_a"),
        F.col("hist").alias("_hist_a"),
        F.explode(
            F.array(
                F.col("lbkt") - 1, F.col("lbkt"), F.col("lbkt") + 1
            )
        ).alias("lbkt"),
    )
    sh_b = store_docs.filter(F.col("is_short")).select(
        F.col("id").alias("id_b"),
        F.col("len").alias("_len_b"),
        F.col("hist").alias("_hist_b"),
        "lbkt",
    )
    cand_short = sh_a.join(sh_b, "lbkt").filter(band_pred).select("id_a", "id_b")

    cand = cand_gram.unionByName(cand_short).distinct()

    # DPP-pruned verify read: broadcast the candidate (bucket, id) list
    # against the id-bucketed docs store
    probe = cand.select(
        F.col("id_b").alias("id"), _dbucket(F.col("id_b")).alias("bucket")
    ).distinct()
    corpus_texts = store_docs.join(
        F.broadcast(probe), ["bucket", "id"], "left_semi"
    ).select(F.col("id").alias("id_b"), F.col("text").alias("_tb"))
    # the verify distance runs over the MATCHING form on both sides:
    # docs/ stores the policy-applied text, so the batch side stages
    # under the same policy
    batch_texts = _staged(batch, text_col, id_col, normalise=normalise).select(
        F.col("_id").alias("id_a"), F.col("_t").alias("_ta")
    )
    return (
        cand.join(batch_texts, "id_a")
        .join(corpus_texts, "id_b")
        .withColumn("dist", _banded_distance(F.col("_ta"), F.col("_tb"), k))
        .filter(F.col("dist").isNotNull())
        .select(
            F.col("id_a").alias(id_col),
            F.col("id_b").alias("dup_of"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


def compact_edit_index(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Per-bucket small-file compaction of both partitioned stores
    after many appends (storeprotocol.compact): {"prefix": ...,
    "docs": ...}."""
    return compact(SPEC, spark, path, target_bytes)


def stored_fingerprint(spark: SparkSession, path: str) -> str | None:
    """Fingerprint stamped into meta, or None for a missing, torn or
    unreadable artifact (callers rebuild on mismatch — the indexcache
    contract)."""
    return _stored_fingerprint(SPEC, spark, path)


def edit_index_governance(
    spark: SparkSession,
    path: str,
    sample_buckets: int = 8,
) -> dict:
    """Integrity + maintenance verdict. The doc store's contract is one
    row per id; because bucket is a pure function of id, any duplicate
    from a violated ids-NEW append contract is leaf-local — a per-leaf
    count vs count_distinct over a deterministic sample of buckets is
    an EXACT duplicate check for the sampled share of the id space.
    Also reports ORDER DRIFT — the fraction of stored prefix grams
    absent from the frozen df/ table (grams contributed by appended
    docs that the build corpus never saw): high drift means the frozen
    order is pruning poorly for recent data and a rebuild would help —
    and the fragmentation verdicts for both partitioned stores."""
    open_for_read(SPEC, path)
    dup_rows = 0
    sampled = list(range(0, N_DOC_BUCKETS, max(1, N_DOC_BUCKETS // sample_buckets)))[
        :sample_buckets
    ]
    for b in sampled:
        leaf = os.path.join(path, "docs", f"bucket={b}")
        if not os.path.isdir(leaf):
            continue
        r = (
            spark.read.parquet(leaf)
            .agg(
                (F.count(F.lit(1)) - F.countDistinct("id")).alias("dups")
            )
            .head()
        )
        dup_rows += int(r["dups"])
    frozen = spark.read.parquet(os.path.join(path, "df")).select("g")
    prefix = spark.read.parquet(os.path.join(path, "prefix")).select("g")
    n_prefix = prefix.count()
    n_drift = prefix.join(frozen, "g", "left_anti").count()
    return {
        "duplicate_doc_rows_sampled": int(dup_rows),
        "sampled_buckets": sampled,
        "prefix_rows": int(n_prefix),
        "order_drift_rows": int(n_drift),
        "order_drift_fraction": (n_drift / n_prefix) if n_prefix else 0.0,
        **fragmentation(SPEC, path),
    }
