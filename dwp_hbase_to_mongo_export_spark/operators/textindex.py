"""Durable inverted text index: the BM25 build/query split — the text
modality's version of the IVF/PQ index lifecycle (similarity.py): pay
the corpus-scale pass ONCE, persist a partition-prunable artifact, and
answer every subsequent query touching only the query terms' slice.

Artifact layout at ``path`` (the save_ivf_index discipline —
similarity.py:213):

* ``postings/`` — (term, doc_id, tf, dl) parquet PARTITIONED BY a
  64-way md5 term bucket: a query's terms map to a handful of buckets,
  so the read is STATICALLY partition-pruned (the bucket filter is a
  plain partition predicate — stronger than the IVF store's dynamic
  pruning, no probe join needed). Doc length rides DENORMALISED in the
  posting row, so query-time needs NO join against a corpus-sized
  doc-length relation.
* ``stats/`` — (term, df) with the same bucket partitioning.
* ``meta/`` — one row: (n_docs, n_tok_docs, sum_dl, avgdl,
  fingerprint), avgdl pre-rounded to 6 decimals exactly as the live
  bm25_search computes it, so the indexed path is bit-identical to the
  one-shot path and pins against the SAME oracle. n_tok_docs/sum_dl are
  the EXACT partial state avgdl merges from (append_to_text_index);
  fingerprint binds the artifact to its source's content
  (functions/fingerprint.source_fingerprint) so a regenerated corpus at
  the same path is never silently served stale postings.

INCREMENTAL lifecycle (the IVF index's append/compact/governance
discipline, applied to text — a 100 TB corpus ingesting daily cannot
rebuild postings from scratch each day; the reference's incremental
mode appends new cells behind a fixed artifact, HBaseReader.kt:131-150):

* ``append_to_text_index`` — NEW documents' postings append into the
  same term buckets (delta-sized work); df stats and n_docs/sum_dl/
  avgdl refresh by MERGING the delta's statistics with the stored ones
  (vocabulary-/scalar-sized, never a corpus re-scan). Because df, dl,
  tf, n_docs and avgdl all merge exactly for disjoint doc sets,
  build→append→query is bit-identical to a full rebuild (pinned in
  tests). Contract: delta docs are NEW ids (a changed existing doc
  needs a rebuild — its old postings cannot be found without a
  corpus-sized anti-join).
* ``compact_text_index`` — per-bucket small-file compaction of the
  posting store after many appends (storeprotocol.compact: per-leaf
  crash-safe swaps under the store lock; the Hive bucket layout and
  its static pruning survive).
* Crash-safety is the shared store protocol (operators/storeprotocol.py):
  the append's marker records the pre-append meta scalars and
  ``_pending-docs`` the delta's doc ids; ``recover_text_index_append``
  purges those postings, re-derives the purged buckets' df stats and
  restores the recorded meta, so a torn append never serves
  silently-wrong scores and the SAME delta re-appends safely.

Query-time plan shape: pruned postings scan (|query terms| buckets)
⋈ broadcast stats ⋈ broadcast meta → TakeOrdered top-n. Zero Python,
zero corpus-side exchanges, cost bounded by the query terms' document
frequency — at 100 TB the index is built by one job and queried by
thousands.

Reference scope note: the reference has no search (its unit is the
exported record); this extends the engine's retrieval family alongside
the ANN indexes.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .storeprotocol import (
    Batch,
    StoreSpec,
    _batched_leaf_purge,
    append,
    compact,
    fragmentation,
    open_for_read,
    opt_str,
    read_last_append,  # noqa: F401 — public: the store's idempotence record
    read_meta,
    rebuild_bracket,
    recover,
)
from .storeprotocol import stored_fingerprint as _stored_fingerprint
from .textops import _doc_tokens

N_TERM_BUCKETS = 64
_PENDING_DOCS = "_pending-docs"


def term_bucket(term: Column) -> Column:
    """md5-derived term bucket — the postings partition key. Matches
    ``_py_term_bucket`` bit-for-bit so the query side can enumerate its
    buckets driver-side without touching the index."""
    return (
        F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("bigint")
        % N_TERM_BUCKETS
    )


def _py_term_bucket(term: str) -> int:
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % N_TERM_BUCKETS


def _index_relations(
    corpus: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, stats, meta_counts) for a corpus slice — shared by the
    full build and the delta append. meta_counts is one row of EXACT
    partial state: (n_docs, n_tok_docs, sum_dl) — counts and a bigint
    sum, so slices merge by addition with no float involved."""
    toks = _doc_tokens(corpus, text_col, id_col)
    dlen = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    tf = toks.groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("tf"))
    postings = tf.join(dlen, id_col).select(
        F.col("t").alias("term"),
        F.col(id_col).alias("doc_id"),
        "tf",
        "dl",
        term_bucket(F.col("t")).alias("bucket"),
    )
    stats = (
        tf.groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(F.col("t").alias("term"), "df", term_bucket(F.col("t")).alias("bucket"))
    )
    meta_counts = corpus.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        F.broadcast(
            dlen.agg(
                F.count(F.lit(1)).alias("n_tok_docs"),
                F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("sum_dl"),
            )
        )
    )
    return postings, stats, meta_counts


# avgdl from the exact partials, as ONE Spark expression so the build,
# the append-merge, and the live bm25_search produce bit-identical
# doubles: sum_dl is exact (bigint), the double division equals
# F.avg(dl) (integer-valued doubles below 2^53 add exactly), and
# F.round matches the live path's rounding.
def _with_avgdl(meta_counts: DataFrame) -> DataFrame:
    return meta_counts.withColumn(
        "avgdl",
        F.round(F.col("sum_dl").cast("double") / F.col("n_tok_docs"), 6),
    )


def _df_stats(postings: DataFrame) -> DataFrame:
    """Per-bucket per-term df from bucket-partitioned postings (df ==
    posting rows per term — exact, bucket-local)."""
    return (
        postings.groupBy("bucket", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .select("term", "df", "bucket")
    )


def _purge(spark: SparkSession, path: str, ids: DataFrame, scalars: dict) -> dict:
    """Purge the recorded doc ids out of every posting bucket (delta ids
    are NEW per the append contract, so the id purge removes exactly
    the crashed append's rows) and re-derive the purged buckets' df
    stats in the SAME pass: the purged frame is persisted
    bucket-partitioned, so the per-bucket per-term df aggregate runs
    exchange-free on the in-memory purge result instead of re-scanning
    the whole store after the swap. Zero tokenisation — store-sized I/O
    paid only on the rare recovery path."""
    leaves = _batched_leaf_purge(
        spark,
        os.path.join(path, "postings"),
        "bucket=",
        ids.select("doc_id").distinct(),
        "doc_id",
        columns=["term", "doc_id", "tf", "dl"],
        derived=(os.path.join(path, "stats"), _df_stats),
    )
    return {"buckets_purged": len(leaves)}


def _meta(spark: SparkSession, scalars: dict) -> DataFrame:
    """Meta from the marker's recorded scalars — n_docs counts
    zero-token docs too, so it is NOT derivable from postings; hence
    recorded, not recomputed."""
    counts = spark.createDataFrame(
        [(scalars["n_docs"], scalars["n_tok_docs"], scalars["sum_dl"])],
        "n_docs bigint, n_tok_docs bigint, sum_dl bigint",
    )
    return _with_avgdl(counts).withColumn("fingerprint", F.lit(scalars["fingerprint"]))


SPEC = StoreSpec(
    store="text index",
    recover_fn="recover_text_index_append",
    relations=(("postings", "bucket="), ("stats", "bucket="), ("meta", None)),
    appended=("postings",),
    marker={"n_docs": int, "n_tok_docs": int, "sum_dl": int, "fingerprint": opt_str},
    purge=_purge,
    untouched={"buckets_purged": 0},
    meta=_meta,
    ids_record=_PENDING_DOCS,
)


def build_text_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint: str | None = None,
) -> None:
    """ONE corpus-scale pass to the three artifact relations. The
    shuffles are the (doc, term) tf aggregation and the vocabulary-sized
    df aggregation — the same work the live bm25_search pays per query,
    paid once. ``fingerprint`` (see functions/fingerprint) is stamped
    into meta so readers can reject the artifact when the source
    changes under the same path. Meta is written last (the commit
    record of a first build); an in-place rebuild is bracketed by
    ``_build-pending`` (storeprotocol.rebuild_bracket)."""
    with rebuild_bracket(SPEC, path, fingerprint):
        postings, stats, meta_counts = _index_relations(corpus, text_col, id_col)
        postings.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(path, "postings")
        )
        stats.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(path, "stats")
        )
        meta = _with_avgdl(meta_counts).withColumn(
            "fingerprint", F.lit(fingerprint or "")
        )
        meta.write.mode("overwrite").parquet(os.path.join(path, "meta"))


def append_to_text_index(
    delta: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint: str | None = None,
    batch_id: str | None = None,
) -> dict:
    """Incrementally add NEW documents to a saved text index:
    delta-sized tokenisation/aggregation work, postings appended into
    the same term buckets (static bucket pruning keeps working), df
    stats merged by per-term ADDITION with the stored stats
    (vocabulary-sized, never a corpus re-scan), and n_docs/sum_dl/avgdl
    refreshed from the exact stored partials. For disjoint doc sets
    every statistic merges exactly, so the appended index answers
    queries bit-identically to a full rebuild over old ∪ delta (pinned
    in tests/test_extensions.py).

    Contract: delta doc ids are NEW (an updated existing doc requires a
    rebuild — its old postings are unreachable without a corpus-sized
    anti-join). Crash-safety and exactly-once under ``batch_id`` are
    the shared store protocol (storeprotocol.append): the marker
    records the pre-append meta scalars and ``_pending-docs`` the
    delta's doc ids before any store write."""
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
    postings, stats_delta, meta_counts = _index_relations(delta, text_col, id_col)

    def insert() -> None:
        postings.write.mode("append").partitionBy("bucket").parquet(
            os.path.join(path, "postings")
        )

    def derive() -> tuple[list, dict]:
        old_stats = spark.read.parquet(os.path.join(path, "stats")).select(
            "term", "df", "bucket"
        )
        merged_stats = (
            old_stats.unionByName(stats_delta)
            .groupBy("term", "bucket")
            .agg(F.sum("df").cast("bigint").alias("df"))
            .select("term", "df", "bucket")
        )
        summed = (
            spark.read.parquet(os.path.join(path, "meta"))
            .select("n_docs", "n_tok_docs", "sum_dl")
            .unionByName(meta_counts)
            .agg(
                F.sum("n_docs").cast("bigint").alias("n_docs"),
                F.sum("n_tok_docs").cast("bigint").alias("n_tok_docs"),
                F.sum("sum_dl").cast("bigint").alias("sum_dl"),
            )
        )
        merged_meta = _with_avgdl(summed).withColumn(
            "fingerprint", F.lit(fingerprint or "")
        )
        return [("stats", merged_stats, "bucket"), ("meta", merged_meta, None)], {}

    return Batch(
        marker=read_meta(SPEC, spark, path),
        ids=delta.select(F.col(id_col).alias("doc_id")).distinct(),
        insert=insert,
        derive=derive,
    )


def recover_text_index_append(spark: SparkSession, path: str) -> dict:
    """Return a torn-append index to its EXACT pre-append state so the
    same delta can be re-appended safely (posting rows may already be
    stored when the marker is found, so a blind retry would double tf/df
    — and the duplicates even evade governance's count_distinct
    checks): purge the recorded doc ids from every posting bucket,
    recompute the purged buckets' df stats, restore the recorded meta
    scalars. Protocol: storeprotocol.recover."""
    return recover(SPEC, spark, path)


def compact_text_index(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Per-bucket small-file compaction of the posting store after many
    appends (storeprotocol.compact) — each append writes one file set
    per touched bucket; stats/meta are rewritten whole and never
    fragment."""
    return compact(SPEC, spark, path, target_bytes)


def text_index_governance(
    spark: SparkSession,
    path: str,
    sample_terms: list[str],
    max_terms: int = 64,
    max_files_per_leaf: int = 8,
) -> dict:
    """Integrity governance for the durable text index — the BM25
    sibling of similarity.ivf_index_governance, and the check whose
    absence lets an append-contract violation rot silently: appending a
    doc id that was ALREADY indexed double-counts it in the merged df
    stats (stats become per-term posting-ROW counts, true df is
    per-term DISTINCT docs) and every idf drifts with no error
    anywhere. For a bounded caller-chosen term sample (production:
    sample the query-log's head terms — score drift shows up there
    first), recompute df from the postings themselves and compare with
    the stored stats; also verify each sampled doc carries ONE
    consistent dl across its postings (a re-appended changed doc shows
    two).

    Cost shape: the scans are statically pruned to the sampled terms'
    buckets and everything downstream is sample-sized (<= max_terms
    groups); the collect is bounded by max_terms rows. Returns
    {n_terms_checked, df_mismatches, dl_inconsistent_docs, healthy,
    rebuild, fragmentation, compact} (the last two from
    storeprotocol.fragmentation over the postings) — rebuild True means
    the append contract was violated and the artifact must be rebuilt
    from the corpus (a targeted repair
    cannot know which postings are the stale ones). Both diagnostic
    collects are STRUCTURALLY capped at max_terms rows: on a badly
    corrupted index the lists are samples (rebuild is already the
    verdict), never an unbounded driver collect."""
    open_for_read(SPEC, path)
    terms = sorted(set(sample_terms))[:max_terms]
    if not terms:
        raise ValueError(
            "text_index_governance needs a non-empty term sample — "
            "a health check over zero terms would read as healthy"
        )
    buckets = sorted({_py_term_bucket(t) for t in terms})
    postings = (
        spark.read.parquet(os.path.join(path, "postings"))
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
    )
    stats = (
        spark.read.parquet(os.path.join(path, "stats"))
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .select("term", F.col("df").alias("df_stored"))
    )
    recomputed = postings.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df_true"),
        F.count(F.lit(1)).alias("posting_rows"),
    )
    df_mismatches = [
        {
            "term": r["term"],
            "df_stored": r["df_stored"],
            "df_true": r["df_true"],
        }
        for r in recomputed.join(stats, "term", "full_outer")
        .filter(
            F.coalesce(F.col("df_stored"), F.lit(-1))
            != F.coalesce(F.col("df_true"), F.lit(-1))
        )
        .limit(max_terms)
        .collect()
    ]
    dl_bad = [
        r["doc_id"]
        for r in postings.groupBy("doc_id")
        .agg(F.count_distinct("dl").alias("n_dl"))
        .filter(F.col("n_dl") > 1)
        .limit(max_terms)
        .collect()
    ]
    healthy = not df_mismatches and not dl_bad
    return {
        "n_terms_checked": len(terms),
        "df_mismatches": df_mismatches,
        "dl_inconsistent_docs": sorted(dl_bad),
        "healthy": healthy,
        "rebuild": not healthy,
        **fragmentation(SPEC, path, max_files_per_leaf),
    }


def stored_fingerprint(spark: SparkSession, path: str) -> str | None:
    """The source fingerprint stamped into the index meta; None for an
    absent, torn or unreadable artifact (storeprotocol.stored_fingerprint)
    — every case a fingerprint-checking consumer treats as 'rebuild'."""
    return _stored_fingerprint(SPEC, spark, path)


def query_text_index(
    spark: SparkSession,
    path: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 10,
) -> DataFrame:
    """BM25 top-n from the durable index. The bucket set is computed
    driver-side from the query terms alone, so the postings/stats scans
    carry a STATIC partition filter — only those buckets' files are
    listed or read (pinned in tests/test_plans.py). Identical scoring
    arithmetic to the live bm25_search (same idf, same rounding), so
    both paths share one oracle. Refuses a torn index (an append or an
    in-place rebuild died mid-flight): the relations may disagree and
    scoring would be silently wrong; the error advises the safe fix
    (recover_text_index_append for an append, rebuild for a rebuild)."""
    open_for_read(SPEC, path)
    buckets = sorted({_py_term_bucket(t) for t in query_terms})
    postings = (
        spark.read.parquet(os.path.join(path, "postings"))
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(list(query_terms)))
    )
    stats = (
        spark.read.parquet(os.path.join(path, "stats"))
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(list(query_terms)))
        .select("term", "df")
    )
    meta = spark.read.parquet(os.path.join(path, "meta"))

    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = idf * (
        F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        postings.join(F.broadcast(stats), "term")
        .join(F.broadcast(meta))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.round(F.sum(contrib), 6).alias("score6"),
        )
    )
    return (
        scored.orderBy(F.desc("score6"), F.asc("doc_id"))
        .limit(top_n)
        .select("doc_id", "n_terms_matched", F.round("score6", 3).alias("score"))
    )
