"""Durable word-gram index for exact duplicated-span dedup — the fifth
durable store, completing the span family (operators/spandedup.py) with
the build / append / query / recover / compact / govern lifecycle the
signature index (dedupindex.py), BM25 index (textindex.py), and IVF/PQ
vector stores (similarity.py) already have.

Why it must exist at 100 TB: ``strip_spans_against_corpus`` pays a
full-corpus tokenise-and-hash pass per ingest batch (the corpus's gram
hashes are recomputed just to probe them). Persisting the DISTINCT gram
hashes once means each nightly batch pays only batch-sized gram work
plus an equi-join against the stored hashes — the same amortisation the
reference's incremental export mode gets from scanning only records
newer than the last run (src/main/kotlin/app/batch/HBaseReader.kt:
131-150), applied to sub-document text.

Artifact layout at ``path/``:

- ``grams/``  Hive-partitioned by ``bucket`` = (md5-prefix int of gh)
              pmod 64: rows (gh string), DISTINCT across the store —
              the append anti-joins its delta against the store so
              re-ingested grams are never double-written (and the
              purge set therefore equals exactly the inserted set).
              bucket is a pure function of gh, so any duplicate rows a
              contract violation could introduce are leaf-local —
              governance exploits that for exact sampled checks.
- ``meta/``   one row: n_docs, n_grams, n (gram size), fingerprint.
              Written LAST on first build (the commit record) and
              swap-rewritten on append. ``n_grams`` is exact (the
              store is distinct by construction); ``n_docs`` counts
              DOC INGESTS OBSERVED, not distinct corpus docs — the
              append contract allows a delta to overlap the corpus
              (only genuinely new grams are written), so re-ingesting
              a doc id increments it again. Consumers needing an exact
              distinct doc count must track it in the corpus table,
              not this sidecar.

Crash-safety and exactly-once appends are the shared store protocol
(operators/storeprotocol.py); the ids record holds the exact gram set
an append inserts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .spandedup import (
    _cached_staged,
    _covered_starts,
    _dup_grams,
    _staged_grams,
    strip_covered,
)
from .storeprotocol import (
    Batch,
    StoreSpec,
    _batched_leaf_purge,
    _recovered_leaves,
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


def gram_bucket(gh) -> F.Column:
    """Static bucket of a gram hash: first 4 hex chars of the md5 as an
    int, pmod 64. A pure function of gh — equal grams always land in
    the same leaf."""
    return F.pmod(F.conv(F.substring(gh, 1, 4), 16, 10).cast("int"), F.lit(N_GRAM_BUCKETS))


def _gram_relation(
    docs: DataFrame, text_col: str, id_col: str, n: int, normalise: bool = False
) -> DataFrame:
    """(gh, bucket): the DISTINCT gram hashes of ``docs``."""
    g = (
        _staged_grams(docs, text_col, id_col, n, normalise=normalise)
        .select(F.explode(F.array_distinct("ghs")).alias("gh"))
        .distinct()
    )
    return g.withColumn("bucket", gram_bucket(F.col("gh")))


def build_gram_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    fingerprint: str | None = None,
    normalise: bool = False,
) -> None:
    """ONE corpus-scale tokenise/hash/distinct pass into the bucketed
    gram store. First-build commit record is meta-written-last; an
    in-place rebuild is bracketed by ``_build-pending`` (readers
    refuse), and holds the mutation lock like every append.

    ``normalise=True`` stores NORMALISED gram hashes (lower +
    punctuation strip, spandedup._norm_word) — the policy is stamped
    into meta, and appends/probes read it from there, so a caller can
    never mix strict and normalised hashes in one store."""
    with rebuild_bracket(SPEC, path, fingerprint):
        spark = corpus.sparkSession
        grams = _gram_relation(corpus, text_col, id_col, n, normalise)
        grams.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(path, "grams")
        )
        n_grams = spark.read.parquet(os.path.join(path, "grams")).count()
        n_docs = corpus.select(id_col).distinct().count()
        SPEC.meta(
            spark,
            {
                "n_docs": n_docs,
                "n_grams": n_grams,
                "n": n,
                "fingerprint": fingerprint or "",
                "normalise": normalise,
            },
        ).write.mode("overwrite").parquet(os.path.join(path, "meta"))


def _purge(spark: SparkSession, path: str, ids: DataFrame, scalars: dict) -> dict:
    """Purge the recorded hashes (equal to the inserted set by
    construction) from every bucket leaf in ONE batched job."""
    leaves = _batched_leaf_purge(
        spark,
        os.path.join(path, "grams"),
        "bucket=",
        ids.select("gh"),
        "gh",
        columns=["gh"],
    )
    return {"leaves_purged": len(leaves)}


SPEC = StoreSpec(
    store="gram index",
    recover_fn="recover_gram_index_append",
    relations=(("grams", "bucket="), ("meta", None)),
    appended=("grams",),
    marker={
        "n_docs": int,
        "n_grams": int,
        "n": int,
        "normalise": bool,
        "fingerprint": opt_str,
    },
    purge=_purge,
    untouched={"leaves_purged": 0},
    meta=meta_frame(
        "n_docs bigint, n_grams bigint, n int, fingerprint string, normalise boolean"
    ),
)


def append_to_gram_index(
    delta: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint: str | None = None,
    batch_id: str | None = None,
) -> dict:
    """Add an ACCEPTED batch's grams: delta-sized gram work, one
    anti-join against the store (only genuinely new hashes are
    written — so unlike the doc-keyed stores the delta may freely
    overlap the corpus; the store stays distinct by construction), new
    rows appended into their static buckets, meta merged by addition.
    Because overlap is allowed, the merged ``n_docs`` is "doc ingests
    observed" — re-ingesting the same doc ids adds them again
    (``n_grams`` stays exact; see the module docstring).

    The ids record holds the exact to-insert gh set, and the inserted
    rows are READ BACK from it so the purge set provably equals the
    inserted set. Crash-safety and exactly-once under ``batch_id``:
    storeprotocol.append."""
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
    store = spark.read.parquet(os.path.join(path, "grams")).select("gh")
    new_ghs = (
        _gram_relation(delta, text_col, id_col, old["n"], old["normalise"])
        .join(store, "gh", "left_anti")
        .select("gh", "bucket")
    )
    ids_dir = os.path.join(path, SPEC.ids_record)

    def insert() -> None:
        spark.read.parquet(ids_dir).write.mode("append").partitionBy(
            "bucket"
        ).parquet(os.path.join(path, "grams"))

    def derive() -> tuple[list, dict]:
        n_inserted = spark.read.parquet(ids_dir).count()
        n_batch_docs = delta.select(id_col).distinct().count()
        new = {
            **old,
            "n_docs": old["n_docs"] + n_batch_docs,
            "n_grams": old["n_grams"] + n_inserted,
            "fingerprint": fingerprint or "",
        }
        return [("meta", SPEC.meta(spark, new), None)], {
            "grams_inserted": int(n_inserted)
        }

    return Batch(marker=old, ids=new_ghs, insert=insert, derive=derive)


def recover_gram_index_append(spark: SparkSession, path: str) -> dict:
    """Return a torn-append store to its exact pre-append state: purge
    the recorded hashes from their bucket leaves, restore the recorded
    meta scalars and last-append slot (storeprotocol.recover)."""
    return recover(SPEC, spark, path)


def strip_spans_with_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Indexed form of ``strip_spans_against_corpus``: the corpus pass
    is replaced by an equi-join of the batch's gram hashes against the
    stored distinct hashes, bit-identical to the index-free form over
    the same corpus (pinned in tests). Gram size AND matching policy
    (strict vs normalised) come from meta, so callers cannot probe with
    a mismatched n or hash a strict batch against a normalised store.

    Join strategy (round-11 advice): no forced broadcast — a
    production-sized nightly batch's distinct gram set can exceed the
    broadcast/driver limit, and a forced hint would then FAIL the probe
    rather than degrade. AQE sizes the batch side at runtime and
    converts the shuffle semi-join to a broadcast join itself whenever
    the gram set actually fits (the common case); above that it stays a
    shuffle semi-join on 16-byte hashes — the same AQE-decided
    discipline as the family's other joins."""
    open_for_read(SPEC, path)
    meta = read_meta(SPEC, spark, path)
    n = meta["n"]
    bstaged = _cached_staged(batch, text_col, id_col, n, normalise=meta["normalise"])
    bgset = bstaged.select(F.explode(F.array_distinct("ghs")).alias("gh"))
    store = spark.read.parquet(os.path.join(path, "grams")).select("gh")
    vs_store = store.join(bgset.distinct(), "gh", "left_semi").distinct()
    dup = vs_store.unionByName(_dup_grams(bstaged, id_col, min_docs)).distinct()
    hits = bstaged.select(
        F.col(id_col), F.posexplode("ghs").alias("start", "gh")
    ).join(dup, "gh", "left_semi")
    cov = _covered_starts(hits, n, id_col)
    return strip_covered(batch, cov, text_col, id_col)


def compact_gram_index(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Per-bucket small-file compaction after many appends (each append
    writes one file set per touched bucket; storeprotocol.compact)."""
    return compact(SPEC, spark, path, target_bytes)


def gram_index_governance(
    spark: SparkSession,
    path: str,
    sample_buckets: int = 8,
    max_files_per_leaf: int = 8,
) -> dict:
    """Integrity + maintenance verdict. The store's contract is
    DISTINCT gh rows; because bucket is a pure function of gh, any
    duplicate is leaf-local — so a per-leaf count vs count_distinct
    over ``sample_buckets`` deterministic sample leaves is an EXACT
    duplicate check for the sampled share of the hash space (no
    cross-leaf case exists to miss). Fragmentation (when to compact)
    mirrors the other stores' round-10 verdict."""
    open_for_read(SPEC, path)
    grams_dir = os.path.join(path, "grams")
    leaves = _recovered_leaves(grams_dir, "bucket=")
    sampled = leaves[: max(1, sample_buckets)]
    dup_leaves = []
    n_rows = n_distinct = 0
    for leaf in sampled:
        r = (
            spark.read.parquet(os.path.join(grams_dir, leaf))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.count_distinct("gh").alias("uniq"),
            )
            .head()
        )
        n_rows += int(r["rows"])
        n_distinct += int(r["uniq"])
        if int(r["rows"]) != int(r["uniq"]):
            dup_leaves.append(leaf)
    healthy = not dup_leaves
    return {
        "n_leaves_checked": len(sampled),
        "rows_checked": n_rows,
        "duplicate_leaves": dup_leaves,
        "healthy": healthy,
        "rebuild": not healthy,
        **fragmentation(SPEC, path, max_files_per_leaf),
    }


def stored_fingerprint(spark: SparkSession, path: str) -> str | None:
    """Meta fingerprint, or None when absent/torn/unreadable — every
    case a fingerprint-gated consumer treats as 'rebuild'."""
    return _stored_fingerprint(SPEC, spark, path)
