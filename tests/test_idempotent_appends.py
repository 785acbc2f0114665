"""Round-10 batch-id idempotence: exactly-once appends under
at-least-once retry.

The round-9 protocol made a torn append RECOVERABLE, but one window
stayed open: a crash between the commit point (marker removal) and the
CALLER observing success. Recovery then correctly no-ops (the append IS
committed), so a blind retry double-writes — the one failure mode the
purge machinery cannot fix after the fact. The fix is the reference's
own idiom: every run carries a correlation id; passing it as
``batch_id`` stamps an atomic ``_last-append`` sidecar INSIDE the
marker bracket, and a retry of an already-committed id becomes an
explicit no-op. These tests walk the crash matrix window by window on
the dedup store (every window class; the four stores share the
protocol) and pin the two-append idempotence on all four stores."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from dwp_hbase_to_mongo_export_spark.operators import (
    dedupindex,
    similarity,
    storeprotocol,
    textindex,
)
from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

PARAMS = dict(n_perm=8, rows_per_band=2, k=5, max_chars=256)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings").cache()
    yield df
    df.unpersist()


def _bands(spark, path):
    return {
        (r["doc_id"], r["band"], r["band_key"])
        for r in spark.read.parquet(path + "/bands").collect()
    }


def _clean_equivalent(spark, docs, tmp_path):
    corpus = docs.filter(F.col("doc_id") < 400)
    full = str(tmp_path / "full")
    if not os.path.isdir(full):
        dedupindex.build_dedup_index(corpus, full, **PARAMS)
    return full


def _fresh(docs, tmp_path, name):
    old = docs.filter(F.col("doc_id") < 300)
    delta = docs.filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 400)
    )
    path = str(tmp_path / name)
    dedupindex.build_dedup_index(old, path, **PARAMS)
    return path, delta


# ---------------------------------------------------------- two-append


def test_dedup_same_batch_id_twice_noops(spark, docs, tmp_path):
    path, delta = _fresh(docs, tmp_path, "ix")
    res = dedupindex.append_to_dedup_index(delta, path, batch_id="b1")
    assert res == {"committed": True, "skipped_duplicate_batch": False}
    once = _bands(spark, path)
    n_docs = spark.read.parquet(path + "/meta").head()["n_docs"]
    res = dedupindex.append_to_dedup_index(delta, path, batch_id="b1")
    assert res == {"committed": False, "skipped_duplicate_batch": True}
    assert _bands(spark, path) == once
    assert spark.read.parquet(path + "/meta").head()["n_docs"] == n_docs
    assert dedupindex.read_last_append(path) == "b1"
    # a NEW batch id with new docs commits normally
    d2 = docs.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 450))
    res = dedupindex.append_to_dedup_index(d2, path, batch_id="b2")
    assert res["committed"] and dedupindex.read_last_append(path) == "b2"


@pytest.mark.slow
def test_text_ivf_pq_same_batch_id_twice_noops(spark, docs, emb, tmp_path):
    # text
    tpath = str(tmp_path / "tix")
    textindex.build_text_index(docs.filter(F.col("doc_id") < 300), tpath)
    delta = docs.filter(F.col("doc_id") >= 300)
    assert textindex.append_to_text_index(delta, tpath, batch_id="t1")[
        "committed"
    ]
    pre = tuple(spark.read.parquet(tpath + "/meta").head())
    res = textindex.append_to_text_index(delta, tpath, batch_id="t1")
    assert res["skipped_duplicate_batch"]
    assert tuple(spark.read.parquet(tpath + "/meta").head()) == pre
    # ivf
    cents = similarity._resolve_centroids(
        emb.filter(F.col("vec_id") < 200), None, 50, None, "vec_id", "embedding"
    )
    idx = similarity._nearest_centroids(
        emb.filter(F.col("vec_id") < 300), cents, 1, "embedding", "cluster"
    ).select(
        "cluster",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
    )
    ipath = str(tmp_path / "ivf")
    similarity.save_ivf_index(idx, cents, ipath)
    new = emb.filter(F.col("vec_id") >= 300)
    assert similarity.append_to_ivf_index(ipath, new, batch_id="v1")[
        "committed"
    ]
    n = spark.read.parquet(ipath + "/postings").count()
    res = similarity.append_to_ivf_index(ipath, new, batch_id="v1")
    assert res["skipped_duplicate_batch"]
    assert spark.read.parquet(ipath + "/postings").count() == n
    # pq
    codes, books = similarity.build_pq_index(
        emb.filter(F.col("vec_id") < 300), m=4, k_codes=8, iters=2
    )
    ppath = str(tmp_path / "pq")
    similarity.save_pq_index(codes, books, ppath)
    assert similarity.append_to_pq_index(ppath, new, batch_id="p1")[
        "committed"
    ]
    n = spark.read.parquet(ppath + "/codes").count()
    res = similarity.append_to_pq_index(ppath, new, batch_id="p1")
    assert res["skipped_duplicate_batch"]
    assert spark.read.parquet(ppath + "/codes").count() == n


def test_empty_batch_consumes_its_id(spark, docs, tmp_path):
    path, delta = _fresh(docs, tmp_path, "ix")
    empty = delta.filter(F.lit(False))
    res = dedupindex.append_to_dedup_index(empty, path, batch_id="e1")
    assert res["committed"] and dedupindex.read_last_append(path) == "e1"
    res = dedupindex.append_to_dedup_index(empty, path, batch_id="e1")
    assert res["skipped_duplicate_batch"]


def test_rebuild_clears_the_idempotence_record(spark, docs, tmp_path):
    path, delta = _fresh(docs, tmp_path, "ix")
    dedupindex.append_to_dedup_index(delta, path, batch_id="b1")
    assert dedupindex.read_last_append(path) == "b1"
    dedupindex.build_dedup_index(
        docs.filter(F.col("doc_id") < 300), path, **PARAMS
    )
    assert dedupindex.read_last_append(path) is None
    # the old id is re-usable against the rebuilt artifact
    res = dedupindex.append_to_dedup_index(delta, path, batch_id="b1")
    assert res["committed"]


# ------------------------------------------------------- crash windows


@pytest.mark.slow
def test_crash_before_sidecar_retry_commits(spark, docs, tmp_path, monkeypatch):
    """Window: store+meta landed, sidecar write crashed (marker still
    present, sidecar absent). Retry with the SAME id must COMMIT — it
    was never recorded as committed."""
    path, delta = _fresh(docs, tmp_path, "ix")

    def boom(p, bid):
        raise RuntimeError("crash before sidecar")

    monkeypatch.setattr(storeprotocol, "_write_last_append", boom)
    with pytest.raises(RuntimeError, match="before sidecar"):
        dedupindex.append_to_dedup_index(delta, path, batch_id="b1")
    monkeypatch.undo()
    assert os.path.exists(os.path.join(path, storeprotocol._PENDING))
    res = dedupindex.append_to_dedup_index(delta, path, batch_id="b1")
    assert res == {"committed": True, "skipped_duplicate_batch": False}
    full = _clean_equivalent(spark, docs, tmp_path)
    assert _bands(spark, path) == _bands(spark, full)
    assert dedupindex.read_last_append(path) == "b1"


def test_crash_after_sidecar_recovery_unstamps_it(
    spark, docs, tmp_path, monkeypatch
):
    """Window: sidecar stamped, marker removal crashed. Recovery purges
    the rows AND must restore the sidecar to its pre-append value —
    otherwise the legitimate retry would read 'already committed', skip,
    and silently LOSE the batch."""
    path, delta = _fresh(docs, tmp_path, "ix")
    real = storeprotocol._write_last_append

    def write_then_boom(p, bid):
        real(p, bid)
        raise RuntimeError("crash after sidecar")

    monkeypatch.setattr(storeprotocol, "_write_last_append", write_then_boom)
    with pytest.raises(RuntimeError, match="after sidecar"):
        dedupindex.append_to_dedup_index(delta, path, batch_id="b1")
    monkeypatch.undo()
    # torn: marker present, sidecar (wrongly, transiently) stamped
    assert os.path.exists(os.path.join(path, storeprotocol._PENDING))
    assert dedupindex.read_last_append(path) == "b1"
    res = dedupindex.recover_dedup_index_append(spark, path)
    assert res["recovered"]
    assert dedupindex.read_last_append(path) is None
    res = dedupindex.append_to_dedup_index(delta, path, batch_id="b1")
    assert res["committed"]
    full = _clean_equivalent(spark, docs, tmp_path)
    assert _bands(spark, path) == _bands(spark, full)


def test_crash_after_commit_retry_skips(spark, docs, tmp_path, monkeypatch):
    """Window: marker removed (COMMITTED), ids-dir delete crashed. The
    round-9 protocol makes the leftover inert; the batch id closes the
    remaining hole — the retry reads the sidecar and no-ops instead of
    double-writing (without a batch id this retry is the documented
    double-write the governance checks catch)."""
    path, delta = _fresh(docs, tmp_path, "ix")
    real = shutil.rmtree

    def boom(p, *a, **k):
        if str(p).endswith(storeprotocol._PENDING_IDS):
            raise RuntimeError("crash after commit")
        return real(p, *a, **k)

    monkeypatch.setattr(storeprotocol.shutil, "rmtree", boom)
    with pytest.raises(RuntimeError, match="after commit"):
        dedupindex.append_to_dedup_index(delta, path, batch_id="b1")
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(path, storeprotocol._PENDING))
    res = dedupindex.append_to_dedup_index(delta, path, batch_id="b1")
    assert res == {"committed": False, "skipped_duplicate_batch": True}
    full = _clean_equivalent(spark, docs, tmp_path)
    assert _bands(spark, path) == _bands(spark, full)


@pytest.mark.slow
def test_crash_mid_store_write_retry_commits_once(
    spark, docs, tmp_path, monkeypatch
):
    """Window: band/set rows landed, meta swap crashed (the round-8
    scenario) — now WITH a batch id: the sidecar was never stamped, so
    the retry recovers (purge) and commits exactly once."""
    path, delta = _fresh(docs, tmp_path, "ix")

    def boom(df, target, partition_by=None):
        raise RuntimeError("crash at meta swap")

    monkeypatch.setattr(storeprotocol, "_swap_write", boom)
    with pytest.raises(RuntimeError, match="meta swap"):
        dedupindex.append_to_dedup_index(delta, path, batch_id="b1")
    monkeypatch.undo()
    assert dedupindex.read_last_append(path) is None
    res = dedupindex.append_to_dedup_index(delta, path, batch_id="b1")
    assert res["committed"]
    full = _clean_equivalent(spark, docs, tmp_path)
    assert _bands(spark, path) == _bands(spark, full)


def test_pre_batchid_marker_leaves_sidecar_alone(spark, docs, tmp_path):
    """A marker written before the batch-id protocol (no 'last_append'
    key — e.g. the recovery drill's staged markers) must not clobber a
    legitimately committed sidecar during recovery."""
    path, delta = _fresh(docs, tmp_path, "ix")
    dedupindex.append_to_dedup_index(delta, path, batch_id="b1")
    m = spark.read.parquet(path + "/meta").head()
    with open(os.path.join(path, storeprotocol._PENDING), "w") as f:
        f.write(
            json.dumps(
                {
                    "protocol": 2,
                    "n_docs": int(m["n_docs"]),
                    "fingerprint": m["fingerprint"],
                }
            )
        )
    res = dedupindex.recover_dedup_index_append(spark, path)
    assert res["recovered"] and res["store_untouched"]
    assert dedupindex.read_last_append(path) == "b1"


# ------------------------------------------------- streaming ingest e2e


@pytest.mark.slow
def test_streaming_epoch_keyed_ingest_exactly_once(spark, docs, tmp_path):
    """foreachBatch ingest with epoch-id-keyed appends: N micro-batches
    land once each and the final store is row-identical to a batch
    build over corpus ∪ delta; a simulated replay of the LAST epoch
    (the only one Structured Streaming re-runs against a durable
    checkpoint) no-ops; a restart on the SAME checkpoint re-delivers
    nothing."""
    from dwp_hbase_to_mongo_export_spark.streaming.incremental import (
        dedup_index_stream_ingest,
    )

    corpus = docs.filter(F.col("doc_id") < 300)
    delta = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    path = str(tmp_path / "ix")
    dedupindex.build_dedup_index(corpus, path, **PARAMS)
    delta_dir = str(tmp_path / "delta")
    delta.repartition(3).write.parquet(delta_dir)
    ckpt = str(tmp_path / "ckpt")

    stats = dedup_index_stream_ingest(spark, delta_dir, path, checkpoint_dir=ckpt)
    assert stats["epochs"] >= 3 and stats["skipped"] == 0

    full = str(tmp_path / "full")
    dedupindex.build_dedup_index(
        docs.filter(F.col("doc_id") < 400), full, **PARAMS
    )
    assert _bands(spark, path) == _bands(spark, full)
    assert (
        spark.read.parquet(path + "/meta").head()["n_docs"]
        == spark.read.parquet(full + "/meta").head()["n_docs"]
    )

    # the crash-retry that CAN happen: the last epoch replays
    last = dedupindex.read_last_append(path)
    assert last is not None and last.startswith("epoch-")
    res = dedupindex.append_to_dedup_index(
        delta.limit(10), path, batch_id=last
    )
    assert res == {"committed": False, "skipped_duplicate_batch": True}
    assert _bands(spark, path) == _bands(spark, full)

    # restart on the durable checkpoint: offsets are committed, so the
    # drain re-delivers nothing at all
    stats = dedup_index_stream_ingest(spark, delta_dir, path, checkpoint_dir=ckpt)
    assert stats["epochs"] == 0 or stats["skipped"] == stats["epochs"]
    assert _bands(spark, path) == _bands(spark, full)


# ---------------------------------------------------- mutual exclusion


@pytest.mark.slow
def test_concurrent_appends_serialize_not_corrupt(spark, docs, tmp_path):
    """Two appends racing on one store used to be mutually destructive:
    each one's entry-time recovery read the OTHER's live marker as a
    torn append and purged its in-flight rows. The per-store
    _append.lock serializes them — both commit, and the result equals
    a clean build over old ∪ d1 ∪ d2."""
    from concurrent.futures import ThreadPoolExecutor

    old = docs.filter(F.col("doc_id") < 300)
    d1 = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 350))
    d2 = docs.filter((F.col("doc_id") >= 350) & (F.col("doc_id") < 400))
    path = str(tmp_path / "ix")
    dedupindex.build_dedup_index(old, path, **PARAMS)

    with ThreadPoolExecutor(2) as ex:
        futs = [
            ex.submit(
                dedupindex.append_to_dedup_index, d, path, batch_id=b
            )
            for d, b in ((d1, "b1"), (d2, "b2"))
        ]
        results = [f.result() for f in futs]
    assert all(r["committed"] for r in results)

    full = str(tmp_path / "full")
    dedupindex.build_dedup_index(
        docs.filter(F.col("doc_id") < 400), full, **PARAMS
    )
    assert _bands(spark, path) == _bands(spark, full)
    assert (
        spark.read.parquet(path + "/meta").head()["n_docs"]
        == spark.read.parquet(full + "/meta").head()["n_docs"]
    )


@pytest.mark.slow
def test_streaming_text_ingest_matches_batch_build(spark, docs, tmp_path):
    """The generic ingest bound to the text store: a 3-file epoch drain
    appends exactly once per epoch and the final index answers queries
    identically to a one-shot build over corpus ∪ delta."""
    from dwp_hbase_to_mongo_export_spark.streaming.incremental import (
        text_index_stream_ingest,
    )

    corpus = docs.filter(F.col("doc_id") < 300)
    delta = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    path = str(tmp_path / "tix")
    textindex.build_text_index(corpus, path)
    delta_dir = str(tmp_path / "delta")
    delta.select("doc_id", "text").repartition(3).write.parquet(delta_dir)

    stats = text_index_stream_ingest(spark, delta_dir, path)
    assert stats["epochs"] >= 3 and stats["skipped"] == 0
    assert textindex.read_last_append(path).startswith("epoch-")

    full = str(tmp_path / "full")
    textindex.build_text_index(docs.filter(F.col("doc_id") < 400), full)
    terms = ["table", "scan", "merge"]
    got = textindex.query_text_index(spark, path, terms, top_n=10).collect()
    want = textindex.query_text_index(spark, full, terms, top_n=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


@pytest.mark.slow
def test_ivf_stream_ingest_exactly_once_with_auto_compaction(
    spark, emb, tmp_path
):
    """The IVF store's streaming binding (round-11): epoch-keyed
    micro-batch appends land once each, the between-epoch maintenance
    hook compacts when the tight leaf threshold flags, and the final
    postings are id-identical to a single batch append."""
    from dwp_hbase_to_mongo_export_spark.streaming.incremental import (
        ivf_index_stream_ingest,
    )

    cents = similarity._resolve_centroids(
        emb.filter(F.col("vec_id") < 200), None, 20, None, "vec_id", "embedding"
    )
    idx = similarity._nearest_centroids(
        emb.filter(F.col("vec_id") % 2 == 0), cents, 1, "embedding", "cluster"
    ).select(
        "cluster",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
    )
    path = str(tmp_path / "ivf")
    similarity.save_ivf_index(idx, cents, path)
    delta = emb.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    delta_dir = str(tmp_path / "delta")
    delta.repartition(6).write.parquet(delta_dir)
    ckpt = str(tmp_path / "ckpt")

    stats = ivf_index_stream_ingest(
        spark,
        delta_dir,
        path,
        checkpoint_dir=ckpt,
        compact_max_files_per_leaf=2,
    )
    assert stats["epochs"] >= 4 and stats["skipped"] == 0
    assert stats["compactions"] >= 1
    got = spark.read.parquet(path + "/postings")
    assert got.count() == emb.count()
    assert got.select("neighbor_id").distinct().count() == emb.count()
    # restart on the durable checkpoint re-delivers nothing
    stats = ivf_index_stream_ingest(
        spark, delta_dir, path, checkpoint_dir=ckpt
    )
    assert stats["epochs"] == 0 or stats["skipped"] == stats["epochs"]
    assert spark.read.parquet(path + "/postings").count() == emb.count()


def test_pq_stream_ingest_exactly_once_with_auto_compaction(
    spark, emb, tmp_path
):
    """The PQ store's streaming binding (round-11): the flat codes dir
    is one leaf, so an epoch-per-file cadence trips the verdict fast;
    codes stay exactly-once and ADC-servable throughout."""
    from dwp_hbase_to_mongo_export_spark.streaming.incremental import (
        pq_index_stream_ingest,
    )

    codes, books = similarity.build_pq_index(
        emb.filter(F.col("vec_id") % 2 == 0), m=4, k_codes=8, iters=2
    )
    path = str(tmp_path / "pq")
    similarity.save_pq_index(codes, books, path)
    delta = emb.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    delta_dir = str(tmp_path / "delta")
    delta.repartition(6).write.parquet(delta_dir)

    stats = pq_index_stream_ingest(
        spark,
        delta_dir,
        path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        compact_max_files_per_leaf=2,
    )
    assert stats["epochs"] >= 4 and stats["skipped"] == 0
    assert stats["compactions"] >= 1
    got = spark.read.parquet(path + "/codes")
    assert got.count() == emb.count()
    assert got.select("vec_id").distinct().count() == emb.count()
