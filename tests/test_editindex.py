"""Durable edit-distance screen index (operators/editindex.py) — the
sixth store: query equivalence to the index-free screen (including
under the frozen-order drift an append introduces), the full shared
crash protocol (torn append, commit-point ordering, protocol-2
untouched proof, stale-ids clearing, batch-id idempotence), reader
refusal, and governance (planted duplicate ids, order drift,
fragmentation verdict)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from dwp_hbase_to_mongo_export_spark.operators import editdist, editindex, storeprotocol
from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents").cache()
    yield df
    df.unpersist()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _store_ids(spark, path, store="docs"):
    return sorted(
        r.id for r in spark.read.parquet(os.path.join(path, store)).collect()
    )


def _meta(spark, path):
    return tuple(spark.read.parquet(os.path.join(path, "meta")).head())


def _split(docs):
    corpus = docs.filter(F.col("doc_id") % 10 != 9)
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    return corpus, batch


# ------------------------------------------------------------ equivalence


def test_indexed_screen_equals_index_free(spark, docs, tmp_path):
    corpus, batch = _split(docs)
    path = str(tmp_path / "ex")
    editindex.build_edit_index(corpus, path, k=8, q=4)
    got = editindex.query_edit_index(spark, path, batch)
    want = editdist.edit_screen_batch(corpus, batch, k=8, q=4)
    assert _rows(got) == _rows(want)
    assert len(_rows(want)) > 0  # value evidence, not agreement-on-empty


@pytest.mark.slow
def test_append_equals_rebuild_under_frozen_order(spark, docs, tmp_path):
    """The appended half ranks its grams under the OTHER half's frozen
    df order — the drift path — and the answers must still equal both
    the all-at-once build and the index-free screen (exactness does not
    depend on the order; only pruning does)."""
    corpus, batch = _split(docs)
    old = corpus.filter(F.col("doc_id") < 300)
    delta = corpus.filter(F.col("doc_id") >= 300)
    inc = str(tmp_path / "inc")
    editindex.build_edit_index(old, inc, k=8, q=4)
    res = editindex.append_to_edit_index(delta, inc, batch_id="b1")
    assert res["committed"] and res["docs_appended"] > 0
    full = str(tmp_path / "full")
    editindex.build_edit_index(corpus, full, k=8, q=4)
    got_inc = _rows(editindex.query_edit_index(spark, inc, batch))
    got_full = _rows(editindex.query_edit_index(spark, full, batch))
    want = _rows(editdist.edit_screen_batch(corpus, batch, k=8, q=4))
    assert got_inc == want
    assert got_full == want


def test_short_and_empty_docs_served_by_index(spark, tmp_path):
    corpus = spark.createDataFrame(
        [(0, ""), (2, "ab"), (4, "a perfectly ordinary long sentence here")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(11, "b"), (13, "abc")], "doc_id bigint, text string"
    )
    path = str(tmp_path / "short")
    editindex.build_edit_index(corpus, path, k=2, q=4)
    got = {
        (r.doc_id, r.dup_of, r.dist)
        for r in editindex.query_edit_index(spark, path, batch).collect()
    }
    assert got == {(11, 0, 1), (11, 2, 1), (13, 2, 1)}


# ------------------------------------------------------------ protocol


@pytest.mark.slow
def test_torn_append_recovers_to_pre_append_state(
    spark, docs, tmp_path, monkeypatch
):
    corpus, _ = _split(docs)
    old = corpus.filter(F.col("doc_id") < 300)
    delta = corpus.filter(F.col("doc_id") >= 300)
    path = str(tmp_path / "ex")
    editindex.build_edit_index(old, path, k=8, q=4, fingerprint="v1")
    pre_ids, pre_meta = _store_ids(spark, path), _meta(spark, path)
    pre_prefix = _store_ids(spark, path, "prefix")

    real = storeprotocol._swap_write

    def boom(df, target, partition_by=None):
        if target.endswith("meta"):
            raise RuntimeError("simulated crash before meta merge")
        return real(df, target, partition_by)

    monkeypatch.setattr(storeprotocol, "_swap_write", boom)
    with pytest.raises(RuntimeError, match="before meta merge"):
        editindex.append_to_edit_index(delta, path, batch_id="b1")
    monkeypatch.undo()

    with pytest.raises(ValueError, match="append is pending"):
        editindex.query_edit_index(
            spark, path, docs.filter(F.col("doc_id") % 10 == 9)
        )
    assert editindex.stored_fingerprint(spark, path) is None

    res = editindex.recover_edit_index_append(spark, path)
    assert res["recovered"] and res["leaves_purged"] > 0
    assert _store_ids(spark, path) == pre_ids
    assert _store_ids(spark, path, "prefix") == pre_prefix
    assert _meta(spark, path) == pre_meta
    res2 = editindex.append_to_edit_index(delta, path, batch_id="b1")
    assert res2["committed"] and not res2["skipped_duplicate_batch"]


def test_crash_after_commit_point_is_inert_and_cleared(
    spark, docs, tmp_path, monkeypatch
):
    corpus, _ = _split(docs)
    old = corpus.filter(F.col("doc_id") < 300)
    delta = corpus.filter(F.col("doc_id") >= 300)
    path = str(tmp_path / "ex")
    editindex.build_edit_index(old, path, k=8, q=4)

    real = shutil.rmtree

    def boom(p, *a, **k):
        if str(p).endswith(storeprotocol._PENDING_IDS):
            raise RuntimeError("simulated crash after the commit point")
        return real(p, *a, **k)

    monkeypatch.setattr(storeprotocol.shutil, "rmtree", boom)
    with pytest.raises(RuntimeError, match="after the commit point"):
        editindex.append_to_edit_index(delta, path)
    monkeypatch.undo()

    assert not os.path.exists(os.path.join(path, storeprotocol._PENDING))
    assert os.path.isdir(os.path.join(path, storeprotocol._PENDING_IDS))
    assert editindex.recover_edit_index_append(spark, path) == {
        "recovered": False,
        "stale_ids_cleared": True,
    }
    assert not os.path.isdir(os.path.join(path, storeprotocol._PENDING_IDS))
    assert _store_ids(spark, path) == sorted(
        r.doc_id for r in corpus.select("doc_id").collect()
    )


def test_protocol2_marker_without_ids_record_cleans_up(spark, docs, tmp_path):
    corpus, _ = _split(docs)
    path = str(tmp_path / "ex")
    editindex.build_edit_index(corpus, path, k=8, q=4)
    pre_ids, pre_meta = _store_ids(spark, path), _meta(spark, path)
    with open(os.path.join(path, storeprotocol._PENDING), "w") as f:
        f.write(
            json.dumps(
                {
                    "protocol": 2,
                    "n_docs": int(pre_meta[0]),
                    "k": 8,
                    "q": 4,
                    "fingerprint": "",
                    "last_append": None,
                }
            )
        )
    res = editindex.recover_edit_index_append(spark, path)
    assert res == {
        "recovered": True,
        "leaves_purged": 0,
        "store_untouched": True,
    }
    assert _store_ids(spark, path) == pre_ids
    assert _meta(spark, path) == pre_meta


def test_same_batch_id_twice_noops(spark, docs, tmp_path):
    corpus, _ = _split(docs)
    old = corpus.filter(F.col("doc_id") < 300)
    delta = corpus.filter(F.col("doc_id") >= 300)
    path = str(tmp_path / "ex")
    editindex.build_edit_index(old, path, k=8, q=4)
    r1 = editindex.append_to_edit_index(delta, path, batch_id="b1")
    assert r1["committed"]
    ids_after = _store_ids(spark, path)
    r2 = editindex.append_to_edit_index(delta, path, batch_id="b1")
    assert r2 == {"committed": False, "skipped_duplicate_batch": True}
    assert _store_ids(spark, path) == ids_after


def test_build_pending_refused_and_fingerprint_none(spark, docs, tmp_path):
    corpus, batch = _split(docs)
    path = str(tmp_path / "ex")
    editindex.build_edit_index(corpus, path, k=8, q=4, fingerprint="v1")
    assert editindex.stored_fingerprint(spark, path) == "v1"
    open(os.path.join(path, storeprotocol._BUILD_PENDING), "w").close()
    with pytest.raises(ValueError, match="rebuild died mid-flight"):
        editindex.query_edit_index(spark, path, batch)
    assert editindex.stored_fingerprint(spark, path) is None


@pytest.mark.slow
def test_concurrent_appends_serialize_not_corrupt(spark, docs, tmp_path):
    """The store-family race pin, applied to the sixth store: two
    appends racing on one edit index must queue on the _append.lock —
    both commit, doc rows ≡ clean build over old ∪ d1 ∪ d2, and the
    query answers match the index-free screen (prefix rows rank under
    the frozen order either way)."""
    from concurrent.futures import ThreadPoolExecutor

    corpus, batch = _split(docs)
    old = corpus.filter(F.col("doc_id") < 300)
    d1 = corpus.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 350))
    d2 = corpus.filter((F.col("doc_id") >= 350) & (F.col("doc_id") < 400))
    path = str(tmp_path / "ex")
    editindex.build_edit_index(old, path, k=8, q=4)

    with ThreadPoolExecutor(2) as ex:
        futs = [
            ex.submit(editindex.append_to_edit_index, d, path, batch_id=b)
            for d, b in ((d1, "b1"), (d2, "b2"))
        ]
        results = [f.result() for f in futs]
    assert all(r["committed"] for r in results)

    merged = corpus.filter(F.col("doc_id") < 400)
    full = str(tmp_path / "full")
    editindex.build_edit_index(merged, full, k=8, q=4)
    assert _store_ids(spark, path) == _store_ids(spark, full)
    assert _meta(spark, path)[0] == _meta(spark, full)[0]
    assert _rows(editindex.query_edit_index(spark, path, batch)) == _rows(
        editdist.edit_screen_batch(merged, batch, k=8, q=4)
    )


@pytest.mark.slow
def test_streaming_epoch_ingest_exactly_once(spark, docs, tmp_path):
    from dwp_hbase_to_mongo_export_spark.streaming import incremental

    corpus = docs.filter((F.col("doc_id") % 10 != 9) & (F.col("doc_id") < 300))
    deltas = docs.filter(
        (F.col("doc_id") % 10 != 9) & (F.col("doc_id") >= 300)
    ).select("doc_id", "text")
    probe = docs.filter(F.col("doc_id") % 10 == 9)
    delta_dir = str(tmp_path / "delta")
    deltas.repartition(3).write.parquet(delta_dir)
    path = str(tmp_path / "ex")
    editindex.build_edit_index(corpus, path, k=8, q=4)
    ckpt = str(tmp_path / "ckpt")
    res = incremental.edit_index_stream_ingest(
        spark, delta_dir, path, checkpoint_dir=ckpt
    )
    assert res["epochs"] >= 1
    # drained stream answers ≡ index-free screen over corpus ∪ deltas
    # (prefix ROWS legitimately differ from an all-at-once build — the
    # streamed appends rank under the initial corpus's frozen order —
    # but the verified ANSWER SET cannot)
    want = _rows(
        editdist.edit_screen_batch(
            corpus.select("doc_id", "text").unionByName(deltas),
            probe,
            k=8,
            q=4,
        )
    )
    assert _rows(editindex.query_edit_index(spark, path, probe)) == want
    # restart on the same checkpoint re-delivers nothing
    res2 = incremental.edit_index_stream_ingest(
        spark, delta_dir, path, checkpoint_dir=ckpt
    )
    assert res2["epochs"] == 0
    assert _rows(editindex.query_edit_index(spark, path, probe)) == want


# ------------------------------------------------------- normalised policy


def test_normalised_store_equals_index_free_normalised(spark, tmp_path):
    base = "The quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(0, base + "!!"), (2, "Entirely other corpus content here folks")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(11, base.upper() + " ...")], "doc_id bigint, text string"
    )
    strict_path = str(tmp_path / "strict")
    norm_path = str(tmp_path / "norm")
    editindex.build_edit_index(corpus, strict_path, k=3, q=4)
    editindex.build_edit_index(corpus, norm_path, k=3, q=4, normalise=True)
    # strict: upper-case + punctuation put the pair far beyond k=3
    assert _rows(editindex.query_edit_index(spark, strict_path, batch)) == []
    got = _rows(editindex.query_edit_index(spark, norm_path, batch))
    assert got == [(11, 0, 0)]
    assert got == _rows(
        editdist.edit_screen_batch(corpus, batch, k=3, q=4, normalise=True)
    )


@pytest.mark.slow
def test_normalised_policy_survives_append_and_recovery(
    spark, tmp_path, monkeypatch
):
    base = "Some shared boilerplate sentence that repeats all over the web"
    corpus = spark.createDataFrame(
        [(0, "filler content unrelated to anything else at all")],
        "doc_id bigint, text string",
    )
    delta = spark.createDataFrame(
        [(2, base + "?!")], "doc_id bigint, text string"
    )
    batch = spark.createDataFrame(
        [(11, base.upper())], "doc_id bigint, text string"
    )
    path = str(tmp_path / "norm")
    editindex.build_edit_index(corpus, path, k=2, q=4, normalise=True)
    editindex.append_to_edit_index(delta, path, batch_id="b1")
    assert spark.read.parquet(os.path.join(path, "meta")).head()["normalise"]
    assert _rows(editindex.query_edit_index(spark, path, batch)) == [(11, 2, 0)]

    # torn append (crash before meta merge) then recovery must RESTORE
    # the policy bit, not silently fall back to strict
    delta2 = spark.createDataFrame(
        [(4, "yet more unrelated filler words here")],
        "doc_id bigint, text string",
    )
    real = storeprotocol._swap_write

    def boom(df, target, partition_by=None):
        if target.endswith("meta"):
            raise RuntimeError("crash before meta merge")
        return real(df, target, partition_by)

    monkeypatch.setattr(storeprotocol, "_swap_write", boom)
    with pytest.raises(RuntimeError, match="before meta merge"):
        editindex.append_to_edit_index(delta2, path, batch_id="b2")
    monkeypatch.undo()
    editindex.recover_edit_index_append(spark, path)
    assert spark.read.parquet(os.path.join(path, "meta")).head()["normalise"]
    assert _rows(editindex.query_edit_index(spark, path, batch)) == [(11, 2, 0)]


# ------------------------------------------------------------ governance


@pytest.mark.slow
def test_governance_flags_planted_duplicate_ids(spark, docs, tmp_path):
    corpus, _ = _split(docs)
    old = corpus.filter(F.col("doc_id") < 300)
    path = str(tmp_path / "ex")
    editindex.build_edit_index(old, path, k=8, q=4)
    clean = editindex.edit_index_governance(spark, path, sample_buckets=64)
    assert clean["duplicate_doc_rows_sampled"] == 0
    assert clean["order_drift_rows"] == 0
    # violate the ids-NEW contract: re-append an overlapping slice
    editindex.append_to_edit_index(
        old.filter(F.col("doc_id") < 50), path, batch_id="dup"
    )
    dirty = editindex.edit_index_governance(spark, path, sample_buckets=64)
    assert dirty["duplicate_doc_rows_sampled"] > 0


def test_governance_reports_order_drift_after_append(spark, docs, tmp_path):
    corpus, _ = _split(docs)
    old = corpus.filter(F.col("doc_id") < 300)
    delta = corpus.filter(F.col("doc_id") >= 300)
    path = str(tmp_path / "ex")
    editindex.build_edit_index(old, path, k=8, q=4)
    editindex.append_to_edit_index(delta, path, batch_id="b1")
    g = editindex.edit_index_governance(spark, path, sample_buckets=8)
    # the delta contributed grams the frozen build-corpus order never
    # saw — drift must be visible (and bounded below 1)
    assert 0 < g["order_drift_fraction"] < 1
    assert isinstance(g["compact"], bool)


@pytest.mark.slow
def test_compact_preserves_answers(spark, docs, tmp_path):
    corpus, batch = _split(docs)
    old = corpus.filter(F.col("doc_id") < 300)
    path = str(tmp_path / "ex")
    editindex.build_edit_index(old, path, k=8, q=4)
    for i, lo in enumerate(range(300, 500, 50)):
        editindex.append_to_edit_index(
            corpus.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 50)
            ),
            path,
            batch_id=f"b{i}",
        )
    before = _rows(editindex.query_edit_index(spark, path, batch))
    res = editindex.compact_edit_index(spark, path)
    assert set(res) == {"prefix", "docs"}
    after = _rows(editindex.query_edit_index(spark, path, batch))
    assert after == before
