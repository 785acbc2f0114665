"""The shared append/recover protocol (operators/storeprotocol.py),
driven through every durable store's spec.

* **crash points** — an append that dies after its marker, after its
  store insert, after its sidecar stamp, or after its marker removal
  (the commit), followed by ``recover_*`` and a re-append with the SAME
  batch id, leaves every relation (as a row multiset), meta and the
  ``_last-append`` sidecar equal to a never-crashed append.
* **refusal** — a marker that is not a readable protocol-2 marker, with
  a committed ids record and the batch's rows already stored, is
  refused on every store ("ambiguous … rebuild the <store>") and the
  store is left exactly as the crash left it.
* **compaction** — every store's public compactor leaves its state
  unchanged and clears the fragmentation verdict an append raised, and
  a compaction waits for the store lock.
* **empty batches** — an empty append commits, leaves every relation
  as it was, consumes its batch id, and its retry is skipped.
* **fingerprints** — an append that passes no fingerprint stamps ``""``
  (unknown: rebuild) into meta, never the build's stamp.

One build per store (sf0.001), copied per case.
"""

from __future__ import annotations

import os
import shutil
import threading
from collections import Counter

import pytest
from pyspark.sql import functions as F

from dwp_hbase_to_mongo_export_spark.operators import (
    dedupindex,
    editindex,
    gramindex,
    similarity,
    storeprotocol,
    textindex,
)
from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table


def _old(df, col):
    return df.filter(F.col(col) < 300)


def _delta(df, col):
    return df.filter((F.col(col) >= 300) & (F.col(col) < 340))


def _build_ivf(docs, emb, path):
    cents = similarity._resolve_centroids(
        emb.filter(F.col("vec_id") < 200), None, 50, None, "vec_id", "embedding"
    )
    idx = similarity._nearest_centroids(
        _old(emb, "vec_id"), cents, 1, "embedding", "cluster"
    ).select(
        "cluster",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
    )
    similarity.save_ivf_index(idx, cents, path)


def _build_pq(docs, emb, path):
    codes, books = similarity.build_pq_index(
        _old(emb, "vec_id"), m=4, k_codes=8, iters=1, persist=False
    )
    similarity.save_pq_index(codes, books, path)


# name -> (spec, module, plan function, build, append, recover)
STORES = {
    "text": (
        textindex.SPEC,
        textindex,
        "_plan_append",
        lambda d, e, p: textindex.build_text_index(_old(d, "doc_id"), p, fingerprint="v1"),
        lambda d, e, p, b: textindex.append_to_text_index(_delta(d, "doc_id"), p, batch_id=b),
        textindex.recover_text_index_append,
    ),
    "dedup": (
        dedupindex.SPEC,
        dedupindex,
        "_plan_append",
        lambda d, e, p: dedupindex.build_dedup_index(
            _old(d, "doc_id"), p, n_perm=8, rows_per_band=2, k=5, fingerprint="v1"
        ),
        lambda d, e, p, b: dedupindex.append_to_dedup_index(_delta(d, "doc_id"), p, batch_id=b),
        dedupindex.recover_dedup_index_append,
    ),
    "edit": (
        editindex.SPEC,
        editindex,
        "_plan_append",
        lambda d, e, p: editindex.build_edit_index(_old(d, "doc_id"), p, k=8, q=4, fingerprint="v1"),
        lambda d, e, p, b: editindex.append_to_edit_index(_delta(d, "doc_id"), p, batch_id=b),
        editindex.recover_edit_index_append,
    ),
    "gram": (
        gramindex.SPEC,
        gramindex,
        "_plan_append",
        lambda d, e, p: gramindex.build_gram_index(_old(d, "doc_id"), p, n=8, fingerprint="v1"),
        lambda d, e, p, b: gramindex.append_to_gram_index(_delta(d, "doc_id"), p, batch_id=b),
        gramindex.recover_gram_index_append,
    ),
    "ivf": (
        similarity.IVF_SPEC,
        similarity,
        "_plan_ivf_append",
        _build_ivf,
        lambda d, e, p, b: similarity.append_to_ivf_index(p, _delta(e, "vec_id"), batch_id=b),
        similarity.recover_ivf_index_append,
    ),
    "pq": (
        similarity.PQ_SPEC,
        similarity,
        "_plan_pq_append",
        _build_pq,
        lambda d, e, p, b: similarity.append_to_pq_index(p, _delta(e, "vec_id"), batch_id=b),
        similarity.recover_pq_index_append,
    ),
}


class Crash(RuntimeError):
    pass


def _freeze(v):
    if isinstance(v, (list, tuple)):
        return tuple(_freeze(x) for x in v)
    return v


def _state(spark, spec, path):
    """Every relation of the store as a row multiset, plus the sidecar."""
    rels = {
        rel: Counter(_freeze(tuple(r)) for r in spark.read.parquet(os.path.join(path, rel)).collect())
        for rel, _ in spec.relations
    }
    return rels, storeprotocol.read_last_append(path)


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    """One pristine build per store, and the state a never-crashed
    append of the delta under batch id "b1" leaves."""
    docs = load_table(spark, sf_dir, "documents").cache()
    emb = load_table(spark, sf_dir, "embeddings").cache()
    root = tmp_path_factory.mktemp("stores")
    out = {}
    for name, (spec, _, _, build, append, _) in STORES.items():
        pristine = str(root / name)
        build(docs, emb, pristine)
        clean = str(root / f"{name}-clean")
        shutil.copytree(pristine, clean)
        assert append(docs, emb, clean, "b1")["committed"]
        out[name] = (pristine, _state(spark, spec, clean))
    yield docs, emb, out
    docs.unpersist()
    emb.unpersist()


def _crash_after_marker(monkeypatch, spec, module, plan):
    def boom(*a, **k):
        raise Crash("after the marker")

    monkeypatch.setattr(storeprotocol, "_write_ids_record", boom)


def _crash_after_insert(monkeypatch, spec, module, plan):
    real = getattr(module, plan)

    def crashing_plan(*a, **k):
        batch = real(*a, **k)
        insert = batch.insert

        def insert_then_crash():
            insert()
            raise Crash("after the store insert")

        batch.insert = insert_then_crash
        return batch

    monkeypatch.setattr(module, plan, crashing_plan)


def _crash_after_sidecar(monkeypatch, spec, module, plan):
    real = storeprotocol._write_last_append

    def stamp_then_crash(path, batch_id):
        real(path, batch_id)
        raise Crash("after the sidecar stamp")

    monkeypatch.setattr(storeprotocol, "_write_last_append", stamp_then_crash)


def _crash_after_commit(monkeypatch, spec, module, plan):
    real = shutil.rmtree

    def boom(p, *a, **k):
        if str(p).endswith(spec.ids_record):
            raise Crash("after the marker removal")
        return real(p, *a, **k)

    monkeypatch.setattr(storeprotocol.shutil, "rmtree", boom)


CRASHES = {
    "marker": _crash_after_marker,
    "insert": _crash_after_insert,
    "sidecar": _crash_after_sidecar,
    "commit": _crash_after_commit,
}


@pytest.mark.parametrize("crash", list(CRASHES))
@pytest.mark.parametrize("store", list(STORES))
def test_crash_recover_reappend_equals_clean_append(
    spark, built, tmp_path, monkeypatch, store, crash
):
    docs, emb, stores = built
    spec, module, plan, _, append, recover = STORES[store]
    pristine, clean = stores[store]
    path = str(tmp_path / store)
    shutil.copytree(pristine, path)

    CRASHES[crash](monkeypatch, spec, module, plan)
    with pytest.raises(Crash):
        append(docs, emb, path, "b1")
    monkeypatch.undo()

    res = recover(spark, path)
    assert res["recovered"] == (crash != "commit")
    assert res.get("store_untouched", False) == (crash == "marker")
    again = append(docs, emb, path, "b1")
    assert again["skipped_duplicate_batch"] == (crash == "commit")
    assert not os.path.exists(os.path.join(path, storeprotocol._PENDING))
    assert not os.path.exists(os.path.join(path, spec.ids_record))
    assert _state(spark, spec, path) == clean


@pytest.mark.parametrize("store", list(STORES))
def test_corrupt_marker_with_committed_ids_is_refused(spark, built, tmp_path, store):
    docs, emb, stores = built
    spec, module, plan, _, _, recover = STORES[store]
    pristine, _ = stores[store]
    path = str(tmp_path / store)
    shutil.copytree(pristine, path)
    delta = _delta(emb, "vec_id") if store in ("ivf", "pq") else _delta(docs, "doc_id")
    batch = getattr(module, plan)(spark, path, delta)
    try:
        storeprotocol.begin(spec, path, batch)
        batch.insert()
    finally:
        batch.release()
    torn = _state(spark, spec, path)
    with open(os.path.join(path, storeprotocol._PENDING), "w") as f:
        f.write('{"protocol": 2, "n_docs": ')  # torn mid-write

    with pytest.raises(ValueError, match=f"ambiguous.*rebuild the {spec.store}"):
        recover(spark, path)
    assert os.path.exists(os.path.join(path, storeprotocol._PENDING))
    assert os.path.exists(os.path.join(path, spec.ids_record, "_SUCCESS"))
    assert _state(spark, spec, path) == torn


@pytest.mark.parametrize("store", list(STORES))
def test_empty_batch_commits_and_consumes_its_id(spark, built, tmp_path, store):
    docs, emb, stores = built
    spec, _, _, _, append, _ = STORES[store]
    pristine, _ = stores[store]
    path = str(tmp_path / store)
    shutil.copytree(pristine, path)
    rels, _ = _state(spark, spec, path)
    no_docs, no_emb = docs.filter(F.lit(False)), emb.filter(F.lit(False))

    assert append(no_docs, no_emb, path, "e1")["committed"]
    assert _state(spark, spec, path) == (rels, "e1")
    assert append(no_docs, no_emb, path, "e1")["skipped_duplicate_batch"]


@pytest.mark.parametrize("store", ["text", "dedup", "edit", "gram"])
def test_append_without_fingerprint_stamps_unknown(spark, built, store):
    """The clean state is a "v1" build plus an append that passed no
    fingerprint: the store now holds documents "v1" never had, so its
    meta must not keep claiming "v1" to a consumer reusing it by
    fingerprint."""
    _, _, stores = built
    pristine, (rels, _) = stores[store]
    col = spark.read.parquet(os.path.join(pristine, "meta")).columns.index("fingerprint")
    assert [row[col] for row in rels["meta"]] == [""]


COMPACT = {
    "text": textindex.compact_text_index,
    "dedup": dedupindex.compact_dedup_index,
    "edit": editindex.compact_edit_index,
    "gram": gramindex.compact_gram_index,
    "ivf": similarity.compact_ivf_postings,
    "pq": similarity.compact_pq_codes,
}


@pytest.mark.parametrize("store", list(STORES))
def test_compaction_keeps_state_and_clears_fragmentation(spark, built, tmp_path, store):
    docs, emb, stores = built
    spec, _, _, _, append, _ = STORES[store]
    pristine, _ = stores[store]
    path = str(tmp_path / store)
    shutil.copytree(pristine, path)
    assert append(docs, emb, path, "b1")["committed"]
    assert storeprotocol.fragmentation(spec, path, max_files_per_leaf=1)["compact"]
    before = _state(spark, spec, path)

    COMPACT[store](spark, path)
    assert _state(spark, spec, path) == before
    assert not storeprotocol.fragmentation(spec, path, max_files_per_leaf=1)["compact"]


def test_compaction_waits_for_the_store_lock(spark, built, tmp_path, monkeypatch):
    """A compaction swaps leaves, so it must not start while an append
    (or anything else holding the store lock) is mid-flight: a leaf
    moved to ``.swap-old`` after the append committed files into it
    would be deleted with the backup."""
    from dwp_hbase_to_mongo_export_spark.sinks import compaction

    docs, emb, stores = built
    path = str(tmp_path / "text")
    shutil.copytree(stores["text"][0], path)
    STORES["text"][4](docs, emb, path, "b1")
    before = _state(spark, textindex.SPEC, path)
    started = threading.Event()
    real = compaction.compact_partitioned_dir

    def watched(*a, **k):
        started.set()
        return real(*a, **k)

    monkeypatch.setattr(compaction, "compact_partitioned_dir", watched)
    out = {}
    worker = threading.Thread(
        target=lambda: out.update(res=textindex.compact_text_index(spark, path))
    )
    with storeprotocol._append_lock(path):
        worker.start()
        assert not started.wait(3), "compaction ran while the store lock was held"
        assert worker.is_alive() and not out
    worker.join(timeout=300)
    assert not worker.is_alive()
    assert out["res"]["n_compacted"] > 0
    assert _state(spark, textindex.SPEC, path) == before
