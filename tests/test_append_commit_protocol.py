"""Round-9-advice append commit-protocol tests, shared across all four
durable stores (text index, dedup signature index, IVF postings, PQ
codes):

* **commit ordering** — marker removal is the commit record and
  precedes the ids-record delete, so a crash between the two leaves a
  marker-LESS stale ids dir that is provably inert: recovery no-ops,
  the next append overwrites it, and the final artifact equals the
  never-crashed one. (The old order — ids dir first — could leave a
  live marker with no purge record after a fully committed append,
  which recovery mis-read as "skip the purge, restore meta": silent
  corruption.)
* **ambiguity handling** — a marker WITHOUT a committed ids record is
  auto-recoverable only when the marker proves the new ordering was in
  effect (``protocol: 2``): then nothing reached the store and recovery
  just cleans up, reporting ``store_untouched``. A pre-v2 marker in
  that state is ambiguous between 'nothing written' and 'fully
  committed' and must raise (advising rebuild) instead of silently
  restoring meta under possibly-committed rows.
"""

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


def _selective_rmtree_boom(monkeypatch, module, marker_dir_suffix):
    """Make the append's final ids-dir delete crash (and only that one:
    _swap_write's internal rmtrees must keep working)."""
    real = shutil.rmtree

    def boom(p, *a, **k):
        if str(p).endswith(marker_dir_suffix):
            raise RuntimeError("simulated crash after the commit point")
        return real(p, *a, **k)

    monkeypatch.setattr(module.shutil, "rmtree", boom)
    return real


# ---------------------------------------------------------------- text


@pytest.mark.slow
def test_text_crash_after_commit_point_is_inert(
    spark, docs, tmp_path, monkeypatch
):
    old = docs.filter(F.col("doc_id") < 300)
    delta = docs.filter(F.col("doc_id") >= 300)
    path = str(tmp_path / "ix")
    textindex.build_text_index(old, path)

    _selective_rmtree_boom(monkeypatch, storeprotocol, textindex._PENDING_DOCS)
    with pytest.raises(RuntimeError, match="after the commit point"):
        textindex.append_to_text_index(delta, path)
    monkeypatch.undo()

    # committed: marker gone, stale ids dir survives but is inert —
    # and the no-marker recovery CLEARS it (round-11 advice: a stale
    # committed ids record must never coexist with the next append's
    # fresh marker)
    assert not os.path.exists(os.path.join(path, storeprotocol._PENDING))
    assert os.path.isdir(os.path.join(path, textindex._PENDING_DOCS))
    assert textindex.recover_text_index_append(spark, path) == {
        "recovered": False,
        "stale_ids_cleared": True,
    }
    assert not os.path.isdir(os.path.join(path, textindex._PENDING_DOCS))

    full = str(tmp_path / "full")
    textindex.build_text_index(docs, full)
    terms = ["table", "scan", "merge"]
    got = textindex.query_text_index(spark, path, terms, top_n=10).collect()
    want = textindex.query_text_index(spark, full, terms, top_n=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_text_protocol2_marker_without_ids_record_cleans_up(
    spark, docs, tmp_path
):
    path = str(tmp_path / "ix")
    textindex.build_text_index(
        docs.filter(F.col("doc_id") < 100), path, fingerprint="v1"
    )
    pre_meta = tuple(spark.read.parquet(path + "/meta").head())
    m = spark.read.parquet(path + "/meta").head()
    with open(os.path.join(path, storeprotocol._PENDING), "w") as f:
        f.write(
            json.dumps(
                {
                    "protocol": 2,
                    "n_docs": int(m["n_docs"]),
                    "n_tok_docs": int(m["n_tok_docs"]),
                    "sum_dl": int(m["sum_dl"]),
                    "fingerprint": m["fingerprint"],
                }
            )
        )
    # partial ids record: directory exists, no _SUCCESS
    pdocs = os.path.join(path, textindex._PENDING_DOCS)
    os.makedirs(pdocs)
    res = textindex.recover_text_index_append(spark, path)
    assert res["recovered"] and res["store_untouched"]
    assert res["buckets_purged"] == 0
    assert not os.path.exists(os.path.join(path, storeprotocol._PENDING))
    assert not os.path.isdir(pdocs)
    # meta untouched (n_docs/avgdl not reverted, fingerprint kept)
    assert tuple(spark.read.parquet(path + "/meta").head()) == pre_meta
    # and the store is queryable again
    textindex.query_text_index(spark, path, ["table"], top_n=3).collect()


def test_text_legacy_marker_without_ids_record_raises(spark, docs, tmp_path):
    path = str(tmp_path / "ix")
    textindex.build_text_index(docs.filter(F.col("doc_id") < 100), path)
    m = spark.read.parquet(path + "/meta").head()
    with open(os.path.join(path, storeprotocol._PENDING), "w") as f:
        f.write(
            json.dumps(
                {
                    "n_docs": int(m["n_docs"]),
                    "n_tok_docs": int(m["n_tok_docs"]),
                    "sum_dl": int(m["sum_dl"]),
                    "fingerprint": m["fingerprint"],
                }
            )
        )
    with pytest.raises(ValueError, match="ambiguous"):
        textindex.recover_text_index_append(spark, path)
    # the loud state persists: append's entry-time recovery refuses too
    with pytest.raises(ValueError, match="ambiguous"):
        textindex.append_to_text_index(
            docs.filter(F.col("doc_id") >= 300), path
        )


# --------------------------------------------------------------- dedup


@pytest.mark.slow
def test_dedup_crash_after_commit_point_is_inert(
    spark, docs, tmp_path, monkeypatch
):
    corpus = docs.filter(F.col("doc_id") < 400)
    old = corpus.filter(F.col("doc_id") < 300)
    delta = corpus.filter(F.col("doc_id") >= 300)
    path = str(tmp_path / "ix")
    dedupindex.build_dedup_index(old, path, **PARAMS)

    _selective_rmtree_boom(monkeypatch, storeprotocol, storeprotocol._PENDING_IDS)
    with pytest.raises(RuntimeError, match="after the commit point"):
        dedupindex.append_to_dedup_index(delta, path)
    monkeypatch.undo()

    assert not os.path.exists(os.path.join(path, storeprotocol._PENDING))
    assert os.path.isdir(os.path.join(path, storeprotocol._PENDING_IDS))
    assert dedupindex.recover_dedup_index_append(spark, path) == {
        "recovered": False,
        "stale_ids_cleared": True,
    }
    assert not os.path.isdir(os.path.join(path, storeprotocol._PENDING_IDS))

    full = str(tmp_path / "full")
    dedupindex.build_dedup_index(corpus, full, **PARAMS)
    got = {
        (r["doc_id"], r["band"], r["band_key"])
        for r in spark.read.parquet(path + "/bands").collect()
    }
    want = {
        (r["doc_id"], r["band"], r["band_key"])
        for r in spark.read.parquet(full + "/bands").collect()
    }
    assert got == want
    assert (
        spark.read.parquet(path + "/meta").head()["n_docs"]
        == spark.read.parquet(full + "/meta").head()["n_docs"]
    )


def test_dedup_protocol2_marker_without_ids_record_cleans_up(
    spark, docs, tmp_path
):
    path = str(tmp_path / "ix")
    dedupindex.build_dedup_index(
        docs.filter(F.col("doc_id") < 100), path, fingerprint="v1", **PARAMS
    )
    pre_meta = tuple(spark.read.parquet(path + "/meta").head())
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
    assert res["band_leaves_purged"] == 0 and res["set_leaves_purged"] == 0
    assert not os.path.exists(os.path.join(path, storeprotocol._PENDING))
    assert tuple(spark.read.parquet(path + "/meta").head()) == pre_meta
    assert dedupindex.stored_fingerprint(spark, path) == "v1"


def test_dedup_legacy_marker_without_ids_record_raises(spark, docs, tmp_path):
    path = str(tmp_path / "ix")
    dedupindex.build_dedup_index(
        docs.filter(F.col("doc_id") < 100), path, **PARAMS
    )
    m = spark.read.parquet(path + "/meta").head()
    with open(os.path.join(path, storeprotocol._PENDING), "w") as f:
        f.write(
            json.dumps(
                {"n_docs": int(m["n_docs"]), "fingerprint": m["fingerprint"]}
            )
        )
    with pytest.raises(ValueError, match="ambiguous"):
        dedupindex.recover_dedup_index_append(spark, path)


# ----------------------------------------------------------------- ivf


def _small_ivf(spark, emb, path):
    cents = similarity._resolve_centroids(
        emb.filter(F.col("vec_id") < 200), None, 50, None, "vec_id", "embedding"
    )
    idx = similarity._nearest_centroids(
        emb.filter(F.col("vec_id") % 2 == 0), cents, 1, "embedding", "cluster"
    ).select(
        "cluster",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
    )
    similarity.save_ivf_index(idx, cents, path)


def test_ivf_crash_after_commit_point_is_inert(
    spark, emb, tmp_path, monkeypatch
):
    path = str(tmp_path / "ivf")
    _small_ivf(spark, emb, path)
    new = emb.filter(F.col("vec_id") % 2 == 1)

    _selective_rmtree_boom(monkeypatch, storeprotocol, storeprotocol._PENDING_IDS)
    with pytest.raises(RuntimeError, match="after the commit point"):
        similarity.append_to_ivf_index(path, new)
    monkeypatch.undo()

    assert not os.path.exists(os.path.join(path, storeprotocol._PENDING))
    assert os.path.isdir(os.path.join(path, storeprotocol._PENDING_IDS))
    assert similarity.recover_ivf_index_append(spark, path) == {
        "recovered": False,
        "stale_ids_cleared": True,
    }
    assert not os.path.isdir(os.path.join(path, storeprotocol._PENDING_IDS))
    # the appended rows are all committed exactly once
    assert spark.read.parquet(path + "/postings").count() == emb.count()
    gov = similarity.ivf_index_governance(spark, path, list(range(10)), k=5)
    assert gov["duplicate_ids"] == []


def test_ivf_protocol2_marker_without_ids_record_cleans_up(
    spark, emb, tmp_path
):
    path = str(tmp_path / "ivf")
    _small_ivf(spark, emb, path)
    pre = spark.read.parquet(path + "/postings").count()
    with open(os.path.join(path, storeprotocol._PENDING), "w") as f:
        f.write(json.dumps({"kind": "ivf", "protocol": 2}))
    res = similarity.recover_ivf_index_append(spark, path)
    assert res["recovered"] and res["store_untouched"]
    assert res["cluster_leaves_purged"] == 0
    assert not os.path.exists(os.path.join(path, storeprotocol._PENDING))
    assert spark.read.parquet(path + "/postings").count() == pre


def test_ivf_legacy_marker_without_ids_record_raises(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    _small_ivf(spark, emb, path)
    with open(os.path.join(path, storeprotocol._PENDING), "w") as f:
        f.write(json.dumps({"kind": "ivf"}))
    with pytest.raises(ValueError, match="ambiguous"):
        similarity.recover_ivf_index_append(spark, path)


# ------------------------------------------------------------------ pq


def test_pq_crash_after_commit_point_is_inert(spark, emb, tmp_path, monkeypatch):
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    codes, books = similarity.build_pq_index(old, m=4, k_codes=8, iters=2)
    path = str(tmp_path / "pq")
    similarity.save_pq_index(codes, books, path)

    _selective_rmtree_boom(monkeypatch, storeprotocol, storeprotocol._PENDING_IDS)
    with pytest.raises(RuntimeError, match="after the commit point"):
        similarity.append_to_pq_index(path, new)
    monkeypatch.undo()

    assert not os.path.exists(os.path.join(path, storeprotocol._PENDING))
    assert os.path.isdir(os.path.join(path, storeprotocol._PENDING_IDS))
    assert similarity.recover_pq_index_append(spark, path) == {
        "recovered": False,
        "stale_ids_cleared": True,
    }
    assert not os.path.isdir(os.path.join(path, storeprotocol._PENDING_IDS))
    got = spark.read.parquet(path + "/codes")
    assert got.count() == emb.count()
    assert got.select("vec_id").distinct().count() == emb.count()


def test_pq_protocol2_marker_without_ids_record_cleans_up(spark, emb, tmp_path):
    codes, books = similarity.build_pq_index(
        emb.filter(F.col("vec_id") < 200), m=4, k_codes=8, iters=2
    )
    path = str(tmp_path / "pq")
    similarity.save_pq_index(codes, books, path)
    pre = spark.read.parquet(path + "/codes").count()
    with open(os.path.join(path, storeprotocol._PENDING), "w") as f:
        f.write(json.dumps({"kind": "pq", "id_col": "vec_id", "protocol": 2}))
    res = similarity.recover_pq_index_append(spark, path)
    assert res["recovered"] and res["store_untouched"]
    assert res["codes_purged"] is False
    assert not os.path.exists(os.path.join(path, storeprotocol._PENDING))
    assert spark.read.parquet(path + "/codes").count() == pre


def test_pq_legacy_marker_without_ids_record_raises(spark, emb, tmp_path):
    codes, books = similarity.build_pq_index(
        emb.filter(F.col("vec_id") < 200), m=4, k_codes=8, iters=2
    )
    path = str(tmp_path / "pq")
    similarity.save_pq_index(codes, books, path)
    with open(os.path.join(path, storeprotocol._PENDING), "w") as f:
        f.write(json.dumps({"kind": "pq", "id_col": "vec_id"}))
    with pytest.raises(ValueError, match="ambiguous"):
        similarity.recover_pq_index_append(spark, path)


@pytest.mark.parametrize("isin_max", [None, 0], ids=["not-in", "anti-join"])
def test_batched_leaf_purge_null_purge_key(spark, tmp_path, monkeypatch, isin_max):
    """A NULL in the purge list matches nothing: purging [1, NULL] from
    store keys {1, 2, 3, NULL} keeps {2, 3, NULL} on both purge
    branches — the inlined NOT-IN predicate (small lists) and the
    broadcast anti-join (``_ISIN_PURGE_MAX = 0`` forces it)."""
    if isin_max is not None:
        monkeypatch.setattr(storeprotocol, "_ISIN_PURGE_MAX", isin_max)
    sdir = str(tmp_path / "store")
    spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 1), (None, "d", 1)],
        "id long, v string, part int",
    ).write.partitionBy("part").parquet(sdir)
    purge = spark.createDataFrame([(1,), (None,)], "id long")
    leaves = storeprotocol._batched_leaf_purge(spark, sdir, "part=", purge, "id")
    assert leaves == ["part=0", "part=1"]
    kept = spark.read.parquet(sdir)
    assert sorted(r.id for r in kept.collect() if r.id is not None) == [2, 3]
    assert kept.filter(F.col("id").isNull()).count() == 1
