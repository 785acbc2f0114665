"""Durable MinHash-LSH dedup index lifecycle tests
(operators/dedupindex.py): build/append ≡ full rebuild, query vs the
one-shot oracle path, governance (incl. the meta-persisted id_col —
round-8 advice), and the torn-append recovery protocol shared with the
text index."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dwp_hbase_to_mongo_export_spark.operators import dedup, dedupindex, storeprotocol
from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

# small n_perm/k keep the Arrow signature pass cheap at test scale while
# exercising every band/bucket code path
PARAMS = dict(n_perm=8, rows_per_band=2, k=5, max_chars=256)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents").cache()
    yield df
    df.unpersist()


def _bands_set(spark, path):
    return {
        (r["doc_id"], r["band"], r["band_key"])
        for r in spark.read.parquet(path + "/bands").collect()
    }


def _sets_set(spark, path):
    return {
        (r["doc_id"], tuple(r["hs"]))
        for r in spark.read.parquet(path + "/sets").collect()
    }


def test_append_equals_full_build(spark, docs, tmp_path):
    """build(old) -> append(delta) is ROW-IDENTICAL to one build over
    old ∪ delta: signature state is per-document, so disjoint slices
    merge exactly — the property every downstream query result relies
    on."""
    corpus = docs.filter(F.col("doc_id") < 400)
    old = corpus.filter(F.col("doc_id") < 300)
    delta = corpus.filter(F.col("doc_id") >= 300)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    dedupindex.build_dedup_index(old, inc, **PARAMS)
    dedupindex.append_to_dedup_index(delta, inc)
    dedupindex.build_dedup_index(corpus, full, **PARAMS)
    assert _bands_set(spark, inc) == _bands_set(spark, full)
    assert _sets_set(spark, inc) == _sets_set(spark, full)
    m_inc = spark.read.parquet(inc + "/meta").head()
    m_full = spark.read.parquet(full + "/meta").head()
    for c in ("n_docs", "n_perm", "rows_per_band", "k", "max_chars", "id_col"):
        assert m_inc[c] == m_full[c], c
    # leftover protocol state never lingers after a clean append
    assert not os.path.exists(os.path.join(inc, storeprotocol._PENDING))
    assert not os.path.isdir(os.path.join(inc, storeprotocol._PENDING_IDS))


def test_query_matches_one_shot_lsh(spark, docs, tmp_path):
    """query_dedup_index(batch) returns exactly the cross (batch,
    corpus) pairs of the one-shot minhash_lsh_dedup over old ∪ batch —
    same signature kernel, same band shape, same verify threshold."""
    corpus = docs.filter((F.col("doc_id") % 10 != 9) & (F.col("doc_id") < 600))
    batch = docs.filter((F.col("doc_id") % 10 == 9) & (F.col("doc_id") < 600))
    path = str(tmp_path / "ix")
    dedupindex.build_dedup_index(corpus, path, **PARAMS)
    got = {
        (r["doc_id"], r["dup_of"], round(r["jaccard"], 6))
        for r in dedupindex.query_dedup_index(
            spark, path, batch, threshold=0.25
        ).collect()
    }
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    one_shot = dedup.minhash_lsh_dedup(
        corpus.unionByName(batch), threshold=0.25, **PARAMS
    ).collect()
    want = set()
    for r in one_shot:
        a, b, j = r["id_a"], r["id_b"], round(r["jaccard"], 6)
        if (a in batch_ids) != (b in batch_ids):  # cross pairs only
            want.add((a, b, j) if a in batch_ids else (b, a, j))
    assert got == want and want  # non-trivial: the fixture has near-dups


def test_governance_healthy_then_contract_violation(spark, docs, tmp_path):
    """A clean build+append governs healthy; re-appending an
    ALREADY-indexed id (the contract violation) is caught as a
    duplicate set row and the verdict is rebuild."""
    path = str(tmp_path / "ix")
    dedupindex.build_dedup_index(docs.filter(F.col("doc_id") < 300), path, **PARAMS)
    dedupindex.append_to_dedup_index(
        docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400)), path
    )
    sample = [0, 5, 50, 310, 399]
    res = dedupindex.dedup_index_governance(spark, path, sample)
    assert res["healthy"] and not res["rebuild"]
    assert res["n_ids_checked"] == len(sample)

    dedupindex.append_to_dedup_index(docs.filter(F.col("doc_id") == 5), path)
    res2 = dedupindex.dedup_index_governance(spark, path, sample)
    assert not res2["healthy"] and res2["rebuild"]
    assert res2["duplicate_ids"] == [5]


def test_governance_uses_meta_persisted_id_col(spark, docs, tmp_path):
    """Round-8 advice regression: governance previously hardcoded
    id_col='doc_id' and raised AnalysisException on a custom-id index.
    The id column is now persisted in meta at build time and read back
    by governance (and the append guards against mixing id columns)."""
    custom = docs.filter(F.col("doc_id") < 200).withColumnRenamed("doc_id", "vid")
    path = str(tmp_path / "ix")
    dedupindex.build_dedup_index(custom, path, id_col="vid", **PARAMS)
    assert spark.read.parquet(path + "/meta").head()["id_col"] == "vid"
    res = dedupindex.dedup_index_governance(spark, path, [0, 7, 42])
    assert res["healthy"] and res["n_ids_checked"] == 3
    with pytest.raises(ValueError, match="id_col"):
        dedupindex.append_to_dedup_index(
            docs.filter(F.col("doc_id") == 210), path, id_col="doc_id"
        )


@pytest.mark.slow
def test_torn_append_recovers_and_retries(spark, docs, tmp_path, monkeypatch):
    """The round-8 advice scenario end-to-end: an append crashes AFTER
    its band/set rows landed (before the meta swap). A blind retry
    would double-write them; recover_dedup_index_append purges the
    recorded delta ids, restores the recorded meta, and the SAME delta
    then re-appends to a state row-identical to a never-crashed one."""
    corpus = docs.filter(F.col("doc_id") < 400)
    old = corpus.filter(F.col("doc_id") < 300)
    delta = corpus.filter(F.col("doc_id") >= 300)
    path = str(tmp_path / "ix")
    dedupindex.build_dedup_index(old, path, **PARAMS)
    pre_bands, pre_sets = _bands_set(spark, path), _sets_set(spark, path)
    pre_meta = tuple(spark.read.parquet(path + "/meta").head())

    real_swap = storeprotocol._swap_write

    def boom(df, target, partition_by=None):
        raise RuntimeError("simulated crash before the meta swap")

    monkeypatch.setattr(storeprotocol, "_swap_write", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        dedupindex.append_to_dedup_index(delta, path)
    monkeypatch.setattr(storeprotocol, "_swap_write", real_swap)

    # torn: marker present, band/set rows already in the store
    assert os.path.exists(os.path.join(path, storeprotocol._PENDING))
    assert len(_bands_set(spark, path)) > len(pre_bands)
    with pytest.raises(ValueError, match="recover_dedup_index_append"):
        dedupindex.query_dedup_index(spark, path, delta)
    assert dedupindex.stored_fingerprint(spark, path) is None

    res = dedupindex.recover_dedup_index_append(spark, path)
    assert res["recovered"] and res["band_leaves_purged"] > 0
    assert _bands_set(spark, path) == pre_bands
    assert _sets_set(spark, path) == pre_sets
    assert tuple(spark.read.parquet(path + "/meta").head()) == pre_meta

    # the same delta re-appends safely (append auto-recovers too, so a
    # caller that skips the explicit recover call is equally safe)
    dedupindex.append_to_dedup_index(delta, path)
    full = str(tmp_path / "full")
    dedupindex.build_dedup_index(corpus, full, **PARAMS)
    assert _bands_set(spark, path) == _bands_set(spark, full)
    assert _sets_set(spark, path) == _sets_set(spark, full)
    assert (
        spark.read.parquet(path + "/meta").head()["n_docs"]
        == spark.read.parquet(full + "/meta").head()["n_docs"]
    )


def test_recover_is_noop_without_marker(spark, docs, tmp_path):
    path = str(tmp_path / "ix")
    dedupindex.build_dedup_index(docs.filter(F.col("doc_id") < 100), path, **PARAMS)
    assert dedupindex.recover_dedup_index_append(spark, path) == {
        "recovered": False
    }


def test_crashed_inplace_rebuild_leaves_build_marker(
    spark, docs, tmp_path, monkeypatch
):
    """Round-8 advice: an in-place REBUILD that dies mid-sequence used
    to leave new bands under old, readable meta with no trace. The
    _build-pending marker now brackets it: every reader refuses, the
    fingerprint reads as 'rebuild', and a completed rebuild clears it."""
    path = str(tmp_path / "ix")
    dedupindex.build_dedup_index(
        docs.filter(F.col("doc_id") < 100), path, fingerprint="v1", **PARAMS
    )

    def boom(*a, **k):
        raise RuntimeError("simulated crash mid-rebuild")

    monkeypatch.setattr(dedupindex, "_sig_relations", boom)
    with pytest.raises(RuntimeError, match="mid-rebuild"):
        dedupindex.build_dedup_index(
            docs.filter(F.col("doc_id") < 50), path, fingerprint="v2", **PARAMS
        )
    monkeypatch.undo()

    assert os.path.exists(os.path.join(path, storeprotocol._BUILD_PENDING))
    with pytest.raises(ValueError, match="rebuild died mid-flight"):
        dedupindex.query_dedup_index(spark, path, docs.filter(F.col("doc_id") < 5))
    with pytest.raises(ValueError, match="rebuild died mid-flight"):
        dedupindex.dedup_index_governance(spark, path, [0])
    with pytest.raises(ValueError, match="rebuild died mid-flight"):
        dedupindex.append_to_dedup_index(docs.filter(F.col("doc_id") == 200), path)
    assert dedupindex.stored_fingerprint(spark, path) is None

    dedupindex.build_dedup_index(
        docs.filter(F.col("doc_id") < 50), path, fingerprint="v2", **PARAMS
    )
    assert not os.path.exists(os.path.join(path, storeprotocol._BUILD_PENDING))
    assert dedupindex.stored_fingerprint(spark, path) == "v2"
    assert dedupindex.dedup_index_governance(spark, path, [0, 7])["healthy"]


@pytest.mark.slow
def test_recovery_survives_its_own_crash_mid_swap(spark, docs, tmp_path, monkeypatch):
    """A recovery run can itself die between a leaf swap's two renames,
    stranding that band leaf in `.swap-old` with no live target. The
    re-run must restore the stranded leaf BEFORE listing leaves (a
    naive listdir would miss it, or purge the backup dir as if it were
    a leaf) and then finish the purge — ending at the exact pre-append
    state, re-append equal to a clean build."""
    import os as _os

    corpus = docs.filter(F.col("doc_id") < 400)
    old = corpus.filter(F.col("doc_id") < 300)
    delta = corpus.filter(F.col("doc_id") >= 300)
    path = str(tmp_path / "ix")
    dedupindex.build_dedup_index(old, path, **PARAMS)
    pre_bands, pre_sets = _bands_set(spark, path), _sets_set(spark, path)

    def boom(df, target, partition_by=None):
        raise RuntimeError("simulated crash before the meta swap")

    monkeypatch.setattr(storeprotocol, "_swap_write", boom)
    with pytest.raises(RuntimeError):
        dedupindex.append_to_dedup_index(delta, path)
    monkeypatch.undo()

    # simulate the FIRST recovery dying between band=0's two renames:
    # the (already appended-to) leaf sits in .swap-old, target missing
    leaf = _os.path.join(path, "bands", "band=0")
    _os.rename(leaf, leaf + ".swap-old")

    res = dedupindex.recover_dedup_index_append(spark, path)
    assert res["recovered"] and res["band_leaves_purged"] == PARAMS["n_perm"] // 2
    assert _bands_set(spark, path) == pre_bands
    assert _sets_set(spark, path) == pre_sets

    dedupindex.append_to_dedup_index(delta, path)
    full = str(tmp_path / "full")
    dedupindex.build_dedup_index(corpus, full, **PARAMS)
    assert _bands_set(spark, path) == _bands_set(spark, full)
    assert _sets_set(spark, path) == _sets_set(spark, full)
