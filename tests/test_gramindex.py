"""Durable gram index (operators/gramindex.py) — the span family's
fifth store: build/append equivalence to the index-free form, the
distinct-store contract under overlapping deltas, the full shared crash
protocol (torn append, commit-point ordering, protocol-2 untouched
proof, batch-id idempotence), reader refusal, governance verdicts, and
the streaming epoch binding."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from dwp_hbase_to_mongo_export_spark.operators import gramindex, spandedup, storeprotocol
from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents").cache()
    yield df
    df.unpersist()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _store_ghs(spark, path):
    return sorted(
        r.gh for r in spark.read.parquet(os.path.join(path, "grams")).collect()
    )


def _meta(spark, path):
    return tuple(spark.read.parquet(os.path.join(path, "meta")).head())


# ------------------------------------------------------------ equivalence


def test_indexed_strip_equals_index_free(spark, docs, tmp_path):
    corpus = docs.filter(F.col("doc_id") % 10 != 9)
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    path = str(tmp_path / "gx")
    gramindex.build_gram_index(corpus, path, n=8)
    got = gramindex.strip_spans_with_index(spark, path, batch)
    want = spandedup.strip_spans_against_corpus(batch, corpus, n=8)
    assert _rows(got) == _rows(want)


def test_append_equals_rebuild(spark, docs, tmp_path):
    old = docs.filter((F.col("doc_id") % 10 != 9) & (F.col("doc_id") < 300))
    delta = docs.filter((F.col("doc_id") % 10 != 9) & (F.col("doc_id") >= 300))
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    inc = str(tmp_path / "inc")
    gramindex.build_gram_index(old, inc, n=8)
    res = gramindex.append_to_gram_index(delta, inc)
    assert res["committed"]
    full = str(tmp_path / "full")
    gramindex.build_gram_index(docs.filter(F.col("doc_id") % 10 != 9), full, n=8)
    assert _store_ghs(spark, inc) == _store_ghs(spark, full)
    got = gramindex.strip_spans_with_index(spark, inc, batch)
    want = gramindex.strip_spans_with_index(spark, full, batch)
    assert _rows(got) == _rows(want)
    # meta counts merged exactly (n_grams equals the rebuilt store's)
    assert _meta(spark, inc)[1] == _meta(spark, full)[1]


def test_overlapping_delta_never_double_writes(spark, tmp_path):
    base = spark.createDataFrame(
        [(0, "a b c d e f g h i")], "doc_id bigint, text string"
    )
    # delta doc shares gram a..h with the stored corpus AND adds new ones
    delta = spark.createDataFrame(
        [(1, "a b c d e f g h z1 z2 z3 z4 z5 z6 z7")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "gx")
    gramindex.build_gram_index(base, path, n=8)
    n_before = len(_store_ghs(spark, path))
    res = gramindex.append_to_gram_index(delta, path)
    ghs = _store_ghs(spark, path)
    # store stays globally distinct; only genuinely new hashes landed
    assert len(ghs) == len(set(ghs))
    assert res["grams_inserted"] == len(ghs) - n_before
    m = _meta(spark, path)
    assert m[0] == 2 and m[1] == len(ghs)  # n_docs, n_grams exact
    gov = gramindex.gram_index_governance(spark, path, sample_buckets=64)
    assert gov["healthy"] and not gov["rebuild"]
    # re-ingesting the SAME doc id: n_grams stays exact (no new hashes)
    # but n_docs counts doc ingests observed, not distinct corpus docs —
    # the documented semantics under the overlap-allowed contract
    res2 = gramindex.append_to_gram_index(delta, path)
    assert res2["grams_inserted"] == 0
    m2 = _meta(spark, path)
    assert m2[0] == 3 and m2[1] == len(ghs)
    assert _store_ghs(spark, path) == ghs


# ------------------------------------------------------------ crash protocol


def test_torn_append_recovers_to_pre_append_state(spark, docs, tmp_path, monkeypatch):
    corpus = docs.filter((F.col("doc_id") % 10 != 9) & (F.col("doc_id") < 300))
    delta = docs.filter((F.col("doc_id") % 10 != 9) & (F.col("doc_id") >= 300))
    path = str(tmp_path / "gx")
    gramindex.build_gram_index(corpus, path, n=8, fingerprint="v1")
    pre_ghs, pre_meta = _store_ghs(spark, path), _meta(spark, path)

    # crash right after the gram rows landed (before the meta swap):
    # fail the swap-write of meta
    real = storeprotocol._swap_write

    def boom(df, target, partition_by=None):
        if target.endswith("meta"):
            raise RuntimeError("simulated crash before meta merge")
        return real(df, target, partition_by)

    monkeypatch.setattr(storeprotocol, "_swap_write", boom)
    with pytest.raises(RuntimeError, match="before meta merge"):
        gramindex.append_to_gram_index(delta, path, batch_id="b1")
    monkeypatch.undo()

    # marker live -> readers refuse loudly
    with pytest.raises(ValueError, match="append is pending"):
        gramindex.strip_spans_with_index(
            spark, path, docs.filter(F.col("doc_id") % 10 == 9)
        )
    assert gramindex.stored_fingerprint(spark, path) is None

    res = gramindex.recover_gram_index_append(spark, path)
    assert res["recovered"] and res["leaves_purged"] > 0
    assert _store_ghs(spark, path) == pre_ghs
    assert _meta(spark, path) == pre_meta
    # the crashed batch id was never committed: the re-append must run
    res2 = gramindex.append_to_gram_index(delta, path, batch_id="b1")
    assert res2["committed"] and not res2["skipped_duplicate_batch"]


def test_crash_after_commit_point_is_inert(spark, docs, tmp_path, monkeypatch):
    corpus = docs.filter((F.col("doc_id") % 10 != 9) & (F.col("doc_id") < 300))
    delta = docs.filter((F.col("doc_id") % 10 != 9) & (F.col("doc_id") >= 300))
    path = str(tmp_path / "gx")
    gramindex.build_gram_index(corpus, path, n=8)

    real = shutil.rmtree

    def boom(p, *a, **k):
        if str(p).endswith(storeprotocol._PENDING_IDS):
            raise RuntimeError("simulated crash after the commit point")
        return real(p, *a, **k)

    monkeypatch.setattr(storeprotocol.shutil, "rmtree", boom)
    with pytest.raises(RuntimeError, match="after the commit point"):
        gramindex.append_to_gram_index(delta, path)
    monkeypatch.undo()

    # committed: marker gone, stale ids dir survives the crash but is
    # inert — and the no-marker recovery CLEARS it (round-11 advice: a
    # surviving stale ids record could pair with the NEXT append's
    # marker if that append crashed pre-overwrite, making recovery
    # purge committed rows)
    assert not os.path.exists(os.path.join(path, storeprotocol._PENDING))
    assert os.path.isdir(os.path.join(path, storeprotocol._PENDING_IDS))
    assert gramindex.recover_gram_index_append(spark, path) == {
        "recovered": False,
        "stale_ids_cleared": True,
    }
    assert not os.path.isdir(os.path.join(path, storeprotocol._PENDING_IDS))
    full = str(tmp_path / "full")
    gramindex.build_gram_index(
        docs.filter(F.col("doc_id") % 10 != 9).filter(
            (F.col("doc_id") < 300) | (F.col("doc_id") >= 300)
        ),
        full,
        n=8,
    )
    assert _store_ghs(spark, path) == _store_ghs(spark, full)


def test_stale_ids_record_cannot_poison_next_append(
    spark, docs, tmp_path, monkeypatch
):
    """Round-11 advice (the medium finding): a post-commit crash leaves
    a marker-less COMMITTED ids record; the next append writes its
    marker BEFORE the ids overwrite, so a crash in that window used to
    pair the fresh marker with the previous batch's committed ids —
    recovery would purge committed gram rows while restoring meta that
    counts them. Prevention: every append's entry recovery clears the
    stale record, so the dangerous pairing can no longer be
    constructed. This drills the exact production sequence."""
    corpus = docs.filter((F.col("doc_id") % 10 != 9) & (F.col("doc_id") < 300))
    delta = docs.filter((F.col("doc_id") % 10 != 9) & (F.col("doc_id") >= 300))
    path = str(tmp_path / "gx")
    gramindex.build_gram_index(corpus, path, n=8)

    # step 1: append commits but dies before the ids-record delete
    real = shutil.rmtree

    def boom(p, *a, **k):
        if str(p).endswith(storeprotocol._PENDING_IDS):
            raise RuntimeError("simulated crash after the commit point")
        return real(p, *a, **k)

    monkeypatch.setattr(storeprotocol.shutil, "rmtree", boom)
    with pytest.raises(RuntimeError, match="after the commit point"):
        gramindex.append_to_gram_index(delta, path)
    monkeypatch.undo()
    committed = _store_ghs(spark, path)
    committed_meta = _meta(spark, path)

    # step 2: the next append's FIRST act is entry recovery — which must
    # clear the stale committed ids record before any new marker exists
    res = storeprotocol._recover(gramindex.SPEC, spark, path)
    assert res == {"recovered": False, "stale_ids_cleared": True}
    assert not os.path.isdir(os.path.join(path, storeprotocol._PENDING_IDS))

    # step 3: that next append now crashes right after writing its
    # marker (before its own ids overwrite) — the exact window the
    # advice names. With the stale record gone, recovery PROVES the
    # store untouched instead of purging step 1's committed rows.
    m = spark.read.parquet(os.path.join(path, "meta")).head()
    with open(os.path.join(path, storeprotocol._PENDING), "w") as f:
        f.write(
            json.dumps(
                {
                    "protocol": 2,
                    "n_docs": int(m["n_docs"]),
                    "n_grams": int(m["n_grams"]),
                    "n": int(m["n"]),
                    "fingerprint": m["fingerprint"],
                    "last_append": gramindex.read_last_append(path),
                }
            )
        )
    res = gramindex.recover_gram_index_append(spark, path)
    assert res["recovered"] and res["store_untouched"]
    assert _store_ghs(spark, path) == committed
    assert _meta(spark, path) == committed_meta


def test_protocol2_marker_without_ids_record_cleans_up(spark, docs, tmp_path):
    path = str(tmp_path / "gx")
    gramindex.build_gram_index(
        docs.filter(F.col("doc_id") < 100), path, n=8, fingerprint="v1"
    )
    pre_meta = _meta(spark, path)
    m = spark.read.parquet(path + "/meta").head()
    with open(os.path.join(path, storeprotocol._PENDING), "w") as f:
        f.write(
            json.dumps(
                {
                    "protocol": 2,
                    "n_docs": int(m["n_docs"]),
                    "n_grams": int(m["n_grams"]),
                    "n": int(m["n"]),
                    "fingerprint": m["fingerprint"],
                }
            )
        )
    pids = os.path.join(path, storeprotocol._PENDING_IDS)
    os.makedirs(pids)  # partial record: no _SUCCESS
    res = gramindex.recover_gram_index_append(spark, path)
    assert res["recovered"] and res["store_untouched"]
    assert not os.path.exists(os.path.join(path, storeprotocol._PENDING))
    assert not os.path.isdir(pids)
    assert _meta(spark, path) == pre_meta


def test_legacy_marker_without_ids_record_raises(spark, docs, tmp_path):
    path = str(tmp_path / "gx")
    gramindex.build_gram_index(docs.filter(F.col("doc_id") < 100), path, n=8)
    m = spark.read.parquet(path + "/meta").head()
    with open(os.path.join(path, storeprotocol._PENDING), "w") as f:
        f.write(
            json.dumps(
                {
                    "n_docs": int(m["n_docs"]),
                    "n_grams": int(m["n_grams"]),
                    "n": int(m["n"]),
                }
            )
        )
    with pytest.raises(ValueError, match="rebuild the gram index"):
        gramindex.recover_gram_index_append(spark, path)


# ------------------------------------------------------------ idempotence


def test_same_batch_id_twice_noops(spark, docs, tmp_path):
    corpus = docs.filter((F.col("doc_id") % 10 != 9) & (F.col("doc_id") < 300))
    delta = docs.filter((F.col("doc_id") % 10 != 9) & (F.col("doc_id") >= 300))
    path = str(tmp_path / "gx")
    gramindex.build_gram_index(corpus, path, n=8)
    r1 = gramindex.append_to_gram_index(delta, path, batch_id="e7")
    assert r1["committed"]
    ghs = _store_ghs(spark, path)
    meta = _meta(spark, path)
    r2 = gramindex.append_to_gram_index(delta, path, batch_id="e7")
    assert r2 == {"committed": False, "skipped_duplicate_batch": True}
    assert _store_ghs(spark, path) == ghs and _meta(spark, path) == meta


@pytest.mark.slow
def test_rebuild_clears_the_idempotence_record(spark, docs, tmp_path):
    small = docs.filter(F.col("doc_id") < 100)
    delta = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    path = str(tmp_path / "gx")
    gramindex.build_gram_index(small, path, n=8)
    gramindex.append_to_gram_index(delta, path, batch_id="e1")
    gramindex.build_gram_index(small, path, n=8)  # in-place rebuild
    # e1 must append again against the rebuilt artifact
    r = gramindex.append_to_gram_index(delta, path, batch_id="e1")
    assert r["committed"] and not r["skipped_duplicate_batch"]


@pytest.mark.slow
def test_streaming_epoch_ingest_exactly_once(spark, docs, tmp_path):
    from dwp_hbase_to_mongo_export_spark.streaming import incremental

    corpus = docs.filter((F.col("doc_id") % 10 != 9) & (F.col("doc_id") < 200))
    deltas = docs.filter(
        (F.col("doc_id") % 10 != 9) & (F.col("doc_id") >= 200)
    ).select("doc_id", "text")
    delta_dir = str(tmp_path / "delta")
    deltas.repartition(3).write.parquet(delta_dir)
    path = str(tmp_path / "gx")
    gramindex.build_gram_index(corpus, path, n=8)
    ckpt = str(tmp_path / "ckpt")
    res = incremental.gram_index_stream_ingest(
        spark, delta_dir, path, checkpoint_dir=ckpt
    )
    assert res["epochs"] >= 1
    # drained stream ≡ batch build over corpus ∪ deltas
    ref = str(tmp_path / "ref")
    gramindex.build_gram_index(
        corpus.select("doc_id", "text").unionByName(deltas), ref, n=8
    )
    assert _store_ghs(spark, path) == _store_ghs(spark, ref)
    # restart on the same checkpoint re-delivers nothing
    res2 = incremental.gram_index_stream_ingest(
        spark, delta_dir, path, checkpoint_dir=ckpt
    )
    assert res2["epochs"] == 0
    assert _store_ghs(spark, path) == _store_ghs(spark, ref)


@pytest.mark.slow
def test_streaming_ingest_auto_compacts_between_epochs(spark, docs, tmp_path):
    """Round-10 verdict #5: the WHEN-compact verdict must be ACTED on.
    Epoch-per-file ingest fragments the gram leaves; with a tight
    max_files_per_leaf the between-epoch maintenance hook must fire at
    least one compaction under the store lock, reads must stay
    hash-identical to a never-compacted batch build, and the final
    store must no longer flag."""
    from dwp_hbase_to_mongo_export_spark.streaming import incremental

    corpus = docs.filter((F.col("doc_id") % 10 != 9) & (F.col("doc_id") < 200))
    deltas = docs.filter(
        (F.col("doc_id") % 10 != 9) & (F.col("doc_id") >= 200)
    ).select("doc_id", "text")
    delta_dir = str(tmp_path / "delta")
    deltas.repartition(6).write.parquet(delta_dir)
    path = str(tmp_path / "gx")
    gramindex.build_gram_index(corpus, path, n=8)
    res = incremental.gram_index_stream_ingest(
        spark,
        delta_dir,
        path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        compact_max_files_per_leaf=2,
    )
    assert res["epochs"] >= 4 and res["compactions"] >= 1
    ref = str(tmp_path / "ref")
    gramindex.build_gram_index(
        corpus.select("doc_id", "text").unionByName(deltas), ref, n=8
    )
    assert _store_ghs(spark, path) == _store_ghs(spark, ref)
    gov = gramindex.gram_index_governance(
        spark, path, sample_buckets=64, max_files_per_leaf=2
    )
    assert gov["healthy"] and not gov["compact"]
    # opting out leaves the verdict unacted-on (0 compactions)
    path2 = str(tmp_path / "gx2")
    gramindex.build_gram_index(corpus, path2, n=8)
    res2 = incremental.gram_index_stream_ingest(
        spark,
        delta_dir,
        path2,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        auto_compact=False,
    )
    assert res2["compactions"] == 0
    assert _store_ghs(spark, path2) == _store_ghs(spark, ref)


# ------------------------------------------------------------ governance


def test_governance_flags_planted_duplicates(spark, docs, tmp_path):
    path = str(tmp_path / "gx")
    gramindex.build_gram_index(docs.filter(F.col("doc_id") < 200), path, n=8)
    # violate the distinct contract behind the append's back: copy one
    # leaf's rows into itself
    grams_dir = os.path.join(path, "grams")
    leaf = sorted(d for d in os.listdir(grams_dir) if d.startswith("bucket="))[0]
    leaf_df = spark.read.parquet(os.path.join(grams_dir, leaf))
    leaf_df.write.mode("append").parquet(os.path.join(grams_dir, leaf))
    gov = gramindex.gram_index_governance(spark, path, sample_buckets=64)
    assert not gov["healthy"] and gov["rebuild"]
    assert leaf in gov["duplicate_leaves"]


@pytest.mark.slow
def test_governance_compact_verdict_after_many_appends(spark, tmp_path):
    base = spark.createDataFrame(
        [(0, "w1 w2 w3 w4 w5 w6 w7 w8 w9")], "doc_id bigint, text string"
    )
    path = str(tmp_path / "gx")
    gramindex.build_gram_index(base, path, n=8)
    for i in range(10):
        delta = spark.createDataFrame(
            [(100 + i, " ".join(f"x{i}y{j}" for j in range(12)))],
            "doc_id bigint, text string",
        )
        gramindex.append_to_gram_index(delta, path)
    gov = gramindex.gram_index_governance(
        spark, path, sample_buckets=64, max_files_per_leaf=2
    )
    assert gov["healthy"]  # distinct contract intact
    assert gov["compact"]  # but fragmented enough to compact
    res = gramindex.compact_gram_index(spark, path)
    assert res["n_compacted"] >= 1
    gov2 = gramindex.gram_index_governance(
        spark, path, sample_buckets=64, max_files_per_leaf=2
    )
    assert not gov2["compact"]


def test_build_pending_refused_and_fingerprint_none(spark, docs, tmp_path):
    path = str(tmp_path / "gx")
    gramindex.build_gram_index(docs.filter(F.col("doc_id") < 100), path, n=8)
    marker = os.path.join(path, storeprotocol._BUILD_PENDING)
    open(marker, "w").close()
    with pytest.raises(ValueError, match="rebuild died mid-flight"):
        gramindex.strip_spans_with_index(
            spark, path, docs.filter(F.col("doc_id") % 10 == 9)
        )
    with pytest.raises(ValueError, match="rebuild the gram index"):
        gramindex.append_to_gram_index(docs.limit(5), path)
    assert gramindex.stored_fingerprint(spark, path) is None
    os.remove(marker)
    assert gramindex.stored_fingerprint(spark, path) == ""


def test_concurrent_appends_serialize_not_corrupt(spark, docs, tmp_path):
    """The store-family race pin, applied to the fifth store: two
    appends racing on one gram store must queue on the _append.lock —
    both commit, result ≡ clean build over old ∪ d1 ∪ d2."""
    from concurrent.futures import ThreadPoolExecutor

    old = docs.filter(F.col("doc_id") < 300)
    d1 = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 350))
    d2 = docs.filter((F.col("doc_id") >= 350) & (F.col("doc_id") < 400))
    path = str(tmp_path / "gx")
    gramindex.build_gram_index(old, path, n=8)

    with ThreadPoolExecutor(2) as ex:
        futs = [
            ex.submit(gramindex.append_to_gram_index, d, path, batch_id=b)
            for d, b in ((d1, "b1"), (d2, "b2"))
        ]
        results = [f.result() for f in futs]
    assert all(r["committed"] for r in results)

    full = str(tmp_path / "full")
    gramindex.build_gram_index(docs.filter(F.col("doc_id") < 400), full, n=8)
    assert _store_ghs(spark, path) == _store_ghs(spark, full)
    assert _meta(spark, path)[:2] == _meta(spark, full)[:2]


# ------------------------------------------------------- normalised policy


def test_normalised_store_equals_index_free_normalised(spark, docs, tmp_path):
    """The policy x index matrix closes: a normalised-policy store's
    indexed strip is bit-identical to the index-free normalised form,
    and differs from the strict store exactly where case/punct-variant
    boilerplate exists."""
    corpus = docs.filter(F.col("doc_id") % 10 != 9)
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    path = str(tmp_path / "gxn")
    gramindex.build_gram_index(corpus, path, n=8, normalise=True)
    assert spark.read.parquet(os.path.join(path, "meta")).head()["normalise"]
    got = gramindex.strip_spans_with_index(spark, path, batch)
    want = spandedup.strip_spans_against_corpus(
        batch, corpus, n=8, normalise=True
    )
    assert _rows(got) == _rows(want)


def test_normalised_policy_survives_append_and_recovery(spark, tmp_path):
    """Appends and torn-append recovery read the policy from meta/the
    marker — a normalised store keeps matching case-variant text after
    both, and meta still says normalise=True."""
    base = spark.createDataFrame(
        [(0, "The Quick! Brown Fox jumps over lazy dogs now")],
        "doc_id bigint, text string",
    )
    delta = spark.createDataFrame(
        [(1, "entirely new words appended here for gram growth")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "gxn")
    gramindex.build_gram_index(base, path, n=8, normalise=True)
    res = gramindex.append_to_gram_index(delta, path)
    assert res["committed"]
    m = spark.read.parquet(os.path.join(path, "meta")).head()
    assert m["normalise"]
    # a case/punct variant of the BASE doc strips fully against the store
    probe = spark.createDataFrame(
        [(9, "the quick brown fox jumps over lazy dogs")],
        "doc_id bigint, text string",
    )
    out = gramindex.strip_spans_with_index(spark, path, probe).head()
    assert out["text_deduped"] == "" and out["n_removed"] == 8
    # torn append: recovery restores meta WITH the policy bit
    real = shutil.rmtree
    import pytest as _pytest

    def boom(p, *a, **k):
        if str(p).endswith(storeprotocol._PENDING_IDS):
            raise RuntimeError("simulated crash after the commit point")
        return real(p, *a, **k)

    import unittest.mock as _mock

    with _mock.patch.object(storeprotocol.shutil, "rmtree", side_effect=boom):
        with _pytest.raises(RuntimeError, match="after the commit point"):
            gramindex.append_to_gram_index(
                spark.createDataFrame(
                    [(2, "yet another totally fresh sentence of eight words")],
                    "doc_id bigint, text string",
                ),
                path,
            )
    gramindex.recover_gram_index_append(spark, path)
    m2 = spark.read.parquet(os.path.join(path, "meta")).head()
    assert m2["normalise"]


def test_pre_policy_meta_reads_as_strict(spark, docs, tmp_path):
    """A pre-round-11 store's meta lacks the normalise column. Its
    policy is not read as a guessed default: probes refuse the store
    and ask for a rebuild."""
    corpus = docs.filter((F.col("doc_id") % 10 != 9) & (F.col("doc_id") < 200))
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    path = str(tmp_path / "gx")
    gramindex.build_gram_index(corpus, path, n=8)
    # rewrite meta in the pre-policy schema (no normalise column)
    m = spark.read.parquet(os.path.join(path, "meta")).head()
    spark.createDataFrame(
        [(int(m["n_docs"]), int(m["n_grams"]), int(m["n"]), m["fingerprint"])],
        "n_docs bigint, n_grams bigint, n int, fingerprint string",
    ).write.mode("overwrite").parquet(os.path.join(path, "meta"))
    assert "normalise" not in spark.read.parquet(os.path.join(path, "meta")).columns
    with pytest.raises(ValueError, match="lacks normalise.*rebuild the gram index"):
        gramindex.strip_spans_with_index(spark, path, batch)
