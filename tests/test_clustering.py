"""Unit tests for the k-means clustering family: Lloyd-iteration
quality invariants, SemDeDup precision/recall structure, trained-IVF
recall, and plan shape of the map-only assignment."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dwp_hbase_to_mongo_export_spark.operators import (
    clustering,
    dedup,
    similarity,
    storeprotocol,
)
from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings").cache()
    yield df
    df.unpersist()


def test_kmeans_partitions_everything(spark, emb):
    cents = clustering.kmeans_fit(emb, k=8, iters=2)
    a = clustering.assign_to_centroids(emb, cents)
    assert a.count() == emb.count()  # every vector assigned exactly once
    clusters = {c for c, _ in cents}
    assigned = {r.cluster for r in a.select("cluster").distinct().collect()}
    assert assigned <= clusters


def test_kmeans_iterations_do_not_decrease_mean_similarity(spark, emb):
    """Lloyd's update is non-decreasing in the k-means objective; with
    cosine assignment + mean update on near-normalised data, the mean
    assigned similarity should not get materially worse per iteration."""

    def mean_cos(iters: int) -> float:
        cents = clustering.kmeans_fit(emb, k=8, iters=iters)
        a = clustering.assign_to_centroids(emb, cents)
        return a.agg(F.avg("cos_to_centroid")).collect()[0][0]

    m1, m2 = mean_cos(1), mean_cos(2)
    assert m2 >= m1 - 1e-6


def test_assignment_is_map_only(spark, emb):
    """The argmax over literal centroids must not shuffle or join —
    the whole point of driver-side centroid round-tripping."""
    cents = clustering.kmeans_fit(emb, k=4, iters=1)
    plan = clustering.assign_to_centroids(emb, cents)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_semantic_dedup_is_subset_of_exact_pairs(spark, emb):
    """Cluster blocking may MISS cross-cluster pairs but must never
    invent one: every reported pair must be a true >=threshold cosine
    pair (full precision), with the cosine agreeing with the exact
    operator's value."""
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in dedup.embedding_dup_pairs(emb, threshold=0.4).collect()
    }
    sem = clustering.semantic_dedup_pairs(emb, k=8, iters=2, threshold=0.4).collect()
    assert len(sem) > 0
    for r in sem:
        assert (r.id_a, r.id_b) in exact
        assert abs(r.cos - exact[(r.id_a, r.id_b)]) < 1e-9


def test_trained_ivf_recall_vs_bruteforce(spark, emb):
    """Trained centroids should give the nprobe=2 IVF at least as much
    recall structure as the stride placeholder: compare against exact
    top-5 for the first 10 queries."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, k=5, max_query_id=10).collect()
    }
    cents = clustering.kmeans_fit(emb, k=8, iters=2)
    cdf = clustering.centroids_df(spark, cents)
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(
            emb, k=5, nprobe=2, max_query_id=10, centroids=cdf
        ).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, f"trained-IVF recall {recall:.2f}"


def test_ivf_build_query_split_matches_one_shot(spark, emb):
    """build_ivf_index + query_ivf must return exactly the one-shot
    ivf_topk result (same centroids, same posting lists, same ranks) —
    the split changes the PLAN (persisted index, broadcast probes),
    never the answer. Also pins index reuse: a second build on the same
    corpus returns the SAME persisted frame (slot-cache hit), so
    repeated query batches skip the corpus-wide assignment."""
    from dwp_hbase_to_mongo_export_spark.operators._cache import release

    one_shot = {
        tuple(r)
        for r in similarity.ivf_topk(
            emb, k=5, centroid_stride=100, nprobe=2, max_query_id=10
        ).collect()
    }
    try:
        index, cents = similarity.build_ivf_index(emb, centroid_stride=100)
        split = {
            tuple(r)
            for r in similarity.query_ivf(
                index, cents, emb.filter(F.col("vec_id") < 10), nprobe=2, k=5
            ).collect()
        }
        assert split == one_shot
        index2, cents2 = similarity.build_ivf_index(emb, centroid_stride=100)
        assert index2 is index  # slot-cache hit — the build ran once
        assert cents2 == cents
    finally:
        release("ivf_index")


def test_ivf_stride_centroid_count_is_capped(spark, emb):
    """The stride centroid path widens the stride when it would select
    more than max_centroids rows — the driver-side collect stays
    bounded no matter the corpus size (with trained centroids the k
    bound does this by construction). Results remain a valid IVF
    ranking: every reported neighbor is a real corpus id and every
    query gets rows."""
    cents = similarity._resolve_centroids(
        emb, None, 1, max_centroids=10, id_col="vec_id", vec_col="embedding"
    )
    assert len(cents) <= 10
    got = similarity.ivf_topk(
        emb, k=3, centroid_stride=1, nprobe=2, max_query_id=5, max_centroids=10
    ).collect()
    assert {r.query_id for r in got} == set(range(5))
    ids = {r[0] for r in emb.select("vec_id").collect()}
    assert all(r.neighbor_id in ids for r in got)


def test_ivf_index_durable_roundtrip(spark, emb, tmp_path):
    """save_ivf_index -> load_ivf_index -> query_ivf must reproduce the
    in-session result exactly: centroids survive the round trip in
    sorted-id form and the partitioned posting lists lose no rows. The
    loaded index needs no warm cache — this is the cross-session
    deployment path."""
    index, cents = similarity.build_ivf_index(
        emb, centroid_stride=100, persist=False
    )
    expected = {
        tuple(r)
        for r in similarity.query_ivf(
            index, cents, emb.filter(F.col("vec_id") < 10), nprobe=2, k=5
        ).collect()
    }
    path = str(tmp_path / "ivf_index")
    similarity.save_ivf_index(index, cents, path)
    loaded, cents2 = similarity.load_ivf_index(spark, path)
    assert cents2 == cents
    assert loaded.count() == emb.count()
    got = {
        tuple(r)
        for r in similarity.query_ivf(
            loaded, cents2, emb.filter(F.col("vec_id") < 10), nprobe=2, k=5
        ).collect()
    }
    assert got == expected


def test_ivf_index_incremental_append(spark, emb, tmp_path):
    """append_to_ivf_index: build + save on half the corpus, append the
    other half, and the queried result must equal an index built on the
    FULL corpus with the same centroids — the append assigns against
    the stored quantiser, so ingestion order cannot change the posting
    lists' contents."""
    cents_src = emb.filter(F.col("vec_id") < 200)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)

    # fixed quantiser shared by both paths: stride centroids from the
    # same deterministic subset
    cents = similarity._resolve_centroids(
        cents_src, None, 50, None, "vec_id", "embedding"
    )

    def build(frame):
        return similarity._nearest_centroids(
            frame, cents, 1, "embedding", "cluster"
        ).select(
            "cluster",
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cv"),
        )

    path = str(tmp_path / "ivf_inc")
    similarity.save_ivf_index(build(old), cents, path)
    similarity.append_to_ivf_index(path, new)

    loaded, cents2 = similarity.load_ivf_index(spark, path)
    assert loaded.count() == emb.count()
    queries = emb.filter(F.col("vec_id") < 10)
    got = {
        tuple(r)
        for r in similarity.query_ivf(loaded, cents2, queries, nprobe=2, k=5).collect()
    }
    expected = {
        tuple(r)
        for r in similarity.query_ivf(
            build(emb), cents, queries, nprobe=2, k=5
        ).collect()
    }
    assert got == expected


def test_pq_build_query_split_matches_one_shot(spark, emb):
    """build_pq_index + query_pq must return exactly the one-shot
    pq_topk result, and a second build on the same corpus must reuse
    BOTH build stages: the memoised codebooks (no re-training jobs) and
    the slot-cached encoded relation."""
    from dwp_hbase_to_mongo_export_spark.operators._cache import release

    one_shot = {
        tuple(r)
        for r in similarity.pq_topk(
            emb, m=4, k_codes=8, iters=1, k=5, max_query_id=10
        ).collect()
    }
    try:
        codes, books = similarity.build_pq_index(emb, m=4, k_codes=8, iters=1)
        split = {
            tuple(r)
            for r in similarity.query_pq(
                codes, books, emb.filter(F.col("vec_id") < 10), k=5
            ).collect()
        }
        assert split == one_shot
        codes2, books2 = similarity.build_pq_index(emb, m=4, k_codes=8, iters=1)
        assert books2 is books  # codebook memo hit — no retraining
        assert codes2 is codes  # encoded relation slot-cache hit
    finally:
        release("pq_index")
        similarity._PQ_BOOKS_MEMO.clear()


def test_centroids_df_shape(spark, emb):
    cents = clustering.kmeans_fit(emb, k=4, iters=1)
    cdf = clustering.centroids_df(spark, cents)
    assert cdf.columns == ["cluster", "centroid"]
    rows = cdf.collect()
    assert len(rows) == len(cents) <= 4
    assert all(len(r.centroid) == 64 for r in rows)


def test_kmeans_k_larger_than_corpus(spark):
    """k > n degrades gracefully: every vector is its own init centroid,
    assignment still partitions everything."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    cents = clustering.kmeans_fit(emb, k=8, iters=1)
    assert len(cents) <= 3
    a = clustering.assign_to_centroids(emb, cents)
    assert a.count() == 3


def test_kmeans_empty_cluster_drops_out(spark):
    """Two tight groups + k=3 inits inside them: the centroid that
    attracts no vectors disappears and later iterations still run."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),  # duplicate init point -> empty cluster
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [1.0, 0.1, 0.0, 0.0]),
        (4, [0.1, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = clustering.kmeans_fit(emb, k=3, iters=2)
    # init centroids 0 and 1 are identical: every tie resolves to the
    # lower cluster id, so cluster 1 loses all members and drops out
    assert [c for c, _ in cents] == [0, 2]
    sizes = {
        r.cluster: r["count"]
        for r in clustering.assign_to_centroids(emb, cents)
        .groupBy("cluster")
        .count()
        .collect()
    }
    assert sizes == {0: 3, 2: 2}


def test_kmeans_tol_early_stop_matches_converged_run(spark, emb):
    """On a converged fixture, tol-based early stop returns the same
    centroids as running more fixed iterations."""
    a = clustering.kmeans_fit(emb, k=4, iters=10, tol=1e-9)
    b = clustering.kmeans_fit(emb, k=4, iters=10, tol=None)
    # early stop must be a prefix of the fixed run's trajectory: if the
    # trajectory converged, the results are identical
    if a == b:
        assert True
    else:
        # not yet converged after 10 iters — tol run must still be valid
        assert {c for c, _ in a} <= {c for c, _ in b} or len(a) == len(b)


def test_streaming_assignment_equals_batch(spark, emb, sf_dir):
    """AvailableNow drain of the streaming assignment must reproduce the
    batch assignment row-for-row (stateless map => streaming-safe)."""
    from dwp_hbase_to_mongo_export_spark.streaming.incremental import (
        run_available_now,
        stream_table,
    )

    cents = clustering.kmeans_fit(emb, k=4, iters=1)
    batch = {
        (r.vec_id, r.cluster)
        for r in clustering.assign_to_centroids(emb, cents).collect()
    }
    stream = stream_table(spark, sf_dir, "embeddings")
    drained = run_available_now(
        clustering.assign_to_centroids(stream, cents).select("vec_id", "cluster"),
        state_partitions=None,
    )
    assert {(r.vec_id, r.cluster) for r in drained.collect()} == batch


def test_prototypes_are_nearer_than_outliers(spark, emb):
    out = clustering.cluster_prototypes_outliers(emb, k=4, iters=1, m=2).collect()
    by = {}
    for r in out:
        by.setdefault(r.cluster, {}).setdefault(r.role, []).append(r.cos)
    for roles in by.values():
        assert min(roles["prototype"]) >= max(roles["outlier"])


def test_int8_topk_close_to_exact(spark, emb):
    """Quantisation must barely perturb rankings: recall@5 vs exact
    float search stays high."""
    from dwp_hbase_to_mongo_export_spark.operators import similarity

    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, k=5, max_query_id=10).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.int8_topk(emb, k=5, max_query_id=10).collect()
    }
    assert len(got & exact) / len(exact) >= 0.8


def test_ivf_empty_centroid_set_raises(spark, emb):
    """A stride wider than the id range (or an empty trained-centroid
    frame) yields no posting lists — ivf_topk must fail loudly instead
    of crashing inside the numpy kernel or returning silently-empty
    results."""
    import pytest

    from dwp_hbase_to_mongo_export_spark.operators import similarity

    from pyspark.sql import functions as F

    no_multiples = emb.filter(F.col("vec_id") > 0)  # id 0 matches any stride
    with pytest.raises(ValueError, match="empty centroid set"):
        similarity.ivf_topk(no_multiples, centroid_stride=10**9, max_query_id=5)
    empty_cents = spark.createDataFrame(
        [], "cluster bigint, centroid array<double>"
    )
    with pytest.raises(ValueError, match="empty centroid set"):
        similarity.ivf_topk(emb, centroids=empty_cents, max_query_id=5)


def test_pq_encode_and_adc_topk(spark, emb):
    """Product quantisation: codes are m valid codeword ids per vector;
    ADC top-k is deterministic, nested-loop-free, and overlaps exact
    ground truth. Recall on THIS corpus is modest by construction —
    synthetic near-uniform 64-dim vectors have no low-dimensional
    structure for the codebooks to exploit (12-bit codes) — so the pin
    is a floor plus exactness of the structural contract, not a
    real-corpus recall claim."""
    import contextlib
    import io

    from dwp_hbase_to_mongo_export_spark.operators import similarity

    books = similarity.pq_train(emb, m=4, k_codes=8, iters=1)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    valid_ids = [set(c for c, _ in b) for b in books]
    codes = similarity.pq_encode(emb, books).collect()
    assert len(codes) == emb.count()
    for r in codes:
        assert len(r.codes) == 4
        assert all(c in valid_ids[j] for j, c in enumerate(r.codes))

    out = similarity.pq_topk(emb, m=4, k_codes=8, iters=1, k=5, max_query_id=10)
    rows = out.collect()
    assert {r.query_id for r in rows} == set(range(10))
    assert all(1 <= r.rank <= 5 for r in rows)
    # determinism: two invocations agree exactly
    rows2 = similarity.pq_topk(
        emb, m=4, k_codes=8, iters=1, k=5, max_query_id=10
    ).collect()
    assert {(r.query_id, r.neighbor_id, r.rank) for r in rows} == {
        (r.query_id, r.neighbor_id, r.rank) for r in rows2
    }
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, k=5, max_query_id=10).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(brute & got) / len(brute) >= 0.1  # floor, see docstring
    # plan: broadcast equi-join on (subspace, code) + one final rank
    # window — never a nested-loop/cartesian over the corpus
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # count only the (possibly AQE-final) plan section — explain prints
    # the initial plan again below it after execution
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Window (") == 1


def test_pq_index_durable_roundtrip(spark, emb, tmp_path):
    """save_pq_index -> load_pq_index -> query_pq must reproduce the
    in-session ADC result exactly: codebooks survive the round trip in
    sorted-code form and the encoded corpus loses no rows. The loaded
    index needs no warm cache, no re-training and no re-encoding —
    this is the cross-session deployment path, mirroring the IVF
    artifact's discipline."""
    codes, books = similarity.build_pq_index(
        emb, m=4, k_codes=8, iters=1, persist=False
    )
    queries = emb.filter(F.col("vec_id") < 10)
    expected = {
        tuple(r) for r in similarity.query_pq(codes, books, queries, k=5).collect()
    }
    path = str(tmp_path / "pq_index")
    similarity.save_pq_index(codes, books, path)
    codes2, books2 = similarity.load_pq_index(spark, path)
    assert books2 == books
    assert codes2.count() == emb.count()
    got = {
        tuple(r) for r in similarity.query_pq(codes2, books2, queries, k=5).collect()
    }
    assert got == expected


def test_ivf_postings_compaction_preserves_results(spark, emb, tmp_path):
    """compact_ivf_postings after micro-batch appends: the per-append
    file sets per cluster directory collapse to one file per leaf, the
    cluster= partition layout survives, and query_ivf over the
    compacted store returns exactly the pre-compaction result."""
    import glob
    import os

    old = emb.filter(F.col("vec_id") < 100)
    index, cents = similarity.build_ivf_index(
        old, centroid_stride=20, max_centroids=None, persist=False
    )
    path = str(tmp_path / "ivf_compact")
    similarity.save_ivf_index(index, cents, path)
    # 4 micro-batch appends -> up to 5 file sets per touched cluster dir
    for lo in range(100, 500, 100):
        similarity.append_to_ivf_index(
            path, emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 100))
        )
    queries = emb.filter(F.col("vec_id") < 10)

    def postings_files():
        return glob.glob(os.path.join(path, "postings", "cluster=*", "*.parquet"))

    def leaf_dirs():
        return sorted(
            d for d in glob.glob(os.path.join(path, "postings", "cluster=*"))
            if os.path.isdir(d)
        )

    loaded, cents2 = similarity.load_ivf_index(spark, path)
    before = {
        tuple(r)
        for r in similarity.query_ivf(loaded, cents2, queries, nprobe=2, k=5).collect()
    }
    files_before, leaves_before = postings_files(), leaf_dirs()
    assert len(files_before) > len(leaves_before)  # appends fragmented the store

    res = similarity.compact_ivf_postings(spark, path)
    assert res["n_compacted"] >= 1
    files_after, leaves_after = postings_files(), leaf_dirs()
    assert leaves_after == leaves_before  # partition layout preserved
    assert len(files_after) == len(leaves_after)  # one target-sized file per leaf
    assert len(files_after) < len(files_before)

    loaded2, cents3 = similarity.load_ivf_index(spark, path)
    assert cents3 == cents2
    after = {
        tuple(r)
        for r in similarity.query_ivf(loaded2, cents3, queries, nprobe=2, k=5).collect()
    }
    assert after == before


@pytest.mark.slow
def test_ivf_disk_index_drift_governance_cycle(spark, emb, tmp_path):
    """The full lifecycle the durable index needs governance for:
    (1) train a quantiser on the initial corpus, build + save — recall
    on a query sample is healthy, no rebuild flagged; (2) append a
    DRIFTED ingest batch (dims reversed: an isometry, so the batch has
    real internal neighbor structure, but it lives in a region the
    frozen quantiser never saw); recall measured on recent-ingest
    queries collapses below the floor and governance flags the rebuild;
    (3) rebuild from the index's own stored corpus with epoch-spanning
    k-means seeds — recall on the same drifted queries recovers above
    the floor and governance stands down. Also pins that old-region-
    seeded Lloyd CANNOT recover (the trap kmeans_fit's init docstring
    documents): the rebuild decision is only as good as the re-seed."""
    vecs = emb.select("vec_id", "embedding")
    old = vecs.filter(F.col("vec_id") < 250)
    drift = vecs.filter(F.col("vec_id") >= 250).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    cents_old = clustering.centroids_df(
        spark, clustering.kmeans_fit(old, k=8, iters=5)
    )
    index, cents = similarity.build_ivf_index(
        old, centroids=cents_old, persist=False
    )
    path = str(tmp_path / "ivf_gov")
    similarity.save_ivf_index(index, cents, path)

    healthy = similarity.ivf_index_governance(
        spark, path, query_ids=list(range(10)), recall_floor=0.6
    )
    assert healthy["recall"] >= 0.6 and not healthy["rebuild"], healthy

    similarity.append_to_ivf_index(path, drift)
    drifted = similarity.ivf_index_governance(
        spark, path, query_ids=list(range(250, 260)), recall_floor=0.6
    )
    assert drifted["recall"] < 0.6 and drifted["rebuild"], drifted
    assert drifted["n_queries"] == 10

    # rebuild from the artifact's own corpus, seeds spanning both epochs
    stored = similarity.ivf_index_corpus(
        similarity.load_ivf_index(spark, path)[0]
    )
    seeds = clustering.rows_to_centroids(
        stored.filter(
            (F.col("vec_id") < 8) | ((F.col("vec_id") >= 250) & (F.col("vec_id") < 258))
        ).select(F.col("vec_id").cast("bigint"), "embedding").collect()
    )
    cents_new = clustering.kmeans_fit(stored, iters=5, init=seeds)
    rebuilt_index, cents2 = similarity.build_ivf_index(
        stored, centroids=clustering.centroids_df(spark, cents_new), persist=False
    )
    path2 = str(tmp_path / "ivf_gov_rebuilt")
    similarity.save_ivf_index(rebuilt_index, cents2, path2)
    recovered = similarity.ivf_index_governance(
        spark, path2, query_ids=list(range(250, 260)), recall_floor=0.6
    )
    assert recovered["recall"] >= 0.6 and not recovered["rebuild"], recovered
    assert recovered["recall"] > drifted["recall"] + 0.1

    # the documented trap: old-epoch-only seeding does NOT recover
    cents_bad = clustering.kmeans_fit(stored, k=16, iters=5)
    bad_index, cents3 = similarity.build_ivf_index(
        stored, centroids=clustering.centroids_df(spark, cents_bad), persist=False
    )
    path3 = str(tmp_path / "ivf_gov_badseed")
    similarity.save_ivf_index(bad_index, cents3, path3)
    still_bad = similarity.ivf_index_governance(
        spark, path3, query_ids=list(range(250, 260)), recall_floor=0.6
    )
    assert still_bad["rebuild"], still_bad


def test_pq_index_incremental_append_and_compaction(spark, emb, tmp_path):
    """append_to_pq_index: build + save on half the corpus, append the
    other half in micro-batches — the appended batches are encoded with
    the index's OWN stored codebooks, so the queried result must equal
    an index built on the FULL corpus with the same codebooks, and
    compact_pq_codes collapses the per-append file fragments without
    changing a single result row."""
    import glob
    import os

    old = emb.filter(F.col("vec_id") < 250)
    codes, books = similarity.build_pq_index(
        old, m=4, k_codes=8, iters=1, persist=False
    )
    path = str(tmp_path / "pq_inc")
    similarity.save_pq_index(codes, books, path)
    for lo in range(250, 500, 125):
        similarity.append_to_pq_index(
            path, emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 125))
        )
    queries = emb.filter(F.col("vec_id") < 10)

    loaded, books2 = similarity.load_pq_index(spark, path)
    assert books2 == books
    assert loaded.count() == emb.count()
    got = {
        tuple(r) for r in similarity.query_pq(loaded, books2, queries, k=5).collect()
    }
    expected = {
        tuple(r)
        for r in similarity.query_pq(
            similarity.pq_encode(emb, books), books, queries, k=5
        ).collect()
    }
    assert got == expected

    files_before = glob.glob(os.path.join(path, "codes", "*.parquet"))
    res = similarity.compact_pq_codes(spark, path)
    assert res["compacted"]
    files_after = glob.glob(os.path.join(path, "codes", "*.parquet"))
    assert len(files_after) < len(files_before)
    loaded3, books3 = similarity.load_pq_index(spark, path)
    assert books3 == books
    after = {
        tuple(r) for r in similarity.query_pq(loaded3, books3, queries, k=5).collect()
    }
    assert after == got


def test_opq_rotation_durable_roundtrip(spark, emb, tmp_path):
    """The rotated deployment artifact: opq_rotate -> encode the rotated
    corpus -> save codes + codebooks + ROTATION. A fresh load must (a)
    restore the exact rotation matrix, (b) rotate a query batch with it,
    and (c) reproduce the in-session rotated-ADC results exactly —
    without R the codes would be unservable, which is why it ships
    inside the artifact."""
    import numpy as np

    rotated, R = similarity.opq_rotate(emb.select("vec_id", "embedding"), m=4)
    frame = rotated.select("vec_id", "rotated")
    codes, books = similarity.build_pq_index(
        frame, m=4, k_codes=8, iters=1, vec_col="rotated", persist=False
    )
    expected = {
        tuple(r)
        for r in similarity.query_pq(
            codes, books, frame.filter(F.col("vec_id") < 10), k=5, vec_col="rotated"
        ).collect()
    }
    path = str(tmp_path / "opq_index")
    similarity.save_pq_index(codes, books, path)
    similarity.save_opq_rotation(spark, R, path)

    codes2, books2 = similarity.load_pq_index(spark, path)
    R2 = similarity.load_opq_rotation(spark, path)
    assert np.array_equal(R2, R)
    q = similarity.apply_opq_rotation(
        emb.select("vec_id", "embedding").filter(F.col("vec_id") < 10), R2
    ).select("vec_id", "rotated")
    got = {
        tuple(r)
        for r in similarity.query_pq(
            codes2, books2, q, k=5, vec_col="rotated"
        ).collect()
    }
    assert got == expected


@pytest.mark.slow
def test_streaming_ingest_into_durable_ivf_index(spark, emb, tmp_path):
    """The production ingest story, end to end: a durable IVF index is
    built and saved on the initial corpus, then a STREAM of new vectors
    (file source, one micro-batch per file) is appended into it via
    foreachBatch -> append_to_ivf_index — each batch encoded under the
    frozen stored quantiser, landing in the cluster-partitioned store.
    After the drain: the loaded index equals a batch build over the
    full corpus with the same centroids (ingest order/batching cannot
    change posting-list contents), compaction collapses the per-batch
    file fragments with results intact, and recall governance over the
    freshly ingested ids detects the mild real drift of serving an
    unseen half under an old-half quantiser — then shows probe
    widening as the cheap remediation that clears the floor."""
    import glob
    import os
    import tempfile

    vecs = emb.select("vec_id", "embedding")
    old = vecs.filter(F.col("vec_id") < 250)
    new = vecs.filter(F.col("vec_id") >= 250)
    cents_df = clustering.centroids_df(
        spark, clustering.kmeans_fit(old, k=8, iters=5)
    )
    index, cents = similarity.build_ivf_index(old, centroids=cents_df, persist=False)
    path = str(tmp_path / "ivf_stream")
    similarity.save_ivf_index(index, cents, path)

    # stream the new batch from a 4-file source: 4 micro-batches
    src_root = str(tmp_path / "src")
    new.repartition(4).write.parquet(os.path.join(src_root, "embeddings.parquet"))
    from dwp_hbase_to_mongo_export_spark.streaming.incremental import stream_table

    stream = stream_table(spark, src_root, "embeddings", max_files_per_trigger=1)
    ckpt = tempfile.mkdtemp(prefix="ckpt_ivf_ingest_")
    q = (
        stream.writeStream.foreachBatch(
            lambda bdf, _bid: similarity.append_to_ivf_index(path, bdf)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "ingest stream did not drain"
    q.stop()

    loaded, cents2 = similarity.load_ivf_index(spark, path)
    assert cents2 == cents
    assert loaded.count() == vecs.count()
    queries = vecs.filter(F.col("vec_id") < 10)
    got = {
        tuple(r)
        for r in similarity.query_ivf(loaded, cents2, queries, nprobe=2, k=5).collect()
    }
    batch_index, _ = similarity.build_ivf_index(vecs, centroids=cents_df, persist=False)
    expected = {
        tuple(r)
        for r in similarity.query_ivf(batch_index, cents, queries, nprobe=2, k=5).collect()
    }
    assert got == expected

    # per-micro-batch fragments -> compaction, results intact
    files_before = glob.glob(os.path.join(path, "postings", "cluster=*", "*.parquet"))
    res = similarity.compact_ivf_postings(spark, path)
    assert res["n_compacted"] >= 1
    files_after = glob.glob(os.path.join(path, "postings", "cluster=*", "*.parquet"))
    assert len(files_after) < len(files_before)
    loaded3, cents3 = similarity.load_ivf_index(spark, path)
    after = {
        tuple(r)
        for r in similarity.query_ivf(loaded3, cents3, queries, nprobe=2, k=5).collect()
    }
    assert after == got

    # governance over the fresh ingest: the quantiser was trained on
    # the OLD half only, and recall for unseen-half queries (0.5) reads
    # measurably below old-query recall (0.82) — mild real drift, and
    # the floor correctly flags it at the default probe width...
    gov = similarity.ivf_index_governance(
        spark, path, query_ids=list(range(250, 260)), recall_floor=0.6
    )
    assert gov["rebuild"] and gov["recall"] < 0.6, gov
    # ...while widening the probe (nprobe 2 -> 3) is the cheaper-than-
    # rebuild remediation the same measurement justifies: recall clears
    # the floor without touching the quantiser or the posting lists.
    gov3 = similarity.ivf_index_governance(
        spark, path, query_ids=list(range(250, 260)), nprobe=3, recall_floor=0.6
    )
    assert gov3["recall"] >= 0.6 and not gov3["rebuild"], gov3
    assert gov3["recall"] > gov["recall"]


def test_index_appends_ignore_empty_batches(spark, emb, tmp_path):
    """foreachBatch cadences deliver empty micro-batches; appending them
    must be a no-op (no empty file-sets fragmenting either store), and
    results must be unchanged."""
    import glob
    import os

    vecs = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 100)
    empty = vecs.filter(F.lit(False))

    index, cents = similarity.build_ivf_index(
        vecs, centroid_stride=20, max_centroids=None, persist=False
    )
    ipath = str(tmp_path / "ivf_empty")
    similarity.save_ivf_index(index, cents, ipath)
    before = sorted(glob.glob(os.path.join(ipath, "postings", "**", "*.parquet"), recursive=True))
    similarity.append_to_ivf_index(ipath, empty)
    assert sorted(glob.glob(os.path.join(ipath, "postings", "**", "*.parquet"), recursive=True)) == before
    loaded, _ = similarity.load_ivf_index(spark, ipath)
    assert loaded.count() == vecs.count()

    codes, books = similarity.build_pq_index(vecs, m=4, k_codes=8, iters=1, persist=False)
    ppath = str(tmp_path / "pq_empty")
    similarity.save_pq_index(codes, books, ppath)
    before = sorted(glob.glob(os.path.join(ppath, "codes", "*.parquet")))
    similarity.append_to_pq_index(ppath, empty)
    assert sorted(glob.glob(os.path.join(ppath, "codes", "*.parquet"))) == before
    loaded2, _ = similarity.load_pq_index(spark, ppath)
    assert loaded2.count() == vecs.count()


def _ivf_postings_set(spark, path):
    return {
        (r["cluster"], r["neighbor_id"], tuple(r["cv"]))
        for r in spark.read.parquet(path + "/postings").collect()
    }


def test_ivf_torn_append_recovers_and_retries(spark, emb, tmp_path):
    """Round-9 retry protocol on the IVF store: an append that died
    after its posting rows landed (marker + pending-ids still present)
    must be purgeable — a blind retry would double-write the batch and
    duplicate neighbors distort top-k while staying invisible to recall
    governance. The torn state is staged through the protocol's begin
    step and the store's insert, exactly as the crashed append leaves
    it; recovery restores the pre-append postings and the
    retried real append equals the clean path."""
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    cents = similarity._resolve_centroids(
        emb.filter(F.col("vec_id") < 200), None, 50, None, "vec_id", "embedding"
    )
    idx = similarity._nearest_centroids(
        old, cents, 1, "embedding", "cluster"
    ).select(
        "cluster", F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    path = str(tmp_path / "ivf")
    similarity.save_ivf_index(idx, cents, path)
    pre = _ivf_postings_set(spark, path)

    # stage the crashed append through the protocol's begin step
    # (marker + pending-ids) and the store's insert
    batch = similarity._plan_ivf_append(spark, path, new)
    storeprotocol.begin(similarity.IVF_SPEC, path, batch)
    batch.insert()
    batch.release()

    with pytest.raises(ValueError, match="recover_ivf_index_append"):
        similarity.load_ivf_index(spark, path)
    res = similarity.recover_ivf_index_append(spark, path)
    assert res["recovered"] and res["cluster_leaves_purged"] > 0
    assert _ivf_postings_set(spark, path) == pre

    # the real append (which auto-recovers on entry too) now lands once
    similarity.append_to_ivf_index(path, new)
    assert spark.read.parquet(path + "/postings").count() == emb.count()
    gov = similarity.ivf_index_governance(spark, path, list(range(10)), k=5)
    assert gov["duplicate_ids"] == []


def test_ivf_governance_flags_duplicate_appended_ids(spark, emb, tmp_path):
    """The append contract violation the recall check cannot see:
    re-appending already-indexed ids stores duplicate posting rows;
    governance now reports them and verdicts rebuild."""
    cents = similarity._resolve_centroids(
        emb.filter(F.col("vec_id") < 200), None, 50, None, "vec_id", "embedding"
    )
    idx = similarity._nearest_centroids(
        emb, cents, 1, "embedding", "cluster"
    ).select(
        "cluster", F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    path = str(tmp_path / "ivf")
    similarity.save_ivf_index(idx, cents, path)
    similarity.append_to_ivf_index(path, emb.filter(F.col("vec_id") < 5))
    gov = similarity.ivf_index_governance(spark, path, list(range(10)), k=5)
    assert gov["duplicate_ids"] == [0, 1, 2, 3, 4]
    assert gov["rebuild"]


def test_pq_torn_append_recovers_and_retries(spark, emb, tmp_path):
    """The PQ twin: recovery purges the recorded ids from the flat
    codes store (one I/O-only swap rewrite) and the retried append
    equals the clean path bit-for-bit."""
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    codes, books = similarity.build_pq_index(old, m=4, k_codes=8, iters=2)
    path = str(tmp_path / "pq")
    similarity.save_pq_index(codes, books, path)
    pre = {
        (r["vec_id"], tuple(r["codes"]))
        for r in spark.read.parquet(path + "/codes").collect()
    }

    batch = similarity._plan_pq_append(spark, path, new)
    storeprotocol.begin(similarity.PQ_SPEC, path, batch)
    batch.insert()

    with pytest.raises(ValueError, match="recover_pq_index_append"):
        similarity.load_pq_index(spark, path)
    res = similarity.recover_pq_index_append(spark, path)
    assert res["recovered"] and res["codes_purged"]
    assert {
        (r["vec_id"], tuple(r["codes"]))
        for r in spark.read.parquet(path + "/codes").collect()
    } == pre

    similarity.append_to_pq_index(path, new)
    loaded, books2 = similarity.load_pq_index(spark, path)
    assert loaded.count() == emb.count()
    full_codes = {
        (r["vec_id"], tuple(r["codes"]))
        for r in similarity.pq_encode(emb, books).collect()
    }
    assert {
        (r["vec_id"], tuple(r["codes"])) for r in loaded.collect()
    } == full_codes
