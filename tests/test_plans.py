"""Physical-plan assertions: the scale properties the docstrings claim,
machine-checked. A correctness-green query whose plan reads all columns,
skips pushdown, or shuffles a broadcastable dim would still pass the
oracle gate — these tests pin the PLAN:

- predicate pushdown reaches the parquet scan (PushedFilters);
- column pruning reaches the scan (ReadSchema excludes unused columns);
- dimension joins are broadcast, not shuffled;
- per-group top-k inserts WindowGroupLimit (partial top-k before the
  exchange);
- the flat aggregation path runs inside WholeStageCodegen;
- EXCEPT/INTERSECT plan as anti/semi joins, not cartesian products.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from dwp_hbase_to_mongo_export_spark import queries as catalog


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_q6_filters_and_pruning_reach_scan(spark, sf_dir):
    plan = _plan(catalog.QUERIES["q6_forecast_revenue"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0]
    # Projection pruning: the scan schema must not include untouched
    # wide columns like l_returnflag/l_linestatus.
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema


def test_time_range_scan_pushes_ts_bounds(spark, sf_dir):
    plan = _plan(catalog.QUERIES["time_range_scan"](spark, sf_dir))
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "GreaterThanOrEqual" in pushed and "LessThan" in pushed


def test_q3_dim_join_is_broadcast(spark, sf_dir):
    plan = _plan(catalog.QUERIES["q3_shipping_priority"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q5_no_shuffle_for_dims(spark, sf_dir):
    plan = _plan(catalog.QUERIES["q5_local_supplier_volume"](spark, sf_dir))
    # supplier/nation/region/customer all broadcast: at least 4 broadcast
    # joins; the only sort-merge/shuffled-hash join allowed is
    # lineitem⋈orders.
    assert plan.count("BroadcastHashJoin") >= 4


def test_topk_per_group_has_window_group_limit(spark, sf_dir):
    plan = _plan(catalog.QUERIES["topk_orders_per_customer"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_source_quota_cap_has_window_group_limit(spark, sf_dir):
    # the per-source quota must ride the rank-limit pushdown (N rows per
    # source per map partition cross the exchange, not the corpus)
    plan = _plan(catalog.QUERIES["source_quota_cap"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_source_token_budget_single_exchange(spark, sf_dir):
    # running-sum budget: one shuffle on source, no join, no Python
    plan = _plan(catalog.QUERIES["source_token_budget_cap"](spark, sf_dir), "simple")
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan


def test_q1_two_phase_aggregation(spark, sf_dir):
    plan = _plan(catalog.QUERIES["q1_pricing_summary"](spark, sf_dir))
    # two-phase aggregation: map-side partial aggregates shrink the
    # shuffle to one row per (task, group) before the final merge.
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_global_topk_avoids_full_sort(spark, sf_dir):
    plan = _plan(catalog.QUERIES["q10_returned_items"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_set_ops_plan_as_joins(spark, sf_dir):
    except_plan = _plan(
        catalog.QUERIES["user_days_click_no_purchase"](spark, sf_dir), "extended"
    )
    assert "LeftAnti" in except_plan
    intersect_plan = _plan(
        catalog.QUERIES["user_days_click_and_purchase"](spark, sf_dir), "extended"
    )
    assert "LeftSemi" in intersect_plan


def test_asof_join_single_shuffle(spark, sf_dir):
    plan = _plan(catalog.QUERIES["asof_click_attribution"](spark, sf_dir))
    # union + window: exactly one hash-partitioning exchange (on user_id);
    # AQE may add read-side nodes but no second hashpartitioning stage.
    assert plan.count("hashpartitioning") == 1


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    plan = _plan(catalog.QUERIES["range_join_click_to_purchase"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_chunking_and_mixing_are_shuffle_free(spark, sf_dir):
    # Narrow training-prep ops: chunk explosion and the gated union must
    # not introduce an exchange — at 100 TB a shuffle here would move the
    # whole corpus for a map-only transform.
    chunk_plan = _plan(catalog.QUERIES["doc_token_chunks"](spark, sf_dir))
    assert "Exchange" not in chunk_plan
    assert "Generate" in chunk_plan  # explode of the chunk starts
    mix_plan = _plan(catalog.QUERIES["corpus_mixture"](spark, sf_dir))
    assert "Exchange" not in mix_plan
    assert "Union" in mix_plan


def test_sample_prunes_to_needed_columns(spark, sf_dir):
    # The md5 gate can't push into parquet, but pruning must still limit
    # the scan to (doc_id, text) — media-style wide tables depend on it.
    plan = _plan(catalog.QUERIES["stratified_sample"](spark, sf_dir))
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "embedding" not in read_schema


def test_q20_nested_ins_plan_as_semi_joins(spark, sf_dir):
    plan = _plan(catalog.QUERIES["q20_promo_part_suppliers"](spark, sf_dir))
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan


def test_q2_argmin_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(catalog.QUERIES["q2_min_cost_supplier"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_embedding_lsh_dedup_has_no_global_cross_join(spark, sf_dir):
    """embedding_dup_pairs_lsh's block grid must be an equi-join on
    (band, band_key) — the whole point vs the exact baseline's global
    block crossJoin."""
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table
    from dwp_hbase_to_mongo_export_spark.operators import dedup

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _plan(dedup.embedding_dup_pairs_lsh(emb))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_assignment_is_map_only(spark, sf_dir):
    """ivf_topk's centroid assignment must be the vectorised map-only
    kernel (assign_topn_centroids), not a crossJoin against the
    centroid table with a per-row window: no nested-loop/cartesian join
    anywhere, and exactly ONE Window in the whole plan (the final
    per-query rank) — a second Window would mean the per-id argmax
    shuffle is back. Holds for both the id-stride and trained-centroid
    paths (same dataflow)."""
    for name in ("similarity_topk_ivf", "similarity_topk_ivf_trained"):
        plan = _plan(catalog.QUERIES[name](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        # count the Window OPERATOR only ("Window (n)" tree nodes) —
        # WindowGroupLimit around the final rank is expected and good
        assert plan.count("Window (") == 1, (name, plan)


def test_ivf_index_query_time_moves_no_corpus_rows(spark, sf_dir):
    """The build/query split's whole point: once build_ivf_index has
    materialised the posting-list relation, query_ivf's plan must (a)
    read the index from the persisted relation (InMemoryTableScan, not
    a re-scan + re-assignment of the corpus), (b) broadcast the probe
    side, and (c) contain exactly ONE hash-partitioning exchange — the
    final per-query rank over candidate rows. A corpus-side Exchange
    here would mean query-time is silently paying the build again."""
    import re

    from dwp_hbase_to_mongo_export_spark.operators import similarity
    from dwp_hbase_to_mongo_export_spark.operators._cache import release
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    index, cents = similarity.build_ivf_index(emb, centroid_stride=100)
    try:
        index.count()  # materialise: build cost paid HERE, not at query time
        out = similarity.query_ivf(
            index, cents, emb.filter(F.col("vec_id") < 10), nprobe=2, k=5
        )
        plan = _plan(out)
        assert "InMemoryTableScan" in plan, plan
        assert "BroadcastExchange" in plan, plan
        # Everything from the first InMemoryRelation down is the cached
        # index's RECORDED build plan (its Exchange already ran at build
        # time) — the query-time tree is the prefix above it.
        query_tree = plan.split("InMemoryRelation")[0]
        shuffles = re.findall(r"(?<!Broadcast)Exchange \(\d+\)", query_tree)
        assert len(shuffles) == 1, query_tree
        # and that one exchange is the final per-query rank, not a
        # corpus repartition
        assert "hashpartitioning(query_id" in plan, plan
        assert "hashpartitioning(cluster" not in plan.split("InMemoryRelation")[0]
    finally:
        release("ivf_index")


def test_ivf_disk_index_prunes_partitions_dynamically(spark, sf_dir, tmp_path):
    """The durable index layout's whole point: the posting lists are
    STORED partitioned by cluster id, so the broadcast probe join must
    trigger dynamic partition pruning — the scan's PartitionFilters
    carries a dynamicpruning expression and only the probed clusters'
    directories are read. Without this, a disk-resident 100 TB index
    would be fully scanned per query batch."""
    from dwp_hbase_to_mongo_export_spark.operators import similarity
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    index, cents = similarity.build_ivf_index(
        emb, centroid_stride=100, persist=False
    )
    path = str(tmp_path / "ivf_index")
    similarity.save_ivf_index(index, cents, path)
    loaded, cents2 = similarity.load_ivf_index(spark, path)
    out = similarity.query_ivf(
        loaded, cents2, emb.filter(F.col("vec_id") < 10), nprobe=2, k=5
    )
    plan = _plan(out)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("dynamicpruning" in ln.lower() for ln in pf), plan


def test_pq_index_query_time_runs_no_python(spark, sf_dir):
    """build_pq_index/query_pq's split point: once the encoded corpus is
    materialised, query-time is pure JVM relational work — the plan must
    read the codes from the persisted relation and contain NO
    ArrowEvalPython (encoding already happened at build; the ADC
    distance table is a broadcast literal relation). Python appearing
    here would mean queries are silently re-encoding the corpus."""
    from dwp_hbase_to_mongo_export_spark.operators import similarity
    from dwp_hbase_to_mongo_export_spark.operators._cache import release
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    codes, books = similarity.build_pq_index(emb, m=4, k_codes=8, iters=1)
    try:
        codes.count()  # materialise: encode cost paid HERE
        out = similarity.query_pq(
            codes, books, emb.filter(F.col("vec_id") < 10), k=5
        )
        plan = _plan(out)
        assert "InMemoryTableScan" in plan, plan
        query_tree = plan.split("InMemoryRelation")[0]
        assert "ArrowEvalPython" not in query_tree, query_tree
        assert "BatchEvalPython" not in query_tree, query_tree
    finally:
        release("pq_index")
        similarity._PQ_BOOKS_MEMO.clear()


def test_sequence_packing_single_exchange(spark, sf_dir):
    """The shard-parallel packer must shuffle ONCE (on shard): the
    window and both aggregate phases are co-partitioned, so a second
    Exchange in the plan means the shard design broke."""
    from dwp_hbase_to_mongo_export_spark.queries import QUERIES

    plan = _plan(QUERIES["sequence_packing"](spark, sf_dir), "simple")
    assert plan.count("Exchange") == 1, plan


def test_train_val_split_is_map_only_and_pruned(spark, sf_dir):
    """The content-keyed split gate is a scan-fused expression: no
    exchange at all, and column pruning limits the read to
    (doc_id, text, source)."""
    plan = _plan(catalog.QUERIES["train_val_split"](spark, sf_dir))
    assert "Exchange" not in plan
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read_schema and "lang" not in read_schema


def test_global_shuffle_is_single_range_exchange(spark, sf_dir):
    """One rangepartitioning exchange (the seeded reshuffle), a
    partition-local sort, and nothing global: a global orderBy would
    show a second exchange or a singlepartition sort."""
    plan = _plan(catalog.QUERIES["corpus_global_shuffle"](spark, sf_dir), "simple")
    assert plan.count("Exchange") == 1, plan
    assert "rangepartitioning" in plan
    # sortWithinPartitions prints `Sort [...], false, 0` — the false is
    # global=false; a global sort here would serialise the corpus
    import re

    sort_line = next(ln for ln in plan.splitlines() if "Sort [shuffle_key" in ln)
    assert re.search(r"\],\s*false,", sort_line), sort_line


def test_boilerplate_df_reuses_gram_exchange(spark, sf_dir):
    """The DF aggregation and the grams-to-common join both key on the
    gram; the per-doc aggregates key on doc_id. The plan must stay
    hash-equi-join shaped — no nested-loop fallback, no cartesian."""
    plan = _plan(catalog.QUERIES["text_boilerplate_df"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_filter_pipeline_single_shuffle(spark, sf_dir):
    """Quality features are scan-fused; the only exchange is the
    fingerprint hash-partition for the keep-first window (the final
    doc_id join broadcasts or reuses it — never a second wide shuffle
    of the corpus text)."""
    plan = _plan(catalog.QUERIES["corpus_filter_pipeline"](spark, sf_dir), "simple")
    # hashpartitioning on the fingerprint for the dedup window, plus at
    # most the join's repartition of the narrow (doc_id, flags) side
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "CartesianProduct" not in plan


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    """The 100 TB co-located-join lever: two tables bucketed+sorted on
    the join key must sort-merge-join with ZERO Exchange (and zero
    per-join Sort) — the layout cost is paid once at write time and
    amortised over every subsequent join. Pins that the engine's write
    path can produce, and its read path can exploit, bucketed layout."""
    from pyspark.sql import functions as F

    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    try:
        (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
         .sortBy("o_orderkey").option("path", str(tmp_path / "ob"))
         .saveAsTable("orders_bucketed"))
        (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
         .sortBy("l_orderkey").option("path", str(tmp_path / "lb"))
         .saveAsTable("lineitem_bucketed"))
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = (
                spark.table("orders_bucketed")
                .join(
                    spark.table("lineitem_bucketed"),
                    F.col("o_orderkey") == F.col("l_orderkey"),
                )
                .groupBy("o_orderpriority")
                .agg(F.sum("l_quantity").alias("qty"))
            )
            plan = _plan(j)
            join_part = plan.split("HashAggregate")[-1]  # below the agg
            assert "SortMergeJoin" in plan
            # the ONLY exchange allowed is the final aggregation's;
            # the join itself must read co-located buckets directly
            assert join_part.count("Exchange") == 0, plan
            rows = j.collect()
            assert len(rows) == 5
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")
        spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")


def test_pq_disk_index_query_time_runs_no_python(spark, sf_dir, tmp_path):
    """The durable PQ artifact's point: a FRESH load (save_pq_index ->
    load_pq_index) must serve ADC queries as pure JVM relational work —
    the plan reads the integer codes from a parquet Scan and contains
    NO ArrowEvalPython/BatchEvalPython anywhere (no warm cache, no
    re-encode; the distance table is a broadcast literal relation).
    This re-asserts the in-session no-Python pin on the loaded index."""
    from dwp_hbase_to_mongo_export_spark.operators import similarity
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    codes, books = similarity.build_pq_index(
        emb, m=4, k_codes=8, iters=1, persist=False
    )
    path = str(tmp_path / "pq_index")
    similarity.save_pq_index(codes, books, path)
    codes2, books2 = similarity.load_pq_index(spark, path)
    out = similarity.query_pq(codes2, books2, emb.filter(F.col("vec_id") < 10), k=5)
    plan = _plan(out)
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Scan parquet" in plan, plan


def test_ivf_compacted_store_still_prunes_partitions(spark, sf_dir, tmp_path):
    """compact_ivf_postings must not cost the layout its pruning: after
    appends AND a compaction pass, the probe join over the reloaded
    store still carries a dynamicpruning PartitionFilter — the
    file-count win cannot silently turn probes into full scans."""
    from dwp_hbase_to_mongo_export_spark.operators import similarity
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    index, cents = similarity.build_ivf_index(
        emb.filter(F.col("vec_id") < 200), centroid_stride=50,
        max_centroids=None, persist=False,
    )
    path = str(tmp_path / "ivf_compact_dpp")
    similarity.save_ivf_index(index, cents, path)
    similarity.append_to_ivf_index(
        path, emb.filter(F.col("vec_id") >= 200)
    )
    res = similarity.compact_ivf_postings(spark, path)
    assert res["n_compacted"] >= 1
    loaded, cents2 = similarity.load_ivf_index(spark, path)
    out = similarity.query_ivf(
        loaded, cents2, emb.filter(F.col("vec_id") < 10), nprobe=2, k=5
    )
    plan = _plan(out)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("dynamicpruning" in ln.lower() for ln in pf), plan


def test_scd2_single_shuffle_two_windows(spark):
    """SCD2's lag (change filter) and lead (interval assignment) share
    the user_id partitioning, so the whole history build is ONE exchange
    + one sort reused by both Window operators."""
    import re
    from dwp_hbase_to_mongo_export_spark.queries_joins import scd2_history

    plan = (
        scd2_history(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"(?<!Broadcast)Exchange", plan)) == 1, plan
    assert plan.count("Window ") == 2, plan
    assert plan.count("Sort ") == 1, plan


def test_bloom_screen_is_map_side_below_exchange(spark):
    """The bloom membership filter must run ON the fact scan, before any
    exchange — the whole point of semi-join reduction — and it must cut
    the screened row count while keeping every true match."""
    from pyspark.sql import functions as F
    from dwp_hbase_to_mongo_export_spark.operators import bloom
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    o = load_table(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    li = load_table(spark, sf, "lineitem")
    bits = bloom.bloom_build(o, "o_orderkey")
    screened = li.filter(bloom.bloom_might_contain(F.col("l_orderkey"), bits))

    plan = screened._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan  # screen is a pure map pass

    n_all = li.count()
    n_scr = screened.count()
    n_match = li.join(o, li.l_orderkey == o.o_orderkey, "left_semi").count()
    n_scr_match = (
        screened.join(o, screened.l_orderkey == o.o_orderkey, "left_semi").count()
    )
    assert n_scr < n_all  # it prunes
    assert n_scr_match == n_match  # no false negatives, ever


def test_bm25_indexed_prunes_term_buckets_no_python(spark, tmp_path):
    """The durable text index's query path must (a) read only the query
    terms' bucket partitions — a STATIC partition filter, visible as
    a partition-count cut in the scan — (b) contain no Python operator,
    and (c) return exactly the live bm25_search results."""
    from dwp_hbase_to_mongo_export_spark.operators import textindex, textops
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    path = str(tmp_path / "tix")
    textindex.build_text_index(docs, path)

    terms = ["table", "scan", "merge"]
    out = textindex.query_text_index(spark, path, terms, top_n=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan

    import re

    # both index scans (postings + stats) carry a STATIC partition
    # filter naming exactly the query terms' buckets
    filters = re.findall(r"PartitionFilters: \[bucket#\d+ IN \(([\d,]+)\)\]", plan)
    expected = {textindex._py_term_bucket(t) for t in terms}
    assert len(filters) == 2, plan
    for f in filters:
        assert {int(x) for x in f.split(",")} == expected, (f, expected)

    live = textops.bm25_search(docs, terms, top_n=10).collect()
    idx = out.collect()
    assert [tuple(r) for r in idx] == [tuple(r) for r in live]


def test_scd2_merge_batch_equals_rebuild_and_passes_through(spark):
    """merge_batch == full rebuild (the oracle pins this at the query
    level; here with an explicit split) and the untouched keys' rows
    come through without recomputation — verified on row identity."""
    from pyspark.sql import functions as F
    from dwp_hbase_to_mongo_export_spark.operators import scd2
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    split = F.lit("2024-01-15").cast("timestamp")
    old_changes = scd2.changes(ev.filter(F.col("ts") < split))
    batch = ev.filter(F.col("ts") >= split)

    merged = {tuple(r) for r in scd2.merge_batch(old_changes, batch).collect()}
    rebuilt = {tuple(r) for r in scd2.build(ev).collect()}
    assert merged == rebuilt

    # compression idempotence — the property merge_batch leans on
    c1 = scd2.changes(ev)
    c2 = scd2.changes(c1)
    assert {tuple(r) for r in c1.collect()} == {tuple(r) for r in c2.collect()}


def test_scd2_merge_watermark_guard_trips_on_late_batch(spark):
    """A batch carrying a row OLDER than its key's recorded history
    violates merge_batch's append-only contract; with validate=True the
    guard fails LOUDLY (naming the key) instead of quietly emitting
    history that diverges from a full rebuild — the wrong-and-quiet
    failure mode the round-7 review flagged. A contract-satisfying
    batch passes with the guard on (and the gated scd2_incremental
    query runs validate=True against its oracle every round)."""
    import pytest
    from pyspark.sql import functions as F
    from dwp_hbase_to_mongo_export_spark.operators import scd2
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    split = F.lit("2024-01-15").cast("timestamp")
    old_changes = scd2.changes(ev.filter(F.col("ts") < split))

    # a "late" batch: rows from BEFORE the split re-delivered
    late = ev.filter(F.col("ts") < F.lit("2024-01-10").cast("timestamp"))
    assert late.count() > 0
    with pytest.raises(ValueError, match="watermark violation"):
        scd2.merge_batch(old_changes, late, validate=True).collect()

    good = ev.filter(F.col("ts") >= split)
    merged = {
        tuple(r) for r in scd2.merge_batch(old_changes, good, validate=True).collect()
    }
    assert merged == {tuple(r) for r in scd2.build(ev).collect()}


def test_weighted_sample_global_rank_is_take_ordered(spark, sf_dir):
    """The A-ES global rank<=k must NOT be a full global sort:
    LimitPushDownThroughWindow turns it into TakeOrderedAndProject
    (per-partition top-k heads + driver merge) with the final Window
    running over k rows only; the scan reads just (doc_id, n_chars)."""
    plan = _plan(catalog.QUERIES["weighted_sample_aes"](spark, sf_dir), "simple")
    assert "TakeOrderedAndProject(limit=100" in plan, plan
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "doc_id" in read_schema and "n_chars" in read_schema
    assert "text" not in read_schema


def test_scd2_watermark_guard_allows_equal_timestamp(spark):
    """The contract is ts >= last recorded ts: a batch row landing
    EXACTLY on its key's recorded boundary must pass the guard (>=,
    not >) — rejecting it would refuse legitimate same-instant CDC
    deliveries ordered by the tiebreak column."""
    from pyspark.sql import functions as F
    from dwp_hbase_to_mongo_export_spark.operators import scd2

    old = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00", 10)],
        "user_id long, event_type string, ts string, event_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    batch = spark.createDataFrame(
        [(1, "b", "2024-01-01 00:00:00", 11)],
        "user_id long, event_type string, ts string, event_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = scd2.merge_batch(scd2.changes(old), batch, validate=True).collect()
    assert len(out) == 2  # both states recorded, no guard trip


def test_scd2_watermark_last_event_ts_closes_compressed_gap(spark):
    """Round-8 advice: the default guard is sound only w.r.t. the
    COMPRESSED changelog — a late row whose ts falls after a key's last
    CHANGE but before a compressed-away duplicate event passes it, yet
    merge_batch still diverges from the full rebuild (the
    unreconstructable interleave). Deployments that persist the per-key
    last RAW event ts close the gap by passing it as last_event_ts."""
    import pytest
    from pyspark.sql import functions as F
    from dwp_hbase_to_mongo_export_spark.operators import scd2

    schema = "user_id int, event_type string, ts string, event_id int"
    raw = spark.createDataFrame(
        [
            (1, "A", "2024-01-01 00:00:00", 1),
            (1, "A", "2024-01-03 00:00:00", 2),  # duplicate -> compressed away
        ],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    old_changes = scd2.changes(raw)
    assert old_changes.count() == 1  # the Jan-3 duplicate is gone

    # late row BETWEEN the last change (Jan 1) and the dropped raw
    # event (Jan 3): the compressed-changelog guard cannot see it
    batch = spark.createDataFrame(
        [(1, "B", "2024-01-02 00:00:00", 3)], schema
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    scd2.enforce_watermark(old_changes, batch, "user_id", "ts")  # passes: the gap

    # ... and the merge genuinely diverges from the full rebuild, so
    # the gap matters (B swallows the Jan-3 A-flip the rebuild keeps)
    merged = {tuple(r) for r in scd2.merge_batch(old_changes, batch).collect()}
    rebuilt = {tuple(r) for r in scd2.build(raw.unionByName(batch)).collect()}
    assert merged != rebuilt

    # with the per-key last RAW event ts, the guard trips loudly
    last_ev = raw.groupBy("user_id").agg(F.max("ts").alias("ts"))
    with pytest.raises(ValueError, match="watermark violation"):
        scd2.enforce_watermark(
            old_changes, batch, "user_id", "ts", last_event_ts=last_ev
        )
    with pytest.raises(ValueError, match="watermark violation"):
        scd2.merge_batch(
            old_changes, batch, validate=True, last_event_ts=last_ev
        ).collect()

    # a genuinely append-only batch passes WITH last_event_ts given
    ok = spark.createDataFrame(
        [(1, "B", "2024-01-04 00:00:00", 4)], schema
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    merged = {
        tuple(r)
        for r in scd2.merge_batch(
            old_changes, ok, validate=True, last_event_ts=last_ev
        ).collect()
    }
    # equal to the rebuild over the COMPRESSED history + batch (Jan-3
    # duplicate was compressed before the batch arrived, by contract)
    want = {
        tuple(r)
        for r in scd2.build(old_changes.unionByName(ok.select(*old_changes.columns))).collect()
    }
    assert merged == want


def test_dedup_index_query_python_is_batch_only_and_sets_scan_prunes(
    spark, sf_dir, tmp_path
):
    """The durable dedup index's cost claims (dedupindex.py module
    docstring), in two parts:

    (a) query-time Python runs ONLY on the batch: every ArrowEvalPython
    in the query plan is the batch's fused shingle/minhash UDF (_mh),
    computed once into a single cached relation; the corpus side reads
    parquet signatures with zero Python. (The exact-jaccard verify is
    the jaccard_of_sets dual-strategy kernel — broadcast dict at this
    scale, candidate-pair join at 100 TB — both Python over
    CANDIDATE-sized data only.)

    (b) the corpus-sized sets store is read through a
    dynamic-partition-pruning filter driven by the broadcast candidate
    ids — the operator's access pattern is a (bucket, id) broadcast
    equi-join against the bucket-partitioned store, reconstructed here
    with join-derived candidates (a FILTER-derived candidate frame
    would instead get its predicate transitively inferred across the
    join, hiding the DPP machinery this pin is about)."""
    from pyspark.sql import functions as F
    from dwp_hbase_to_mongo_export_spark.operators import dedupindex
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "ix")
    dedupindex.build_dedup_index(
        docs.filter(F.col("doc_id") % 10 != 9), path, n_perm=8, rows_per_band=2
    )
    out = dedupindex.query_dedup_index(
        spark, path, docs.filter(F.col("doc_id") % 10 == 9)
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    arrow_lines = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert arrow_lines and all("_mh(" in ln for ln in arrow_lines), plan
    assert "InMemoryRelation" in plan  # the single cached batch pass

    # (b) the sets-store access pattern: join-derived candidate ids,
    # broadcast onto the bucket-partitioned store on (bucket, id)
    batch_ids = docs.filter(F.col("doc_id") % 10 == 9).select("doc_id")
    cand_ids = (
        batch_ids.join(docs.select("doc_id").limit(40), "doc_id")
        .select("doc_id")
        .distinct()
        .withColumn("bucket", dedupindex._bucket_of("doc_id"))
    )
    corpus_sets = spark.read.parquet(path + "/sets").join(
        F.broadcast(cand_ids), ["bucket", "doc_id"]
    )
    splan = corpus_sets._jdf.queryExecution().executedPlan().toString()
    # identify the sets-store scan by its schema (paths get truncated
    # in plan toString): the only parquet scan carrying the hs arrays
    sets_scans = [
        ln
        for ln in splan.splitlines()
        if "FileScan parquet" in ln and "hs:array<bigint>" in ln
    ]
    assert sets_scans and all(
        "dynamicpruningexpression" in ln for ln in sets_scans
    ), splan


def test_scd2_fold_last_event_ts_maintains_the_guard_state(spark):
    """fold_last_event_ts across two ingest batches produces exactly the
    state that lets enforce_watermark catch the compressed-gap late row
    (the round-8 advice scenario), while a contract-respecting batch
    stream merges green with the guard fully on."""
    import pytest
    from pyspark.sql import functions as F
    from dwp_hbase_to_mongo_export_spark.operators import scd2

    schema = "user_id int, event_type string, ts string, event_id int"

    def ev(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    b1 = ev([(1, "A", "2024-01-01 00:00:00", 1)])
    b2 = ev([(1, "A", "2024-01-03 00:00:00", 2)])  # duplicate -> compressed away

    state = scd2.fold_last_event_ts(None, b1)
    changes = scd2.changes(b1)
    # fold-then-merge order: guard b2 against the PREVIOUS state
    scd2.enforce_watermark(changes, b2, "user_id", "ts", last_event_ts=state)
    changes = scd2.changes(changes.unionByName(b2.select(*changes.columns)))
    state = scd2.fold_last_event_ts(state, b2)
    assert state.head()["ts"].isoformat().startswith("2024-01-03")
    assert changes.count() == 1  # the duplicate compressed away

    # the late row lands between the last change and the folded raw max:
    # invisible to the compressed guard, caught with the folded state
    late = ev([(1, "B", "2024-01-02 00:00:00", 3)])
    scd2.enforce_watermark(changes, late, "user_id", "ts")  # the documented gap
    with pytest.raises(ValueError, match="watermark violation"):
        scd2.merge_batch(changes, late, validate=True, last_event_ts=state)

    # a genuinely append-only next batch passes with the guard fully on
    b3 = ev([(1, "B", "2024-01-04 00:00:00", 4)])
    merged = scd2.merge_batch(changes, b3, validate=True, last_event_ts=state)
    assert merged.filter(F.col("is_current") == 1).count() == 1


def test_run_topic_export_one_action_one_python_stage(spark, tmp_path, monkeypatch):
    """run_topic_export runs ONE Spark job whose executed plan has
    exactly one MapInPandas above the scan and no ArrowEvalPython /
    BatchEvalPython: the envelope parse -> decrypt -> normalise ->
    sanitise -> sink work is one Python pass, and a second Python hop
    cannot creep back. No JVM envelope stage either: no JsonToStructs
    (from_json), GetJsonObject or CollectMetrics (observe) node."""
    from dwp_hbase_to_mongo_export_spark.orchestration import (
        CollectionStatus,
        ExportStatusService,
        run_topic_export,
    )
    from dwp_hbase_to_mongo_export_spark.sinks.snapshot import SnapshotSinkConfig
    from dwp_hbase_to_mongo_export_spark.sources.hbase_cells import DATA_KEY_B64, fixture_cells

    topic = "db.database.collection"
    cfg = SnapshotSinkConfig(
        output_dir=str(tmp_path), topic=topic, compression="gz",
        data_key_b64=DATA_KEY_B64, encrypted_data_key_b64="e", kek_id="k",
    )
    cells = fixture_cells(spark, n=20)
    actions = []
    frame_cls = type(cells)  # the session's concrete DataFrame class
    collect = frame_cls.collect

    def recording_collect(self):
        actions.append(self)
        return collect(self)

    monkeypatch.setattr(frame_cls, "collect", recording_collect)
    sc = spark.sparkContext
    group = f"plan-guard-{id(cells)}"
    sc.setJobGroup(group, "run_topic_export plan guard")
    try:
        report = run_topic_export(cells, topic, cfg, ExportStatusService("plan-guard"))
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert report.status == CollectionStatus.EXPORTED and report.metrics["records_valid"] == 20
    assert len(actions) == 1
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    plan = actions[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    for node in ("JsonToStructs", "from_json", "GetJsonObject", "get_json_object", "CollectMetrics"):
        assert node not in plan, plan


@pytest.mark.parametrize("topic", ["db.core.healthAndDisabilityDeclaration", "data.equality"])
def test_export_topic_one_python_stage(spark, topic):
    """export_topic's per-record work (decrypt, normalise, sanitise and,
    on data.equality, the wrap) is ONE mapInPandas over the shared
    kernel: the executed plan of its sink frame has exactly one
    MapInPandas and no ArrowEvalPython / BatchEvalPython, so neither a
    decrypt UDF nor an equality-wrap UDF can creep back."""
    from dwp_hbase_to_mongo_export_spark.pipeline import export_topic
    from dwp_hbase_to_mongo_export_spark.sources.hbase_cells import fixture_cells

    sink = export_topic(fixture_cells(spark, n=20, topic=topic), topic).extra["sink_frame"]
    assert len(sink.collect()) == 20
    plan = sink._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
