"""Unit tests for the Count-Min frequency sketch (operators/sketches.py):
the never-undercount guarantee over EVERY corpus value, exact (not
approximate) mergeability, one-scan build plan shape, and estimate
behaviour for absent values."""

from __future__ import annotations

from pyspark.sql import functions as F

from dwp_hbase_to_mongo_export_spark.operators import sketches
from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table


def _words(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("word")
    ).filter(F.length("word") >= 2)


def test_cms_never_undercounts_any_value(spark, sf_dir):
    words = _words(spark, sf_dir)
    sketch = sketches.cms_build(words, "word")
    truth = words.groupBy("word").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = sketches.cms_estimate(sketch, truth, "word")
    bad = est.filter(F.col("cms_est") < F.col("true_cnt")).count()
    assert bad == 0  # the CMS guarantee, checked for EVERY distinct word
    # and the sketch is actually lossy-compact: far fewer cells than words
    assert sketch.count() <= sketches.CMS_DEPTH * sketches.CMS_WIDTH


def test_cms_merge_is_exact(spark, sf_dir):
    words = _words(spark, sf_dir).withColumn(
        "half", (F.length("word") % 2 == 0).cast("int")
    )
    a = sketches.cms_build(words.filter(F.col("half") == 0).select("word"), "word")
    b = sketches.cms_build(words.filter(F.col("half") == 1).select("word"), "word")
    merged = {
        (r.d, r.bucket): r.cnt for r in sketches.cms_merge(a, b).collect()
    }
    direct = {
        (r.d, r.bucket): r.cnt
        for r in sketches.cms_build(words.select("word"), "word").collect()
    }
    assert merged == direct  # bucket-wise identical, not just close


def test_cms_absent_value_estimates_small(spark, sf_dir):
    words = _words(spark, sf_dir)
    sketch = sketches.cms_build(words, "word")
    probes = spark.createDataFrame(
        [("zzzznotaword",), ("qqqqqabsent",)], "word string"
    )
    got = {r.word: r.cms_est for r in sketches.cms_estimate(sketch, probes, "word").collect()}
    truth_max = words.groupBy("word").count().agg(F.max("count")).collect()[0][0]
    for w, e in got.items():
        assert 0 <= e < truth_max  # collisions only; min-over-depth damps them


def test_cms_build_is_one_scan(spark, sf_dir):
    """All depth rows come from ONE corpus scan: the physical plan has
    exactly one parquet Scan (the exploded bucket array, not a
    per-depth union of scans) and one shuffle (the map-side-combined
    (d, bucket) agg)."""
    import re

    words = _words(spark, sf_dir)
    plan = (
        sketches.cms_build(words, "word")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1, plan
    assert len(re.findall(r"(?<!Broadcast)Exchange", plan)) == 1, plan


def test_hist_merge_is_exact(spark, sf_dir):
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events")
    a = sketches.hist_build(ev.filter(F.col("event_id") % 2 == 0), "value")
    b = sketches.hist_build(ev.filter(F.col("event_id") % 2 == 1), "value")
    merged = {r.bucket: r.cnt for r in sketches.hist_merge(a, b).collect()}
    direct = {r.bucket: r.cnt for r in sketches.hist_build(ev, "value").collect()}
    assert merged == direct  # bucket-wise identical, not just close


def test_hist_quantiles_within_one_bucket_width(spark, sf_dir):
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events")
    qs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    hist = sketches.hist_build(ev, "value")
    est = {r.q: r.est for r in sketches.hist_quantiles(hist, qs).collect()}
    exact = ev.agg(
        F.expr(f"percentile(value, array({', '.join(map(str, qs))}))").alias("p")
    ).collect()[0].p
    assert set(est) == set(qs)
    for q, true_val in zip(qs, exact):
        # structural bound: in-range data is off by at most one bucket width
        assert abs(est[q] - true_val) <= sketches.HIST_WIDTH, (q, est[q], true_val)


def test_hist_quantiles_relations_are_sketch_sized(spark, sf_dir):
    """The quantile probe never touches data-sized relations: every join
    in the plan is broadcast (the cumulative window + probe join run on
    <= nbins rows)."""
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events")
    hist = sketches.hist_build(ev, "value")
    plan = (
        sketches.hist_quantiles(hist, [0.5])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hist_grouped_quantiles_within_one_bucket_width(spark, sf_dir):
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events")
    qs = [0.25, 0.5, 0.9]
    hist = sketches.hist_build_grouped(ev, "value", ["event_type"])
    est = {
        (r.event_type, r.q): r.est
        for r in sketches.hist_quantiles_grouped(hist, qs, ["event_type"]).collect()
    }
    exact = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, array({', '.join(map(str, qs))}))").alias("p")
    ).collect()
    for row in exact:
        for q, true_val in zip(qs, row.p):
            got = est[(row.event_type, q)]
            assert abs(got - true_val) <= sketches.HIST_WIDTH, (
                row.event_type, q, got, true_val,
            )


def test_hist_grouped_merge_is_exact(spark, sf_dir):
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events")
    a = sketches.hist_build_grouped(
        ev.filter(F.col("event_id") % 2 == 0), "value", ["event_type"]
    )
    b = sketches.hist_build_grouped(
        ev.filter(F.col("event_id") % 2 == 1), "value", ["event_type"]
    )
    merged = {
        (r.event_type, r.bucket): r.cnt
        for r in a.unionAll(b)
        .groupBy("event_type", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    direct = {
        (r.event_type, r.bucket): r.cnt
        for r in sketches.hist_build_grouped(ev, "value", ["event_type"]).collect()
    }
    assert merged == direct


def test_kmv_jaccard_close_to_exact(spark, sf_dir):
    """The k=64 KMV Jaccard estimate lands within sampling error of the
    exact Jaccard of the two user sets (std ~ sqrt(J(1-J)/k) ~ 0.06)."""
    from dwp_hbase_to_mongo_export_spark.queries_analytics import kmv_jaccard_sets
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

    row = kmv_jaccard_sets(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events")
    a = {r.user_id for r in ev.filter(F.col("event_type") == "click")
         .select("user_id").distinct().collect()}
    b = {r.user_id for r in ev.filter(F.col("event_type") == "purchase")
         .select("user_id").distinct().collect()}
    exact_j = len(a & b) / len(a | b)
    assert abs(row.jaccard_est - exact_j) <= 0.2, (row.jaccard_est, exact_j)
    assert abs(row.union_est - len(a | b)) / len(a | b) <= 0.35


def test_cms_screen_superset_and_selective(spark, sf_dir):
    """The CMS screen (a) never drops a true heavy key (superset — the
    never-undercount guarantee applied to screening) and (b) actually
    prunes: the candidate set is smaller than the full key set."""
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = sketches.cms_build(ev, "user_id", width=1024).collect()
    exact = {
        r.user_id: r.cnt
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    threshold = 1.15 * sum(exact.values()) / len(exact)
    est = sketches.cms_literal_estimate(F.col("user_id"), rows, width=1024)
    candidates = {
        r.user_id
        for r in ev.filter(est >= F.lit(threshold)).select("user_id").distinct().collect()
    }
    heavy = {u for u, c in exact.items() if c >= threshold}
    assert heavy <= candidates  # no false negatives, ever
    assert len(candidates) < len(exact)  # the screen prunes


def test_cms_screen_verify_is_two_scans_no_join(spark, sf_dir):
    """The screened verify path is map-only below the aggregation: no
    join operator anywhere (the sketch rides as array literals)."""
    from dwp_hbase_to_mongo_export_spark.queries_analytics import (
        heavy_hitters_screened,
    )

    plan = (
        heavy_hitters_screened(spark, str(sf_dir))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


# ---------------------------------------------------------------------------
# Constant-state KMV build (kmv_partials) — the round-8 rewrite of the
# .distinct().orderBy().limit(k) builds whose exchange was
# cardinality-sized while the docstrings claimed constant state.
# ---------------------------------------------------------------------------


def test_kmv_partials_bounded_and_exact(spark, sf_dir):
    """The fold emits at most k rows per partition, all distinct within
    a partition, and the downstream distinct+bottom-k over the partials
    reproduces the full-data sketch EXACTLY (same hashes, same kth)."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(sketches.kmv_hash(F.col("user_id")).alias("hv"))
    partials = sketches.kmv_partials(h, "hv", (), 64)
    per_part = (
        partials.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"), F.count_distinct("hv").alias("nd"))
        .collect()
    )
    assert per_part, "events fixture must not be empty"
    for r in per_part:
        assert r["n"] <= 64
        assert r["n"] == r["nd"]  # partition-local distinct
    got = sorted(
        r["hv"] for r in partials.distinct().orderBy("hv").limit(64).collect()
    )
    want = sorted(r["hv"] for r in h.distinct().orderBy("hv").limit(64).collect())
    assert got == want  # bit-identical sketch -> unchanged oracles


def test_kmv_partials_grouped_exact(spark, sf_dir):
    """Grouped fold: per-group bottom-k over the partials equals the
    per-group bottom-k over the full data for every group."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        F.col("event_type").alias("g"),
        sketches.kmv_hash(F.col("user_id")).alias("hv"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("g").orderBy("hv")

    def bottomk(df):
        return {
            (r["g"], r["hv"])
            for r in df.distinct()
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 64)
            .collect()
        }

    assert bottomk(sketches.kmv_partials(h, "hv", ["g"], 64)) == bottomk(h)


def test_kmv_partials_no_exchange_below_fold(spark, sf_dir):
    """Plan pin for the constant-state claim: every Exchange sits ABOVE
    the MapInPandas fold — the only relation ever shuffled is the
    <= k-rows-per-partition partial state, never the hash set (no
    full-cardinality aggregate below the final merge)."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(sketches.kmv_hash(F.col("user_id")).alias("hv"))
    sketch = (
        sketches.kmv_partials(h, "hv", (), 64).distinct().orderBy("hv").limit(64)
    )
    plan = sketch._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    below = plan[plan.index("MapInPandas") :]
    assert "Exchange" not in below, below
    assert "HashAggregate" not in below, below  # no distinct below the fold


def test_kmv_estimate_degenerate_inputs():
    """Unsaturated sketches (k_used < k: the sketch holds the WHOLE
    hash set) and zero-hash inputs take the exact-count path instead of
    the noisy fraction estimator / a zero division; empty input
    raises."""
    import pytest

    assert sketches.kmv_estimate_py(1, 123456) == 1.0
    assert sketches.kmv_estimate_py(2, 2**31) == 2.0  # unsaturated
    assert sketches.kmv_estimate_py(63, 2**31) == 63.0  # unsaturated
    assert sketches.kmv_estimate_py(64, 0) == 64.0  # kth hash can BE zero
    with pytest.raises(ValueError):
        sketches.kmv_estimate_py(0, None)
    # saturated path: half-up, not banker's — a boundary quotient must
    # match Spark/DuckDB round() (half away from zero). Python's
    # round(0.5) is 0 (half-to-even); all three engines here say 1.
    assert sketches.kmv_estimate_py(64, 63 * 2**33) == 1.0  # quotient 0.5
    assert sketches.kmv_estimate_py(64, 2**32) == 63.0


def test_exact_heavy_hitters_single_key_frame(spark):
    """The pathological-skew shape skew_split_join exists for: ONE
    distinct key. Round-7 code divided by zero (est_distinct rounded to
    0); now the KMV falls back to the exact count (1) and the screen
    evaluates normally. The RESULT is exact for the definition: with one
    key, threshold = 1.15 x mean = 1.15 x the key's own count, so no
    key clears it — empty, not a crash. Two keys at 9:1 skew shows the
    hot one surviving the same pipeline."""
    df = spark.range(500).select(F.lit(7).alias("k"))
    assert sketches.exact_heavy_hitters(df, "k").collect() == []
    skewed = spark.range(500).select(
        F.when(F.col("id") % 10 == 0, 1).otherwise(7).alias("k")
    )
    rows = sketches.exact_heavy_hitters(skewed, "k").collect()
    assert [(r["k"], r["cnt"]) for r in rows] == [(7, 450)]
    # NULL is never a heavy key, and does not move the threshold
    nulls = spark.range(200).select(F.lit(None).cast("int").alias("k"))
    rows = sketches.exact_heavy_hitters(skewed.unionByName(nulls), "k").collect()
    assert [(r["k"], r["cnt"]) for r in rows] == [(7, 450)]


def test_exact_heavy_hitters_empty_frame_raises(spark):
    import pytest

    df = spark.range(0).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        sketches.exact_heavy_hitters(df, "k")


def test_hist_build_excludes_nulls(spark):
    """NULL values must not count as low-edge mass (floor(NULL)=NULL but
    greatest(NULL,0)=0): the sketch now matches percentile semantics —
    nulls are simply absent."""
    df = spark.createDataFrame(
        [(1.0,), (None,), (None,), (999.0,)], "v double"
    )
    counts = {r["bucket"]: r["cnt"] for r in sketches.hist_build(df, "v").collect()}
    assert sum(counts.values()) == 2  # only the non-null rows
    assert counts.get(0, 0) == 1  # the genuine low value, not the nulls
    grouped = sketches.hist_build_grouped(
        df.withColumn("g", F.lit("a")), "v", ["g"]
    )
    assert sum(r["cnt"] for r in grouped.collect()) == 2


def test_kmv_partials_excludes_null_hashes(spark):
    """kmv_hash(NULL)=NULL is not a hash: the fold must drop it rather
    than let pandas (NaN sorts last) and Spark (nulls sort FIRST asc)
    disagree about whether it is a minimum."""
    df = spark.createDataFrame(
        [(1,), (None,), (2,), (None,), (3,)], "hv long"
    )
    partials = sketches.kmv_partials(df, "hv", (), 2)
    assert None not in {r["hv"] for r in partials.collect()}
    merged = sorted(
        r["hv"] for r in partials.distinct().orderBy("hv").limit(2).collect()
    )
    assert merged == [1, 2]


# --- HLL -------------------------------------------------------------------


def _hll_py_registers(values):
    """Pure-Python reference for the md5-derived HLL register build."""
    import hashlib

    regs: dict[int, int] = {}
    for s in values:
        hx = hashlib.md5(str(s).encode()).hexdigest()
        r = int(hx[:2], 16)
        v = int(hx[2:14], 16)
        rho = 49 if v == 0 else 49 - v.bit_length()
        regs[r] = max(regs.get(r, 0), rho)
    return regs


def test_hll_registers_match_python_reference(spark):
    vals = [f"u{i}" for i in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "k string")
    got = {
        (r["r"], r["mr"])
        for r in sketches.hll_registers(df, F.col("k")).collect()
    }
    assert got == set(_hll_py_registers(vals).items())


def test_hll_rho_edge_cases(spark):
    """rho is the 1-based position of the first set bit of the 48-bit
    tail; an all-zero tail reads 49 (the paper's w+1 convention)."""
    rows = sketches.hll_rows(
        spark.createDataFrame([(i,) for i in range(2000)], "k int"),
        F.col("k"),
    ).collect()
    assert all(1 <= r["rho"] <= 49 for r in rows)
    assert all(0 <= r["r"] < sketches.HLL_M for r in rows)


def test_hll_merge_equals_direct(spark):
    """Register-wise MAX of shard sketches == sketch of the union —
    the mergeability algebra, on an adversarial 3-way shard split."""
    df = spark.createDataFrame(
        [(f"u{i % 700}", i % 3) for i in range(5000)], "k string, shard int"
    )
    rows = sketches.hll_rows(df, F.col("k"), ["shard"])
    daily = rows.groupBy("shard", "r").agg(F.max("rho").alias("mr"))
    merged = sketches.hll_merge(daily)
    direct = rows.groupBy("r").agg(F.max("rho").alias("mr"))
    assert {(r["r"], r["mr"]) for r in merged.collect()} == {
        (r["r"], r["mr"]) for r in direct.collect()
    }
    em = sketches.hll_estimate(merged).collect()[0]
    ed = sketches.hll_estimate(direct).collect()[0]
    assert em.asDict() == ed.asDict()


def test_hll_linear_counting_near_exact_when_small(spark):
    """Tiny cardinalities sit in the linear-counting regime, where the
    estimate is near-exact (V close to m)."""
    df = spark.createDataFrame([(f"u{i}",) for i in range(20)], "k string")
    est = sketches.hll_estimate(
        sketches.hll_registers(df, F.col("k"))
    ).collect()[0]
    assert est["n_registers_used"] <= 20
    assert abs(est["est_distinct"] - 20) <= 2


def test_hll_estimate_within_published_error(spark):
    """m=256 -> sigma = 1.04/16 = 6.5%; allow 3 sigma on one draw."""
    n = 5000
    df = spark.createDataFrame([(f"user-{i}",) for i in range(n)], "k string")
    est = sketches.hll_estimate(
        sketches.hll_registers(df, F.col("k"))
    ).collect()[0]["est_distinct"]
    assert abs(est - n) / n < 0.195, est


def test_hll_estimate_empty_input_is_zero(spark):
    df = spark.range(0).select(F.col("id").cast("string").alias("k"))
    est = sketches.hll_estimate(
        sketches.hll_registers(df, F.col("k"))
    ).collect()[0]
    assert est["n_registers_used"] == 0
    assert est["est_distinct"] == 0.0


def test_hll_duplicates_do_not_move_the_estimate(spark):
    """Cardinality estimation must be insensitive to multiplicity:
    max() is idempotent, so 100x-duplicated input builds the identical
    sketch."""
    once = spark.createDataFrame([(f"u{i}",) for i in range(300)], "k string")
    many = spark.createDataFrame(
        [(f"u{i}",) for i in range(300) for _ in range(7)], "k string"
    )
    r1 = {
        (r["r"], r["mr"])
        for r in sketches.hll_registers(once, F.col("k")).collect()
    }
    r2 = {
        (r["r"], r["mr"])
        for r in sketches.hll_registers(many, F.col("k")).collect()
    }
    assert r1 == r2


def test_hll_streaming_registers_equal_batch(spark, sf_dir):
    """The streaming MAX-fold drains to the exact batch registers —
    merge IS the streaming aggregation (the histogram/CMS discipline
    for the distinct member)."""
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table
    from dwp_hbase_to_mongo_export_spark.streaming import incremental as st

    got = st.run_available_now(st.hll_sketch_stream(spark, sf_dir))
    ev = load_table(spark, sf_dir, "events")
    want = sketches.hll_registers(ev, F.col("user_id"))
    assert {(r["r"], r["mr"]) for r in got.collect()} == {
        (r["r"], r["mr"]) for r in want.collect()
    }


# --- durable HLL register store (operators/hllstore.py) ----------------------


def test_hll_store_roundtrip_and_idempotent_append(spark, tmp_path):
    """save -> append -> load equals the all-data registers, and
    REPLAYING the same append verbatim changes nothing — max-merge is
    idempotent, the property that lets this store skip the five row
    stores' marker/batch-id protocol (module docstring)."""
    from dwp_hbase_to_mongo_export_spark.operators import hllstore

    a = spark.createDataFrame([(f"u{i}",) for i in range(200)], "k string")
    b = spark.createDataFrame([(f"u{i}",) for i in range(150, 400)], "k string")
    both = a.unionAll(b)
    path = str(tmp_path / "hll")
    hllstore.save_hll_registers(sketches.hll_registers(a, F.col("k")), path)
    delta = sketches.hll_registers(b, F.col("k"))
    hllstore.append_to_hll_registers(delta, path)
    want = {
        (r["r"], r["mr"])
        for r in sketches.hll_registers(both, F.col("k")).collect()
    }
    got = {
        (r["r"], r["mr"])
        for r in hllstore.load_hll_registers(spark, path).collect()
    }
    assert got == want
    # replay the SAME append — a retry after a crash — and nothing moves
    hllstore.append_to_hll_registers(delta, path)
    again = {
        (r["r"], r["mr"])
        for r in hllstore.load_hll_registers(spark, path).collect()
    }
    assert again == want


def test_hll_store_recovers_torn_swap(spark, tmp_path):
    """A crash between _swap_write's two renames leaves the backup dir;
    load recovers it and answers from the pre-crash registers."""
    import os
    import shutil

    from dwp_hbase_to_mongo_export_spark.operators import hllstore

    a = spark.createDataFrame([(f"u{i}",) for i in range(100)], "k string")
    path = str(tmp_path / "hll")
    hllstore.save_hll_registers(sketches.hll_registers(a, F.col("k")), path)
    want = {
        (r["r"], r["mr"])
        for r in hllstore.load_hll_registers(spark, path).collect()
    }
    # stage the torn state: registers renamed out, replacement missing
    reg = os.path.join(path, "registers")
    os.rename(reg, reg + ".swap-old")
    got = {
        (r["r"], r["mr"])
        for r in hllstore.load_hll_registers(spark, path).collect()
    }
    assert got == want
    shutil.rmtree(path)


def test_hll_store_geometry_mismatch_refuses(spark, tmp_path):
    import json
    import os

    import pytest

    from dwp_hbase_to_mongo_export_spark.operators import hllstore

    a = spark.createDataFrame([("u1",)], "k string")
    path = str(tmp_path / "hll")
    hllstore.save_hll_registers(sketches.hll_registers(a, F.col("k")), path)
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump({"m": 64, "w": 48}, f)
    with pytest.raises(ValueError, match="geometry"):
        hllstore.load_hll_registers(spark, path)


def test_hll_store_stream_ingest_matches_batch_and_replays_harmlessly(
    spark, sf_dir, tmp_path
):
    """Micro-batch ingest into the register store equals the one-shot
    batch build, and replaying the last epoch's append verbatim — the
    crash-retry case — changes nothing, BY ALGEBRA rather than by the
    row stores' batch-id sidecar."""
    from dwp_hbase_to_mongo_export_spark.operators import hllstore
    from dwp_hbase_to_mongo_export_spark.sources.parquet import load_table
    from dwp_hbase_to_mongo_export_spark.streaming import incremental as st

    ev = load_table(spark, sf_dir, "events").select("user_id")
    delta = str(tmp_path / "delta")
    ev.repartition(3).write.parquet(delta)
    store = str(tmp_path / "hll")
    hllstore.save_hll_registers(
        sketches.hll_registers(spark.range(0), F.col("id").cast("string")),
        store,
    )
    res = st.hll_store_stream_ingest(spark, delta, store)
    assert res["epochs"] == 3 and res["skipped"] == 0
    want = {
        (r["r"], r["mr"])
        for r in sketches.hll_registers(ev, F.col("user_id")).collect()
    }
    got = {
        (r["r"], r["mr"])
        for r in hllstore.load_hll_registers(spark, store).collect()
    }
    assert got == want
    # replay one epoch's rows verbatim — idempotent by value
    one = spark.read.parquet(delta).limit(500)
    hllstore.append_to_hll_registers(
        sketches.hll_registers(one, F.col("user_id")), store
    )
    assert {
        (r["r"], r["mr"])
        for r in hllstore.load_hll_registers(spark, store).collect()
    } == want
