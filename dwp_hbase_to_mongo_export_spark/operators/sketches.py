"""Mergeable frequency sketches: Count-Min (Cormode/Muthukrishnan
2005, public literature) over md5-derived hash rows.

The heavy-hitter complement to the KMV distinct sketch
(queries_analytics.py): where KMV answers "how many distinct?", CMS
answers "about how often does THIS value occur?" from a constant-size
summary — the corpus-statistics primitive a 100 TB pipeline uses for
vocabulary screens, boilerplate suspicion, and join-skew probes
without a full-cardinality groupBy.

Design points, Spark-first:

* ONE corpus scan builds all ``depth`` hash rows: the per-row bucket
  ids are a single array expression exploded in place (posexplode),
  so the build is one scan + one map-side-combined aggregation whose
  shuffle carries at most depth x width partial rows per partition —
  constant in corpus size, like the kmeans/covariance update shapes.
* md5-derived buckets, not Murmur: DETERMINISTIC across engines, so
  the whole sketch — and every estimate taken from it — is
  value-checkable bit-for-bit against the DuckDB oracle (the same
  reason the KMV sketch uses md5, and why the HLL at the bottom of
  this module derives ITS registers from md5 instead of delegating to
  approx_count_distinct, whose register layout is
  implementation-private and can't be cross-checked).
* Mergeable by bucket-wise SUM: sketch(A union B) = merge(sketch(A),
  sketch(B)) EXACTLY (not just approximately) — per-shard/per-day
  sketches combine without rescanning, each shard shipping
  depth x width longs. Pinned by the cms_sketch_merge oracle.
* The classic CMS guarantee holds: estimates never undercount
  (est >= true count; overcounts bounded by collisions), pinned for
  every probe in tests.

Reference scope note: the reference computes no corpus statistics (its
unit is the exported record — HBaseWriter/S3 sinks); this extends the
engine's sketch algebra alongside KMV and the moment sketches.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CMS_WIDTH, CMS_DEPTH = 256, 4


def cms_bucket(value: Column, d: int, width: int = CMS_WIDTH) -> Column:
    """Row d's bucket for a value: first 8 md5 hex chars of 'd:value'
    as a bigint, mod width — the exact expression the oracle mirrors."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{d}:"), value.cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % width
    )


def cms_build(
    df: DataFrame,
    value_col: str,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> DataFrame:
    """Count-Min sketch of a column's value frequencies: the
    (d, bucket, cnt) relation, at most depth x width rows. One corpus
    scan (all depth buckets computed as one exploded array expression),
    one aggregation."""
    buckets = F.array(
        *[cms_bucket(F.col(value_col), d, width) for d in range(depth)]
    )
    return (
        df.select(F.posexplode(buckets).alias("d", "bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Bucket-wise sum of sketches built with the same (width, depth):
    exactly the sketch of the unioned inputs."""
    assert sketches, "cms_merge needs at least one sketch"
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionAll(s)
    return u.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    value_col: str,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
    out_col: str = "cms_est",
) -> DataFrame:
    """Frequency estimates for a probe relation's values: min over the
    depth rows of that value's bucket count (an absent bucket is 0).
    The sketch is depth x width rows — broadcast side; the join and the
    min-agg are probe-sized. Estimates never undercount."""
    pb = probes.select(
        "*",
        F.posexplode(
            F.array(*[cms_bucket(F.col(value_col), d, width) for d in range(depth)])
        ).alias("d", "bucket"),
    )
    joined = pb.join(F.broadcast(sketch), ["d", "bucket"], "left").withColumn(
        "_cnt", F.coalesce("cnt", F.lit(0))
    )
    return (
        joined.groupBy(*probes.columns)
        .agg(F.min("_cnt").cast("bigint").alias(out_col))
    )


# ---------------------------------------------------------------------------
# Mergeable equi-width histogram — the quantile member of the sketch
# algebra (KMV: distinct, CMS: frequency, histogram: distribution).
# Fixed DATA-INDEPENDENT bucket boundaries are what make it exactly
# mergeable (bucket-wise sum, like CMS) and engine-independently
# checkable; the error bound is structural (one bucket width), unlike
# KLL/t-digest whose layouts are implementation-private.
# ---------------------------------------------------------------------------

HIST_LO, HIST_WIDTH, HIST_NBINS = 0.0, 5.0, 200


def hist_bucket(
    value: Column,
    lo: float = HIST_LO,
    width: float = HIST_WIDTH,
    nbins: int = HIST_NBINS,
) -> Column:
    """Clamped equi-width bucket id: floor((x - lo)/width) into
    [0, nbins-1]. Out-of-range values land in the edge buckets, so the
    sketch never drops mass (edge-bucket estimates are then clamped
    rather than wrong)."""
    raw = F.floor((value - F.lit(lo)) / F.lit(width))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1)).cast("int")


def hist_build(
    df: DataFrame,
    value_col: str,
    lo: float = HIST_LO,
    width: float = HIST_WIDTH,
    nbins: int = HIST_NBINS,
) -> DataFrame:
    """Histogram sketch of a numeric column: the (bucket, cnt) relation,
    at most nbins rows. One scan, one map-side-combined aggregation —
    the shuffle carries at most nbins partial rows per partition.
    NULLs are excluded (percentile semantics): without the filter,
    floor(NULL)=NULL but greatest(NULL, 0)=0 — Spark's greatest/least
    skip nulls — so every null would silently count as low-edge mass
    and skew low quantiles on nullable columns."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(hist_bucket(F.col(value_col), lo, width, nbins).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge(*hists: DataFrame) -> DataFrame:
    """Bucket-wise sum of histograms over the same (lo, width, nbins):
    exactly the histogram of the unioned inputs."""
    assert hists, "hist_merge needs at least one histogram"
    u = hists[0]
    for h in hists[1:]:
        u = u.unionAll(h)
    return u.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def hist_quantiles(
    hist: DataFrame,
    qs: list[float],
    lo: float = HIST_LO,
    width: float = HIST_WIDTH,
) -> DataFrame:
    """Quantile estimates from a histogram sketch: for each q in (0, 1],
    the target mass t = q*N is located in the cumulative distribution
    and linearly interpolated inside its bucket —
    est = lo + width*(bucket + (t - cum_below)/cnt). The estimate is
    within one bucket width of the exact quantile for in-range data
    (pinned in tests). All relations here are at most nbins rows: the
    single-partition cumulative window, the broadcast total, and the
    non-equi probe join are all sketch-sized, never data-sized."""
    from pyspark.sql.window import Window

    spark = hist.sparkSession
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    total = hist.agg(F.sum("cnt").alias("n"))
    probes = (
        spark.createDataFrame([(q,) for q in qs], "q double")
        .crossJoin(F.broadcast(total))
        .withColumn("t", F.col("q") * F.col("n"))
    )
    hit = probes.join(
        F.broadcast(cum),
        ((F.col("cum") - F.col("cnt")) < F.col("t")) & (F.col("cum") >= F.col("t")),
    )
    return hit.select(
        "q",
        F.round(
            F.lit(lo)
            + F.lit(width)
            * (
                F.col("bucket")
                + (F.col("t") - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
            ),
            4,
        ).alias("est"),
    )


def hist_build_grouped(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo: float = HIST_LO,
    width: float = HIST_WIDTH,
    nbins: int = HIST_NBINS,
) -> DataFrame:
    """Per-group histogram sketch: the (*group_cols, bucket, cnt)
    relation, at most |groups| x nbins rows. Same one-scan shape as
    hist_build — the shuffle carries at most nbins partials per
    (partition, group), so per-group quantiles over an UNBOUNDED group
    set cost one aggregation instead of a full per-group sort (the
    escape hatch percentiles_by_type's exact path can't offer). NULL
    values are excluded, matching hist_build (and percentile
    semantics)."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *group_cols,
            hist_bucket(F.col(value_col), lo, width, nbins).alias("bucket"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_quantiles_grouped(
    hist: DataFrame,
    qs: list[float],
    group_cols: list[str],
    lo: float = HIST_LO,
    width: float = HIST_WIDTH,
) -> DataFrame:
    """Per-group quantile estimates from a grouped histogram sketch:
    the same locate-and-interpolate as hist_quantiles, with the
    cumulative window, the totals, and the probe join all keyed by the
    group columns. Every relation is sketch-sized (|groups| x nbins at
    most); the probe join is an equi-join on the group key with the
    mass-range predicate as its residual, so no group's sketch ever
    meets another's. Error bound per group: one bucket width, same as
    the global sketch (pinned in tests)."""
    from pyspark.sql.window import Window

    spark = hist.sparkSession
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy(*group_cols)
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    total = hist.groupBy(*group_cols).agg(F.sum("cnt").alias("n"))
    qdf = spark.createDataFrame([(q,) for q in qs], "q double")
    probes = total.crossJoin(F.broadcast(qdf)).withColumn(
        "t", F.col("q") * F.col("n")
    )
    # rename the sketch side's group columns so the equi-keys resolve
    # unambiguously (both sides descend from `hist`, and Spark would
    # otherwise collapse probes[g] == cum[g] to a trivially-true
    # same-attribute predicate)
    cum = cum.select(
        *[F.col(g).alias(f"_g_{g}") for g in group_cols], "bucket", "cnt", "cum"
    )
    cond = ((F.col("cum") - F.col("cnt")) < F.col("t")) & (
        F.col("cum") >= F.col("t")
    )
    for g in group_cols:
        cond = cond & (F.col(g) == F.col(f"_g_{g}"))
    hit = probes.join(F.broadcast(cum), cond)
    return hit.select(
        *group_cols,
        "q",
        F.round(
            F.lit(lo)
            + F.lit(width)
            * (
                F.col("bucket")
                + (F.col("t") - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
            ),
            4,
        ).alias("est"),
    )


def cms_literal_estimate(
    value: Column,
    sketch_rows,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> Column:
    """Per-row CMS estimate as a pure map-side expression: the collected
    sketch (<= depth x width rows — a bounded driver collect, same class
    as centroids/codebooks) is embedded as ``depth`` ARRAY LITERALS
    (single Literal objects, not per-element codegen), and the estimate
    is the min over depth of O(1) element_at lookups. This is what makes
    a sketch-SCREENED scan possible: a corpus-scale filter on estimated
    frequency with NO join and NO shuffle — the never-undercount
    guarantee means the screen can only pass false positives, never drop
    a true heavy key.

    Construction note: each depth row is built as
    split(lit(csv)).cast(array<bigint>) — ConstantFolding collapses it
    to one ArrayData literal. ``F.lit(list)`` must NOT be used: it
    expands to a width-child array(...) whose analysis alone is O(width)
    tree nodes (measured 25 s at 65536 elements)."""
    tables = [[0] * width for _ in range(depth)]
    for r in sketch_rows:
        tables[r["d"]][r["bucket"]] = int(r["cnt"])
    ests = [
        F.element_at(
            F.split(F.lit(",".join(map(str, tables[d]))), ",").cast(
                "array<bigint>"
            ),
            cms_bucket(value, d, width).cast("int") + F.lit(1),
        )
        for d in range(depth)
    ]
    return F.least(*ests)


def kmv_hash(value: Column) -> Column:
    """The KMV hash: first 8 md5 hex chars as a bigint in [0, 2^32) —
    deterministic across engines (the reason this family avoids HLL),
    shared by every KMV build and mirrored by every KMV oracle."""
    return F.conv(F.substring(F.md5(value.cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )


def kmv_partials(
    df: DataFrame,
    hv_col: str = "hv",
    group_cols: Sequence[str] = (),
    k: int = 64,
) -> DataFrame:
    """Partition-local bottom-k DISTINCT fold — the constant-state KMV
    partial. Emits at most k rows per (input partition, group), so the
    exchange ABOVE this node carries <= k x n_partitions (x |groups
    present per partition|) hashes instead of the per-partition-distinct
    key set that a ``.distinct()`` build shuffles (cardinality-sized —
    the same cost class as an exact count-distinct, exactly what the
    sketch exists to avoid; the round-7 KMV builds paid it while their
    docstrings claimed otherwise). Plan-pinned: no Exchange below this
    node (tests/test_sketches.py).

    The fold is EXACT, so the sketch value cannot change: any hash in
    the global bottom-k distinct set (of any group) has fewer than k
    distinct hashes below it globally, hence fewer than k below it
    within its own partition — so it survives the partition-local fold,
    and a downstream distinct + bottom-k over the partials reproduces
    the full-data sketch bit-for-bit (pinned by the unchanged KMV
    oracles).

    Python-worker note: every row crosses to Python ONCE, map-side, as
    an Arrow-batched single-bigint column (plus narrow group keys) —
    linear, shuffle-free, and the only non-JVM stage in the KMV family;
    the per-partition state is |groups| x k hashes."""
    gcols = list(group_cols)
    cols = gcols + [hv_col]
    # a NULL hash is not a hash (it means the hashed value was NULL):
    # excluding it here keeps the sketch semantics explicit — pandas
    # would otherwise sort NaN last and Spark's orderBy would sort it
    # FIRST, a cross-layer disagreement waiting for nullable keys
    proj = df.filter(F.col(hv_col).isNotNull()).select(*cols)
    schema = proj.schema

    def fold(batches):
        out = bottom_k_distinct_fold(batches, cols, gcols, k)
        if out is not None and len(out):
            yield out

    return proj.mapInPandas(fold, schema)


def bottom_k_distinct_fold(batches, cols: list[str], gcols: list[str], k: int):
    """The pure pandas core of kmv_partials' per-partition fold: stream
    batches, keep the k smallest DISTINCT hv rows (per group when
    grouped). Module-level so hypothesis can drive it directly against
    an exact reference (tests/test_properties.py) — the distributed
    wrapper adds nothing semantically, only partitioning, and the
    partition/global merge equivalence is pinned separately in
    tests/test_sketches.py."""
    import pandas as pd

    state: pd.DataFrame | None = None
    for pdf in batches:
        cur = pdf if state is None else pd.concat((state, pdf), ignore_index=True)
        cur = cur.drop_duplicates(cols).sort_values(cols, kind="mergesort")
        # dropna=False: pandas groupby silently DROPS NaN group keys by
        # default — a null-keyed group would vanish from the sketch
        # while Spark-side consumers still expect its row
        state = (
            cur.groupby(gcols, sort=False, dropna=False).head(k)
            if gcols
            else cur.head(k)
        )
    return state


def kmv_estimate_py(k_used: int, kth_hash: int | None, k: int = 64) -> float:
    """Driver-side KMV cardinality estimate with the degenerate inputs
    handled and HALF-UP rounding: (k-1)/kth-fraction for a SATURATED
    sketch; the EXACT count (= k_used — an unsaturated sketch holds the
    entire hash set, the distinct_users_kmv_by_day convention, and with
    k_used this small the fraction estimator is pure noise) when
    k_used < k or the kth hash is 0 (md5's first 8 hex chars can be
    all-zero); ValueError on empty input — an estimate of 0 distinct
    keys divides a threshold by zero downstream and means the caller
    scanned nothing. ``math.floor(x + 0.5)`` (half away from zero for
    positive x) matches both Spark's F.round and DuckDB's round();
    Python's built-in round() is half-to-even and diverges on boundary
    quotients."""
    if k_used == 0:
        raise ValueError("KMV estimate over empty input: no hashes to sketch")
    if k_used < k or not kth_hash:
        return float(k_used)
    return float(math.floor((k_used - 1) * 4294967296.0 / kth_hash + 0.5))


def exact_heavy_hitters(
    df: DataFrame,
    key_col: str,
    factor: float = 1.15,
    width: int = 1024,
) -> DataFrame:
    """EXACT heavy keys via the all-sketch screen: CMS estimates filter
    rows map-side (no join, no shuffle — cms_literal_estimate), the
    threshold is ``factor`` x the mean key frequency with cardinality
    estimated by a k=64 KMV sketch built from constant-state partials
    (kmv_partials — the exchange carries <= 64 hashes per partition, no
    exact-distinct pass), and the final exact aggregation + HAVING runs
    over candidate keys only. Never-undercount makes the screen a
    superset filter, so the result is exactly {key: true_cnt >=
    threshold}. Driver collects are the sketch (<= depth x width rows)
    and one KMV scalar row — bounded.

    Returns (key_col, cnt). The output size is bounded by
    total/threshold keys (< cardinality/factor), which is what makes
    collecting it for skew routing legitimate at 100 TB. Degenerate
    inputs (single distinct key — the pathological-skew shape
    skew_split_join exists for; empty frame) take the exact-count /
    ValueError paths of kmv_estimate_py instead of dividing by zero.

    NULL is never a heavy key: NULL rows are dropped first (cms_build
    would give them a NULL bucket), so they count toward neither the
    total nor the cardinality estimate."""
    df = df.filter(F.col(key_col).isNotNull())
    sketch_rows = cms_build(df, key_col, width=width).collect()
    total = sum(int(r["cnt"]) for r in sketch_rows if r["d"] == 0)

    kmv = (
        kmv_partials(df.select(kmv_hash(F.col(key_col)).alias("hv")))
        .distinct()
        .orderBy("hv")
        .limit(64)
        .agg(F.count(F.lit(1)).alias("k"), F.max("hv").alias("kth"))
        .collect()[0]
    )
    est_distinct = kmv_estimate_py(kmv["k"], kmv["kth"])
    threshold = factor * total / est_distinct

    est = cms_literal_estimate(F.col(key_col), sketch_rows, width=width)
    return (
        df.filter(est >= F.lit(threshold))
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= F.lit(threshold))
    )


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet/Fuchs/Gandouet/Meunier 2007, public literature)
# over md5-derived registers.
#
# The third distinct-count member of the sketch family, next to KMV:
# where KMV keeps the k smallest hashes (k longs of state, estimate
# from the kth order statistic), HLL keeps max(rho) per register — m
# SMALL INTEGERS of state with ~1.04/sqrt(m) relative error, the shape
# every production cardinality system (Redis, BigQuery, Druid) uses.
# Spark's own approx_count_distinct IS an HLL, but its register layout
# is implementation-private, so its estimates can't be value-checked
# against another engine; THIS build derives registers from md5 like
# the rest of the family, so DuckDB reproduces every register and every
# estimate bit-for-bit (the reason the family previously stopped at
# KMV).
#
# Determinism notes (the family discipline):
# * register r = first md5 byte (m=256); rho = position of the first
#   set bit of the NEXT 48 hash bits (w=48), both integers.
# * The harmonic-mean denominator sum(2^-M_j) is computed as the EXACT
#   BIGINT sum(2^(49-M_j)) (every term dyadic, max total 256*2^49 <
#   2^63) so summation ORDER cannot shift a low bit across engines —
#   a double fold of 2^-M_j terms spans 57 bits of scale and WOULD be
#   order-sensitive. The estimate is then ONE double division by a
#   shared literal constant.
# * Mergeable by register-wise MAX — sketch(A ∪ B) = merge exactly,
#   the same algebra as CMS's bucket-wise SUM. Pinned by
#   hll_sketch_merge's oracle.
# * Small-range (linear-counting) correction applies below 2.5m with
#   empty registers, per the paper; the 48-bit hash width makes the
#   large-range collision correction irrelevant at any realistic
#   cardinality (2^48 ≈ 2.8e14).
# ---------------------------------------------------------------------------

HLL_M = 256  # registers: first md5 byte
HLL_W = 48  # hash bits consumed after the register byte (12 hex chars)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)  # alpha_m for m >= 128
# est = alpha*m^2 / sum(2^-M_j) = HLL_ALPHA_NUM / sum(2^(49-M_j)):
# one shared double literal, one division — bit-identical across engines
HLL_ALPHA_NUM = HLL_ALPHA * HLL_M * HLL_M * float(1 << (HLL_W + 1))


def hll_rows(
    df: DataFrame, value: Column, group_cols: Sequence[str] = ()
) -> DataFrame:
    """(group..., r, rho) per input row: register id and leading-bit
    rank of the md5-derived hash. The hex digest and the 48-bit tail
    are STAGED as columns (each feeds 2+ consumers — inlined, Catalyst
    re-evaluates the md5 per use, the round-11 staging discipline)."""
    gcols = list(group_cols)
    staged = df.select(*gcols, F.md5(value.cast("string")).alias("_hex"))
    v = F.conv(F.substring("_hex", 3, 12), 16, 10).cast("bigint")
    staged = staged.select(
        *gcols,
        F.conv(F.substring("_hex", 1, 2), 16, 10).cast("bigint").alias("r"),
        v.alias("_v"),
    )
    rho = (
        F.when(F.col("_v") == 0, F.lit(HLL_W + 1))
        .otherwise(F.lit(HLL_W + 1) - F.length(F.bin("_v")))
        .cast("int")
    )
    return staged.select(*gcols, "r", rho.alias("rho"))


def hll_registers(
    df: DataFrame, value: Column, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Build the register relation (group..., r, mr): max(rho) per
    register. ONE scan + one map-side-combined aggregation whose
    exchange carries <= m rows per (partition, group present) — max()
    partial-aggregates for free, so no custom fold is needed (unlike
    KMV's bottom-k, which Spark has no native partial for). State is m
    small ints per group regardless of input size."""
    return (
        hll_rows(df, value, group_cols)
        .groupBy(*list(group_cols), "r")
        .agg(F.max("rho").alias("mr"))
    )


def hll_estimate(regs: DataFrame, group_cols: Sequence[str] = ()) -> DataFrame:
    """Estimate cardinality from a register relation (r, mr): returns
    (group..., n_registers_used, est_distinct). est_distinct carries
    the paper's small-range linear-counting correction (V = empty
    registers; est <= 2.5m and V > 0 -> m*ln(m/V)) and is rounded to
    1dp so the single ln() — the only libm call in the estimate — can't
    flip a value hash on a last-ulp engine difference. Works identically
    on a directly-built, merged, or recovered register relation: the
    input IS the sketch."""
    gcols = list(group_cols)
    base = regs.select(
        *gcols,
        F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_W + 1} - mr)").alias("_wt"),
    )
    n = F.count(F.lit(1))
    v_empty = (F.lit(HLL_M) - n).cast("bigint")
    s_int = F.coalesce(F.sum("_wt"), F.lit(0)) + v_empty * F.lit(
        1 << (HLL_W + 1)
    ).cast("bigint")
    raw = F.lit(HLL_ALPHA_NUM) / s_int.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (v_empty > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v_empty.cast("double")),
    ).otherwise(raw)
    aggs = [
        n.alias("n_registers_used"),
        F.round(est, 1).alias("est_distinct"),
    ]
    return base.groupBy(*gcols).agg(*aggs) if gcols else base.agg(*aggs)


def hll_merge(regs: DataFrame, group_cols: Sequence[str] = ()) -> DataFrame:
    """Merge register relations by register-wise MAX — the HLL sketch
    algebra: per-shard/per-day sketches combine into the union's sketch
    EXACTLY (max is associative/commutative/idempotent), each shard
    shipping m small ints. Input may carry extra shard columns; they
    are folded away."""
    return regs.groupBy(*list(group_cols), "r").agg(F.max("mr").alias("mr"))
