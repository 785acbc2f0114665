"""Skew-split join: route hot join keys through a broadcast path and
cold keys through the ordinary co-partitioned shuffle join, then union
— the classic production remedy for EXTREME key skew (one key larger
than a task), exact by construction.

Where it sits relative to Spark's own machinery:

* AQE's skew-join handling (enabled in session.py) splits oversized
  SORT-MERGE PARTITIONS at runtime — it helps when a partition is a
  few times too big, but the hot key's rows are still shuffled, still
  sorted, and it only kicks in for supported join shapes.
* The explicit split is stronger for pathological keys: hot FACT rows
  never shuffle at all (they map-join against a broadcast of just the
  hot dimension rows), and the cold side keeps a clean co-partitioned
  plan. The cost of knowing the hot set is one constant-size sketch
  pass (operators/sketches.exact_heavy_hitters — CMS screen + KMV
  threshold built from constant-state partials, no exact-distinct
  pass, no full groupBy).

Exactness: the hot list is an exact heavy-hitter set (the screen never
drops a hot key), the hot/cold row partition is a disjoint cover, and
each side joins exactly — so union(cold ⋈, hot ⋈) IS the plain join,
which is what the oracle checks.

Reference scope note: the reference's single fixed join is the
scan-time cell merge (HBaseResultProcessor.kt); skew routing extends
the engine for star-schema joins at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sketches import exact_heavy_hitters


def detect_hot_keys_sampled(
    fact: DataFrame,
    fact_key: str,
    sample_fraction: float = 0.02,
    min_share: float = 0.001,
    max_hot: int = 1000,
    seed: int = 42,
) -> list:
    """Hot-key candidates from a SEEDED Bernoulli sample — the cheap
    detection mode for skew ROUTING, where exactness buys nothing: a
    borderline key the sample misses simply takes the cold path and the
    join result is unchanged. A key is hot when its share of the sample
    is >= ``min_share`` (default 0.1% — far below 'one key larger than
    a task', far above binomial noise at the default 2% sample: a true
    0.1%-share key appears ~sample_rows/1000 times). Cost: one
    fraction-of-a-scan plus a sample-cardinality-bounded aggregation —
    vs the exact sketch pipeline's ~2 full fact scans. The seed makes
    routing (not just results) deterministic across runs."""
    smp = fact.select(fact_key).sample(fraction=sample_fraction, seed=seed)
    counts = smp.groupBy(fact_key).agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n")).collect()[0]["n"] or 0
    if not total:
        return []
    rows = (
        counts.filter(F.col("cnt") >= F.lit(min_share * total))
        .orderBy(F.desc("cnt"), F.asc(fact_key))
        .limit(max_hot)
        .collect()
    )
    return [r[fact_key] for r in rows]


def skew_split_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    factor: float = 1.15,
    width: int = 1024,
    max_hot: int = 1000,
    hot_keys: list | None = None,
    detect: str = "exact",
    sample_fraction: float = 0.02,
    min_share: float = 0.001,
) -> DataFrame:
    """Inner-join ``fact`` with ``dim`` with hot keys routed around the
    shuffle. The hot set is detected on the FACT side (that is where
    skew lives); the cold join is hinted SHUFFLE_MERGE to pin the plan
    a 100 TB dimension forces (too big to broadcast whole — its
    hot-key SUBSET is what stays broadcastable).

    Detection modes — the RESULT is the plain join under every mode
    (routing is the only thing detection decides, and demoting any key
    to the cold path is always correct):

    * ``hot_keys=[...]`` — precomputed list, no detection scan: the
      production shape; hot keys are distribution properties, stable
      across a pipeline's runs, so detection is paid once (or read from
      yesterday's run) and amortised. An empty list explicitly requests
      the plain cold-path join.
    * ``detect="sample"`` — seeded-sample share threshold
      (detect_hot_keys_sampled): one fraction-of-a-scan; the right
      inline default when the join runs once and exact frequencies are
      not otherwise needed.
    * ``detect="exact"`` — the CMS+KMV screened pipeline
      (exact_heavy_hitters, ~2 full fact scans): pays for an EXACT
      frequency-thresholded hot set — use when the hot list itself is a
      deliverable (skew reports, reuse via ``hot_keys`` next run).
      tools/skew_bench.py measures all shapes against AQE (SCALING.md).

    ``max_hot`` guards the degenerate case where a tight distribution
    puts MANY keys just past the threshold: only the heaviest max_hot
    route hot (keeping the isin literal and the broadcast bounded);
    demoting a key to the cold path never changes the result, only the
    routing — so the cap trades routing optimality for a bounded plan,
    never correctness. A NULL key is never hot (in any mode, including a
    given list): NULL rows route cold and drop out of the join there."""
    if hot_keys is None:
        if detect == "sample":
            hot_keys = detect_hot_keys_sampled(
                fact,
                fact_key,
                sample_fraction=sample_fraction,
                min_share=min_share,
                max_hot=max_hot,
            )
        elif detect == "exact":
            hot_rows = (
                exact_heavy_hitters(fact, fact_key, factor=factor, width=width)
                .orderBy(F.desc("cnt"), F.asc(fact_key))
                .limit(max_hot)
            )
            hot_keys = [r[fact_key] for r in hot_rows.collect()]  # <= max_hot
        else:
            raise ValueError(f"unknown detect mode {detect!r}")
    # NULL never matches an inner equi-join, so NULL keys take the cold
    # path (where the join drops them); a NULL in the isin list would make
    # ~isin NULL for every cold key and silently drop all cold rows
    hot_keys = [k for k in hot_keys if k is not None][:max_hot]

    on = fact[fact_key] == dim[dim_key]
    if not hot_keys:
        return fact.join(dim.hint("merge"), on)

    is_hot = F.col(fact_key).isin(hot_keys)
    cold = fact.filter(~is_hot).join(
        dim.filter(~F.col(dim_key).isin(hot_keys)).hint("merge"), on
    )
    hot = fact.filter(is_hot).join(
        F.broadcast(dim.filter(F.col(dim_key).isin(hot_keys))), on
    )
    return cold.unionByName(hot)
