"""Query/operator catalog — the driver-facing correctness surface.

Each entry registers BOTH a PySpark callable ``(spark, sf_dir) -> DataFrame``
and (where ANSI-SQL-expressible) an equivalent DuckDB oracle SQL string over
the same parquet tables. Column names are aliased identically on both sides;
float aggregates are rounded so value hashes are FP-noise-free.

The catalog covers the reference's operator inventory (SURVEY.md §2) mapped
onto the driver's TPC-H-ish test tables, plus the 100 TB-scale extension
operators (dedup / similarity / text analysis / multimodal).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .sources.parquet import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}
# Bench-only surface: operators whose VALUE-level evidence lives in unit
# pins because their semantics are structurally not SQL-expressible (a
# driver-side eigendecomposition, say). They are timed by bench.py and
# audited by tools/plan_audit.py like every catalog entry, but they are
# NOT part of __spark_entry__.queries() — the driver's correctness gate
# contract is that every gated entry hash-matches an oracle, and an
# entry that structurally cannot be checked reads as a red row forever
# (round 7's only gate defect).
BENCH_ONLY: dict[str, QueryFn] = {}
# Queries whose result is LEGITIMATELY empty at the named fixture scales
# (the predicate needs more data to select anything — e.g. "customers
# with zero orders" only exists at sf0.1+). A green driver row at an
# annotated scale is agreement-on-emptiness, NOT value evidence; the
# value-level proof lives at the larger scales. tools/check_correctness
# FAILS any vacuous (empty or all-NULL) pass that is not annotated here,
# so the round-9 q5/q6 class — a date window outside the data making a
# gate permanently vacuous — cannot recur silently, and
# tests/test_catalog_lint.py pins this set so additions are deliberate.
EMPTY_AT: dict[str, frozenset[str]] = {}


def query(
    name: str,
    oracle: str | None = None,
    empty_at: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        if empty_at:
            EMPTY_AT[name] = frozenset(empty_at)
        return fn

    return deco


def bench_only(name: str) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        BENCH_ONLY[name] = fn
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Analytics capability: TPC-H-shaped queries (bench headliners).
# These exercise scan + filter pushdown + partial aggregation + joins the way
# the 100 TB deployment would: Catalyst pushes the filters to parquet, AQE
# picks broadcast joins for the dim tables.
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                       AS sum_qty,
           round(sum(l_extendedprice), 2)                                  AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 2)                                       AS avg_qty,
           round(avg(l_extendedprice), 2)                                  AS avg_price,
           round(avg(l_discount), 4)                                       AS avg_disc,
           count(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d')                   AS orderdate,
           o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY sum(l.l_extendedprice * (1 - l.l_discount)) DESC, o.o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    raw_rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    # customer is the small side: broadcast it instead of shuffling lineitem.
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(raw_rev.alias("_raw_revenue"))
        .orderBy(F.desc("_raw_revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.round(F.col("_raw_revenue"), 2).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Date window sits INSIDE the fixture's order range (1995-01-01..
    # 2001-08-01) so the gate compares real revenue values — the
    # classic TPC-H 1994 window predates the generated data entirely
    # and made this gate vacuous (round-9 verdict).
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # dims are broadcast; the only shuffles are lineitem⋈orders and the agg.
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Window shifted inside the fixture's shipdate range (1995-01-02..
    # 2001-11-04) — the 1994 window was empty at every scale, so the
    # gate never compared a value (round-9 verdict).
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Reference operator surface (SURVEY.md §2) expressed over the test tables.
# ---------------------------------------------------------------------------


@query(
    "latest_per_key",
    oracle="""
    SELECT user_id, event_id, event_type, round(value, 2) AS value,
           epoch_us(ts) AS ts_us
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-version-per-row-key semantics of the HBase scan.

    Reference: HBaseReader returns only the newest cell version within the
    scan time range (src/main/kotlin/app/batch/HBaseResultProcessor.kt:76-77).
    Spark-first mapping: window dedup — a single shuffle on the key; at
    100 TB this is the unavoidable shuffle and AQE handles key skew.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.unix_micros("ts").alias("ts_us"),
        )
    )


@query(
    "time_range_scan",
    oracle="""
    SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-12 00:00:00'
    """,
)
def time_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-mode time-range predicate.

    Reference: Scan.setTimeRange from scan.time.range.start/end
    (src/main/kotlin/app/batch/HBaseReader.kt:131-150). The range predicate
    is applied to the raw stored value so it reaches the parquet scan
    (PushedFilters + row-group pruning), exactly as a DSv2 HBase connector
    would push it to regionservers — see load_events_time_range.
    """
    from .sources.parquet import load_events_time_range

    ev = load_events_time_range(spark, sf_dir, "2024-01-05 00:00:00", "2024-01-12 00:00:00")
    return ev.select("event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us"))


@query(
    "envelope_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           event_type
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    """,
)
def envelope_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON envelope parse + projection + mandatory-field filter.

    Reference: HBaseResultProcessor extracts typed fields from the cell's
    JSON envelope (src/main/kotlin/app/batch/HBaseResultProcessor.kt:22-67).
    """
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.select("event_id", k.alias("k"), "event_type").filter(F.col("k") >= 50)


@query(
    "date_canonicalise",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS canonical_date
    FROM orders
    """,
)
def date_canonicalise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outgoing date canonical format yyyy-MM-dd'T'HH:mm:ss.SSS'Z'.

    Reference: Validator.kt:25,153-157 — all dates rendered to the single
    canonical Mongo backup format. Pure built-in `date_format`, codegen'd.
    """
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("canonical_date"),
    )


@query(
    "manifest_projection",
    oracle="""
    SELECT CAST(event_id AS VARCHAR) AS id,
           epoch_us(ts)              AS ts_us,
           'db'                      AS db,
           event_type                AS collection,
           'EXPORT'                  AS source,
           'OUTER_TYPE'              AS outer_type,
           'INNER_TYPE'              AS inner_type
    FROM events
    """,
)
def manifest_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest side-output projection.

    Reference: ManifestRecord derivation (Validator.kt:52-58,
    DomainClasses.kt:58-60) — a second projection off the main DataFrame;
    no extra scan at scale because Spark reuses the exchange.
    """
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("string").alias("id"),
        F.unix_micros("ts").alias("ts_us"),
        F.lit("db").alias("db"),
        F.col("event_type").alias("collection"),
        F.lit("EXPORT").alias("source"),
        F.lit("OUTER_TYPE").alias("outer_type"),
        F.lit("INNER_TYPE").alias("inner_type"),
    )


# ---------------------------------------------------------------------------
# Extension: deduplication
# ---------------------------------------------------------------------------


def _register_extra_modules() -> None:
    """Import side-effect registration of the other catalog modules
    (called at the bottom of this file, after `query` exists)."""
    from . import (  # noqa: F401
        queries_analytics,
        queries_clustering,
        queries_extensions,
        queries_joins,
        queries_pipeline,
        queries_reference_ops,
        queries_tpch_rest,
        queries_training,
        queries_validation,
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id, count(*) AS n_dups
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy — one shuffle on the hash;
    at 100 TB the hash (16 bytes) shuffles instead of the document body."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("content_hash", F.md5("text"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


_register_extra_modules()


# The driver's per-round correctness gate checks a ~50-query PREFIX of
# the catalog as surfaced by __spark_entry__.queries(), while
# tests/test_catalog_oracle.py remains the all-queries backstop.
# QUERIES/ORACLE themselves stay in stable registration order for every
# internal consumer (bench, plan audit, local oracle suite); the gate
# window is explicit data that ONLY __spark_entry__ applies when handing
# the catalog to the external driver.
#
# The round this window was rotated FOR (drives the catalog lint's
# staleness-discipline check: the window is judged against the driver
# evidence that existed at rotation time, i.e. rounds < this one) and
# the documented code-changed overrides pulled ahead of staleness order
# (tests/test_catalog_lint.py exempts exactly these from the
# no-fresher-than-a-staler-outsider rule).
DRIVER_WINDOW_ROUND = 13
DRIVER_WINDOW_CHANGED = [
    # rewritten in round 12 (winnowing fp-keyed regroup, PageRank's
    # persisted src-partitioned edges, dedup's cached candidate relation)
    "dedup_incremental_indexed",
    "pagerank_entities",
    "winnowing_overlap",
    # call pipeline.export_topic, which the one-pass export change
    # reworked (shared scan_envelopes front half); no gated query reaches
    # sinks.snapshot.write_encrypted_snapshots or
    # storeprotocol._batched_leaf_purge
    "export_pipeline_e2e",
    "export_unwrap_roundtrip",
    "streaming_export_pipeline",
    # run Python stages (pandas/Arrow UDFs, mapIn*, Python UDTF, the
    # hbase_cells_fixture Python DataSource): every Python task now
    # starts from worker_daemon instead of pyspark.daemon
    "ann_recall_filtered",
    "ann_recall_report",
    "business_audit_lift",
    "cluster_prototypes",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_lsh",
    "dedup_embedding_incremental",
    "dedup_jaccard_prefix",
    "dedup_minhash_lsh",
    "distinct_users_kmv",
    "distinct_users_kmv_by_day",
    "embedding_covariance",
    "equality_wrap",
    "hbase_source_scan",
    "id_reverse_engineer",
    "kmeans_clusters",
    "kmeans_purity",
    "kmv_jaccard_sets",
    "kmv_sketch_merge",
    "multimodal_meta",
    "semantic_dedup",
    "similarity_topk_ivf",
    "similarity_topk_ivf_filtered",
    "similarity_topk_ivf_indexed",
    "similarity_topk_ivf_trained",
    "similarity_topk_lsh",
    "similarity_topk_pq",
    "similarity_topk_pq_indexed",
    "streaming_hbase_source_scan",
    "udtf_split_sentences",
]

# Round-13 window (tools/rotate_window.py --changed <the 36 above>):
# the code-changed queries first, oldest evidence first, then fill to 50
# from the r8 cohort and then the r9 cohort (the stalest evidence).
# Staleness floor after this round: r9.
DRIVER_WINDOW = [
    # code changed (see DRIVER_WINDOW_CHANGED), oldest evidence first
    "ann_recall_report",
    "dedup_incremental_indexed",
    "distinct_users_kmv",
    "distinct_users_kmv_by_day",
    "embedding_covariance",
    "export_pipeline_e2e",
    "hbase_source_scan",
    "kmv_jaccard_sets",
    "kmv_sketch_merge",
    "pagerank_entities",
    "similarity_topk_ivf",
    "similarity_topk_ivf_indexed",
    "similarity_topk_ivf_trained",
    "similarity_topk_pq",
    "dedup_embedding_cosine",
    "dedup_minhash_lsh",
    "export_unwrap_roundtrip",
    "similarity_topk_pq_indexed",
    "streaming_export_pipeline",
    "streaming_hbase_source_scan",
    "winnowing_overlap",
    "ann_recall_filtered",
    "cluster_prototypes",
    "dedup_embedding_cosine_lsh",
    "dedup_embedding_incremental",
    "dedup_jaccard_prefix",
    "similarity_topk_ivf_filtered",
    "udtf_split_sentences",
    "business_audit_lift",
    "equality_wrap",
    "id_reverse_engineer",
    "kmeans_clusters",
    "kmeans_purity",
    "multimodal_meta",
    "semantic_dedup",
    "similarity_topk_lsh",
    # staleness fill: last all-true at the driver in round 8
    "time_range_scan",
    "token_counts",
    "user_days_click_and_purchase",
    "weighted_sample_aes",
    # staleness fill: last all-true at the driver in round 9
    "bm25_indexed",
    "bpe_merges",
    "bpe_token_counts",
    "cdc_apply_changelog",
    "date_canonicalise",
    "dedup_exact",
    "envelope_extract",
    "grouping_sets_revenue",
    "heavy_hitters_screened",
    "key_range_partition_stats",
]


def driver_window_order(names: list[str] | None = None) -> list[str]:
    """Catalog names with the DRIVER_WINDOW prefix first, remaining
    registration order preserved. Pure function over explicit data —
    callers opt in; the registries are never mutated."""
    base = list(QUERIES) if names is None else list(names)
    in_window = [n for n in DRIVER_WINDOW if n in base]
    return in_window + [n for n in base if n not in set(in_window)]
