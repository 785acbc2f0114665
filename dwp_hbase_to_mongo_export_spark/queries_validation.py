"""Oracle-checked catalog entries for the validation / date-semantics
operators (SURVEY.md §2 rows 7, 14-15, 17) as PURE COLUMN expressions.

The same behaviours are pinned at the pure-function level by
tests/test_record_norm.py (the ValidatorTest matrix) and end-to-end by
export_pipeline_e2e; these queries surface each one individually in the
driver's correctness gate, using the built-in-function mapping from
SURVEY.md §2 (coalesce chains, to_timestamp dual-format parse,
conditional dropFields) — no Python in any of them but the two envelope
rows (7 and 8), which run the export's one envelope parser
(operators.envelope.parse_envelope, a mapInPandas over parse_batch) so
the gate pins the code the export runs.

Each builds its record stream deterministically from `orders` (modulo
cases choose the record shape) so a DuckDB oracle reproduces expected
output by independent string construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.envelope import parse_envelope, split_valid
from .queries import query
from .sources.parquet import load_table

_CANON = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
_EPOCH = "1980-01-01T00:00:00.000Z"  # Validator.kt:28 epoch fallback literal


# --- row 7: mandatory-field validation quarantine ---------------------------


@query(
    "validation_quarantine",
    oracle="""
    SELECT CAST(o_orderkey AS VARCHAR) AS okey,
           CASE WHEN o_orderkey % 10 = 3 THEN 'iv'
                ELSE 'db_object' END AS missing
    FROM orders
    WHERE o_orderkey % 10 IN (3, 7)
    """,
)
def validation_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mandatory-field gate as a quarantine side-output.

    Reference: HBaseResultProcessor.kt:97-102 throws MissingFieldException
    on blank dbObject/kekId/IV/encryptedKey/db/collection and the Spring
    Batch skip policy drops the record (JobConfiguration.kt:57-61). Spark
    form: `valid` is ONE boolean column computed by the envelope parse;
    the quarantine branch is a filter over the same plan (scan reused,
    no second read). Records with o_orderkey%10==3 carry a
    blank IV, %10==7 omit dbObject; everything else is valid and excluded.
    """
    from .operators.partitioning import spread_scan

    # heavy per-row work over a single-row-group scan: spread first
    o = spread_scan(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
        "o_orderkey",
    )
    k = F.col("o_orderkey").cast("string")
    envelope = F.to_json(
        F.struct(
            k.alias("traceId"),
            F.lit("T").alias("@type"),
            F.struct(
                F.lit("qdb").alias("db"),
                F.lit("qcoll").alias("collection"),
                F.lit("T").alias("@type"),
                F.struct(
                    F.lit("ek").alias("encryptedEncryptionKey"),
                    F.when(F.col("o_orderkey") % 10 == 3, F.lit("")).otherwise(
                        F.lit("aXY=")
                    ).alias("initialisationVector"),
                    F.lit("kek-1").alias("keyEncryptionKeyId"),
                ).alias("encryption"),
                F.when(F.col("o_orderkey") % 10 == 7, F.lit(None).cast("string"))
                .otherwise(F.lit("Y3Q="))
                .alias("dbObject"),
            ).alias("message"),
        )
    )
    cells = o.select(
        k.cast("binary").alias("row_key"),
        F.lit(1000).cast("long").alias("ts"),
        envelope.alias("value"),
        k.alias("okey"),
    )
    parsed = parse_envelope(cells, "db.qdb.qcoll")
    # keep okey through the projection: parse_envelope preserves row_key
    parsed = parsed.withColumn("okey", F.col("row_key").cast("string"))
    _, quarantined = split_valid(parsed)
    missing = (
        F.when(F.col("db_object_enc").isNull() | (F.col("db_object_enc") == ""), "db_object")
        .when(F.col("iv") == "", "iv")
        .otherwise("other")
    )
    return quarantined.select("okey", missing.alias("missing"))


# --- row 8: db/collection topic fallback ------------------------------------


@query(
    "db_collection_fallback",
    oracle="""
    SELECT CAST(o_orderkey AS VARCHAR) AS okey,
           CASE WHEN o_orderkey % 3 = 0 THEN 'msgdb' ELSE 'topicdb' END AS db,
           CASE WHEN o_orderkey % 3 = 0 THEN 'msgcoll' ELSE 'topic-coll' END AS collection
    FROM orders
    """,
)
def db_collection_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """db/collection from the message when present, else parsed from the
    topic name db.topicdb.topic-coll via the reference regex.

    Reference: HBaseResultProcessor.kt:79-94 with the topic regex from
    utils/TextUtils.kt:8-9. The envelope parse (parse_batch) reads
    nullif(msg.db, '') and falls back to the topic's db — records with
    o_orderkey%3==0 carry message db/collection; the rest omit them and
    fall back."""
    from .operators.partitioning import spread_scan

    # heavy per-row work over a single-row-group scan: spread first
    o = spread_scan(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
        "o_orderkey",
    )
    k = F.col("o_orderkey").cast("string")
    has_msg = F.col("o_orderkey") % 3 == 0
    envelope = F.to_json(
        F.struct(
            k.alias("traceId"),
            F.lit("T").alias("@type"),
            F.struct(
                F.when(has_msg, F.lit("msgdb")).alias("db"),
                F.when(has_msg, F.lit("msgcoll")).alias("collection"),
                F.lit("T").alias("@type"),
                F.struct(
                    F.lit("ek").alias("encryptedEncryptionKey"),
                    F.lit("aXY=").alias("initialisationVector"),
                    F.lit("kek-1").alias("keyEncryptionKeyId"),
                ).alias("encryption"),
                F.lit("Y3Q=").alias("dbObject"),
            ).alias("message"),
        )
    )
    cells = o.select(
        k.cast("binary").alias("row_key"),
        F.lit(1000).cast("long").alias("ts"),
        envelope.alias("value"),
    )
    parsed = parse_envelope(cells, "db.topicdb.topic-coll")
    return parsed.select(
        F.col("row_key").cast("string").alias("okey"), "db", "collection"
    )


# --- rows 14-15: date retrieval fallback chain + dual-format parse ----------


_DATE_FIELDS = ["_lastModifiedDateTime", "_removedDateTime", "createdDateTime"]
_DATE_STRUCTS_SCHEMA = ", ".join(
    f"`{f}` struct<`$date`:string>" for f in _DATE_FIELDS
)
_DATE_STRINGS_SCHEMA = ", ".join(f"`{f}` string" for f in _DATE_FIELDS)


def _extract_date(structs: Column, strings: Column, field: str) -> Column:
    """Accept `{"$date": s}` or plain-string date shapes (Validator.kt:
    114-151): the `{"$date": ...}` struct form comes from ``structs`` —
    ONE combined from_json over all three date fields (a plain-string
    value where the struct is expected reads as NULL for that field
    without disturbing siblings, so one parse serves the whole chain;
    three per-field from_json calls measured ~25% of this query's
    runtime). The plain form comes from ``strings`` — a second combined
    from_json with all-string fields (an object/array-valued field
    reads back as its raw JSON text, exactly like get_json_object, so
    the startswith probe below is unchanged — but one parse replaces
    the three per-field get_json_object payload re-parses that
    dominated this query's per-row cost). Null/absent -> null."""
    struct_form = structs[field]["$date"]
    raw = strings[field]
    plain = F.when(raw.startswith("{") | raw.startswith("["), F.lit(None)).otherwise(raw)
    return F.coalesce(struct_form, plain)


def _parse_two_formats(c: Column) -> Column:
    """Two-candidate parse (Validator.kt:160-170): incoming
    yyyy-MM-dd'T'HH:mm:ss.SSSZZZZ (+0000 offset) else outgoing
    yyyy-MM-dd'T'HH:mm:ss.SSS'Z'. try_to_timestamp because under ANSI a
    failed candidate must fall through to the next format, not raise."""
    return F.coalesce(
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSZ")),
        F.try_to_timestamp(c, F.lit(_CANON)),
    )


@query(
    "date_fallback_chain",
    oracle=f"""
    SELECT CAST(o_orderkey AS VARCHAR) AS okey,
           CASE
             WHEN o_orderkey % 4 = 0 THEN strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%g') || 'Z'
             WHEN o_orderkey % 4 = 1 THEN strftime(o_orderdate + INTERVAL 1 DAY, '%Y-%m-%dT%H:%M:%S.%g') || 'Z'
             WHEN o_orderkey % 4 = 2 THEN strftime(o_orderdate + INTERVAL 2 DAY, '%Y-%m-%dT%H:%M:%S.%g') || 'Z'
             ELSE '{_EPOCH}'
           END AS last_modified
    FROM orders
    """,
)
def date_fallback_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lastModified -> removed -> created -> epoch fallback chain with
    both accepted date shapes and both accepted formats.

    Reference: Validator.kt:114-193. Record shapes by o_orderkey % 4:
      0: _lastModifiedDateTime as {"$date": incoming+0000 format}
      1: only _removedDateTime as plain canonical string
      2: only createdDateTime as plain incoming+0000 string
      3: none of them -> epoch literal 1980-01-01T00:00:00.000Z
    All column built-ins: the chain is one coalesce over
    (extract -> parse -> render) chains, fully codegen'd — the UDF path
    is only needed for the *recursive* wrap (export_pipeline_e2e).
    """
    from .operators.partitioning import spread_scan

    # the JSON build/parse/format chain below is pure row work; a small
    # single-row-group orders scan plans as ONE partition, so spread it
    # to the session's parallelism first (no-op at real scale)
    o = spread_scan(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
        "o_orderkey",
    )
    k = F.col("o_orderkey").cast("string")
    m = F.col("o_orderkey") % 4
    incoming = F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss.SSS'+0000'")
    canonical = F.date_format(
        F.col("o_orderdate") + F.expr("INTERVAL 1 DAY"), _CANON
    )
    incoming2 = F.date_format(
        F.col("o_orderdate") + F.expr("INTERVAL 2 DAY"), "yyyy-MM-dd'T'HH:mm:ss.SSS'+0000'"
    )
    payload = F.when(
        m == 0,
        F.concat(F.lit('{"_lastModifiedDateTime": {"$date": "'), incoming, F.lit('"}}')),
    ).when(
        m == 1, F.concat(F.lit('{"_removedDateTime": "'), canonical, F.lit('"}'))
    ).when(
        m == 2, F.concat(F.lit('{"createdDateTime": "'), incoming2, F.lit('"}'))
    ).otherwise(F.lit("{}"))

    # Stage the payload and each extracted field as COLUMNS: inlined,
    # the payload's concat/date_format chain is re-evaluated once per
    # USE (3 fields x (from_json + get_json_object) x 2 parse
    # candidates ≈ 6x), and each JSON probe twice — CollapseProject
    # keeps staged non-cheap multi-use projections apart, so each
    # evaluates once per row (round-11: this query was count-pruned and
    # never actually timed before the materialising bench action).
    staged = (
        o.select(k.alias("okey"), payload.alias("_payload"))
        .select(
            "okey",
            F.from_json(F.col("_payload"), _DATE_STRUCTS_SCHEMA).alias("_structs"),
            F.from_json(F.col("_payload"), _DATE_STRINGS_SCHEMA).alias("_strs"),
        )
        .select(
            "okey",
            _extract_date(
                F.col("_structs"), F.col("_strs"), "_lastModifiedDateTime"
            ).alias("_lm"),
            _extract_date(
                F.col("_structs"), F.col("_strs"), "_removedDateTime"
            ).alias("_rm"),
            _extract_date(
                F.col("_structs"), F.col("_strs"), "createdDateTime"
            ).alias("_cr"),
        )
    )
    chain = F.coalesce(
        _parse_two_formats(F.col("_lm")),
        _parse_two_formats(F.col("_rm")),
        _parse_two_formats(F.col("_cr")),
        F.to_timestamp(F.lit(_EPOCH), _CANON),
    )
    return staged.select(
        "okey", F.date_format(chain, _CANON).alias("last_modified")
    )


# --- row 17: conditional _archivedDateTime drop -----------------------------


@query(
    "conditional_field_drop",
    oracle="""
    SELECT CAST(o_orderkey AS VARCHAR) AS okey,
           (o_orderkey % 3 <> 0) AS kept_archived,
           (o_orderkey % 3 = 0) AS kept_removed
    FROM orders
    WHERE o_orderkey % 2 = 0
    """,
)
def conditional_field_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop _archivedDateTime iff _removedDateTime is also present.

    Reference: Validator.kt:42-45. Spark form: `when(cond,
    col.dropFields(...)).otherwise(col)` on a struct column — the §2 row
    17 mapping, no UDF. Records with o_orderkey%3==0 carry both fields
    (archived must be dropped); the rest carry only archived (kept).
    Only even keys are scanned to exercise filter + transform together.
    """
    from .operators.partitioning import spread_scan

    # heavy per-row work over a single-row-group scan: spread first
    o = spread_scan(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate").filter(F.col("o_orderkey") % 2 == 0),
        "o_orderkey",
    )
    d = F.date_format("o_orderdate", _CANON)
    rec = F.when(
        F.col("o_orderkey") % 3 == 0,
        F.struct(
            d.alias("_archivedDateTime"),
            d.alias("_removedDateTime"),
        ),
    ).otherwise(
        F.struct(
            d.alias("_archivedDateTime"),
            F.lit(None).cast("string").alias("_removedDateTime"),
        )
    )
    # dropFields changes the struct type, so the conditional branches are
    # rendered to JSON inside the when() (string both ways); to_json also
    # omits null fields, which is what the kept_removed probe reflects.
    rendered = F.when(
        rec["_archivedDateTime"].isNotNull() & rec["_removedDateTime"].isNotNull(),
        F.to_json(rec.dropFields("_archivedDateTime")),
    ).otherwise(F.to_json(rec))
    return o.select(
        F.col("o_orderkey").cast("string").alias("okey"),
        rendered.contains('"_archivedDateTime"').alias("kept_archived"),
        rendered.contains('"_removedDateTime"').alias("kept_removed"),
    )


@query(
    "data_quality_report",
    oracle="""
    WITH checks AS (
      SELECT 'orders.orderkey_not_null' AS check_name,
             (SELECT count(*) FROM orders) AS n_checked,
             CAST((SELECT count(*) FROM orders WHERE o_orderkey IS NULL) AS BIGINT)
               AS violations
      UNION ALL
      SELECT 'orders.totalprice_positive',
             (SELECT count(*) FROM orders),
             CAST((SELECT count(*) FROM orders
                   WHERE NOT COALESCE(o_totalprice > 0, FALSE)) AS BIGINT)
      UNION ALL
      SELECT 'orders.orderkey_unique',
             (SELECT count(*) FROM orders),
             CAST((SELECT count(o_orderkey) - count(DISTINCT o_orderkey)
                   FROM orders) AS BIGINT)
      UNION ALL
      SELECT 'lineitem.orderkey_references_orders',
             (SELECT count(*) FROM lineitem),
             CAST((SELECT count(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM orders o
                                     WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
      UNION ALL
      SELECT 'lineitem.quantity_in_range',
             (SELECT count(*) FROM lineitem),
             CAST((SELECT count(*) FROM lineitem
                   WHERE NOT COALESCE(l_quantity BETWEEN 1 AND 50, FALSE)) AS BIGINT)
      UNION ALL
      SELECT 'events.value_at_least_one',
             (SELECT count(*) FROM events),
             CAST((SELECT count(*) FROM events
                   WHERE NOT COALESCE(value >= 1, FALSE)) AS BIGINT)
    )
    SELECT check_name, n_checked, violations, violations = 0 AS pass FROM checks
    """,
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative dataset-level quality gate (operators/quality):
    null/range/row-predicate checks fused into ONE aggregation pass per
    table, uniqueness in the same single-pass form, referential
    integrity as a left-anti orphan count — the pre-write audit a
    100 TB pipeline runs before publishing a snapshot. Six constraints
    across three tables cost three scans plus one anti-join; the
    events value check is deliberately failing (178 violations at
    sf0.01) so the pass flag is pinned in both states."""
    from .operators import quality

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    parts = [
        quality.row_constraints_report(
            orders,
            {
                "orders.orderkey_not_null": F.col("o_orderkey").isNotNull(),
                "orders.totalprice_positive": F.col("o_totalprice") > 0,
            },
        ),
        quality.uniqueness_report(orders, "orders.orderkey_unique", "o_orderkey"),
        quality.referential_report(
            li, "l_orderkey", orders, "o_orderkey",
            "lineitem.orderkey_references_orders",
        ),
        quality.row_constraints_report(
            li,
            {"lineitem.quantity_in_range": F.col("l_quantity").between(1, 50)},
        ),
        quality.row_constraints_report(
            events, {"events.value_at_least_one": F.col("value") >= 1}
        ),
    ]
    return quality.quality_report(parts)
