"""Property-based tests (hypothesis) for the semantic core — the pure
functions that back the pandas-UDF hot paths. The date fast-path is
checked against strptime as an independent reference implementation.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

from hypothesis import example, given, settings
from hypothesis import strategies as st

from dwp_hbase_to_mongo_export_spark.functions.dates import (
    DateParseError,
    canonicalise,
    parse_valid_datetime,
    to_outgoing_format,
    wrap_dates_in_place,
)
from dwp_hbase_to_mongo_export_spark.functions.jsonfns import (
    dumps_compact,
    element_as_string,
    make_row_key,
    reverse_engineer_id,
    sort_json_by_key,
    strip_key_hash,
)
from dwp_hbase_to_mongo_export_spark.functions.record_norm import (
    SANITISE_SCOPED_COLLECTIONS,
    sanitise,
)


_dt = st.datetimes(
    min_value=datetime(1900, 1, 1),
    max_value=datetime(2199, 12, 31),
).map(lambda d: d.replace(microsecond=(d.microsecond // 1000) * 1000))

_offset_minutes = st.integers(min_value=-(14 * 60), max_value=14 * 60)


def _render_incoming(dt: datetime, offset_min: int) -> str:
    sign = "+" if offset_min >= 0 else "-"
    m = abs(offset_min)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}{sign}{m // 60:02d}{m % 60:02d}"


@given(_dt, _offset_minutes)
@settings(max_examples=300, deadline=None)
def test_manual_parse_matches_strptime(dt, offset_min):
    """The slice-parser must agree with strptime on every parseable string
    in either accepted format."""
    for s in (dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}Z",
              _render_incoming(dt, offset_min)):
        expected = datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%z")
        assert parse_valid_datetime(s) == expected


@given(_dt)
@settings(max_examples=200, deadline=None)
def test_canonicalise_idempotent(dt):
    """canonicalise(outgoing form) is the identity, and canonicalising any
    accepted form twice equals once."""
    s = to_outgoing_format(dt.replace(tzinfo=timezone.utc))
    assert canonicalise(s) == s
    assert canonicalise(canonicalise(s)) == canonicalise(s)


@given(_dt, _offset_minutes)
@settings(max_examples=200, deadline=None)
def test_canonicalise_normalises_zone(dt, offset_min):
    """Incoming +HHMM forms canonicalise to the same instant in UTC."""
    dt = dt.replace(tzinfo=timezone(timedelta(minutes=offset_min)))
    out = canonicalise(_render_incoming(dt, offset_min))
    assert out.endswith("Z")
    assert parse_valid_datetime(out) == dt


@given(st.text(max_size=40))
@settings(max_examples=300, deadline=None)
def test_garbage_never_parses_silently(s):
    """Random text either parses in both implementations or raises in
    ours; never a silent divergence."""
    try:
        ours = parse_valid_datetime(s)
    except DateParseError:
        return
    assert ours == datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%z")


# Zero of each digit set the date strings may be drawn in: ASCII, then
# Unicode Nd digits that int() and the \d gates also accept.
_DIGIT_ZEROS = (0x30, 0xFF10, 0x0660, 0x0966, 0x1D7CE)


@st.composite
def _date_strings(draw):
    """Date-shaped strings: valid instants or independently drawn fields
    (day 0-32, month 0-13, hour 24, minute/second 60, year 0000), 1-6
    fraction digits, Z or a +/-HHMM zone, some digits in another Nd set."""
    if draw(st.booleans()):
        dt = draw(_dt)
        fields = (dt.year, dt.month, dt.day, dt.hour, dt.minute, dt.second)
    else:
        fields = tuple(
            draw(st.integers(lo, hi))
            for lo, hi in ((0, 9999), (0, 13), (0, 32), (0, 24), (0, 60), (0, 60))
        )
    frac = draw(st.text("0123456789", min_size=1, max_size=6))
    zone = draw(st.sampled_from(("Z", "+0000", "-0000", "+0130", "-0130", "+1400", "-0001")))
    text = "{:04d}-{:02d}-{:02d}T{:02d}:{:02d}:{:02d}.".format(*fields) + frac + zone
    zero = draw(st.sampled_from(_DIGIT_ZEROS))
    if zero != 0x30:
        moved = draw(st.sets(st.integers(0, len(text) - 1), min_size=1))
        text = "".join(
            chr(zero + ord(c) - 0x30) if i in moved and c.isdigit() else c
            for i, c in enumerate(text)
        )
    return text


@given(_date_strings())
@example("2019-02-29T00:00:00.000Z")
@example("2020-04-31T00:00:00.000+0000")
@example("2020-13-01T00:00:00.000Z")
@example("2020-01-01T24:00:00.000Z")
@example("2020-01-01T00:60:00.000Z")
@example("2020-01-01T00:00:60.000+0000")
@example("0000-01-01T00:00:00.000Z")
@example("\uff12\uff10\uff12\uff10-01-01T00:00:00.000Z")
@settings(max_examples=400, deadline=None)
def test_canonicalise_equals_general_path(s):
    """canonicalise (with its UTC fast path) and the general parse+render
    return the same string, or both raise."""
    try:
        expected = to_outgoing_format(parse_valid_datetime(s))
    except DateParseError:
        expected = DateParseError
    try:
        got = canonicalise(s)
    except DateParseError:
        got = DateParseError
    assert got == expected


_json_scalars = st.one_of(
    st.none(), st.booleans(), st.integers(-(2**40), 2**40), st.text(max_size=12)
)
_json_objects = st.dictionaries(
    st.text(min_size=1, max_size=8), _json_scalars, min_size=1, max_size=6
)


@given(_json_objects)
@settings(max_examples=200, deadline=None)
def test_sort_json_by_key_properties(obj):
    """Key order is sorted, content preserved, and the sort is idempotent."""
    s = sort_json_by_key(dumps_compact(obj))
    parsed = json.loads(s)
    assert parsed == obj
    assert list(parsed.keys()) == sorted(obj.keys())
    assert sort_json_by_key(s) == s


@given(_json_objects)
@settings(max_examples=200, deadline=None)
def test_element_as_string_equals_sort_json_by_key(obj):
    """Objects render once with sorted keys, the same string as the
    dumps -> sort_json_by_key round trip."""
    assert element_as_string(obj) == sort_json_by_key(dumps_compact(obj))


@given(_json_objects)
@settings(max_examples=200, deadline=None)
def test_row_key_round_trip(obj):
    """make_row_key / strip_key_hash round-trip the id JSON."""
    id_json = dumps_compact(obj)
    assert strip_key_hash(make_row_key(id_json)) == id_json


@given(st.one_of(st.text(max_size=10), st.integers(-(2**40), 2**40)))
@settings(max_examples=200, deadline=None)
def test_reverse_engineer_scalar_id(scalar):
    if isinstance(scalar, str):
        original, altered = reverse_engineer_id(dumps_compact({"id": scalar}))
        assert original == scalar
        assert json.loads(altered) == {"$oid": scalar}
    else:
        original, altered = reverse_engineer_id(dumps_compact({"id": scalar}))
        assert original == str(scalar)
        assert json.loads(altered) == {"$oid": str(scalar)}


@given(_json_objects)
@settings(max_examples=150, deadline=None)
def test_wrap_dates_no_dates_is_identity(obj):
    """Documents containing no date-shaped strings are unchanged."""
    import re

    has_date = any(
        isinstance(v, str) and re.search(r"\d{4}-\d{2}-\d{2}T", v) for v in obj.values()
    )
    if has_date:
        return
    before = json.loads(dumps_compact(obj))
    wrap_dates_in_place(obj)
    assert obj == before


@given(st.text(max_size=60))
@settings(max_examples=300, deadline=None)
def test_sanitise_invariants(s):
    """Output never contains $, the literal \\u0000 text, or
    _archived* names — regardless of input."""
    out = sanitise(s, "db", "coll")
    assert "$" not in out
    assert "\\u0000" not in out
    assert "_archivedDateTime" not in out and "_archived" not in out


# Pieces a serialised payload can put next to each other: raw and
# escaped CR/LF/pipe, escaped backslashes, the literal \u0000 text and a
# real NUL, '$', the archived names, quotes and non-ASCII text.
_SANITISE_PIECES = [
    "\r", "\n", "\\r", "\\n", "\\|", "\\\\r", "\\\\n", "\\", "|", "r", "n",
    "$", "$oid", "\\u0000", "\u0000", "_archived", "_archivedDateTime", "_removed",
    '"', "'", '\\"', ":", ",", "{", "}", "a", " ", "é", "日本", "\U0001F600",
]
_SANITISE_DB_COLLS = sorted(SANITISE_SCOPED_COLLECTIONS) + [("db", "coll"), ("core", "claimant")]


@given(
    st.lists(
        st.tuples(
            st.lists(st.sampled_from(_SANITISE_PIECES), max_size=12).map("".join),
            st.sampled_from(_SANITISE_DB_COLLS),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=25, deadline=None)
def test_sanitise_python_equals_jvm(spark, cases):
    """record_norm.sanitise (the export pass's Python sanitise) equals
    operators.sanitisation.sanitise_column (the JVM expression the
    DataFrame path uses), for scoped and unscoped (db, collection)."""
    from pyspark.sql import functions as F

    from dwp_hbase_to_mongo_export_spark.operators.sanitisation import sanitise_column

    df = spark.createDataFrame(
        [(i, s, db, coll) for i, (s, (db, coll)) in enumerate(cases)],
        "i int, s string, db string, coll string",
    )
    out = df.select("i", sanitise_column(F.col("s"), F.col("db"), F.col("coll")).alias("out"))
    jvm = {r.i: r.out for r in out.collect()}
    assert jvm == {i: sanitise(s, db, coll) for i, (s, (db, coll)) in enumerate(cases)}


# --- wrap -> sanitise -> unwrap identity -----------------------------------

_safe_key = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8
).filter(lambda k: k not in {"_id", "_lastModifiedDateTime", "_archivedDateTime",
                             "_removedDateTime", "createdDateTime"})
_safe_text = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789 ", max_size=20
)
_scalar = st.one_of(_safe_text, st.integers(-10**6, 10**6), st.booleans(), st.none())
_value = st.recursive(
    _scalar,
    lambda children: st.one_of(
        st.lists(children, max_size=3),
        st.dictionaries(_safe_key, children, max_size=3),
    ),
    max_leaves=8,
)
_doc = st.dictionaries(_safe_key, _value, min_size=0, max_size=4)
_id_strat = st.one_of(
    _safe_text.filter(lambda s: s != ""),
    st.dictionaries(_safe_key, _safe_text, min_size=1, max_size=2),
)


@given(_doc, _id_strat, _dt)
@settings(max_examples=200, deadline=None)
def test_wrap_sanitise_unwrap_recovers_values(doc, rid, dt):
    """normalise_payload wraps ids/dates, sanitise rewrites $ -> d_, and
    unwrap_record must recover the original scalar values: the chain is
    the identity on everything except wrapper nodes. Independent of the
    pipeline code paths — pure-function composition."""
    from dwp_hbase_to_mongo_export_spark.functions.jsonfns import dumps_compact
    from dwp_hbase_to_mongo_export_spark.functions.record_norm import (
        normalise_payload,
        sanitise,
        unwrap_record,
    )

    created = dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}Z"
    payload = dict(doc)
    payload["_id"] = rid
    payload["createdDateTime"] = created
    rec = normalise_payload(json.dumps(payload), "unused")
    out_doc, out_id, out_lm = unwrap_record(
        sanitise(dumps_compact(rec.db_object), "db", "coll")
    )
    back = json.loads(out_doc)
    # id recovered: scalar as itself, object id as canonical JSON
    if isinstance(rid, str):
        assert out_id == rid
    else:
        assert json.loads(out_id) == rid
    # created date recovered as the canonical instant
    assert back["createdDateTime"] == created
    # lastModified falls back to createdDateTime here, and is surfaced
    assert out_lm == created
    # every other original key survives with its value intact
    for k, v in doc.items():
        assert back[k] == v


def test_round_portable_cross_engine_parity(spark):
    """round_portable's whole claim is that floor(x*10^d + 0.5)/10^d
    runs the SAME IEEE ops in Spark and DuckDB, so identical input
    doubles always round identically — pin it directly over an
    adversarial batch: exact .5 boundaries, shortest-repr traps (the
    class where Spark round() and DuckDB round() genuinely differ),
    negatives, denormal-ish and large magnitudes, and random doubles."""
    import random
    import struct

    import duckdb

    from dwp_hbase_to_mongo_export_spark.functions.portable import (
        round_portable,
        round_portable_sql,
    )
    from pyspark.sql import functions as F

    rng = random.Random(20260814)
    values = [
        0.05565, 0.0557, 0.5, 1.5, 2.5, -0.5, -1.5, -2.675,
        0.1 + 0.2, 1e-9, -1e-9, 123456.789125, -123456.789125,
        0.0455, 0.4445, 99.9995, -99.9995, 1e12 + 0.5,
    ]
    values += [rng.uniform(-1e6, 1e6) for _ in range(2000)]
    values += [rng.uniform(-1, 1) for _ in range(2000)]

    for digits in (2, 3, 4, 6):
        sdf = spark.createDataFrame([(v,) for v in values], "x double")
        got_spark = [
            r.r for r in sdf.select(round_portable(F.col("x"), digits).alias("r")).collect()
        ]
        con = duckdb.connect()
        got_duck = [
            row[0]
            for row in con.execute(
                f"SELECT {round_portable_sql('x', digits)} FROM "
                "(SELECT unnest(?) AS x)",
                [values],
            ).fetchall()
        ]
        con.close()
        mismatches = [
            (v, a, b)
            for v, a, b in zip(values, got_spark, got_duck)
            # bit-exact comparison: NaN-safe, -0.0 vs 0.0 visible
            if struct.pack("<d", a) != struct.pack("<d", b)
        ]
        assert not mismatches, (digits, mismatches[:5], len(mismatches))


# ---------------------------------------------------------------------------
# Constant-state KMV fold (operators/sketches.bottom_k_distinct_fold):
# the pure pandas core of the partition-local bottom-k-distinct partial.
# Reference implementation: python sets + sorted()[:k], per group.
# ---------------------------------------------------------------------------

_kmv_rows = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 40)),
    min_size=0,
    max_size=120,
)


def _split_batches(rows, cut_points):
    import pandas as pd

    cuts = sorted({min(c, len(rows)) for c in cut_points}) + [len(rows)]
    out, prev = [], 0
    for c in cuts:
        out.append(pd.DataFrame(rows[prev:c], columns=["g", "hv"]))
        prev = c
    return out


@given(_kmv_rows, st.lists(st.integers(0, 120), max_size=4), st.integers(1, 7))
@settings(max_examples=200, deadline=None)
def test_bottom_k_fold_grouped_matches_reference(rows, cuts, k):
    from dwp_hbase_to_mongo_export_spark.operators.sketches import (
        bottom_k_distinct_fold,
    )

    state = bottom_k_distinct_fold(
        iter(_split_batches(rows, cuts)), ["g", "hv"], ["g"], k
    )
    got = (
        set()
        if state is None or not len(state)
        else {(r.g, int(r.hv)) for r in state.itertuples()}
    )
    want = set()
    for g in {g for g, _ in rows}:
        for hv in sorted({hv for gg, hv in rows if gg == g})[:k]:
            want.add((g, hv))
    assert got == want


@given(_kmv_rows, st.lists(st.integers(0, 120), max_size=4), st.integers(1, 7))
@settings(max_examples=200, deadline=None)
def test_bottom_k_fold_global_matches_reference(rows, cuts, k):
    from dwp_hbase_to_mongo_export_spark.operators.sketches import (
        bottom_k_distinct_fold,
    )

    frames = [f[["hv"]] for f in _split_batches(rows, cuts)]
    state = bottom_k_distinct_fold(iter(frames), ["hv"], [], k)
    got = (
        []
        if state is None or not len(state)
        else sorted(int(r.hv) for r in state.itertuples())
    )
    assert got == sorted({hv for _, hv in rows})[:k]


# --- HLL register math (pure-Python mirror of sketches.hll_rows) -------------


def _hll_py(value: str) -> tuple[int, int]:
    import hashlib

    hx = hashlib.md5(value.encode()).hexdigest()
    r = int(hx[:2], 16)
    v = int(hx[2:14], 16)
    return r, (49 if v == 0 else 49 - v.bit_length())


@given(st.lists(st.text(min_size=1, max_size=20), min_size=1, max_size=60))
@settings(max_examples=40, deadline=None)
def test_hll_merge_associativity_and_bounds(values):
    """Register-wise MAX over ANY partition of the values equals the
    registers over all values (associative/commutative/idempotent merge
    — the property that makes the sketch shardable), and every rho is
    in [1, 49]."""
    full: dict[int, int] = {}
    for s in values:
        r, rho = _hll_py(s)
        assert 1 <= rho <= 49 and 0 <= r < 256
        full[r] = max(full.get(r, 0), rho)
    # split at an arbitrary point and merge
    mid = len(values) // 2
    merged: dict[int, int] = {}
    for part in (values[:mid], values[mid:]):
        regs: dict[int, int] = {}
        for s in part:
            r, rho = _hll_py(s)
            regs[r] = max(regs.get(r, 0), rho)
        for r, m in regs.items():
            merged[r] = max(merged.get(r, 0), m)
    assert merged == full


@given(st.lists(st.text(min_size=1, max_size=20), min_size=1, max_size=60))
@settings(max_examples=40, deadline=None)
def test_hll_multiplicity_invariance(values):
    """Duplicating any value never changes the register relation —
    distinct-count sketches must ignore multiplicity."""
    once: dict[int, int] = {}
    for s in values:
        r, rho = _hll_py(s)
        once[r] = max(once.get(r, 0), rho)
    tripled: dict[int, int] = {}
    for s in values * 3:
        r, rho = _hll_py(s)
        tripled[r] = max(tripled.get(r, 0), rho)
    assert tripled == once


# --- DSIR bucket-count mergeability ------------------------------------------


@given(
    st.lists(
        st.tuples(st.text(min_size=1, max_size=8), st.booleans()),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=40, deadline=None)
def test_dsir_counts_merge_by_sum(token_flags):
    """Per-shard (bucket -> ct, cr) statistics summed bucket-wise equal
    the whole-corpus statistics — the mergeability streaming_dsir_weights
    relies on (counts fold like the CMS sketch)."""
    import hashlib

    def bucket(t: str) -> int:
        return int(hashlib.md5(f"dsir:{t}".encode()).hexdigest()[:8], 16) % 1024

    def counts(rows):
        out: dict[int, list[int]] = {}
        for t, is_t in rows:
            b = bucket(t)
            cur = out.setdefault(b, [0, 0])
            cur[0] += int(is_t)
            cur[1] += 1
        return out

    full = counts(token_flags)
    mid = len(token_flags) // 2
    merged: dict[int, list[int]] = {}
    for part in (token_flags[:mid], token_flags[mid:]):
        for b, (ct, cr) in counts(part).items():
            cur = merged.setdefault(b, [0, 0])
            cur[0] += ct
            cur[1] += cr
    assert merged == full
