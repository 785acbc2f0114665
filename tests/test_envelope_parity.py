"""operators.envelope.parse_batch against the JVM envelope projection it
replaced (a from_json over the envelope struct plus a get_json_object
for the last-modified date, copied here as the oracle).

Hypothesis builds a corpus of cell values: every field a string, missing,
null, "", an int, a boolean, a float, a nested object or array; non-object
message and encryption; duplicate keys; non-object top-level JSON;
escaped and raw non-ASCII text; single-quoted JSON; NaN/Infinity; and
invalid JSON (truncations, garbage). The whole corpus goes through the
oracle as ONE Spark job, and every row must match column for column.

Shapes that cannot match exactly are checked on the valid/quarantined
side only: floats whose JDK 17 ``Double.toString`` is not the shortest
round-trip (``2.82879384806159008E17``, ``9.999999999999999E22`` for
1e23 — parse_batch writes the shortest digits, as JDK 19+ does); a lone
surrogate escape in ``_lastModifiedDateTime``; and JSON that does not
parse — cut short, or a syntax error inside a value — where Jackson
recovers a partial row (the fields before the error) and parse_batch
leaves every field NULL. A partial row is quarantined unless every
mandatory field came before the error; parse_batch quarantines that one
too, so it is the one shape whose side differs (_CUT_AFTER_MESSAGE: the
JVM projection read it as valid and exported it).
"""

from __future__ import annotations

import json
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dwp_hbase_to_mongo_export_spark.operators.envelope import (
    PARSED_SCHEMA,
    parse_batch,
    topic_db_collection,
)

TOPIC = "db.topicdb.topic-coll"

# --- the oracle: the JVM projection parse_batch replaced --------------------

_ORACLE_SCHEMA = (
    "traceId string, unitOfWorkId string, `@type` string, message struct<"
    "db: string, collection: string, `@type`: string, _lastModifiedDateTime: string, "
    "encryption: struct<keyEncryptionKeyId: string, initialisationVector: string, "
    "encryptedEncryptionKey: string>, dbObject: string>, version string, timestamp string"
)


def _jvm_projection(cells, topic: str):
    from pyspark.sql import functions as F

    db_fallback, coll_fallback = topic_db_collection(topic)
    df = cells.withColumn("env", F.from_json(F.col("value"), _ORACLE_SCHEMA))
    msg = F.col("env.message")
    raw_lm = F.get_json_object("value", "$.message._lastModifiedDateTime")
    last_modified = F.when(
        raw_lm.isNull() | raw_lm.startswith("{") | raw_lm.startswith("["), F.lit("")
    ).otherwise(raw_lm)
    df = df.select(
        "row_key",
        "ts",
        F.coalesce(F.nullif(msg["db"], F.lit("")), F.lit(db_fallback)).alias("db"),
        F.coalesce(F.nullif(msg["collection"], F.lit("")), F.lit(coll_fallback)).alias("collection"),
        F.coalesce(F.nullif(F.col("env.`@type`"), F.lit("")), F.lit("TYPE_NOT_SET")).alias("outer_type"),
        F.coalesce(F.nullif(msg["@type"], F.lit("")), F.lit("TYPE_NOT_SET")).alias("inner_type"),
        last_modified.alias("message_last_modified"),
        msg["encryption"]["keyEncryptionKeyId"].alias("kek_id"),
        msg["encryption"]["initialisationVector"].alias("iv"),
        msg["encryption"]["encryptedEncryptionKey"].alias("encrypted_key"),
        msg["dbObject"].alias("db_object_enc"),
    )

    def non_empty(c):
        return F.col(c).isNotNull() & (F.col(c) != "")

    valid = non_empty("db_object_enc")
    for c in ("kek_id", "iv", "encrypted_key", "db", "collection"):
        valid = valid & non_empty(c)
    return df.withColumn("valid", valid)


def _oracle_rows(spark, values: list[str | None]) -> list[tuple]:
    cells = spark.createDataFrame(
        [(b"\x00\x00\x00\x00%d" % i, i, v) for i, v in enumerate(values)],
        "row_key binary, ts long, value string",
    )
    rows = sorted(_jvm_projection(cells, TOPIC).collect(), key=lambda r: r.ts)
    return [tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r) for r in rows]


def _python_rows(values: list[str | None]) -> list[tuple]:
    out = parse_batch(
        {"row_key": [b"\x00\x00\x00\x00%d" % i for i in range(len(values))],
         "ts": list(range(len(values))), "value": values},
        TOPIC,
    )
    return list(zip(*(out[c] for c in PARSED_SCHEMA.fieldNames())))


# --- the corpus -------------------------------------------------------------

_text = st.text(
    alphabet=st.one_of(
        st.sampled_from('ab xyz09"\\/\'{}[]:,é日本\U0001F600\u2028\n\t\x00\x1f'),
        st.characters(blacklist_categories=("Cs",)),
    ),
    max_size=8,
)
# floats JDK 17 prints with the shortest digits, plus the non-numeric ones
_float = st.sampled_from(
    [0.5, -2.25, 100.0, 1e7, 1.5e10, 1e-4, 0.001, 123456.789, -0.0, 1e300, 2.5e-7,
     float("nan"), float("inf"), float("-inf")]
)
_scalar = st.one_of(
    _text, st.just(""), st.none(), st.booleans(),
    st.integers(-(2**70), 2**70), _float,
)


def _obj(pairs):
    """A JSON object as its (key, value) pairs, so keys may repeat."""
    return ("obj", pairs)


_nested = st.recursive(
    _scalar,
    lambda kids: st.one_of(
        st.lists(kids, max_size=3),
        st.lists(st.tuples(_text, kids), max_size=3).map(_obj),
    ),
    max_leaves=6,
)
_MISSING = object()
_field = st.one_of(
    st.just(_MISSING), _text.filter(bool), _text.filter(bool), _scalar, _nested
)


@st.composite
def _struct(draw, fields: dict):
    """An object over `fields` (name -> value strategy), or — sometimes —
    a non-object in its place; duplicate keys sometimes."""
    if draw(st.integers(0, 9)) == 0:
        return draw(st.one_of(_scalar, st.lists(_scalar, max_size=2)))
    pairs = []
    for name, strategy in fields.items():
        v = draw(strategy)
        if v is not _MISSING:
            pairs.append((name, v))
    if pairs and draw(st.integers(0, 5)) == 0:  # a duplicate key
        name, _ = draw(st.sampled_from(pairs))
        dup = (name, draw(st.one_of(_field.filter(lambda v: v is not _MISSING), st.just(_obj([])))))
        pairs.insert(draw(st.integers(0, len(pairs))), dup)
    if draw(st.booleans()):
        pairs.insert(draw(st.integers(0, len(pairs))), (draw(_text), draw(_nested)))
    return _obj(draw(st.permutations(pairs)))


def _maybe(strategy):
    return st.one_of(strategy, strategy, strategy, st.just(_MISSING))


def _mostly(default: str):
    return st.one_of(*[st.just(default)] * 4, _field)


_encryption = _struct({
    "keyEncryptionKeyId": _mostly("kek-1"),
    "initialisationVector": _mostly("aXY="),
    "encryptedEncryptionKey": _mostly("ek"),
})
_message = _struct({
    "db": _mostly("msgdb"),
    "collection": _mostly("msgcoll"),
    "@type": _field,
    "_lastModifiedDateTime": _mostly("2018-12-14T15:01:02.000+0000"),
    "encryption": _maybe(_encryption),
    "dbObject": _mostly("Y3Q="),
})
_envelope = _struct({"traceId": _field, "@type": _field, "message": _maybe(_message)})


def _render(v, ensure_ascii: bool, quote: str) -> str:
    if isinstance(v, tuple) and v and v[0] == "obj":
        return "{" + ",".join(
            f"{_render(k, ensure_ascii, quote)}:{_render(x, ensure_ascii, quote)}" for k, x in v[1]
        ) + "}"
    if isinstance(v, list):
        return "[" + ", ".join(_render(x, ensure_ascii, quote) for x in v) + "]"
    text = json.dumps(v, ensure_ascii=ensure_ascii)
    if quote == "'" and isinstance(v, str):
        inner = re.sub(r'\\.|\'', lambda m: {'\\"': '"', "'": "\\'"}.get(m.group(0), m.group(0)), text[1:-1])
        return f"'{inner}'"
    return text


@st.composite
def _cell_value(draw):
    """(cell value, whether parse_batch must match the oracle exactly)."""
    doc = draw(_envelope)
    text = _render(doc, draw(st.booleans()), draw(st.sampled_from(['"'] * 9 + ["'"])))
    shape = draw(st.integers(0, 19))
    if shape == 0:  # invalid: cut short (Jackson keeps the fields before the cut)
        return text[: draw(st.integers(0, max(0, len(text) - 1)))], False
    if shape == 1:  # invalid: garbage
        return draw(st.text(alphabet="abc xyz0:,\"'", max_size=10)), True
    if shape == 2:  # content after the top-level value
        return text + draw(st.sampled_from([" ", "}", " {\"x\":", "garbage"])), True
    if shape == 3:
        return None, True
    return text, True


def _collect(strategy, n: int) -> list:
    corpus: list = []

    @given(strategy)
    @settings(max_examples=n, deadline=None, database=None, derandomize=True,
              suppress_health_check=list(HealthCheck))
    def gather(v):
        corpus.append(v)

    gather()
    return corpus


# Shapes parse_batch cannot match exactly (see the module docstring); each
# must still land on the oracle's valid/quarantined side.
_VALID_BODY = (
    '"db":"d","collection":"c","encryption":{"keyEncryptionKeyId":"k",'
    '"initialisationVector":"i","encryptedEncryptionKey":"e"},"dbObject":"o"'
)
_UNMATCHED = [
    '{"@type":2.82879384806159E17,"message":{' + _VALID_BODY + ',"@type":1e23}}',
    '{"message":{' + _VALID_BODY + ',"_lastModifiedDateTime":"\\ud800"}}',
    '{"message":{' + _VALID_BODY + ',"x":{bad}}}',
    '{"@type":"T","message":{"db":"d\x01",' + _VALID_BODY[9:] + "}}",
    '{"@type":+Infinity,"message":{' + _VALID_BODY + ',"@type":INF}}',
    '{"@type":"T","message":{' + _VALID_BODY + ',"@type":"ab',
]
# The one shape whose side differs: the JVM projection recovers a VALID
# row from this cut-short document; parse_batch quarantines it.
_CUT_AFTER_MESSAGE = '{"@type":"T","message":{' + _VALID_BODY + '},"@type":{"a":'


def test_parse_batch_matches_jvm_projection(spark):
    """Every corpus row equals the oracle's, column for column, except the
    cut-short documents and _UNMATCHED, which match on `valid` only."""
    corpus = _collect(_cell_value(), 600) + [(v, False) for v in _UNMATCHED]
    values = [v for v, _ in corpus]
    got, want = _python_rows(values), _oracle_rows(spark, values)  # one Spark job
    # the corpus reaches every branch it is meant to
    assert sum(r[-1] for r in got) >= 30, "too few valid envelopes in the corpus"
    assert sum(not r[-1] for r in got) >= 30
    assert sum(not exact for _, exact in corpus) >= 20
    bad = [
        (v, g, w) for (v, exact), g, w in zip(corpus, got, want)
        if (g != w if exact else g[-1] != w[-1])
    ]
    assert not bad, "\n".join(f"{v!r}\n  python {g}\n  jvm    {w}" for v, g, w in bad[:5])


def test_document_that_does_not_parse_is_quarantined():
    (row,) = _python_rows([_CUT_AFTER_MESSAGE])
    assert row[2:] == ("topicdb", "topic-coll", "TYPE_NOT_SET", "TYPE_NOT_SET", "",
                       None, None, None, None, False)
