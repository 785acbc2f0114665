"""Envelope parse + projection + mandatory-field quarantine.

Reference: src/main/kotlin/app/batch/HBaseResultProcessor.kt:22-67 — the
reference parses each cell's envelope inside the same per-record chunk
loop that decrypts, normalises and writes it. So does this engine: ONE
Python function, parse_batch, is the only envelope parser. It runs at the
head of the export's one Python pass (sinks.snapshot.export_envelopes,
pipeline.export_topic's kernel), and parse_envelope wraps it as a
mapInPandas for the catalog's stand-alone envelope queries.

Semantics (kept from the JVM projection it replaced, a from_json over
the envelope struct plus a get_json_object for the last-modified date):
- a string-typed field reads a non-string JSON value as its JSON text,
  as Spark's from_json does (Jackson's text: compact, floats as Java
  prints a double, control characters and astral characters as
  upper-case \\u escapes);
- message and message.encryption are objects: any other non-null value
  does not convert and the field keeps its previous (duplicate-key)
  value; duplicate string keys take the last one;
- Jackson's leniencies that from_json enables are accepted (single
  quotes, NaN/Infinity spellings, content after the top-level value);
  JSON that does not parse leaves every field NULL;
- message._lastModifiedDateTime is accepted only as a JSON primitive
  (HBaseResultProcessor.kt:33-39), read the way get_json_object reads
  it: the first non-null occurrence, '' for objects, arrays, NULL or a
  document get_json_object cannot parse;
- db/collection fall back to the topic's (nullif '' ->
  HBaseResultProcessor.kt:79-94), the types to TYPE_NOT_SET;
- valid = the six mandatory fields are non-empty (the MissingFieldException
  gate; invalid rows are the quarantine side-output, the Spring Batch
  `.skip()` analogue, JobConfiguration.kt:57-61).
"""

from __future__ import annotations

import json
import math
import re
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# utils/TextUtils.kt:8-9
TOPIC_RE = re.compile(r"^(?:\w+\.)?([-\w]+)\.([-\w]+)$")

ENVELOPE_FIELDS = [
    T.StructField("row_key", T.BinaryType(), True),
    T.StructField("ts", T.LongType(), True),
    T.StructField("db", T.StringType(), True),
    T.StructField("collection", T.StringType(), True),
    T.StructField("outer_type", T.StringType(), True),
    T.StructField("inner_type", T.StringType(), True),
    T.StructField("message_last_modified", T.StringType(), True),
    T.StructField("kek_id", T.StringType(), True),
    T.StructField("iv", T.StringType(), True),
    T.StructField("encrypted_key", T.StringType(), True),
    T.StructField("db_object_enc", T.StringType(), True),
]
ENVELOPE_COLUMNS = [f.name for f in ENVELOPE_FIELDS]
PARSED_SCHEMA = T.StructType(ENVELOPE_FIELDS + [T.StructField("valid", T.BooleanType(), True)])

TYPE_NOT_SET = "TYPE_NOT_SET"


def topic_db_collection(topic: str) -> tuple[str | None, str | None]:
    m = TOPIC_RE.match(topic)
    if not m:
        return None, None
    return m.group(1), m.group(2)


# Objects decode to tuples of (key, value) pairs, so duplicate keys and
# their order survive for the from_json / get_json_object rules above.
_DECODE = json.JSONDecoder(object_pairs_hook=tuple).raw_decode


def _no_constant(name: str):
    raise ValueError(name)


# get_json_object's parser: from_json's without NaN/Infinity, and with
# raw control characters allowed in strings
_DECODE_GET_JSON = json.JSONDecoder(
    object_pairs_hook=tuple, strict=False, parse_constant=_no_constant
).raw_decode
_WS = json.decoder.WHITESPACE
# from_json's Jackson leniencies: a single-quoted string, a \' escape in
# a double-quoted one, and the +Infinity/+INF/-INF spellings
_LENIENT = re.compile(r""""(?:[^"\\]|\\.)*"|'((?:[^'\\]|\\.)*)'|\+Infinity|[+-]INF\b""", re.S)
_ESCAPE_OR_QUOTE = re.compile(r'\\.|"', re.S)
_LONE_SURROGATE = re.compile("[\ud800-\udfff]")
_ASTRAL_OR_SURROGATE = re.compile("[\ud800-\udfff\U00010000-\U0010ffff]")
# Jackson's string escapes: the short forms, else \\u00XX in upper case
_JSON_ESCAPES = {i: f"\\u{i:04X}" for i in range(0x20)}
_JSON_ESCAPES.update({8: "\\b", 9: "\\t", 10: "\\n", 12: "\\f", 13: "\\r", 34: '\\"', 92: "\\\\"})


def _requote(m: re.Match) -> str:
    """One _LENIENT token rewritten as strict JSON."""
    token = m.group(0)
    if token[0] == "'":
        inner = _ESCAPE_OR_QUOTE.sub(lambda e: {"\\'": "'", '"': '\\"'}.get(e.group(0), e.group(0)), m.group(1))
        return f'"{inner}"'
    if token[0] == '"':
        return _ESCAPE_OR_QUOTE.sub(lambda e: "'" if e.group(0) == "\\'" else e.group(0), token)
    return "-Infinity" if token[0] == "-" else "Infinity"


def _decode(decode, value: str, start: int):
    try:
        return decode(value, start)[0]
    except (ValueError, RecursionError):
        return None


def _java_double(x: float) -> str:
    """Double.toString: plain decimal in [1e-3, 1e7), else d.dddE±n."""
    if x != x or x in (math.inf, -math.inf):
        # Jackson quotes the non-numeric numbers it writes
        return '"NaN"' if x != x else ('"Infinity"' if x > 0 else '"-Infinity"')
    if x == 0:
        return "-0.0" if math.copysign(1.0, x) < 0 else "0.0"
    sign = "-" if x < 0 else ""
    _, digits, exp = Decimal(repr(abs(x))).normalize().as_tuple()
    ds = "".join(map(str, digits))
    e = len(ds) - 1 + exp  # x = d.ddd * 10**e
    if -3 <= e < 7:
        if e < 0:
            return f"{sign}0.{'0' * (-e - 1)}{ds}"
        whole = ds[: e + 1].ljust(e + 1, "0")
        return f"{sign}{whole}.{ds[e + 1:] or '0'}"
    return f"{sign}{ds[0]}.{ds[1:] or '0'}E{e}"


def _utf16_escapes(m: re.Match) -> str:
    b = m.group(0).encode("utf-16-be", "surrogatepass")
    return "".join(f"\\u{int.from_bytes(b[i : i + 2], 'big'):04X}" for i in range(0, len(b), 2))


def _json_string(s: str) -> str:
    s = s.translate(_JSON_ESCAPES)
    if _ASTRAL_OR_SURROGATE.search(s):
        s = _ASTRAL_OR_SURROGATE.sub(_utf16_escapes, s)
    return f'"{s}"'


def _json_text(v) -> str:
    """The JSON text Jackson's copyCurrentStructure writes for a value."""
    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if type(v) is str:
        return _json_string(v)
    if type(v) is tuple:
        return "{" + ",".join(f"{_json_string(k)}:{_json_text(x)}" for k, x in v) + "}"
    if type(v) is list:
        return "[" + ",".join(map(_json_text, v)) + "]"
    if type(v) is float:
        return _java_double(v)
    return str(v)


def _as_string(v) -> str | None:
    """A string-typed from_json field: strings as themselves (a lone
    surrogate becomes '?', as Java's UTF-8 encoder writes it), other
    values as their JSON text."""
    if type(v) is str:
        if not v.isascii() and _LONE_SURROGATE.search(v):
            return v.encode("utf-8", "replace").decode("utf-8")
        return v
    return None if v is None else _json_text(v)


def _member(obj: dict, pairs: tuple, key: str) -> tuple:
    """A struct-typed from_json field of one object (`obj` is dict(pairs)),
    as its pairs: the last value that converts (an object or null); any
    other value fails and keeps the one before."""
    v = obj.get(key)
    if v is not None and type(v) is not tuple:
        v = None
        for k, x in pairs:
            if k == key and (x is None or type(x) is tuple):
                v = x
    return v or ()


def _last_modified(doc) -> str:
    """get_json_object(value, '$.message._lastModifiedDateTime'), then
    '' for NULL, objects and arrays: the first non-null value under the
    first message object that has one."""
    if type(doc) is not tuple:
        return ""
    for k, msg in doc:
        if k == "message" and type(msg) is tuple:
            for k2, v in msg:
                if k2 == "_lastModifiedDateTime" and v is not None:
                    if type(v) is str:
                        if v.startswith(("{", "[")) or _LONE_SURROGATE.search(v):
                            return ""
                        return v
                    return "" if type(v) in (tuple, list) else _json_text(v)
    return ""


def _parse_one(value: str | None):
    """(from_json's view, last-modified) of one cell value."""
    if value is None:
        return None, ""
    start = _WS.match(value, 0).end()
    doc = _decode(_DECODE, value, start)
    if doc is not None:
        gj = doc
        if "NaN" in value or "Infinity" in value:
            gj = _decode(_DECODE_GET_JSON, value, start)
    else:
        if "'" in value or "INF" in value or "+Infinity" in value:
            value = _LENIENT.sub(_requote, value)
            doc = _decode(_DECODE, value, start)
        gj = _decode(_DECODE_GET_JSON, value, start)
    return (doc if type(doc) is tuple else None), _last_modified(gj)


def parse_batch(cells, topic: str) -> dict[str, list]:
    """The envelope parse over one batch of cells (anything indexable by
    row_key, ts and value: an Arrow batch's pandas frame, a dict of
    lists). Returns the ENVELOPE_COLUMNS plus `valid` as lists, one entry
    per cell, every cell kept — callers split on `valid`."""
    db_fallback, coll_fallback = topic_db_collection(topic)
    out = {c: [] for c in ENVELOPE_COLUMNS[2:] + ["valid"]}
    db_, coll_, outer_, inner_, lm_, kek_, iv_, ek_, obj_, valid_ = out.values()
    for value in cells["value"]:
        doc, lm = _parse_one(value)
        top_pairs = doc or ()
        top = dict(top_pairs)
        msg_pairs = _member(top, top_pairs, "message")
        msg = dict(msg_pairs)
        enc = dict(_member(msg, msg_pairs, "encryption"))
        db = _as_string(msg.get("db")) or db_fallback
        coll = _as_string(msg.get("collection")) or coll_fallback
        kek = _as_string(enc.get("keyEncryptionKeyId"))
        iv = _as_string(enc.get("initialisationVector"))
        ek = _as_string(enc.get("encryptedEncryptionKey"))
        obj = _as_string(msg.get("dbObject"))
        db_.append(db)
        coll_.append(coll)
        outer_.append(_as_string(top.get("@type")) or TYPE_NOT_SET)
        inner_.append(_as_string(msg.get("@type")) or TYPE_NOT_SET)
        lm_.append(lm)
        kek_.append(kek)
        iv_.append(iv)
        ek_.append(ek)
        obj_.append(obj)
        valid_.append(bool(obj and kek and iv and ek and db and coll))
    return {"row_key": list(cells["row_key"]), "ts": list(cells["ts"]), **out}


def parse_envelope(cells: DataFrame, topic: str) -> DataFrame:
    """cells(row_key, ts, value) -> the ENVELOPE_COLUMNS + `valid`, one
    mapInPandas over parse_batch. Returns every input row; callers split
    on `valid` (see split_valid)."""
    import pandas as pd

    def parse_partition(batches):
        for pdf in batches:
            yield pd.DataFrame(parse_batch(pdf, topic), columns=PARSED_SCHEMA.fieldNames())

    return cells.select("row_key", "ts", "value").mapInPandas(parse_partition, PARSED_SCHEMA)


def split_valid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine) — two filters over one plan; Spark reuses the
    scan. Quarantined rows carry everything for diagnostics (the
    MissingFieldException skip path)."""
    return df.filter(F.col("valid")).drop("valid"), df.filter(~F.col("valid")).drop("valid")
