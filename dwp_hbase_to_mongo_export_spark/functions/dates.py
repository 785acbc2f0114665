"""Date parsing / canonicalisation / recursive wrapping semantics.

Reference behaviours re-expressed (NOT translated) from:
- src/main/kotlin/app/batch/Validator.kt:24-27,114-193 (two accepted
  formats, fallback chain, canonical outgoing render)
- src/main/kotlin/app/utils/DateWrapper.kt:11-107 (recursive wrap of date
  strings into {"$date": canonical}, full-string regex gates)

Pure Python — used directly in unit tests and, through
functions/record_norm.normalise_payload, by the per-record export kernel
(operators/decryption.py) for the schemaless JSON hot path.
"""

from __future__ import annotations

import re
from datetime import date, datetime, timedelta, timezone
from functools import lru_cache
from typing import Any

EPOCH_FALLBACK = "1980-01-01T00:00:00.000Z"
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
DATE_KEY = "$date"
LAST_MODIFIED = "_lastModifiedDateTime"
CREATED = "createdDateTime"
REMOVED = "_removedDateTime"
ARCHIVED = "_archivedDateTime"

# DateWrapper.kt:106-107 — full-string gates for the recursive walk.
# Note the incoming gate only admits a '+dddd' zone (not '-'), faithfully.
_INCOMING_RE = re.compile(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}\+\d{4}\Z")
_OUTGOING_RE = re.compile(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z\Z")

# Validator.kt:24-27 — incoming yyyy-MM-dd'T'HH:mm:ss.SSSZZZZ then outgoing
# yyyy-MM-dd'T'HH:mm:ss.SSS'Z'. Python %z accepts +HHMM and 'Z', and %f
# accepts 1-6 fractional digits, which covers both JDK formats; strings
# with no zone designator fail both, as in the reference.
_STRICT_RE = re.compile(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d+(Z|[+-]\d{4})\Z")


class DateParseError(ValueError):
    pass


def parse_valid_datetime(s: str) -> datetime:
    """Validator.getValidParsedDateTime — parse with either accepted format,
    raise on anything else.

    Manual slice-parse instead of strptime (~5x faster; this sits inside
    the per-record normalisation UDF). The regex gate pins the shape; the
    datetime constructor still enforces calendar validity (month range,
    day-of-month, leap years) exactly as strptime would, and >6
    fractional digits raise just like %f."""
    if s is not None and _STRICT_RE.match(s):
        try:
            frac_end = 23
            dot = 19  # yyyy-MM-ddTHH:mm:ss has fixed width 19
            frac_end = dot + 1
            n = len(s)
            while frac_end < n and s[frac_end].isdigit():
                frac_end += 1
            frac = s[dot + 1 : frac_end]
            if len(frac) > 6:
                raise ValueError("fractional seconds overflow")
            zone = s[frac_end:]
            if zone == "Z":
                tz = timezone.utc
            else:
                off = int(zone[1:3]) * 60 + int(zone[3:5])
                if zone[0] == "-":
                    off = -off
                tz = timezone(timedelta(minutes=off))
            return datetime(
                int(s[0:4]),
                int(s[5:7]),
                int(s[8:10]),
                int(s[11:13]),
                int(s[14:16]),
                int(s[17:19]),
                int(frac.ljust(6, "0")),
                tz,
            )
        except ValueError:
            pass
    raise DateParseError(
        f"Unparseable date found: '{s}', did not match any supported date formats"
    )


def to_outgoing_format(dt: datetime) -> str:
    """Canonical render yyyy-MM-dd'T'HH:mm:ss.SSS'Z' in UTC."""
    dt = dt.astimezone(timezone.utc)
    return (
        f"{dt.year:04d}-{dt.month:02d}-{dt.day:02d}"
        f"T{dt.hour:02d}:{dt.minute:02d}:{dt.second:02d}"
        f".{dt.microsecond // 1000:03d}Z"
    )


# Strings already in UTC with millisecond precision: ASCII digits only
# (int() also reads other Unicode Nd digits, which the general path
# renders as ASCII, so those must take it).
_UTC_MILLIS_RE = re.compile(
    r"[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}\.[0-9]{3}(?:Z|\+0000)\Z"
)


@lru_cache(maxsize=1 << 14)
def _valid_calendar_date(ymd: str) -> bool:
    try:
        date(int(ymd[0:4]), int(ymd[5:7]), int(ymd[8:10]))
    except ValueError:
        return False
    return True


def canonicalise(s: str) -> str:
    """Parse (two formats) then render canonically; raises DateParseError.

    A string with 3 fraction digits in UTC (``Z`` or ``+0000``) whose
    fields are valid already holds its canonical digits, so it is
    returned re-suffixed without a datetime round trip."""
    if (
        isinstance(s, str)
        and _UTC_MILLIS_RE.match(s)
        and s[11:13] < "24"
        and s[14:16] < "60"
        and s[17:19] < "60"
        and _valid_calendar_date(s[:10])
    ):
        return s[:23] + "Z"
    return to_outgoing_format(parse_valid_datetime(s))


def _wrappable(s: str) -> str | None:
    """DateWrapper.parsedDate — canonical form if the string full-matches
    either regex gate, else None (leave untouched)."""
    # the gates match exactly 24 (outgoing) or 28 (incoming) characters
    if isinstance(s, str) and len(s) in (24, 28) and (_INCOMING_RE.match(s) or _OUTGOING_RE.match(s)):
        try:
            return canonicalise(s)
        except DateParseError:
            return None
    return None


def _is_mongo_date_object(v: Any) -> bool:
    return (
        isinstance(v, dict)
        and len(v) == 1
        and DATE_KEY in v
        and not isinstance(v[DATE_KEY], (dict, list))
        and v[DATE_KEY] is not None
    )


def wrap_dates_in_place(obj: Any, include_last_modified: bool = True) -> None:
    """DateWrapper.processJsonObject — walk the document; any string
    full-matching a date gate becomes {"$date": canonical}; existing
    single-key {"$date": s} objects are re-rendered in place. The
    top-level _lastModifiedDateTime can be excluded (the Validator wraps
    it explicitly first); nested ones are always processed.
    """
    if isinstance(obj, dict):
        for key, child in list(obj.items()):
            if key == LAST_MODIFIED and not include_last_modified:
                continue
            if isinstance(child, str):
                c = _wrappable(child)
                if c is not None:
                    obj[key] = {DATE_KEY: c}  # value replaced, key keeps position
            elif isinstance(child, dict):
                if _is_mongo_date_object(child):
                    c = _wrappable(child[DATE_KEY])
                    if c is not None:
                        child[DATE_KEY] = c
                else:
                    wrap_dates_in_place(child)
            elif isinstance(child, list):
                _wrap_dates_in_array(child)


def _wrap_dates_in_array(arr: list) -> None:
    for i, v in enumerate(arr):
        if isinstance(v, dict):
            wrap_dates_in_place(v)
        elif isinstance(v, list):
            _wrap_dates_in_array(v)
        elif isinstance(v, str):
            c = _wrappable(v)
            if c is not None:
                arr[i] = {DATE_KEY: c}


def retrieve_datetime_element(obj: dict, key: str) -> str:
    """Validator.retrieveDateTimeElement — accept plain string or
    {"$date": s}; missing/null/other-shape -> ''."""
    v = obj.get(key)
    if v is None:
        return ""
    if isinstance(v, dict):
        inner = v.get(DATE_KEY)
        if inner is None:
            return ""
        return _primitive_as_string(inner)
    if isinstance(v, (dict, list)):
        return ""
    return _primitive_as_string(v)


def _primitive_as_string(v: Any) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def retrieve_last_modified_date_time(obj: dict) -> str:
    """Validator.retrieveLastModifiedDateTime — lastModified -> removed ->
    created -> epoch literal; blank strings fall through."""
    for key in (LAST_MODIFIED, REMOVED, CREATED):
        v = retrieve_datetime_element(obj, key)
        if v and v.strip():
            return v
    return EPOCH_FALLBACK


def manifest_timestamp_ms(created: str, last_modified: str, snapshot_type: str) -> int:
    """Validator.timestampAsLong — full prefers createdDateTime,
    incremental prefers lastModified; parse failure falls back to the
    other; both failing raises."""
    preferred, fallback = (
        (created, last_modified) if snapshot_type == "full" else (last_modified, created)
    )
    try:
        dt = parse_valid_datetime(preferred)
    except DateParseError:
        dt = parse_valid_datetime(fallback)
    # integer arithmetic: float seconds * 1000 truncates to a millisecond too few
    return (dt - _EPOCH) // timedelta(milliseconds=1)
