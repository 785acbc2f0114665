"""Canonical-JSON and row-key/id utilities.

Reference behaviours re-expressed from:
- src/main/kotlin/app/utils/JsonUtils.kt:7-15 (top-level key sort)
- src/main/kotlin/app/utils/IdUtility.kt:7-19 (id reverse-engineering)
- src/main/kotlin/app/batch/HBaseResultProcessor.kt:69-74 (printable key)
- images/hbase/hbase_data.py:52-53 (row key = CRC32(id_json) ++ id_json)
"""

from __future__ import annotations

import json
import struct
import zlib
from typing import Any


_COMPACT = json.JSONEncoder(separators=(",", ":"), ensure_ascii=False)


def dumps_compact(obj: Any) -> str:
    """Gson-style compact rendering (serializeNulls is the default in
    Python's json: None -> null)."""
    return _COMPACT.encode(obj)


def _dumps_sorted(obj: dict) -> str:
    """Compact rendering with the TOP-LEVEL keys sorted lexicographically
    (case-sensitive); nested objects keep their order."""
    return dumps_compact({k: obj[k] for k in sorted(obj)})


def sort_json_by_key(unsorted_json: str) -> str:
    """JsonUtils.sortJsonByKey — lexicographic, case-sensitive sort of the
    TOP-LEVEL keys only; nested objects keep their order."""
    obj = json.loads(unsorted_json)
    if not isinstance(obj, dict):
        raise ValueError("sortJsonByKey requires a JSON object")
    return _dumps_sorted(obj)


def element_as_string(v: Any) -> str:
    """Validator.elementAsString — objects render key-sorted; primitives
    render as their bare string value."""
    if isinstance(v, dict):
        return _dumps_sorted(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def reverse_engineer_id(hbase_id: str) -> tuple[str, str]:
    """IdUtility.reverseEngineerId — (original, altered) from the row-key
    JSON (hash prefix already stripped). A single-key {"id": scalar}
    object was a scalar id: original is the scalar, altered is the
    sorted {"$oid": scalar}; anything else: both are the sorted object.
    Raises on non-JSON-object keys (caller skips the record)."""
    obj = json.loads(hbase_id)
    if not isinstance(obj, dict):
        raise ValueError(f"row-key suffix is not a JSON object: {hbase_id!r}")
    if len(obj) == 1 and "id" in obj:
        scalar = obj["id"]
        scalar_s = scalar if isinstance(scalar, str) else element_as_string(scalar)
        return scalar_s, dumps_compact({"$oid": scalar_s})
    sorted_json = _dumps_sorted(obj)
    return sorted_json, sorted_json


def printable_key(key: bytes) -> str:
    """HBaseResultProcessor.printableKey — 4 hash bytes as \\xNN hex, then
    the remainder rendered as characters."""
    hexpart = "".join(f"\\x{b:02x}" for b in key[:4])
    return hexpart + key[4:].decode("latin-1")


def make_row_key(id_json: str) -> bytes:
    """Fixture row-key scheme (images/hbase/hbase_data.py:52-53):
    4-byte CRC32 of the id JSON, then the id JSON bytes. The leading hash
    byte uniformly spreads keys across the keyspace — this is what makes
    byte-range partitioning balanced at 100 TB."""
    raw = id_json.encode("utf-8")
    return struct.pack("<I", zlib.crc32(raw) & 0xFFFFFFFF) + raw


def strip_key_hash(key: bytes) -> str:
    """Row-key suffix after the 4-byte hash prefix, as a string
    (Validator.kt:30-31)."""
    return key[4:].decode("utf-8")
