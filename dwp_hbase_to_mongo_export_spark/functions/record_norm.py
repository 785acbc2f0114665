"""Record normalisation — the semantic core of the export pipeline.

Re-expresses (NOT translates) the behaviour of:
- src/main/kotlin/app/batch/Validator.kt:34-103 (skipBadDecryptedRecords:
  $oid wrap, id reverse-engineering, archived-drop, manifest derivation)
- src/main/kotlin/app/batch/SanitisationProcessor.kt:14-44
- src/main/kotlin/app/batch/TransformationProcessor.kt:21-48
- src/main/kotlin/app/batch/DecryptionProcessor.kt:59-73 (businessAudit)

All pure Python over parsed JSON. Both export paths call them per record
through one kernel (operators/decryption._process_batch), run inside a
single Python pass per batch; the catalog's column forms (e.g.
operators/sanitisation.py) exist for the queries that pin a semantic
against the oracle on its own.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

from .dates import (
    ARCHIVED,
    DATE_KEY,
    LAST_MODIFIED,
    REMOVED,
    canonicalise,
    retrieve_last_modified_date_time,
    wrap_dates_in_place,
)
from .jsonfns import dumps_compact, element_as_string, reverse_engineer_id


class ValidationError(ValueError):
    """Maps to BadDecryptedDataException — record is skipped and counted."""


@dataclass
class NormalisedRecord:
    db_object: dict  # normalised payload (still a dict; render with dumps_compact)
    manifest_id: str
    manifest_original_id: str


def normalise_payload(
    decrypted_json: str,
    hbase_row_id_suffix: str,
) -> NormalisedRecord:
    """Validator.skipBadDecryptedRecords minus the envelope bookkeeping.

    1. payload must parse to a JSON object (else ValidationError);
    2. top-level _lastModifiedDateTime resolved via the fallback chain,
       canonicalised, and wrapped as {"$date": ...} (key moves to the end,
       matching the reference's remove+add);
    3. every other date-shaped string in the document recursively wrapped;
    4. _archivedDateTime dropped when _removedDateTime is also present;
    5. primitive _id wrapped as {"$oid": id} (key moves to the end);
       missing _id reverse-engineered from the row-key suffix.
    """
    try:
        obj = json.loads(decrypted_json)
    except (json.JSONDecodeError, TypeError) as e:
        raise ValidationError(f"payload is not valid JSON: {e}") from e
    if obj is None:
        raise ValidationError("payload is JSON null")
    if not isinstance(obj, dict):
        raise ValidationError("payload is not a JSON object")

    # 2. explicit lastModified wrap (Validator.wrapDates)
    last_modified = retrieve_last_modified_date_time(obj)
    if last_modified and last_modified.strip():
        formatted = canonicalise(last_modified)  # raises -> skip, as reference
        obj.pop(LAST_MODIFIED, None)
        obj[LAST_MODIFIED] = {DATE_KEY: formatted}

    # 3. recursive wrap, excluding the top-level lastModified just written
    wrap_dates_in_place(obj, include_last_modified=False)

    # 4. conditional archived drop (Validator.kt:42-45)
    if ARCHIVED in obj and REMOVED in obj:
        del obj[ARCHIVED]

    # 5. id normalisation / reverse-engineering
    id_element = obj.get("_id")
    if id_element is not None:
        original_id = element_as_string(id_element)
        if not isinstance(id_element, (dict, list)):
            obj.pop("_id", None)
            obj["_id"] = {"$oid": element_as_string(id_element)}
        manifest_id = element_as_string(obj["_id"])
        return NormalisedRecord(obj, manifest_id, original_id)

    original, altered = reverse_engineer_id(hbase_row_id_suffix)  # raises -> skip
    return NormalisedRecord(obj, altered, original)


# --- sanitisation (SanitisationProcessor.kt) -------------------------------

# Note the char class [r|n]: it strips \r, \n AND \| escape sequences —
# a quirk of the reference's regex, reproduced faithfully.
_COLLECTION_SCOPED_RE = re.compile(r"(?<!\\)\\[r|n]")

SANITISE_SCOPED_COLLECTIONS = frozenset(
    {
        ("penalties-and-deductions", "sanction"),
        ("core", "healthAndDisabilityDeclaration"),
        ("accepted-data", "healthAndDisabilityCircumstances"),
    }
)


def sanitise(json_str: str, db: str, collection: str) -> str:
    """SanitisationProcessor.process — collection-scoped unescaped-\\r/\\n
    strip, then global literal replaces ($ -> d_, drop the literal text
    \\u0000, archived -> removed renames). Operates on the serialised JSON
    string: keys AND values are affected (hence d_oid / d_date in output).
    """
    if (db, collection) in SANITISE_SCOPED_COLLECTIONS:
        json_str = _COLLECTION_SCOPED_RE.sub("", json_str)
    return (
        json_str.replace("$", "d_")
        .replace("\\u0000", "")
        .replace("_archivedDateTime", "_removedDateTime")
        .replace("_archived", "_removed")
    )


# --- topic-conditional transforms ------------------------------------------

EQUALITY_TOPIC = "data.equality"


def equality_wrap(json_str: str, inner_type: str) -> str:
    """TransformationProcessor — for topic data.equality wrap the payload
    as {"message": {...payload, "@type": innerType}}."""
    obj = json.loads(json_str)
    obj["@type"] = inner_type
    return dumps_compact({"message": obj})


BUSINESS_AUDIT_DB = "data"
BUSINESS_AUDIT_COLLECTION = "businessAudit"


def business_audit_transform(decrypted_json: str, message_last_modified: str) -> str:
    """DecryptionProcessor.transform — lift the context subobject and
    inject AUDIT_EVENT / TIME_STAMP / TIME_STAMP_ORIG from auditType and
    the envelope's lastModified."""
    obj = json.loads(decrypted_json)
    context = obj.get("context")
    audit_type = obj.get("auditType")
    if audit_type is None or context is None or not isinstance(context, dict):
        raise ValidationError("auditType or context for business audit record is null")
    context["AUDIT_EVENT"] = audit_type
    context["TIME_STAMP"] = message_last_modified
    context["TIME_STAMP_ORIG"] = message_last_modified
    return dumps_compact(context)


_WRAPPER_KEYS = frozenset({"$oid", "d_oid", "$date", "d_date"})


def unwrap_extended_json(obj):
    """The INVERSE of the normalisation wrappers — what a consumer of
    the reference's snapshot output does to get typed values back:
    every single-key {"$oid": v} / {"$date": v} object (and their
    sanitised d_oid/d_date forms, which is how they actually appear in
    the on-disk payload after SanitisationProcessor.kt:20-24 rewrites
    '$' to 'd_') collapses recursively to its value. Non-wrapper
    objects, arrays, and scalars pass through unchanged."""
    if isinstance(obj, dict):
        if len(obj) == 1:
            k = next(iter(obj))
            if k in _WRAPPER_KEYS:
                return unwrap_extended_json(obj[k])
        return {k: unwrap_extended_json(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [unwrap_extended_json(v) for v in obj]
    return obj


def unwrap_record(json_str: str) -> tuple[str, str | None, str | None]:
    """(canonical_doc, id, last_modified) for one exported db_object
    line: unwrap all extended-JSON wrappers, re-serialise key-sorted
    compact (JsonUtils.kt:7-15 canonical form), and surface the two
    fields every downstream consumer needs — the record id (scalar as
    itself, object ids as canonical JSON) and the last-modified
    instant."""
    obj = unwrap_extended_json(json.loads(json_str))
    doc = json.dumps(obj, sort_keys=True, separators=(",", ":"))
    rid = obj.get("_id") if isinstance(obj, dict) else None
    if rid is not None and not isinstance(rid, str):
        rid = json.dumps(rid, sort_keys=True, separators=(",", ":"))
    lm = obj.get("_lastModifiedDateTime") if isinstance(obj, dict) else None
    if not isinstance(lm, str):
        lm = None
    return doc, rid, lm
