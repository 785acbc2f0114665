"""Port of the reference's ValidatorTest semantic matrix
(src/test/kotlin/app/batch/ValidatorTest.kt) against the pure-Python core.
Pure functions — no Spark session needed, so the matrix runs in ms.
"""

from __future__ import annotations

import json

import pytest

from dwp_hbase_to_mongo_export_spark.functions import dates, jsonfns, record_norm

D = "$date"


def norm(payload: dict | str, key_suffix: str = '{"id":"KEY"}'):
    s = payload if isinstance(payload, str) else json.dumps(payload)
    return record_norm.normalise_payload(s, key_suffix)


# --- id handling (ValidatorTest 39-91, 453-479) ---------------------------


def test_valid_json_object_id_kept():
    r = norm({"_id": {"record_id": "00001"}, "createdDateTime": "2015-03-20T12:23:25.183Z"})
    assert r.db_object["_id"] == {"record_id": "00001"}
    assert r.manifest_id == '{"record_id":"00001"}'
    assert r.manifest_original_id == '{"record_id":"00001"}'


def test_primitive_id_wrapped_as_oid():
    r = norm({"_id": "00001", "createdDateTime": "2015-03-20T12:23:25.183Z"})
    assert r.db_object["_id"] == {"$oid": "00001"}
    assert r.manifest_id == '{"$oid":"00001"}'
    assert r.manifest_original_id == "00001"
    # reference: remove+add moves _id to the end of the object
    assert list(r.db_object.keys())[-1] == "_id"


def test_missing_id_reverse_engineered_scalar():
    r = norm({"other": 1}, key_suffix='{"id": "00003"}')
    assert r.manifest_original_id == "00003"
    assert r.manifest_id == '{"$oid":"00003"}'
    assert "_id" not in r.db_object  # payload untouched


def test_missing_id_reverse_engineered_object():
    r = norm({"other": 1}, key_suffix='{"b":"2","a":"1"}')
    assert r.manifest_id == '{"a":"1","b":"2"}'
    assert r.manifest_original_id == '{"a":"1","b":"2"}'


def test_invalid_json_payload_rejected():
    with pytest.raises(record_norm.ValidationError):
        norm("{not json")


def test_primitive_payload_rejected():
    with pytest.raises(record_norm.ValidationError):
        norm('"just a string"')


def test_null_payload_rejected():
    with pytest.raises(record_norm.ValidationError):
        norm("null")


# --- archived/removed interplay (ValidatorTest 129-169) --------------------


def test_archived_removed_when_removed_present():
    r = norm(
        {
            "_id": {"a": "b"},
            "_removedDateTime": "2017-12-14T15:01:02.000Z",
            "_archivedDateTime": "2016-12-14T15:01:02.000Z",
        }
    )
    assert "_archivedDateTime" not in r.db_object
    assert r.db_object["_removedDateTime"] == {D: "2017-12-14T15:01:02.000Z"}


def test_archived_kept_when_removed_absent():
    r = norm({"_id": {"a": "b"}, "_archivedDateTime": "2016-12-14T15:01:02.000Z"})
    assert r.db_object["_archivedDateTime"] == {D: "2016-12-14T15:01:02.000Z"}


# --- lastModified fallback chain (ValidatorTest 186-399) -------------------


@pytest.mark.parametrize(
    "payload,expected",
    [
        ({"_lastModifiedDateTime": "2019-12-14T15:01:02.000Z"}, "2019-12-14T15:01:02.000Z"),
        ({"_lastModifiedDateTime": {D: "2019-12-14T15:01:02.000Z"}}, "2019-12-14T15:01:02.000Z"),
        ({"_removedDateTime": "2017-12-14T15:01:02.000Z"}, "2017-12-14T15:01:02.000Z"),
        (
            {"_lastModifiedDateTime": "", "_removedDateTime": "2017-12-14T15:01:02.000Z"},
            "2017-12-14T15:01:02.000Z",
        ),
        (
            {"_lastModifiedDateTime": None, "_removedDateTime": "2017-12-14T15:01:02.000Z"},
            "2017-12-14T15:01:02.000Z",
        ),
        (
            {
                "_removedDateTime": "2017-12-14T15:01:02.000Z",
                "createdDateTime": "2018-12-14T15:01:02.000Z",
            },
            "2017-12-14T15:01:02.000Z",
        ),
        (
            {
                "_removedDateTime": {D: "2017-12-14T15:01:02.000Z"},
                "createdDateTime": {D: "2018-12-14T15:01:02.000Z"},
            },
            "2017-12-14T15:01:02.000Z",
        ),
        ({"createdDateTime": "2018-12-14T15:01:02.000Z"}, "2018-12-14T15:01:02.000Z"),
        (
            {"_lastModifiedDateTime": {"notDate": "x"}, "createdDateTime": "2018-12-14T15:01:02.000Z"},
            "2018-12-14T15:01:02.000Z",
        ),
        ({}, dates.EPOCH_FALLBACK),
        ({"_lastModifiedDateTime": {"notDate": "x"}, "createdDateTime": {"notDate": "y"}}, dates.EPOCH_FALLBACK),
        ({"_lastModifiedDateTime": "", "createdDateTime": ""}, dates.EPOCH_FALLBACK),
        ({"_lastModifiedDateTime": None, "createdDateTime": None}, dates.EPOCH_FALLBACK),
    ],
)
def test_last_modified_fallback_chain(payload, expected):
    assert dates.retrieve_last_modified_date_time(payload) == expected


def test_normalise_injects_last_modified_from_chain():
    # Should_Create_Last_Modified_If_Missing_Dates_If_Asked (783-802)
    r = norm({"_id": {"a": "b"}})
    assert r.db_object["_lastModifiedDateTime"] == {D: dates.EPOCH_FALLBACK}
    assert list(r.db_object.keys())[-1] == "_lastModifiedDateTime"


# --- retrieveDateTimeElement shapes (ValidatorTest 401-451) -----------------


def test_retrieve_string_element():
    assert (
        dates.retrieve_datetime_element({"k": "2019-12-14T15:01:02.000Z"}, "k")
        == "2019-12-14T15:01:02.000Z"
    )


def test_retrieve_valid_object_element():
    assert (
        dates.retrieve_datetime_element({"k": {D: "2019-12-14T15:01:02.000Z"}}, "k")
        == "2019-12-14T15:01:02.000Z"
    )


def test_retrieve_invalid_object_element_empty():
    assert dates.retrieve_datetime_element({"k": {"date": "x"}}, "k") == ""


def test_retrieve_null_element_empty():
    assert dates.retrieve_datetime_element({"k": None}, "k") == ""


# --- date parsing/formatting (ValidatorTest 804-831, 873-906) ---------------


def test_parse_valid_incoming_format():
    assert dates.canonicalise("2018-12-14T15:01:02.000+0000") == "2018-12-14T15:01:02.000Z"


def test_parse_valid_outgoing_format():
    assert dates.canonicalise("2015-03-20T12:23:25.183Z") == "2015-03-20T12:23:25.183Z"


def test_invalid_date_raises():
    with pytest.raises(dates.DateParseError):
        dates.parse_valid_datetime("2015-03-20")
    with pytest.raises(dates.DateParseError):
        dates.parse_valid_datetime("2015-03-20T12:23:25")  # no millis/zone


def test_positive_offset_to_utc():
    assert dates.canonicalise("2018-12-14T15:01:02.000+0300") == "2018-12-14T12:01:02.000Z"


def test_negative_offset_to_utc():
    assert dates.canonicalise("2018-12-14T15:01:02.000-0300") == "2018-12-14T18:01:02.000Z"


# --- recursive wrapping (ValidatorTest 569-703) -----------------------------


def test_wrap_all_dates_and_move_last_modified_to_end():
    r = norm(
        {
            "_id": {"a": "b"},
            "_lastModifiedDateTime": "2019-12-14T15:01:02.000Z",
            "createdDateTime": "2018-12-14T15:01:02.000Z",
            "_removedDateTime": "2017-12-14T15:01:02.000Z",
        }
    )
    o = r.db_object
    assert o["createdDateTime"] == {D: "2018-12-14T15:01:02.000Z"}
    assert o["_removedDateTime"] == {D: "2017-12-14T15:01:02.000Z"}
    assert o["_lastModifiedDateTime"] == {D: "2019-12-14T15:01:02.000Z"}
    assert list(o.keys())[-1] == "_lastModifiedDateTime"


def test_format_all_unwrapped_dates():
    r = norm(
        {
            "_id": {"a": "b"},
            "_lastModifiedDateTime": "2019-12-14T15:01:02.000+0000",
            "createdDateTime": "2018-12-14T15:01:02.000+0000",
        }
    )
    assert r.db_object["createdDateTime"] == {D: "2018-12-14T15:01:02.000Z"}
    assert r.db_object["_lastModifiedDateTime"] == {D: "2019-12-14T15:01:02.000Z"}


def test_format_wrapped_dates_in_place():
    r = norm(
        {
            "_id": {"a": "b"},
            "_lastModifiedDateTime": {D: "2019-12-14T15:01:02.000+0000"},
            "createdDateTime": {D: "2018-12-14T15:01:02.000+0000"},
        }
    )
    assert r.db_object["createdDateTime"] == {D: "2018-12-14T15:01:02.000Z"}
    assert r.db_object["_lastModifiedDateTime"] == {D: "2019-12-14T15:01:02.000Z"}


def test_nested_and_array_dates_wrapped():
    r = norm(
        {
            "_id": {"a": "b"},
            "nested": {"when": "2016-06-23T05:12:29.624Z", "arr": ["2017-12-14T15:01:02.000+0000", 5]},
        }
    )
    assert r.db_object["nested"]["when"] == {D: "2016-06-23T05:12:29.624Z"}
    assert r.db_object["nested"]["arr"][0] == {D: "2017-12-14T15:01:02.000Z"}
    assert r.db_object["nested"]["arr"][1] == 5


def test_non_date_strings_untouched():
    r = norm({"_id": {"a": "b"}, "note": "hello 2019", "num": 7})
    assert r.db_object["note"] == "hello 2019"
    assert r.db_object["num"] == 7


def test_negative_offset_not_wrapped_in_recursion():
    # DateWrapper's incoming gate only admits '+dddd' zones
    r = norm({"_id": {"a": "b"}, "d": "2018-12-14T15:01:02.000-0300"})
    assert r.db_object["d"] == "2018-12-14T15:01:02.000-0300"


def test_unparseable_last_modified_raises():
    with pytest.raises(dates.DateParseError):
        norm({"_id": {"a": "b"}, "_lastModifiedDateTime": "not-a-date"})


# --- manifest timestamp preference (ValidatorTest 833-871) ------------------


def test_manifest_ts_full_prefers_created():
    ms = dates.manifest_timestamp_ms(
        "2018-12-14T15:01:02.000Z", "2019-12-14T15:01:02.000Z", "full"
    )
    assert ms == 1544799662000


def test_manifest_ts_incremental_prefers_last_modified():
    ms = dates.manifest_timestamp_ms(
        "2018-12-14T15:01:02.000Z", "2019-12-14T15:01:02.000Z", "incremental"
    )
    assert ms == 1576335662000


def test_manifest_ts_falls_back_on_invalid_preferred():
    ms = dates.manifest_timestamp_ms("garbage", "2019-12-14T15:01:02.000Z", "full")
    assert ms == 1576335662000
    ms = dates.manifest_timestamp_ms("2018-12-14T15:01:02.000Z", "garbage", "incremental")
    assert ms == 1544799662000


@pytest.mark.parametrize(
    "instant, expected",
    [
        ("1972-02-23T17:43:25.857Z", 67715005857),
        ("1935-07-19T12:11:39.091Z", -1087300100909),
        ("1935-07-19T13:41:39.091+0130", -1087300100909),
    ],
)
def test_manifest_ts_is_exact_to_the_millisecond(instant, expected):
    """Float seconds * 1000 lands a hair below these instants, and
    truncating it would drop a millisecond (before and after 1970)."""
    assert dates.manifest_timestamp_ms(instant, "", "full") == expected


# --- sanitisation (SanitisationProcessorTest 19-66) -------------------------


def test_sanitise_global_replacements():
    nul_text = "\\" + "u0000"  # the literal 6-char escaped-NUL text
    out = record_norm.sanitise(
        '{"$oid":"x","a' + nul_text + 'b":"y $","_archivedDateTime":"z","_archived":"w"}',
        "db",
        "coll",
    )
    # $ -> d_ everywhere (keys too), literal escaped-NUL text dropped, renames
    assert out == '{"d_oid":"x","ab":"y d_","_removedDateTime":"z","_removed":"w"}'


def test_sanitise_scoped_strips_unescaped_escapes():
    src = r'{"a":"1\r2\n3\\n4"}'
    out = record_norm.sanitise(src, "penalties-and-deductions", "sanction")
    # \r and \n stripped; double-escaped \\n kept (negative lookbehind)
    assert out == r'{"a":"123\\n4"}'


def test_sanitise_not_scoped_keeps_escapes():
    src = r'{"a":"1\r2\n3"}'
    assert record_norm.sanitise(src, "other", "coll") == src


def test_sanitise_scoped_class_quirk_strips_pipe_escape():
    # the reference's regex class [r|n] also matches '|'
    src = r'{"a":"1\|2"}'
    out = record_norm.sanitise(src, "core", "healthAndDisabilityDeclaration")
    assert out == '{"a":"12"}'


# --- equality wrap + business audit (Transformation/DecryptionProcessor) ----


def test_equality_wrap():
    out = record_norm.equality_wrap('{"a":1}', "INNER_TYPE")
    assert json.loads(out) == {"message": {"a": 1, "@type": "INNER_TYPE"}}


def test_business_audit_lifts_context():
    src = json.dumps({"context": {"k": "v"}, "auditType": "AT"})
    out = json.loads(record_norm.business_audit_transform(src, "2018-12-14T15:01:02.000+0000"))
    assert out == {
        "k": "v",
        "AUDIT_EVENT": "AT",
        "TIME_STAMP": "2018-12-14T15:01:02.000+0000",
        "TIME_STAMP_ORIG": "2018-12-14T15:01:02.000+0000",
    }


def test_business_audit_missing_context_raises():
    with pytest.raises(record_norm.ValidationError):
        record_norm.business_audit_transform('{"auditType":"AT"}', "x")
    with pytest.raises(record_norm.ValidationError):
        record_norm.business_audit_transform('{"context":{"k":"v"}}', "x")


# --- json utils (JsonUtilsTest 8-25, IdUtilityTest 9-31) --------------------


def test_sort_json_by_key():
    assert jsonfns.sort_json_by_key('{"b":1,"a":{"z":1,"y":2}}') == '{"a":{"z":1,"y":2},"b":1}'


def test_printable_key():
    assert jsonfns.printable_key(b"\x00\x01\xfeXabc") == "\\x00\\x01\\xfe\\x58abc"


def test_row_key_roundtrip():
    key = jsonfns.make_row_key('{"record_id": "00042"}')
    assert jsonfns.strip_key_hash(key) == '{"record_id": "00042"}'
    assert len(key) == 4 + len('{"record_id": "00042"}')


def test_unwrap_extended_json_inverse():
    """unwrap is the inverse of the wrap chain on wrapper nodes and the
    identity elsewhere — including nested arrays and both the raw and
    sanitised wrapper spellings."""
    from dwp_hbase_to_mongo_export_spark.functions.record_norm import (
        unwrap_extended_json,
        unwrap_record,
    )

    assert unwrap_extended_json({"$oid": "a"}) == "a"
    assert unwrap_extended_json({"d_oid": "a"}) == "a"
    assert unwrap_extended_json({"$date": "x"}) == "x"
    assert unwrap_extended_json({"d_date": "x"}) == "x"
    # multi-key objects containing a wrapper-ish key are NOT wrappers
    assert unwrap_extended_json({"$oid": "a", "b": 1}) == {"$oid": "a", "b": 1}
    # recursion through arrays and nesting
    assert unwrap_extended_json([{"d_date": "t"}, {"k": {"$oid": "z"}}]) == [
        "t",
        {"k": "z"},
    ]
    doc, rid, lm = unwrap_record(
        '{"_id":{"d_oid":"9"},"_lastModifiedDateTime":{"d_date":"T1"},"v":2}'
    )
    assert doc == '{"_id":"9","_lastModifiedDateTime":"T1","v":2}'
    assert rid == "9" and lm == "T1"
    # object id stays canonical JSON
    _, rid2, _ = unwrap_record('{"_id":{"record_id":"4"}}')
    assert rid2 == '{"record_id":"4"}'
