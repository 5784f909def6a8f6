"""Report file sinks + pluggable value tokenizers."""

import json
import os

import pytest

from auto_data_tokenize_spark.functions import value_tokenizer as vt
from auto_data_tokenize_spark.operators import report_io
from auto_data_tokenize_spark.operators.identify import (
    column_report_from_values,
    inspection_report,
    unpivot_columns,
)


def test_write_column_reports_layout(spark, transcripts_small, tmp_path):
    rep = column_report_from_values(unpivot_columns(transcripts_small, ["text"]), None)
    paths = report_io.write_column_reports(rep, str(tmp_path))
    # reference naming: col-<sanitized> + Beam's -00000-of-00001 shard
    assert [os.path.basename(p) for p in paths] == [
        "col-text-00000-of-00001.json"
    ]
    d = json.load(open(paths[0]))
    # proto3-JSON shape: camelCase keys, int64 counts as strings
    assert d["columnName"] == "$.text"
    assert {it["infoType"] for it in d["infoTypes"]} == {
        "EMAIL_ADDRESS", "PHONE_NUMBER", "CREDIT_CARD_NUMBER",
        "US_SOCIAL_SECURITY_NUMBER",
    }
    assert all(
        isinstance(it["count"], str) and it["count"].isdigit()
        for it in d["infoTypes"]
    )


REF_ITEMS = "/root/reference/src/test/resources/catalog_schema_items"


@pytest.mark.parametrize(
    "golden",
    [
        "col-topLevelRecord-person_name-00000-of-00001.json",
        "col-topLevelRecord-contact_number-00000-of-00001.json",
    ],
)
def test_column_report_shape_matches_reference_goldens(tmp_path, golden):
    """Field-for-field parity with the reference's OWN golden report
    files (DlpInspectionPipelineTest.java:96-131 reads these shapes
    back as ColumnInformation protos): feeding the golden's data
    through our writer must reproduce the golden's parsed JSON exactly
    — keys, nesting, stringified counts — AND its file name."""
    with open(os.path.join(REF_ITEMS, golden)) as f:
        want = json.load(f)
    rows = [
        {
            "column_name": want["columnName"],
            "info_types": [
                {"info_type": it["infoType"], "count": int(it["count"])}
                for it in want["infoTypes"]
            ],
        }
    ]

    class _FakeDF:  # the writer only calls .collect()
        def collect(self):
            class _R:
                def __init__(self, d):
                    self._d = d

                def asDict(self, recursive=False):
                    return self._d

            return [_R(r) for r in rows]

    paths = report_io.write_column_reports(_FakeDF(), str(tmp_path))
    assert [os.path.basename(p) for p in paths] == [golden]
    assert json.load(open(paths[0])) == want


def test_column_name_sanitization_matches_reference():
    """InspectionReportFileWriter.java:83-84: [.$[]]+ -> '-', collapse
    dash runs — including the nested/array flat-key shapes the
    reference's goldens use."""
    cases = {
        "$.text": "col-text",
        "$.topLevelRecord.person_name": "col-topLevelRecord-person_name",
        "$.__root__.contact.__s_0.nums.__s_1.number":
            "col-__root__-contact-__s_0-nums-__s_1-number",
        "$.contacts[1].contact.number": "col-contacts-1-contact-number",
    }
    for name, want in cases.items():
        assert report_io._sanitize(name) == want


def test_schema_file(spark, transcripts_small, tmp_path):
    p = report_io.write_schema_file(transcripts_small, str(tmp_path))
    s = json.load(open(p))
    assert {f["name"] for f in s["fields"]} == {
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    }


def test_schema_file_avro_mode_reference_parity(spark, transcripts_small, tmp_path):
    """The reference writes the source's AVRO schema verbatim into
    schema.json; avro_schema= does the same — for an Avro source the
    container's embedded schema round-trips byte-identically (modulo
    JSON whitespace, which json.load normalizes)."""
    from auto_data_tokenize_spark.sources import avro_io as A

    with open("/root/reference/contacts5k.avro", "rb") as f:
        avsc, _, _ = A.read_header(f)
    p = report_io.write_schema_file(
        transcripts_small, str(tmp_path), avro_schema=avsc
    )
    assert json.load(open(p)) == avsc


def test_inspection_report_shape(spark, transcripts_small):
    rep = inspection_report(
        column_report_from_values(unpivot_columns(transcripts_small, ["text"]), None),
        "PARQUET", "/data/transcripts/*.parquet",
    )
    row = rep.collect()[0]
    assert row["source_type"] == "PARQUET"
    assert len(row["column_report"]) == 1


def test_value_tokenizer_registry_roundtrip():
    for name in ("aes_siv", "aes_ecb"):
        t = vt.resolve(name)
        tok = t.encrypt("scope1", "415-555-0143")
        assert t.decrypt("scope1", tok) == "415-555-0143"
        assert t.encrypt("scope1", "415-555-0143") == tok  # deterministic


def test_value_tokenizer_reflection_path():
    t = vt.resolve(
        "auto_data_tokenize_spark.functions.value_tokenizer:AesEcbValueTokenizer"
    )
    assert t.decrypt("", t.encrypt("", "x")) == "x"
    with pytest.raises(KeyError):
        vt.resolve("nope")


def test_aes_ecb_matches_reference_semantics():
    # ECB determinism: equal plaintext blocks -> equal ciphertext blocks
    t = vt.resolve("aes_ecb")
    a = t.encrypt("", "A" * 16 + "A" * 16)
    import base64
    raw = base64.b64decode(a)
    assert raw[:16] == raw[16:32]  # the documented ECB weakness, by design


def test_sanitize_filesystem_hostile_names(tmp_path, spark):
    """A column named with a path separator must not become a
    subdirectory write (review-fix regression)."""
    from auto_data_tokenize_spark.operators.report_io import _sanitize

    assert _sanitize("a/b") == "col-a-b"
    assert _sanitize("$.contacts[0].number") == "col-contacts-0-number"
    assert _sanitize("weird\x00name") == "col-weird-name"


def test_inspection_report_json_matches_reference_golden_shape():
    """The merged-report proto JSON equals the reference's published
    nested-repeated golden byte-for-byte when fed the same counts
    (nested_repeated_avro_fields_dlp_report.json): camelCase keys,
    int64-as-string rendering, columns sorted by name, infoTypes
    sorted within each column."""
    import json

    from auto_data_tokenize_spark.operators.report_io import (
        inspection_report_json,
    )

    with open(
        "/root/reference/src/test/resources/"
        "nested_repeated_avro_fields_dlp_report.json"
    ) as f:
        want = json.load(f)

    got = inspection_report_json(
        100,
        [
            # deliberately out of order: the serializer must sort
            {"column_name": "$.kylosample.name",
             "info_types": [{"info_type": "PERSON_NAME", "count": 100}]},
            {"column_name": "$.kylosample.contacts.contact.number",
             "info_types": [{"info_type": "PHONE_NUMBER", "count": 200}]},
        ],
    )
    assert got == want
    assert json.dumps(got, sort_keys=True) == json.dumps(
        want, sort_keys=True
    )


def test_findings_to_report_closes_nested_repeated_chain():
    """Full published chain: the reference's recorded DLP response
    (nested_repeated_avro_fields_inspection_response.json, 300
    findings over dot-indexed flat keys) through the flat-key →
    schema-key fold and the report serializer equals its published
    report byte-for-byte."""
    import json

    from auto_data_tokenize_spark.operators.report_io import (
        findings_to_column_infos,
        inspection_report_json,
    )

    ref = "/root/reference/src/test/resources/"
    with open(ref + "nested_repeated_avro_fields_inspection_response.json") as f:
        findings = json.load(f)["result"]["findings"]
    mapping = {
        "$.contacts.0.contact.number": (
            "$.kylosample.contacts.contact.number"
        ),
        "$.contacts.1.contact.number": (
            "$.kylosample.contacts.contact.number"
        ),
        "$.name": "$.kylosample.name",
    }
    got = inspection_report_json(
        100, findings_to_column_infos(findings, mapping)
    )
    with open(
        ref + "nested_repeated_avro_fields_dlp_report.json"
    ) as f:
        assert got == json.load(f)


def test_findings_to_report_closes_sample_csv_chain():
    """Second published chain: inspection_results.json (the sample-csv
    response: 803 findings, multi-infoType columns, an email column
    with a stray PERSON_NAME hit) folds to dlp_report.json's
    columnsInformation exactly. Only that field plus sampleSize are
    compared — the reference artifact renders the empty file message
    as snake_case ``file_information`` (a proto-name rendering quirk
    of that one golden), unlike the camelCase the proto3-JSON printer
    and its other golden use."""
    import json

    from auto_data_tokenize_spark.operators.report_io import (
        findings_to_column_infos,
        inspection_report_json,
    )

    ref = "/root/reference/src/test/resources/"
    with open(ref + "inspection_results.json") as f:
        findings = json.load(f)["result"]["findings"]
    cols = [
        "birthdate", "cc", "email", "first_name", "ip_address",
        "last_name", "registration_dttm",
    ]
    mapping = {f"$.{c}": f"$.kylosample.{c}" for c in cols}
    got = inspection_report_json(
        100, findings_to_column_infos(findings, mapping)
    )
    with open(ref + "dlp_report.json") as f:
        want = json.load(f)
    assert got["sampleSize"] == want["sampleSize"]
    assert got["columnsInformation"] == want["columnsInformation"]
