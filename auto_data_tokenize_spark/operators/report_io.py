"""Inspection-report file sinks — parity with the reference's report
layout (common/InspectionReportFileWriter.java:50-88):

    <report_dir>/col-<sanitized_column>-00000-of-00001.json
                                               one file per column
    <report_dir>/schema.json                   single-shard schema file

Byte-level contract, pinned against the reference's OWN golden files
(src/test/resources/catalog_schema_items/col-*.json,
tests/test_report_io.py):

- File naming: ``"col-" + columnName`` with ``[.$[]]+`` runs mapped to
  ``-`` and dash runs collapsed (InspectionReportFileWriter.java:83-84),
  plus Beam ``defaultNaming``'s ``-00000-of-00001`` shard suffix —
  the writer is single-shard per column, like the reference's
  ``withNoSpilling()`` dynamic write.
- JSON shape: proto3 JSON of ``ColumnInformation`` (proto:87-104 via
  JsonConvertor.asJsonString) — camelCase field names (``columnName``,
  ``infoTypes``/``infoType``) and int64 counts serialized as STRINGS,
  per the proto3 JSON mapping.

The per-column fan-out is tiny (one row per column), so the files are
written from collected rows on the driver — the same effective
single-shard layout the reference gets from FileIO.writeDynamic +
withNumShards(1). For large fan-outs use
``df.write.partitionBy("column_name").json(...)`` instead.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame

SHARD_SUFFIX = "-00000-of-00001"


def _sanitize(name: str) -> str:
    # InspectionReportFileWriter.java:83-84 semantics, applied to the
    # whole "col-<name>" prefix: JSONPath separators/indices become
    # dashes, then dash runs collapse (so "col-" + "$.a" is
    # "col-a", not "col--a"). Filesystem-hostile characters (path
    # separators, NUL, etc.) also become dashes — a column named
    # "a/b" must not turn the filename into a subdirectory write.
    cleaned = re.sub(r"[.$\[\]]+", "-", name)
    cleaned = re.sub(r"[^A-Za-z0-9_-]+", "-", cleaned)
    return re.sub(r"-+", "-", "col-" + cleaned)


def column_info_json(column_name: str, info_types: list[dict]) -> dict:
    """proto3-JSON shape of one ColumnInformation (proto:87-104):
    camelCase keys, int64 count as a string."""
    return {
        "columnName": column_name,
        "infoTypes": [
            {"infoType": it["info_type"], "count": str(it["count"])}
            for it in info_types
        ],
    }


def inspection_report_json(
    sample_size: int, column_infos: list[dict]
) -> dict:
    """proto3-JSON of the whole InspectionReport — the shape the
    reference publishes as its sample report
    (``nested_repeated_avro_fields_dlp_report.json``; golden-pinned in
    tests/test_report_io.py): ``sampleSize`` as a string (proto int64
    JSON rendering), an empty ``fileInformation`` message, and
    ``columnsInformation`` sorted by column name with each column's
    infoTypes sorted by name — the same determinism contract as
    :func:`column_info_json`.

    ``column_infos`` rows are ``{"column_name", "info_types": [{
    "info_type", "count"}]}`` dicts (collected
    ``identify.column_report`` rows)."""
    cols = []
    for ci in sorted(column_infos, key=lambda c: c["column_name"]):
        its = sorted(ci["info_types"], key=lambda it: it["info_type"])
        cols.append(column_info_json(ci["column_name"], its))
    return {
        "sampleSize": str(sample_size),
        "fileInformation": {},
        "columnsInformation": cols,
    }


def write_column_reports(col_report: DataFrame, out_dir: str) -> list[str]:
    """One ``col-<name>-00000-of-00001.json`` per ColumnInformation
    row, in the reference's proto3-JSON shape (see module docstring)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for row in col_report.collect():
        d = row.asDict(recursive=True)
        p = os.path.join(
            out_dir, f"{_sanitize(d['column_name'])}{SHARD_SUFFIX}.json"
        )
        with open(p, "w") as f:
            json.dump(column_info_json(d["column_name"], d["info_types"]), f)
        paths.append(p)
    return paths


def write_schema_file(
    df: DataFrame, out_dir: str, avro_schema: dict | None = None
) -> str:
    """Single ``schema.json`` with the source schema (single-shard
    TextIO semantics, InspectionReportFileWriter.java:61-67). The
    reference writes the source's AVRO schema verbatim; pass
    ``avro_schema`` (e.g. the container's embedded schema, or
    ``sources.avro_io.spark_schema_to_avro(df.schema)``) for that
    parity — without it the Spark schema JSON is written."""
    os.makedirs(out_dir, exist_ok=True)
    p = os.path.join(out_dir, "schema.json")
    with open(p, "w") as f:
        if avro_schema is not None:
            json.dump(avro_schema, f)
        else:
            f.write(df.schema.json())
    return p


def findings_to_column_infos(
    findings: list[dict], flat_key_schema: dict[str, str] | None = None
) -> list[dict]:
    """DLP inspection findings → per-column info-type counts — the
    FindingsTranslateFn + per-column count stage of the reference's
    inspection pipeline (DlpBatchInspect.java:84,125-134: each
    finding's ``recordLocation.fieldId.name`` is the flat key sent as
    a table header; the batch's flat-key → schema-key map folds array
    indices back onto ONE schema column, then findings count per
    (column, info_type)). Proven as a closed chain on the reference's
    own published response/report pairs
    (``nested_repeated_avro_fields_inspection_response.json`` →
    ``nested_repeated_avro_fields_dlp_report.json`` and
    ``inspection_results.json`` → ``dlp_report.json``) in
    tests/test_report_io.py.

    ``findings`` are proto3-JSON finding dicts (the
    ``result.findings`` list of an InspectContentResponse); keys
    absent from ``flat_key_schema`` pass through unchanged. Returns
    rows in :func:`inspection_report_json`'s input shape. Driver-side
    by design: responses arrive per RPC batch, bounded by the 50k-cell
    DLP cap, never corpus-sized."""
    flat_key_schema = flat_key_schema or {}
    counts: dict[tuple[str, str], int] = {}
    for f in findings:
        locs = f.get("location", {}).get("contentLocations", [])
        if not locs:
            continue
        flat_key = (
            locs[0].get("recordLocation", {}).get("fieldId", {}).get("name")
        )
        if not flat_key:
            continue
        col = flat_key_schema.get(flat_key, flat_key)
        it = f.get("infoType", {}).get("name")
        if not it:
            continue
        counts[(col, it)] = counts.get((col, it), 0) + 1
    cols: dict[str, list[dict]] = {}
    for (col, it), n in counts.items():
        cols.setdefault(col, []).append({"info_type": it, "count": n})
    return [
        {"column_name": c, "info_types": its} for c, its in cols.items()
    ]
