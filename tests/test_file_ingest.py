"""Distributed file ingest path: JSONL records through the full pipeline
must equal the API (driver-list) path on the same records. Also pins how
one batch treats records that share a RECORD_ID on each path."""

from __future__ import annotations

import json

from medical_examination_data_etl_system_spark.pipeline import process_records
from medical_examination_data_etl_system_spark.pipeline.enrich import enrich
from medical_examination_data_etl_system_spark.pipeline.ingest import (
    flatten,
    records_from_json_files,
)
from medical_examination_data_etl_system_spark.pipeline.run import reports_from_fact

from .fixtures import finding, item, multilang_edge_batch, record


def _file_reports(spark, tmp_path, records: list[dict]) -> list:
    src = tmp_path / "records.jsonl"
    with open(src, "w", encoding="utf-8") as f:
        for r in records:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")
    nested = records_from_json_files(spark, str(src))
    return reports_from_fact(enrich(flatten(nested), {})).collect()


def test_jsonl_ingest_matches_api_path(spark, tmp_path):
    records = multilang_edge_batch()
    got = {r["record_id"]: r["report"] for r in _file_reports(spark, tmp_path, records)}

    want = {
        r["record_id"]: r["report"] for r in process_records(spark, records).collect()
    }
    assert got == want
    assert len(got) == len(records)


def test_jsonl_identical_copies_render_once(spark, tmp_path):
    """A file batch that repeats every record verbatim (the shape of a
    replayed stream batch) renders each record once, as the API renders
    one copy."""
    records = multilang_edge_batch()
    rows = _file_reports(spark, tmp_path, records + records)
    want = {
        r["record_id"]: r["report"] for r in process_records(spark, records).collect()
    }
    assert len(rows) == len(records)
    assert {r["record_id"]: r["report"] for r in rows} == want


def test_shared_record_id_in_one_request(spark):
    """Two different records with one RECORD_ID in one request: the
    keep-first dedup keeps the first copy's finding for their shared
    item, and each copy's request echo becomes its own report row. Both
    rows sit at the first copy's batch position, before R2."""
    records = [
        record("R1", "1", "ORG_A", [item("I001", [finding("D001", "first copy")])]),
        record("R2", "1", "ORG_A", [item("I001", [finding("D001", "other record")])]),
        record(
            "R1",
            "1",
            "ORG_A",
            [
                item("I001", [finding("D002", "second copy")]),
                item("I002", [finding("D003", "extra item")]),
            ],
        ),
    ]
    rows = process_records(spark, records).collect()
    assert [r["record_id"] for r in rows] == ["R1", "R1", "R2"]
    r1 = sorted(("second copy" in r["request"], r["report"]) for r in rows[:2])
    assert r1 == [
        (False, "範例分類\n    項目 I001\n        first copy\n            本項無補充說明\n"),
        (True, "    項目 I002\n        extra item\n            本項無補充說明\n"),
    ]
