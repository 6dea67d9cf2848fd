"""Distributed file ingest path: JSONL records through the full pipeline
must equal the API (driver-list) path on the same records. Also pins how
one batch treats records that share a RECORD_ID."""

from __future__ import annotations

import json

from medical_examination_data_etl_system_spark.pipeline import process_records
from medical_examination_data_etl_system_spark.pipeline.ingest import records_from_json_files
from medical_examination_data_etl_system_spark.pipeline.run import reports_for_batch

from .fixtures import finding, item, multilang_edge_batch, record


def _file_reports(spark, tmp_path, records: list[dict]) -> list:
    src = tmp_path / "records.jsonl"
    with open(src, "w", encoding="utf-8") as f:
        for r in records:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")
    return reports_for_batch(records_from_json_files(spark, str(src)), {}).collect()


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


def test_shared_record_id_in_one_request(spark, tmp_path):
    """Two different records with one RECORD_ID in one request render as
    one report (reference A4 groupby('RECORD_ID')): the keep-first dedup
    keeps the first copy's finding for their shared item, the report
    has one group header, and its request echo is the first copy's
    (reference J5 first match). It sits at the first copy's batch
    position, before R2. File ingest, where both copies tie at batch
    position 0, renders one report per RECORD_ID too."""
    first = record("R1", "1", "ORG_A", [item("I001", [finding("D001", "first copy")])])
    records = [
        first,
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
    assert [r["record_id"] for r in rows] == ["R1", "R2"]
    assert rows[0]["report"] == (
        "範例分類\n    項目 I001\n        first copy\n            本項無補充說明\n\n"
        "    項目 I002\n        extra item\n            本項無補充說明\n"
    )
    assert json.loads(rows[0]["request"])["ITEMS"] == first["ITEMS"]
    assert sorted(r["record_id"] for r in _file_reports(spark, tmp_path, records)) == ["R1", "R2"]
