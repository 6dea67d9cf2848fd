"""Distributed file ingest path: JSONL records through the full pipeline
must equal the API (driver-list) path on the same records."""

from __future__ import annotations

import json

from medical_examination_data_etl_system_spark.pipeline import process_records
from medical_examination_data_etl_system_spark.pipeline.enrich import enrich
from medical_examination_data_etl_system_spark.pipeline.ingest import (
    flatten,
    records_from_json_files,
)
from medical_examination_data_etl_system_spark.pipeline.run import reports_from_fact

from .fixtures import multilang_edge_batch


def test_jsonl_ingest_matches_api_path(spark, tmp_path):
    records = multilang_edge_batch()
    src = tmp_path / "records.jsonl"
    with open(src, "w", encoding="utf-8") as f:
        for r in records:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")

    nested = records_from_json_files(spark, str(src))
    flat = flatten(nested)
    enriched = enrich(flat, {})
    got = {r["record_id"]: r["report"] for r in reports_from_fact(enriched).collect()}

    want = {
        r["record_id"]: r["report"] for r in process_records(spark, records).collect()
    }
    assert got == want
    assert len(got) == len(records)
