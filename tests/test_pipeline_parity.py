"""Golden parity: engine output vs the actual reference implementation.

The reference runs in fallback-dims + mock-LLM mode (deterministic, see
tests/reference_harness.py); reports must match byte-for-byte.
"""

from __future__ import annotations

import json

import pandas as pd

from medical_examination_data_etl_system_spark.pipeline import process_records

from .fixtures import custom_fact_dims, custom_fact_frame, multilang_edge_batch, sample_request
from .reference_harness import run_reference, run_reference_from_fact


def _strip_nulls(obj):
    if isinstance(obj, dict):
        return {k: _strip_nulls(v) for k, v in obj.items() if v is not None}
    if isinstance(obj, list):
        return [_strip_nulls(v) for v in obj]
    return obj


def _assert_reports_match(engine_rows, ref_df: pd.DataFrame):
    assert len(engine_rows) == len(ref_df), (
        f"row count: engine {len(engine_rows)} vs reference {len(ref_df)}"
    )
    for got, (_, want) in zip(engine_rows, ref_df.iterrows()):
        assert got["record_id"] == want["record_id"]
        assert got["report"] == want["report"], (
            f"report mismatch for {got['record_id']}:\n"
            f"--- engine ---\n{got['report']}\n--- reference ---\n{want['report']}"
        )
        # request echo: same payload modulo JSON formatting / null keys
        # (Spark to_json drops null fields; json.dumps keeps them)
        if want["request"]:
            assert _strip_nulls(json.loads(got["request"])) == _strip_nulls(
                json.loads(want["request"])
            )


def test_sample_request_parity(spark):
    records = sample_request()
    engine = process_records(spark, records).collect()
    ref = run_reference(records)
    _assert_reports_match(engine, ref)


def test_multilang_edge_parity(spark):
    records = multilang_edge_batch()
    engine = process_records(spark, records).collect()
    ref = run_reference(records)
    _assert_reports_match(engine, ref)


def test_custom_fact_parity(spark):
    """Non-fallback dim content, enriched from dims projected off the
    hand-built fact: real summaries (non-default renderer branch, A8
    block merge), GROUPNO 0/null sentinel, A2 dedup."""
    fact, records = custom_fact_frame()
    engine = process_records(spark, records, dims=custom_fact_dims(spark, fact)).collect()

    ref = run_reference_from_fact(fact.drop(columns=["ord"]), records)
    assert len(engine) == len(ref)
    for got, (_, want) in zip(engine, ref.iterrows()):
        assert got["record_id"] == want["record_id"]
        assert got["report"] == want["report"], (
            f"report mismatch for {got['record_id']}:\n"
            f"--- engine ---\n{got['report']}\n--- reference ---\n{want['report']}"
        )


def test_record_without_renderable_rows_is_skipped(spark):
    """Engine deviation (documented): a record whose comments are all
    empty produces no report row (the reference raises KeyError → 500)."""
    from .fixtures import finding, item, record

    records = [
        record("R301", "1", "ORG_A", [item("I001", [finding("D001", "ok comment")])]),
        record("R302", "1", "ORG_A", [item("I002", [finding("D002", "")])]),
    ]
    rows = process_records(spark, records).collect()
    assert [r["record_id"] for r in rows] == ["R301"]


def test_mock_llm_rewrite_in_report(spark):
    """Non-default summaries must be rewritten with the mock marker."""
    fact, records = custom_fact_frame()
    rows = process_records(spark, records, dims=custom_fact_dims(spark, fact)).collect()
    all_reports = "\n".join(r["report"] for r in rows)
    assert "[LLM_OUTPUT]共同摘要文字" in all_reports
    assert "[LLM_OUTPUT]Own summary" in all_reports
    # default texts are never sent to the LLM (skip-list)
    assert "[LLM_OUTPUT]本項無補充說明" not in all_reports
