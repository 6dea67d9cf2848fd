"""The served request's fixed cost: no Janino recompiles once warm, no
range exchange or global sort in the plan, a bounded job count, no
Python node in the served plans, a request list parsed in the JVM (no
Python-RDD scan) and planned with AQE off in a served session that
leaves the caller's conf alone."""

from __future__ import annotations

import json

import pytest

from medical_examination_data_etl_system_spark.api import handle_process_request
from medical_examination_data_etl_system_spark.operators.cache import cache_scope
from medical_examination_data_etl_system_spark.pipeline import process_records
from medical_examination_data_etl_system_spark.pipeline.ingest import (
    flatten,
    records_from_json_files,
    records_to_df,
)
from medical_examination_data_etl_system_spark.pipeline.run import reports_for_batch, served_session
from medical_examination_data_etl_system_spark.schemas import (
    BATCH_SCHEMA,
    FULLWIDTH_SRC,
    HALFWIDTH_DST,
    LANGU_MAP,
    sql_literal,
)

from .fixtures import finding, item, multilang_edge_batch, record, sample_request
from .test_enrich import _odd_key_batch
from .test_round9 import PYTHON_NODES

# Jobs one process_records(...).collect() fires on the sample request.
_MAX_JOBS = 3


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _plan_nodes(plan):
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))


def test_repeated_request_compiles_no_generated_class(spark):
    """The codegen cache holds a whole request's generated classes, so
    serving the same request again compiles nothing."""
    # No frame of an earlier test is left persisted (conftest), so the
    # first request runs the whole plan, not a cached subtree.
    payload = sample_request()
    first = handle_process_request(spark, payload)
    before = _compiles(spark)
    second = handle_process_request(spark, payload)
    assert _compiles(spark) - before == 0
    assert second == first


def test_served_plan_has_no_range_exchange(spark):
    with cache_scope():
        plan = process_records(spark, sample_request())._jdf.queryExecution().executedPlan()
        assert "rangepartitioning" not in plan.toString().lower()


def test_reports_for_batch_has_no_global_sort(spark):
    with cache_scope():
        qe = reports_for_batch(records_to_df(spark, sample_request()), {})._jdf.queryExecution()
        sorts = [n for n in _plan_nodes(qe.optimizedPlan()) if n.nodeName() == "Sort"]
        assert not [n for n in sorts if getattr(n, "global")()]
        assert "rangepartitioning" not in qe.executedPlan().toString().lower()


def test_served_request_job_count(spark):
    sc, group = spark.sparkContext, "test_served_request_job_count"
    sc.setJobGroup(group, group)
    try:
        with cache_scope():
            rows = process_records(spark, sample_request()).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 1
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= _MAX_JOBS


def test_served_plans_have_no_python_node(spark, tmp_path):
    """The API request and the file-ingest body (the stream's micro-batch
    body too) run no Python on an executor: the summary rewrite runs on
    the driver while the plan is built."""
    jsonl = tmp_path / "records.jsonl"
    jsonl.write_text("".join(json.dumps(r) + "\n" for r in sample_request()), encoding="utf-8")
    with cache_scope():
        for df in (
            process_records(spark, sample_request()),
            reports_for_batch(records_from_json_files(spark, str(jsonl))),
        ):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert not [n for n in PYTHON_NODES if n in plan]


def test_sql_literal_round_trips(spark):
    texts = [FULLWIDTH_SRC, HALFWIDTH_DST, *LANGU_MAP.values(), "a\\b'c\"d\\'", "\\n%_"]
    got = spark.range(1).selectExpr(*[f"{sql_literal(t)} AS c{i}" for i, t in enumerate(texts)])
    assert list(got.first()) == texts


def _python_rows_oracle(spark, records):
    """The former ingest, kept as the reference: driver-side enumerate
    into a pickled Python RDD."""
    if isinstance(records, dict):
        records = [records]
    rows = [
        {
            "_rec_idx": i,
            "RECORD_ID": r.get("RECORD_ID"),
            "LANG_NO": r.get("LANG_NO"),
            "ORG_ID": r.get("ORG_ID"),
            "ITEMS": r.get("ITEMS"),
        }
        for i, r in enumerate(records)
    ]
    return spark.createDataFrame(rows, BATCH_SCHEMA)


def _escapes_batch():
    text = '血壓 "偏高"\n建議 \\ 追蹤\r\n\'單引號\' （全形）：，。 😀'
    return [
        record("Q1", "1", "ORG_A", [item("I001", [finding("D001", text), finding("D002", '"')])]),
        record("Q2", "4", "组织\n乙", [item('I"2', [finding("D'3", "简体\n（测试）")])]),
        record("Q3", "2", "ORG_A", None),
        record("Q4", "3", "ORG_A", [item("I004", None), item("I005", [])]),
    ]


def _int_scalars_batch():
    return [
        {"RECORD_ID": 7, "LANG_NO": 1, "ORG_ID": 3,
         "ITEMS": [{"ITEM_CODE": 42, "FINDINGS": [{"DIAG_CODE": 5, "COMMENT": "seven", "SUMMARY_CODE": 9}]}]},
    ]


@pytest.mark.parametrize(
    "batch",
    [
        sample_request,
        multilang_edge_batch,
        _odd_key_batch,
        lambda: sample_request()[0],
        list,
        _escapes_batch,
        _int_scalars_batch,
    ],
    ids=["sample", "multilang_edge", "odd_key", "dict_payload", "empty", "escapes", "int_scalars"],
)
def test_records_to_df_matches_python_rows_oracle(spark, batch):
    got, want = records_to_df(spark, batch()), _python_rows_oracle(spark, batch())
    assert got.schema == want.schema == BATCH_SCHEMA
    assert got.orderBy("_rec_idx").collect() == want.orderBy("_rec_idx").collect()
    assert flatten(got).orderBy("ord").collect() == flatten(want).orderBy("ord").collect()


def test_int_scalars_ingest_as_their_text(spark):
    (row,) = records_to_df(spark, _int_scalars_batch()).collect()
    assert (row["RECORD_ID"], row["ITEMS"][0]["FINDINGS"][0]["DIAG_CODE"]) == ("7", "5")


def test_request_list_plans_no_python_rdd_scan(spark):
    plan = records_to_df(spark, sample_request())._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan
    # The reference path is the scan this guards against.
    oracle = _python_rows_oracle(spark, sample_request())._jdf.queryExecution().executedPlan()
    assert "ExistingRDD" in oracle.toString()


def test_served_request_runs_without_aqe_and_leaves_caller_conf(spark):
    before = spark.conf.get("spark.sql.adaptive.enabled")
    handle_process_request(spark, sample_request())
    assert spark.conf.get("spark.sql.adaptive.enabled") == before == "true"
    assert served_session(spark) is served_session(spark)
    with cache_scope():
        served = process_records(spark, sample_request())._jdf.queryExecution().executedPlan()
        assert served.nodeName() != "AdaptiveSparkPlan"
        assert "AdaptiveSparkPlan" not in served.toString()
        # The same body in the caller's session, as file and stream
        # ingest run it, keeps AQE.
        batch = reports_for_batch(records_to_df(spark, sample_request()))
        assert batch._jdf.queryExecution().executedPlan().nodeName() == "AdaptiveSparkPlan"
