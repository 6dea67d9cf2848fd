"""The served request's fixed cost: no Janino recompiles once warm, no
range exchange or global sort in the plan, and a bounded job count."""

from __future__ import annotations

from medical_examination_data_etl_system_spark.api import handle_process_request
from medical_examination_data_etl_system_spark.operators.cache import cache_scope
from medical_examination_data_etl_system_spark.pipeline import process_records
from medical_examination_data_etl_system_spark.pipeline.ingest import records_to_df
from medical_examination_data_etl_system_spark.pipeline.run import reports_for_batch
from medical_examination_data_etl_system_spark.schemas import (
    FULLWIDTH_SRC,
    HALFWIDTH_DST,
    LANGU_MAP,
    sql_literal,
)

from .fixtures import sample_request

# Jobs one process_records(...).collect() fires on the sample request.
_MAX_JOBS = 11


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


def test_sql_literal_round_trips(spark):
    texts = [FULLWIDTH_SRC, HALFWIDTH_DST, *LANGU_MAP.values(), "a\\b'c\"d\\'", "\\n%_"]
    got = spark.range(1).selectExpr(*[f"{sql_literal(t)} AS c{i}" for i, t in enumerate(texts)])
    assert list(got.first()) == texts
