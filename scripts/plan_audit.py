"""Battery-wide physical-plan audit: builds the executed plan of every
registry query and of two served entry points, both on the committed
sample request: the API (``process_records``, named
``api:process_records``) and file ingest (JSON lines through
``records_from_json_files`` → ``reports_for_batch``, named
``file:records_from_json_files``; the stream's micro-batch body is the
same call, so this covers all three entry points). It flags the
anti-patterns the 100 TB posture forbids — unpartitioned windows,
row-at-a-time Python UDFs (BatchEvalPython) and unbounded cartesian
products — plus Exchange counts as a shuffle budget overview.

Arrow-batched boundaries (ArrowEvalPython / MapInPandas /
FlatMapGroupsInPandas) are the sanctioned Python path for registry
queries and are counted separately, not flagged. The two served entry
points run no Python on an executor at all (the summary rewrite runs on
the driver), so there every Python node is fatal.
BroadcastNestedLoopJoin over a 1-row bounds frame (gap-fill spine,
zorder bounds) is bounded work, reported but not fatal.

Usage: python scripts/plan_audit.py [sf_dir] [name ...]
Exit code 1 if any query trips a fatal flag.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

API_ENTRY = "api:process_records"
FILE_ENTRY = "file:records_from_json_files"
SAMPLE_REQUEST = os.path.join(ROOT, "tests", "sample_request.json")

FATAL = ("BatchEvalPython", "CartesianProduct")
# Also fatal on the served entries: any node that runs Python.
SERVED_FATAL = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
INFO = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "BroadcastNestedLoopJoin",
)

# Queries ALLOWED to plan an unpartitioned (single-task) Window, each
# with its one-line bound argument (VERDICT r6 #1 watch item: nothing
# used to assert this provenance — now any NEW unpartitioned window is
# fatal until argued here). The shared shape: the window's input is an
# already-aggregated value/key domain (distinct values, months, group
# keys), NOT the fact table — its row count is bounded by content
# cardinality, so one task sees a small frame at any corpus scale.
UNPARTITIONED_WINDOW_ALLOWED = {
    "agg_percentiles_by_flag": "frame = distinct (flag, value) domain; r11: adaptive — past 1M distinct the partitioned parallel prefix takes over",
    "events_histogram_equidepth": "offset window = distinct value domain; r11: adaptive past 1M distinct",
    "events_conversion_latency": "frame = distinct integer-seconds latency domain; r11: adaptive past 1M distinct",
    "events_session_length_stats": "frame = distinct integer-minutes duration domain",
    "events_cumulative_distinct": "frame = one row per day (first-occurrence trick)",
    "orders_price_mad": "frame = distinct rounded-price domain (two passes); r11: adaptive past 1M distinct",
    "orders_open_backlog_monthly": "frame = one +/-1 delta row per month (sweep-line)",
    "customer_abc_classes": "frame = one revenue row per customer group key",
    "lineitem_skyline_frontier": "frame = per-price minima (distinct-price domain); r11: adaptive exclusive-running-min past 1M distinct",
    "window_distribution_stats": "frame = one row per (flag, status) group",
    "events_dau_wau_stickiness": "frame = one row per day (range frame over dates)",
    "orders_daily_anomaly": "frame = one row per day",
    "orders_mom_growth": "frame = one row per month",
    "stream_running_ewma": "frame = one row per minute bucket per user subset",
    "docs_heavy_hitter_terms": "frame = MG candidates, <= capacity x partitions rows",
    "docs_vocab_growth": "frame = the fixed 20-bucket spine",
    "docs_length_buckets": "offset window = distinct token-count domain",
    "docs_quality_calibration": "offset window = distinct round(quality,4) domain, <=10^4+1 values",
    "docs_bm25_search": "rank window runs post-limit on the 20-row TakeOrdered head",
    "docs_bpe_pair_merges": "rank window runs post-limit on the 20-row TakeOrdered head",
    "events_watermark_late_audit": "running-max frame = one row per 10-min micro-batch (time-bounded domain)",
    "orders_revenue_acf": "day-index window = one row per day (time-bounded domain)",
    "customer_survival_km": "risk-set + product-limit windows = one row per distinct gap-day (time-bounded domain)",
    "graph_link_prediction": "rank window runs post-limit on the 10-row TakeOrdered head",
    "orders_bootstrap_ci": "order-statistic window = the 100 replicate means",
    "events_cusum_changepoint": "running-sum frame = one row per day (time-bounded domain)",
    "emb_drift_monitor": "rank window runs post-limit on the 10-row TakeOrdered head",
    "lineitem_winsorize_prices": "cumulative window = distinct-price value domain; r11: adaptive past 1M distinct",
    "docs_epoch_shuffle": "frame = the 100-row post-limit head per epoch",
    "events_top_paths": "frame = |event_type|^3 path-count rows",
    "customer_rfm_segments": "frame = one row per customer (dimension-bounded; exact global quartiles need a total order)",
    "customer_gini_revenue": "frame = one row per customer (dimension-bounded; Gini needs a total order)",
    "graph_pagerank_int3": "frame = the post-limit top-20 rows",
    "orders_purged_cv_folds": "day-index window = one row per distinct day (time-bounded domain)",
    "customer_ipw_spend": "overall-ATE fold = one row per market segment (dimension-bounded, <=5 rows)",
    "orders_conformal_forecast": "lag/index + residual-rank windows = one row per day (time-bounded domain)",
    "orders_mann_whitney": "cumulative window = distinct-cents value domain (never ranks rows); r11: adaptive past 1M distinct",
}


def _count_unpartitioned_windows(jplan) -> int:
    """Walk the physical plan (incl. the AQE input plan and the plans
    behind persisted frames) counting Window/WindowGroupLimit nodes with
    an empty partitionSpec."""
    n = 0
    stack = [jplan]
    while stack:
        node = stack.pop()
        try:
            name = node.nodeName()
        except Exception:  # noqa: BLE001 — defensive: odd py4j node
            continue
        if name == "AdaptiveSparkPlan":
            stack.append(node.inputPlan())
            continue
        if name == "InMemoryTableScan":
            stack.append(node.relation().cachedPlan())
        if name in ("Window", "WindowGroupLimit"):
            try:
                if node.partitionSpec().isEmpty():
                    n += 1
            except Exception:  # noqa: BLE001
                pass
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return n


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from medical_examination_data_etl_system_spark import get_spark
    from medical_examination_data_etl_system_spark.operators.cache import cache_scope
    from medical_examination_data_etl_system_spark.pipeline import process_records
    from medical_examination_data_etl_system_spark.pipeline.ingest import records_from_json_files
    from medical_examination_data_etl_system_spark.pipeline.run import reports_for_batch
    from medical_examination_data_etl_system_spark.queries import all_queries

    spark = get_spark(app_name="plan-audit")
    builders = {name: (lambda qd=qd: qd.fn(spark, sf_dir)) for name, qd in all_queries().items()}
    with open(SAMPLE_REQUEST, encoding="utf-8") as f:
        sample = json.load(f)
    builders[API_ENTRY] = lambda: process_records(spark, sample)
    tmp = tempfile.TemporaryDirectory(prefix="plan-audit-")  # removed at exit
    jsonl = os.path.join(tmp.name, "records.jsonl")
    with open(jsonl, "w", encoding="utf-8") as f:
        f.writelines(json.dumps(r, ensure_ascii=False) + "\n" for r in sample)
    builders[FILE_ENTRY] = lambda: reports_for_batch(records_from_json_files(spark, jsonl))
    names = sys.argv[2:] or list(builders)
    rc = 0
    for name in names:
        try:
            with cache_scope():
                jplan = builders[name]()._jdf.queryExecution().executedPlan()
                plan = jplan.toString()
                n_upw = _count_unpartitioned_windows(jplan)
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            print(f"ERROR {name}: {type(exc).__name__}: {str(exc)[:120]}")
            rc = 1
            continue
        served = name in (API_ENTRY, FILE_ENTRY)
        fatal = [f for f in FATAL + (SERVED_FATAL if served else ()) if f in plan]
        if n_upw and name not in UNPARTITIONED_WINDOW_ALLOWED:
            fatal.append(f"UnpartitionedWindow×{n_upw} (not allowlisted)")
        info = [f for f in INFO if f in plan and f not in fatal]
        if n_upw and name in UNPARTITIONED_WINDOW_ALLOWED:
            info.append(f"UnpartitionedWindow×{n_upw}[allowed]")
        n_ex = len(re.findall(r"Exchange (?:hash|range|Single)", plan))
        status = "FATAL" if fatal else "ok"
        if fatal:
            rc = 1
        extras = (" " + ",".join(fatal + info)) if (fatal or info) else ""
        print(f"{status:5s} {name}: exchanges={n_ex}{extras}")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
