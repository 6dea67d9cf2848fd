"""Physical-plan assertions: the optimizations the engine is designed
around must actually appear in the executed plans — broadcast joins for
dims, filter/column pushdown into the parquet scan, partial (map-side)
aggregation, and top-k as TakeOrderedAndProject. Guards against
regressions that correctness tests can't see.
"""

from __future__ import annotations

import json
import os
import runpy

import pytest
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.operators.cache import cache_scope
from medical_examination_data_etl_system_spark.pipeline.enrich import enrich
from medical_examination_data_etl_system_spark.pipeline.ingest import (
    flatten,
    records_from_json_files,
    records_to_df,
)
from medical_examination_data_etl_system_spark.pipeline.run import reports_for_batch
from medical_examination_data_etl_system_spark.queries import all_queries, load

from .fixtures import multilang_edge_batch, sample_request

SF_DIR = "/root/testdata/sf0.01"
_PLAN_AUDIT = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "plan_audit.py")


def _formatted_plan(df) -> str:
    je = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return je.explainString(mode)


def test_q3_broadcasts_dims_and_pushes_filters(spark):
    df = all_queries()["q3_shipping_priority"].fn(spark, SF_DIR)
    plan = _formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must not shuffle the fact side
    assert "PushedFilters: [IsNotNull" in plan  # predicate reached the scan
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort + limit


def test_q5_all_joins_broadcast(spark):
    plan = _formatted_plan(all_queries()["q5_local_supplier_volume"].fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan


def test_q1_partial_aggregation(spark):
    """Partial+final hash aggregation: two HashAggregate nodes around one
    exchange — map-side combine before the shuffle."""
    plan = _formatted_plan(all_queries()["q1_pricing_summary"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_scan_column_pruning(spark):
    """A 2-column projection must read a 2-column schema, not the table."""
    li = load(spark, SF_DIR, "lineitem")
    df = li.filter(F.col("l_shipdate") > "1995-01-01").select("l_orderkey", "l_quantity")
    plan = _formatted_plan(df)
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_orderkey" in scan and "l_quantity" in scan and "l_shipdate" in scan
    assert "l_extendedprice" not in scan and "l_returnflag" not in scan
    assert "PushedFilters" in plan and "GreaterThan(l_shipdate" in plan


def test_minhash_candidate_join_carries_no_arrays(spark):
    """The LSH candidate self-join must move only (id, band) pairs —
    shingle arrays enter the plan solely via the verification joins."""
    from medical_examination_data_etl_system_spark.operators.dedup import minhash_near_duplicates

    docs = load(spark, SF_DIR, "documents")
    plan = _formatted_plan(minhash_near_duplicates(docs))
    # The band-bucket join keys are the posexploded band columns.
    assert "posexplode" in plan
    # Exactly two joins read the (heavier) shingle arrays: the
    # verification joins keyed on id_a / id_b.
    assert plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin") >= 3


def _simple_plan(df) -> str:
    """One line per physical node — safe for exact node counts (the
    formatted mode repeats every node in its detail section)."""
    je = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    return je.explainString(mode)


def test_q2_correlated_min_is_one_window(spark):
    """Q2's correlated-min subquery must compile to a single Window over
    broadcast-joined dims — not a re-scan / self-join per part."""
    plan = _simple_plan(all_queries()["q2_min_cost_supplier"].fn(spark, SF_DIR))
    assert plan.count("Window") == 1
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_q18_semi_join_and_partial_agg(spark):
    """Q18's IN-subquery must be a semi join feeding partial+final
    aggregation; the dim joins stay broadcast."""
    plan = _formatted_plan(all_queries()["q18_large_volume_customers"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # HAVING agg + final agg, each partial+final


def test_q21_single_fact_shuffle_join(spark):
    """Q21's EXISTS/NOT-EXISTS rewrite costs exactly one fact-fact
    shuffle join (flagged lineitem x per-order stats on l_orderkey);
    everything else broadcasts."""
    plan = _simple_plan(all_queries()["q21_suppliers_who_kept_waiting"].fn(spark, SF_DIR))
    assert plan.count("SortMergeJoin") <= 1
    assert plan.count("BroadcastHashJoin") >= 2


def test_salted_count_distinct_is_two_phase(spark):
    """The salted rewrite must be two HashAggregate pairs (partial+final
    per phase) with no single-task concentration: no expand-based
    distinct on the full frame."""
    plan = _simple_plan(all_queries()["skew_salted_count_distinct"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4  # two phases, each partial+final


def test_salted_join_explodes_dim_not_fact(spark):
    """The dim side replicates via explode; the fact side only gains a
    salt column — no fact-side blow-up."""
    plan = _simple_plan(all_queries()["skew_salted_join"].fn(spark, SF_DIR))
    assert "Generate explode" in plan


def test_renderer_sql_has_no_python_eval(spark):
    """The renderer must contain no Python evaluation operator."""
    from medical_examination_data_etl_system_spark.pipeline import process_records

    from .fixtures import sample_request

    df = process_records(spark, sample_request())
    plan = _formatted_plan(df)
    for marker in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, f"Python operator {marker} in renderer plan"


def test_fallback_enrich_is_one_projection(spark):
    """With no dim tables, enrich computes the fallback names from the
    fact's own keys: no join and no aggregate in the plan."""
    from medical_examination_data_etl_system_spark.pipeline.enrich import enrich
    from medical_examination_data_etl_system_spark.pipeline.ingest import flatten, records_to_df

    from .fixtures import multilang_edge_batch

    plan = _simple_plan(enrich(flatten(records_to_df(spark, multilang_edge_batch())), {}))
    assert "Join" not in plan
    assert "Aggregate" not in plan


def test_embedding_near_dup_never_packs_blocks(spark):
    """Scale guard (VERDICT r1 #4): the blocked-GEMM all-pairs plan must
    keep vectors as rows — no collect_list packing a block into a single
    cell (2 GB column limit / one-task OOM at scale). Both the exact
    twin and the SRP scale path go through applyInPandas grouping."""
    from medical_examination_data_etl_system_spark.operators import similarity

    emb = load(spark, SF_DIR, "embeddings")
    for df in (
        similarity.embedding_near_duplicates(emb, threshold=0.4),
        similarity.embedding_near_duplicates_srp(emb, threshold=0.4),
    ):
        plan = _formatted_plan(df)
        assert "collect_list" not in plan
        assert "FlatMapGroupsInPandas" in plan


def test_srp_bucket_emit_is_id_only(spark):
    """The SRP bucket emit (``with_srp_buckets``' ``_assign`` sweep)
    outputs ids only on every route that gets vectors into the kernel:
    the broadcast (budget fits), the fetch join (budget 0) and the
    uncounted explicit plan (``target_bucket_rows=None``). Each row is
    emitted L·(1+probes)×, so a vector column there is carried through
    the Python emit and the bucket shuffle on every copy."""
    import re

    from medical_examination_data_etl_system_spark.operators import similarity

    emb = load(spark, SF_DIR, "embeddings")
    for kw in ({}, {"broadcast_corpus_bytes": 0}, {"target_bucket_rows": None}):
        df = similarity.embedding_near_duplicates_srp(emb, threshold=0.4, **kw)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        outputs = re.findall(r"MapInPandas _assign\(.*?\)#\d+, \[([^\]]*)\]", plan)
        assert outputs, f"no bucket emit in the plan for {kw}"
        for out in outputs:
            cols = [c.split("#")[0] for c in out.split(", ")]
            assert cols == ["_id", "_table", "_bucket", "_home"], (kw, cols)


def test_curation_operator_plan_shapes(spark):
    """Curation operators' shuffle budget (VERDICT r3 #6): sampling,
    redaction, and chunking are MAP-ONLY (zero Exchange — the membership
    filter, regex chain, and posexplode fan-out are pure per-row
    expressions); capping and packing need exactly ONE Exchange (their
    window's hash partitioning — the minimum their semantics allow).
    Guarded on the operators directly: the registered queries add a
    presentation orderBy whose range Exchange is not the operator's.
    """
    from medical_examination_data_etl_system_spark.operators import curation
    from medical_examination_data_etl_system_spark.operators.text_analysis import token_count

    docs = load(spark, SF_DIR, "documents")
    map_only = {
        "hash_sample": curation.hash_sample(docs, "doc_id", pct=20),
        "pii_redact": docs.select(
            "doc_id", curation.redact_pii(F.col("text")).alias("clean")
        ),
        "chunk_tokens": curation.chunk_tokens(docs, "text", ["doc_id"]),
    }
    for name, df in map_only.items():
        plan = _simple_plan(df)
        assert "Exchange" not in plan, f"{name} must be map-only, plan:\n{plan}"
        for marker in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
            assert marker not in plan, f"{name} has Python operator {marker}"
    one_shuffle = {
        "cap_per_key": curation.cap_per_key(docs, "source", n=40, order_col="doc_id"),
        "pack_sequences": curation.pack_sequences(
            docs.withColumn("n_tokens", token_count(F.col("text"))),
            token_col="n_tokens", budget=256, part_col="source", order_col="doc_id",
        ),
    }
    for name, df in one_shuffle.items():
        plan = _simple_plan(df)
        assert plan.count("Exchange") == 1, f"{name} expects exactly one Exchange:\n{plan}"
    assert "Generate posexplode" in _simple_plan(map_only["chunk_tokens"])


def test_bucketed_tables_reused_not_rewritten(spark):
    """Write-once-join-many (VERDICT r3 #4): a second ensure call with a
    matching bucket spec must REUSE the catalog tables (no rewrite);
    force=True must rewrite; a different bucket count resolves to
    different tables (no wrong-layout reuse)."""
    import glob
    import os
    from urllib.parse import urlparse

    from medical_examination_data_etl_system_spark.operators.bucketing import (
        ensure_bucketed_order_tables,
    )

    def mtimes(table):
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        db, name = table.split(".")
        return {
            f: os.path.getmtime(f) for f in glob.glob(f"{warehouse}/{db}.db/{name}/*")
        }

    orders_t, lineitem_t = ensure_bucketed_order_tables(spark, SF_DIR)
    first = mtimes(orders_t)
    assert first, "bucketed write produced no files"
    again = ensure_bucketed_order_tables(spark, SF_DIR)
    assert again == (orders_t, lineitem_t)
    assert mtimes(orders_t) == first, "matching spec must not rewrite"
    forced = ensure_bucketed_order_tables(spark, SF_DIR, force=True)
    assert forced == (orders_t, lineitem_t)
    assert mtimes(orders_t) != first, "force=True must rewrite"
    other_orders, _ = ensure_bucketed_order_tables(spark, SF_DIR, num_buckets=4)
    assert other_orders != orders_t, "different bucket count must not collide"


def test_bucketed_join_has_no_exchange(spark):
    """The whole point of bucketing: the orderkey join over matching
    bucket specs must plan with ZERO Exchange (broadcast disabled so the
    assert can't pass for the wrong reason)."""
    from medical_examination_data_etl_system_spark.operators.bucketing import (
        bucketed_join,
        ensure_bucketed_order_tables,
    )

    orders_t, lineitem_t = ensure_bucketed_order_tables(spark, SF_DIR)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _formatted_plan(bucketed_join(spark, orders_t, lineitem_t))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join reintroduced a shuffle"


def test_decontaminate_corpus_never_shuffles(spark):
    """Decontamination's corpus side must reach the gram semi-join
    map-only (benchmark gram set broadcasts; a SortMergeJoin would mean
    the 100 TB corpus shuffles on gram)."""
    from medical_examination_data_etl_system_spark.operators import curation

    docs = load(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    plan = _simple_plan(curation.decontaminate(corpus, bench, n=3))
    assert "SortMergeJoin" not in plan, f"corpus shuffled on gram:\n{plan}"
    assert "BroadcastHashJoin" in plan
    assert "Generate explode" in plan  # codegen gram fan-out, no Python


def test_repetition_stats_two_phase_distinct(spark):
    """Exact distinct-gram counting is a two-Exchange aggregate
    ((id, gram) partial → id final) — the minimum for exact
    countDistinct; more would mean a redundant shuffle."""
    from medical_examination_data_etl_system_spark.operators import curation

    docs = load(spark, SF_DIR, "documents")
    plan = _simple_plan(curation.repetition_stats(docs))
    assert plan.count("Exchange") <= 2, f"extra shuffle:\n{plan}"
    for marker in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan


def test_point_in_time_join_is_equi_join(spark):
    """The temporal join's key equality must make it a hash/sort-merge
    equi-join with the interval containment as a post-join filter — a
    BroadcastNestedLoopJoin/CartesianProduct would mean Spark planned
    the range predicate as the join itself (quadratic at scale)."""
    from medical_examination_data_etl_system_spark.operators import merge

    events = load(spark, SF_DIR, "events")
    history = merge.scd2_intervals(
        events.filter(F.col("event_type") != "purchase"),
        "user_id", ["ts", "event_id"], ["event_type"],
    )
    facts = events.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    plan = _simple_plan(merge.point_in_time_join(facts, history, "user_id", "ts"))
    assert "NestedLoopJoin" not in plan, f"range planned as NL join:\n{plan}"
    assert "CartesianProduct" not in plan


def test_apply_changes_base_never_sort_merge_joins(spark):
    """CDC MERGE plan contract: the changed-key set broadcasts into the
    anti-join, so the base side never shuffles or sorts (only the
    changes pay the latest-wins window sort — measured 3× at a 100×
    batch where AQE's post-window estimate refused the broadcast)."""
    from medical_examination_data_etl_system_spark.operators import merge
    from pyspark.sql import Row

    base = spark.createDataFrame([Row(k=i, v="x") for i in range(100)])
    changes = spark.createDataFrame([Row(k=i, v="y", seq=1, op="U") for i in range(10)])
    plan = _simple_plan(merge.apply_changes(base, changes, "k", "seq"))
    assert "BroadcastHashJoin" in plan, f"key set not broadcast:\n{plan}"
    assert "SortMergeJoin" not in plan, f"base paid a sort-merge join:\n{plan}"


def test_p90_outlier_threshold_broadcasts(spark):
    """The 5-row per-group p90 table must broadcast back onto orders —
    a SortMergeJoin would shuffle the full fact relation a second time."""
    plan = _simple_plan(all_queries()["agg_p90_outlier_orders"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, f"threshold join shuffled the facts:\n{plan}"


def test_runtime_bloom_filter_engages_at_scan_scale(spark):
    """Semi-join reduction contract: when a selective dim filters a
    shuffle join and the fact scan is big enough, Catalyst injects a
    bloom filter on the fact side (InjectRuntimeFilter) — the fact
    rows that can't match never enter the shuffle. The production
    thresholds (10 GB application-side scan) are exactly the 100 TB
    regime; here they're lowered scoped-and-restored to pin the
    mechanism on testdata, and the filtered result must equal the
    unfiltered join's."""
    from medical_examination_data_etl_system_spark.queries import load

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load(spark, SF_DIR, "lineitem")
        part = load(spark, SF_DIR, "part").filter(F.col("p_brand") == "Brand#23")
        j = (
            li.join(part, li.l_partkey == part.p_partkey)
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, f"no runtime bloom injected:\n{plan[:2000]}"
        rows = {(r["p_brand"], r["n"]) for r in j.collect()}
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    li = load(spark, SF_DIR, "lineitem")
    part = load(spark, SF_DIR, "part").filter(F.col("p_brand") == "Brand#23")
    want = {
        (r["p_brand"], r["n"])
        for r in li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert rows == want


def test_file_ingest_plan_has_no_unpartitioned_window(spark, tmp_path):
    """File and stream ingest need no cross-record order: the batch
    body over file ingest (the stream's body too), cached plans
    included, plans no single-task Window."""
    count_unpartitioned_windows = runpy.run_path(_PLAN_AUDIT)["_count_unpartitioned_windows"]
    src = tmp_path / "records.jsonl"
    src.write_text(
        "".join(json.dumps(r, ensure_ascii=False) + "\n" for r in multilang_edge_batch()),
        encoding="utf-8",
    )
    with cache_scope():
        reports = reports_for_batch(records_from_json_files(spark, str(src)))
        plan = reports._jdf.queryExecution().executedPlan()
        assert count_unpartitioned_windows(plan) == 0


def test_flatten_ord_is_a_struct(spark):
    """ord compares field by field, so no position field caps another."""
    ord_type = flatten(records_to_df(spark, sample_request())).schema["ord"].dataType
    assert ord_type.simpleString() == "struct<rec:bigint,item:int,finding:int>"
