"""The oracle-checked query battery (SURVEY.md §2b; driver contract).

Every entry pairs a Spark implementation ``(spark, sf_dir) -> DataFrame``
with (where expressible) an ANSI-SQL oracle that DuckDB runs on the same
parquet tables. Column names/aliases match exactly on both sides — the
driver's comparator sorts columns by name before value-hashing.

Registration pattern: each module exposes ``QUERIES: dict[name, QueryDef]``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → rows-only check (non-SQL-expressible)


def _read_with_nanos_as_long(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read with nanosAsLong scoped to schema resolution.

    The conf only matters while ``spark.read.parquet`` resolves the
    footer schema (the relation then carries ``ts: bigint``); verified
    that later actions execute fine with the conf restored — so a
    session-wide mutation isn't needed and other reads in the same
    session see their previous setting."""
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "true")
    try:
        return spark.read.parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a testdata table.

    The events table's ``ts`` physical type has varied across testdata
    generations — TIMESTAMP(NANOS) (which Spark's vectorized reader
    rejects; read as raw nanos via legacy.parquet.nanosAsLong and
    convert — lossless: the generator emits microsecond-precision
    values) and TIMESTAMP(MICROS) without timezone (read as
    TIMESTAMP_NTZ). Both are normalized to a session-TZ TIMESTAMP so
    every consumer (windows, unix_micros, streaming parity) sees one
    type; the session TZ is UTC, so the NTZ→LTZ cast preserves the
    wall-clock value.
    """
    if table == "events":
        from pyspark.sql import functions as F

        df = _read_with_nanos_as_long(spark, f"{sf_dir}/{table}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division: epoch-nanos exceed double's 2^53 mantissa,
            # so float division here would round the microsecond.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


_ROWCOUNTS: dict[tuple[str, str], int] = {}


def table_rowcount(spark: SparkSession, sf_dir: str, table: str) -> int | None:
    """Row count of a testdata table, memoized per (sf_dir, table) for
    the process lifetime — used as a cheap SIZING BOUND (e.g. the
    distributed-rank switch sizes per-customer frames off |customer|),
    where a one-job parquet count per query call would otherwise
    dominate small-scale benchmarks. Testdata dirs are immutable
    within a process, which is what makes the memo sound. Returns
    ``None`` (unmemoized) when the table doesn't exist in ``sf_dir`` —
    synthetic edge-case dirs carry only the tables a test needs, and
    a missing HINT must degrade to self-sizing, not an error."""
    import os

    from pyspark.errors import AnalysisException

    key = (sf_dir, table)
    if _ROWCOUNTS.get(key, 0) is None and os.path.exists(
        os.path.join(sf_dir, f"{table}.parquet")
    ):
        # A memoized MISS whose path now exists (ADVICE r11 #5:
        # pipeline-style flows can write a table after a first lookup)
        # — invalidate and recount instead of silently disabling the
        # hint for the rest of the process. One os.path probe per call
        # on the miss path only; hits stay a pure dict lookup.
        del _ROWCOUNTS[key]
    if key not in _ROWCOUNTS:
        try:
            _ROWCOUNTS[key] = load(spark, sf_dir, table).count()
        except AnalysisException:
            # Memoize the miss too (ADVICE r10 #4): re-running load() +
            # catching the AnalysisException on every call for an
            # absent table is pure repeated catalog/path-resolution
            # cost; the existence re-probe above un-memoizes if the
            # table appears later.
            _ROWCOUNTS[key] = None
    return _ROWCOUNTS[key]


# The driver's correctness gate checks the FIRST 50 registry entries in
# order, so the registry is ordered by EVIDENCE NEED each round (VERDICT
# r3 #1). Structured bookkeeping (ADVICE r9 #3): each entry is a
# ``(name, why)`` tuple where ``why`` is the machine-checkable reason the
# row sits in the current window — "r05"/"r06"/"r07" = driver evidence
# last refreshed that round (VERDICT r10 #3: the committed r11 plan —
# the four r05-stale stream rows, the 43 r06-stale rows, then 3 r07
# rows to fill the cut), "rNN-restr" = RESTRUCTURED that round, so its
# prior row is re-certified in-window (the rule r08 applied to
# ushape/CDC, r09 to the MinHash kernel, r10 to the customer-rank and
# cosine-topk rewrites).
# The window cut is WINDOW_SIZE; the import-time check below fails
# loudly if an insert shifts a restructured row past the cut, and
# tests/test_edge_cases.py pins the invariant.
# Positions 51+ are the COMMITTED R14 PLAN: the r08-stale rows the r13
# cut displaced or never listed, then r09-stale rows in name order (the
# r09 tail rolls to r15). Every windowed name is hash-green in the
# local replica before commit (scripts/parity_subset.py).
WINDOW_SIZE = 50

_WINDOW_PLAN: list[tuple[str, str]] = [
    # ---- r13 driver window: the round's 2 RESTRUCTURED queries
    # ---- first (re-certify-in-window rule; the slab id-hash
    # ---- canonicalization + the past-budget fetch-join default
    # ---- changed embedding_near_duplicates_srp, the operator both
    # ---- consume), then the committed r13 plan — 16 r07-stale rows
    # ---- and 32 r08-stale rows in name order to the cut. (The 4
    # ---- displaced r08 rows join the r14 plan below; the 50 rows
    # ---- of the r12 window leave with fresh r12 evidence.) ----
    ("emb_near_dup_srp", "r13-restr"),
    ("docs_semantic_dedup_srp", "r13-restr"),
    ("events_watermark_late_audit", "r07"),
    ("fn_higher_order_arrays", "r07"),
    ("fn_try_arithmetic", "r07"),
    ("graph_pagerank_int3", "r07"),
    ("incr_join_merge_revenue", "r07"),
    ("join_null_safe_keys", "r07"),
    ("lineitem_basket_lift", "r07"),
    ("multimodal_chunk_dedup", "r07"),
    ("orders_open_backlog_monthly", "r07"),
    ("pipeline_e2e_reports", "r07"),
    ("pipeline_ingest_enrich_clean", "r07"),
    ("pipeline_llm_rewrite", "r07"),
    ("set_bag_semantics_nations", "r07"),
    ("stream_bitmap_distinct_users", "r07"),
    ("window_locf_fill", "r07"),
    ("window_topk_with_ties", "r07"),
    ("customer_k_anonymity", "r08"),
    ("customer_survival_km", "r08"),
    ("docs_cdc_chunk_dedup", "r08"),
    ("docs_dataset_card", "r08"),
    ("docs_feature_hashing", "r08"),
    ("docs_gopher_quality_rules", "r08"),
    ("docs_near_dup_components", "r08"),
    ("docs_near_dup_components_alt", "r08"),
    ("emb_drift_monitor", "r08"),
    ("emb_label_noise_audit", "r08"),
    ("emb_mmr_diversify", "r08"),
    ("events_bot_detection", "r08"),
    ("events_cusum_changepoint", "r08"),
    ("events_ushape_attribution", "r08"),
    ("graph_link_prediction", "r08"),
    ("multimodal_binary_features", "r08"),
    ("multimodal_doc_embedding_join", "r08"),
    ("multimodal_frame_sample", "r08"),
    ("multimodal_resize", "r08"),
    ("orders_benford_audit", "r08"),
    ("orders_bootstrap_ci", "r08"),
    ("orders_churn_training_set", "r08"),
    ("orders_revenue_acf", "r08"),
    ("part_trigram_search", "r08"),
    ("q10_returned_items", "r08"),
    ("q11_important_parts", "r08"),
    ("q12_late_lines", "r08"),
    ("q13_customer_distribution", "r08"),
    ("q14_promo_revenue", "r08"),
    ("q15_top_supplier", "r08"),
    ("q16_parts_supplier_relationship", "r08"),
    ("q17_small_quantity_revenue", "r08"),
    # ---- end of the r13 driver window (cut = WINDOW_SIZE) ----
    # -- committed r14 plan: the 4 r08 rows the cut displaced, the
    # -- 11 r08 rows never yet listed (TPC-H q2-q9/q21 + the two
    # -- skew demos), then r09-stale rows in name order (10 r09
    # -- rows roll to r15). --
    ("q18_large_volume_customers", "r08"),
    ("q19_discounted_revenue", "r08"),
    ("q1_pricing_summary", "r08"),
    ("q20_potential_promotion", "r08"),
    ("q21_suppliers_who_kept_waiting", "r08"),
    ("q2_min_cost_supplier", "r08"),
    ("q3_shipping_priority", "r08"),
    ("q4_order_priority", "r08"),
    ("q5_local_supplier_volume", "r08"),
    ("q6_forecast_revenue", "r08"),
    ("q7_volume_shipping", "r08"),
    ("q8_market_share", "r08"),
    ("q9_product_profit", "r08"),
    ("skew_salted_count_distinct", "r08"),
    ("skew_salted_join", "r08"),
    ("agg_approx_distinct_parts", "r09"),
    ("agg_cube_status_priority", "r09"),
    ("agg_distinct_per_segment", "r09"),
    ("agg_rollup_region_nation", "r09"),
    ("customer_ab_assignment", "r09"),
    ("customer_cuped_readout", "r09"),
    ("customer_ipw_spend", "r09"),
    ("dedup_first_lineitem_per_order", "r09"),
    ("docs_chunk_overlap", "r09"),
    ("docs_curation_pipeline", "r09"),
    ("docs_dedup_exact", "r09"),
    ("docs_domain_cap", "r09"),
    ("docs_fuzzy_levenshtein", "r09"),
    ("docs_hash_sample", "r09"),
    ("docs_incremental_dedup", "r09"),
    ("docs_minhash_calibration", "r09"),
    ("docs_minhash_md5_exact", "r09"),
    ("docs_ngram_jaccard", "r09"),
    ("docs_pack_sequences", "r09"),
    ("docs_pii_redact", "r09"),
    ("emb_matryoshka_recall", "r09"),
    ("events_asof_attribution", "r09"),
    ("events_json_extract", "r09"),
    ("events_offpolicy_eval", "r09"),
    ("events_psi_drift", "r09"),
    ("events_sliding_windows", "r09"),
    ("events_tumbling_hourly", "r09"),
    ("fn_array_ops", "r09"),
    ("fn_conditional_case", "r09"),
    ("fn_datetime_extract", "r09"),
    ("fn_map_ops", "r09"),
    ("fn_math_string", "r09"),
    ("join_anti_customers_without_orders", "r09"),
    ("join_bucketed_colocated", "r09"),
    ("join_inner_enrich", "r09"),
]

_DRIVER_WINDOW_PRIORITY = [name for name, _why in _WINDOW_PLAN]

# The re-certify-in-window rule only works if restructured rows are IN
# the checked window — a silent shift past the cut would void the rule.
_restr = [i for i, (_n, why) in enumerate(_WINDOW_PLAN) if why.endswith("-restr")]
if _restr and max(_restr) >= WINDOW_SIZE:
    raise ValueError(
        f"restructured rows past the {WINDOW_SIZE}-entry driver window: "
        f"{[_WINDOW_PLAN[i][0] for i in _restr if i >= WINDOW_SIZE]}"
    )


def all_queries() -> dict[str, QueryDef]:
    from medical_examination_data_etl_system_spark.queries import (
        analytics,
        cdc,
        curation,
        datapipe,
        events,
        functions,
        quality,
        relational,
        skew,
        streaming,
        tpch,
        tpch2,
    )

    merged: dict[str, QueryDef] = {}
    for mod in (tpch, tpch2, relational, events, functions, datapipe, curation, streaming, skew, cdc, analytics, quality):
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(mod.QUERIES)
    missing = [n for n in _DRIVER_WINDOW_PRIORITY if n not in merged]
    if missing:
        # A typo or a rename here would silently demote the query out of
        # the driver's 50-entry checked window — fail loudly instead.
        raise ValueError(f"_DRIVER_WINDOW_PRIORITY names not in registry: {missing}")
    ordered: dict[str, QueryDef] = {}
    for name in _DRIVER_WINDOW_PRIORITY:
        ordered[name] = merged.pop(name)
    ordered.update(merged)
    return ordered
