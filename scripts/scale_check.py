#!/usr/bin/env python
"""One-off scale validation (VERDICT r1 'next round' #10).

Synthesizes an sf1-equivalent dataset by replicating the DRIVER'S
sf0.1 parquet N× with shifted surrogate keys (facts get new primary
keys; dims stay as-is, so joins fan out exactly like a bigger scale
factor), then runs the TPC-H battery + selected heavy operators and
prints per-query timings. Purpose: validate that the asserted plan
shapes (broadcasts, partial aggs, AQE coalescing) hold under 10× the
tested volume — NOT a correctness oracle (the driver's sf0.01 gate is
that) and NOT new test data (every row derives from /root/testdata).

Usage: python scripts/scale_check.py [replicas=10] [out=/tmp/sfx1]
       [only=name1,name2,...]   # restrict the sweep; reuses an existing
                                # synthesized dir if the row counts match
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark import get_spark
from medical_examination_data_etl_system_spark.operators.cache import cache_scope
from medical_examination_data_etl_system_spark.queries import all_queries, load

SRC = "/root/testdata/sf0.1"

# fact tables: (key columns to shift, shift stride source column)
FACTS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation", "customer", "supplier", "part"]

HEAVY_EXTENSION = [
    "docs_dedup_exact",
    "docs_near_dup_components",
    "docs_near_dup_components_alt",
    "docs_ngram_jaccard",
    "docs_curation_pipeline",
    "emb_near_dup_srp",
    "events_asof_attribution",
    "window_running_total",
    "skew_salted_count_distinct",
    "agg_percentiles_by_flag",
    "text_rolling_fingerprint",
    # round-5 late additions: mutation/mixture/temporal surface
    "cdc_merge_orders",
    "scd2_user_event_history",
    "pit_purchase_user_state",
    "docs_domain_mix",
    "agg_p90_outlier_orders",
    "docs_decontaminate",
    "docs_repetition_ratio",
    "stream_upsert_latest_state",
    # round-6 additions: analytics / text / layout / sketch surface
    "events_funnel_conversion",
    "events_retention_cohorts",
    "events_gap_fill_hourly",
    "events_transition_matrix",
    "docs_ngram_containment",
    "docs_tfidf_top_terms",
    "docs_token_entropy",
    "docs_heavy_hitter_terms",
    "layout_zorder_cluster",
    "docs_weighted_sample",
    "docs_fuzzy_levenshtein",
    # round-7 additions: linalg / sketch / rank / interval / stream-state
    "emb_gram_matrix",
    "emb_standardize",
    "lineitem_spearman_corr",
    "join_interval_overlap",
    "events_ewma_smoothing",
    "events_histogram_equidepth",
    "docs_bigram_coherence",
    "docs_vocab_growth",
    "multimodal_phash_near_dup",
    "events_linear_attribution",
    "events_conversion_latency",
    "stream_running_ewma",
    # round-8 additions: renderer at scale, exact-oracle BFS, CMS, blocklist,
    # semantic dedup (exact pair stage — the quadratic oracle twin by design),
    # ABC classification
    "pipeline_render_reports",
    "graph_bfs_depths",
    "agg_cms_user_counts",
    "docs_blocklist_filter",
    "docs_semantic_dedup",
    "customer_abc_classes",
    "docs_semantic_dedup_srp",
    "events_sessionized_funnel",
    "stream_cms_user_counts",
    "lineitem_weighted_median",
    "customer_gini_revenue",
    "events_dau_wau_stickiness",
    "orders_price_mad",
    "incr_join_merge_revenue",
    "events_activity_streaks",
    "lineitem_skyline_frontier",
    "join_null_safe_keys",
    "window_topk_with_ties",
    "window_locf_fill",
    "events_session_length_stats",
    "orders_open_backlog_monthly",
    "customer_cohort_ltv",
    "lineitem_basket_lift",
    "docs_ngram_novelty",
    # round-9 additions: composed pipeline + exact ANN/assignment chips
    "pipeline_llm_rewrite",
    "pipeline_ingest_enrich_clean",
    "pipeline_e2e_reports",
    "emb_kmeans_assign_round1",
    "emb_srp_bucket_profile",
    "emb_ivf_topk_exact",
    "emb_srp_topk_exact",
    "docs_length_buckets",
    # round-10 additions: the exact-oracle chips for every remaining
    # rows-only kernel family (pagerank loop, full Lloyd round, eigen
    # solver, KMV/HLL sketches, MinHash/SimHash near-dup)
    "graph_pagerank_int3",
    "emb_kmeans_iter2_exact",
    "emb_power_iteration_exact",
    "agg_kmv_overlap_exact",
    "agg_hll_md5_rollup_exact",
    "docs_minhash_md5_exact",
    "docs_simhash_md5_exact",
    # round-11 additions: nearest-join / span-audit / calibration / mix
    "events_nearest_event_join",
    "docs_dup_span_audit",
    "docs_minhash_calibration",
    "docs_temperature_mix",
    "docs_incremental_dedup",
    "events_ushape_attribution",
    "agg_bitmap_distinct_parts",
    "docs_quality_calibration",
    "emb_ann_recall_report",
    "stream_bitmap_distinct_users",
    "multimodal_chunk_dedup",
    "docs_cdc_chunk_dedup",
    "emb_pq_encode",
    "emb_pq_adc_topk",
    "docs_bm25_search",
    "docs_langid_confusion",
    "emb_ivfpq_topk",
    "docs_lm_quality",
    "docs_bpe_pair_merges",
    "events_watermark_late_audit",
    "docs_gopher_quality_rules",
    "docs_feature_hashing",
    "customer_k_anonymity",
    "orders_revenue_acf",
    "customer_survival_km",
    "events_bot_detection",
    "emb_label_noise_audit",
    "docs_dataset_card",
    "graph_link_prediction",
    "emb_mmr_diversify",
    "part_trigram_search",
    "orders_benford_audit",
    "orders_bootstrap_ci",
    "orders_churn_training_set",
    "events_cusum_changepoint",
    "emb_drift_monitor",
    "lineitem_winsorize_prices",
    # round-12 additions: drift / CV / causal / experimentation /
    # vector-truncation / uncertainty families
    "events_psi_drift",
    "orders_purged_cv_folds",
    "customer_ipw_spend",
    "customer_ab_assignment",
    "emb_matryoshka_recall",
    "orders_conformal_forecast",
    "customer_cuped_readout",
    "lineitem_itemcf_recommend",
    "orders_mann_whitney",
    "events_offpolicy_eval",
]


def synthesize(spark, replicas: int, out: str) -> None:
    for name in DIMS:
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    for name, keys in FACTS.items():
        df = load(spark, SRC, name)
        # stride > max key so replica key ranges never collide
        stride = df.agg(F.max(keys[0])).collect()[0][0] + 1
        rep = (
            df.crossJoin(
                spark.range(replicas).select(F.col("id").alias("_rep"))
            )
            .select(
                *[
                    (F.col(k) + F.col("_rep") * F.lit(stride)).alias(k)
                    if k in keys
                    else F.col(k)
                    for k in df.columns
                ]
            )
        )
        # events: load() already converted nanos→TimestampType, so the
        # replica file holds TIMESTAMP(MICROS) — the loader handles both.
        rep.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
        print(f"synth {name}: {rep.count()} rows", flush=True)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("only=")]
    only = [a.split("=", 1)[1].split(",") for a in sys.argv[1:] if a.startswith("only=")]
    replicas = int(args[0]) if len(args) > 0 else 10
    out = args[1] if len(args) > 1 else "/tmp/sfx1"
    spark = get_spark(app_name="scale-check")

    t0 = time.perf_counter()
    if os.path.isdir(f"{out}/orders.parquet"):
        print(f"reusing synthesized dir {out}", flush=True)
    else:
        synthesize(spark, replicas, out)
    print(f"synthesis: {time.perf_counter() - t0:.1f}s", flush=True)

    qs = all_queries()
    names = only[0] if only else [n for n in qs if n.startswith("q")] + HEAVY_EXTENSION
    timings = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            with cache_scope():
                qs[name].fn(spark, out).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 2)
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            timings[name] = f"FAILED: {type(exc).__name__}: {str(exc)[:120]}"
        print(name, timings[name], flush=True)

    ok = {k: v for k, v in timings.items() if isinstance(v, float)}
    print(json.dumps({
        "replicas": replicas,
        "total_sec": round(sum(ok.values()), 1),
        "n_ok": len(ok),
        "n_failed": len(timings) - len(ok),
        "queries": timings,
    }))


if __name__ == "__main__":
    main()
