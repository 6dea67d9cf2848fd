#!/usr/bin/env python
"""Round-k physical plans for the iterative loop operators (VERDICT
r13 #1: `localCheckpoint` truncates lineage, so a whole-query explain
shows only the final-aggregate epilogue — the per-round join the layout
optimizations target never appears in the committed evidence).

Each operator takes an optional ``plan_probe`` callback that receives
every round's PRE-materialization frame; this script drives the REAL
operators over the REAL query-side graph builds and writes
``plans/<tag>/<name>_round<k>.txt``. The claims these files pin:

- ``graph_bfs_depths``: the frontier⋈edges join's edge side is a bare
  InMemoryTableScan (hashpartitioning(src) exposed by the persisted
  layout — no per-round Exchange/Sort of the edge set).
- ``docs_near_dup_components_alt`` (star rounds): the neighborhood
  minimum rides a window over ONE exchange per half-round (no
  groupBy+join of the mirrored frame).

Usage: python scripts/capture_loop_plans.py [--sf DIR] [--tag r14]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from medical_examination_data_etl_system_spark import get_spark  # noqa: E402
from medical_examination_data_etl_system_spark.operators import clustering, similarity  # noqa: E402
from medical_examination_data_etl_system_spark.operators.cache import cache_scope  # noqa: E402


def main() -> None:
    args = sys.argv[1:]

    def opt(name: str, default: str) -> str:
        if name in args:
            i = args.index(name)
            v = args[i + 1]
            del args[i : i + 2]
            return v
        return default

    sf = opt("--sf", "/root/testdata/sf0.1")
    tag = opt("--tag", "r14")
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(plans_dir, exist_ok=True)
    spark = get_spark(app_name="capture-loop-plans")

    def probe_for(name: str, rounds: set[int]):
        def probe(label: str, df) -> None:
            k = int(label.removeprefix("round"))
            if k not in rounds:
                return
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            path = os.path.join(plans_dir, f"{name}_{label}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path}", flush=True)

        return probe

    # --- graph_bfs_depths: the query's exact co-purchase edge build ---
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") != F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
    source = li.agg(F.min("l_partkey")).collect()[0][0]
    with cache_scope():
        clustering.bfs_depths(
            edges, source, max_depth=4, plan_probe=probe_for("graph_bfs_depths", {2})
        ).write.format("noop").mode("overwrite").save()

    # --- docs_semantic_dedup's alternating-star loop (round 2) ---
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    with cache_scope():
        pairs = similarity.embedding_near_duplicates(emb, threshold=0.4).select(
            "id_a", "id_b"
        )
        clustering.connected_components_alternating(
            pairs, plan_probe=probe_for("semantic_dedup_star", {2})
        ).write.format("noop").mode("overwrite").save()


if __name__ == "__main__":
    main()
