"""Reconcile bench_queries.json to per-query best-observed mins
(VERDICT r6 #5 discipline): after a fresh idle min-of-N `python
bench.py` run has overwritten bench_queries.json, fold in each query's
best value across the named historical snapshots — EXCEPT queries whose
code changed this round (listed below), which keep the fresh
measurement (a conscious plan change must re-enter at its new cost,
not inherit the old plan's number).

Usage: python scripts/reconcile_bench_baseline.py <hist_rev> [...]
(each rev is a git revision whose bench_queries.json to fold in).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# Queries whose physical plan changed this round: fresh value only.
# (r14 optimization round: the RECORD_ID exchange collapse + enriched-
# fact barrier in the pipeline, the alternating-star semantic dedup,
# the Spearman tie-group algebra, and the repartition-before-distinct
# graph builds — see OPTIMIZATION_r14.md. Queries whose code paths
# gained only dormant machinery — plan probes, a label-propagation
# layout switch (since removed) that never fired on the benched blob
# graphs — keep their historical bests: the executed sf0.1 plan is
# identical.)
CHANGED: set[str] = {
    "pipeline_e2e_reports",
    "pipeline_render_reports",
    "pipeline_ingest_enrich_clean",
    "docs_semantic_dedup",
    "docs_semantic_dedup_srp",
    "lineitem_spearman_corr",
    "graph_bfs_depths",
    "graph_pagerank_int3",
    "graph_triangle_stats",
}

# Idle min-of-N for plan-changed queries measured outside the last full
# pass: folded as fresh values where BELOW the full pass's min (the
# bench pass carries this box's documented load-blip class).
# (r14: idle min-of-5 via scripts/profile_query.py on the final tree,
# same box as the full pass — box id recorded in bench_queries.json.)
CHANGED_IDLE: dict[str, float] = {
    "pipeline_render_reports": 2.747,
    "pipeline_ingest_enrich_clean": 2.543,
    "docs_semantic_dedup": 4.457,
    "docs_semantic_dedup_srp": 4.351,
    "lineitem_spearman_corr": 2.773,
}

# Idle re-measurements made OUTSIDE a full bench pass, folded as an
# extra snapshot. (The r9 entries — pipeline_render_reports 1.80,
# emb_matryoshka_recall 1.77, emb_near_dup_cosine 1.51 — are already
# folded into the 97fb21b baseline and need not be repeated.)
IDLE_REMEASURED: dict[str, float] = {}

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
path = os.path.join(repo, "bench_queries.json")
meta_path = os.path.join(repo, "bench_baseline_meta.json")
cur = json.load(open(path))
fresh = cur["queries"]
folded = dict(fresh)
# Per-query provenance (VERDICT r13 #3: the baseline mixes VM classes
# ~1.2-1.6x apart — record which box/revision each best came from so
# cross-round ratios can be discounted by class).
fresh_box = cur.get("box", {})
prov = {name: {"source": "fresh", "box": fresh_box} for name in folded}
for rev in sys.argv[1:]:
    out = subprocess.run(
        ["git", "-C", repo, "show", f"{rev}:bench_queries.json"],
        capture_output=True, text=True, check=True,
    ).stdout
    hist = json.loads(out)
    if str(hist.get("sf")) != str(cur.get("sf")):
        raise SystemExit(f"{rev}: sf {hist.get('sf')} != {cur.get('sf')}")
    for name, v in hist["queries"].items():
        if name in folded and name not in CHANGED and float(v) < folded[name]:
            folded[name] = float(v)
            prov[name] = {"source": rev, "box": hist.get("box", {})}
for name, v in IDLE_REMEASURED.items():
    if name in folded and name not in CHANGED and v < folded[name]:
        folded[name] = v
        prov[name] = {"source": "idle_remeasure", "box": fresh_box}
for name, v in CHANGED_IDLE.items():
    if name in folded:
        folded[name] = v
        prov[name] = {"source": "changed_idle", "box": fresh_box}
improved = sum(1 for n in folded if folded[n] < fresh[n])
total = round(sum(folded.values()), 3)
json.dump(
    {"sf": cur["sf"], "total_sec": total, "box": fresh_box, "queries": folded},
    open(path, "w"), indent=1, sort_keys=True,
)
json.dump(prov, open(meta_path, "w"), indent=1, sort_keys=True)
print(f"reconciled: {len(folded)} queries, total {total}s "
      f"({improved} took a historical best; fresh total {cur['total_sec']}s); "
      f"provenance -> bench_baseline_meta.json")
