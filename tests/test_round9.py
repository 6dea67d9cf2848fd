"""Round-9 additions: the two composed-pipeline driver queries
(VERDICT r6 #2/#3) — the real LLM rewrite stage and the full
ingest→enrich→clean front half — plan guards + semantic spot checks
on top of the oracle parity they get from test_oracle_parity.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.queries import all_queries
from medical_examination_data_etl_system_spark.schemas import LANGU_MAP

SF_DIR = "/root/testdata/sf0.001"

# Plan nodes that run Python on an executor.
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas")


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestPipelineLlmRewrite:
    def test_plan_has_no_python_node(self, spark):
        # The rewrite runs on the driver; the table is a constant.
        plan = _executed_plan(all_queries()["pipeline_llm_rewrite"].fn(spark, SF_DIR))
        assert not [n for n in PYTHON_NODES if n in plan]

    def test_skip_list_and_mock_semantics(self, spark):
        rows = all_queries()["pipeline_llm_rewrite"].fn(spark, SF_DIR).collect()
        assert rows, "empty rewrite table"
        defaults = set(LANGU_MAP.values())
        seen_default = seen_rewrite = False
        for r in rows:
            assert r["SUMMARY"] == r["SUMMARY"].strip() != ""
            if r["SUMMARY"] in defaults:
                # skip-list: identity, never sent to the LLM
                assert r["SUMMARY_REWRITTEN"] == r["SUMMARY"]
                seen_default = True
            else:
                assert r["SUMMARY_REWRITTEN"] == "[LLM_OUTPUT]" + r["SUMMARY"]
                seen_rewrite = True
        assert seen_default and seen_rewrite
        # distinct: one row per (LANG_NO, SUMMARY)
        keys = [(r["LANG_NO"], r["SUMMARY"]) for r in rows]
        assert len(keys) == len(set(keys))


class TestPipelineE2EReports:
    def test_plan_and_report_grammar(self, spark):
        """The composed pipeline runs no Python on an executor (the
        rewrite is a constant lookup) and emits reports in the reference
        indentation grammar with [LLM_OUTPUT] on every non-default
        summary line."""
        df = all_queries()["pipeline_e2e_reports"].fn(spark, SF_DIR)
        plan = _executed_plan(df)
        assert not [n for n in PYTHON_NODES if n in plan]
        rows = df.collect()
        assert rows
        defaults = set(LANGU_MAP.values())
        seen_llm = seen_default = False
        for r in rows:
            lines = r["report"].split("\n")
            assert lines[0] == lines[0].strip() != ""  # group at col 0
            for ln in lines:
                if not ln:
                    continue
                indent = len(ln) - len(ln.lstrip(" "))
                assert indent in (0, 4, 8, 12), (r["record_id"], ln)
                if indent == 12:
                    body = ln.strip()
                    if body in defaults:
                        seen_default = True
                    else:
                        assert body.startswith("[LLM_OUTPUT]"), body
                        seen_llm = True
        assert seen_llm and seen_default


class TestKmeansAssignRound1:
    def test_seeds_self_assign_and_distances_nonnegative(self, spark):
        """The k seed vectors (lowest ids) must land in their own
        cluster at integer distance 0; every distance is ≥ 0 and the
        plan is map-only Arrow (no shuffle before the output sort)."""
        df = all_queries()["emb_kmeans_assign_round1"].fn(spark, SF_DIR)
        plan = _executed_plan(df)
        assert "MapInPandas" in plan and "BatchEvalPython" not in plan
        rows = df.collect()
        assert rows and all(r["q_sq_dist"] >= 0 for r in rows)
        by_id = {r["vec_id"]: r for r in rows}
        seeds = sorted(by_id)[:8]
        for cidx, vid in enumerate(seeds):
            assert by_id[vid]["cluster"] == cidx
            assert by_id[vid]["q_sq_dist"] == 0


class TestPipelineIngestEnrichClean:
    def test_plan_broadcasts_all_dims(self, spark):
        df = all_queries()["pipeline_ingest_enrich_clean"].fn(spark, SF_DIR)
        plan = _executed_plan(df)
        assert plan.count("BroadcastHashJoin") >= 4  # J1-J4 never shuffle the fact
        assert "SortMergeJoin" not in plan
        assert "BatchEvalPython" not in plan

    def test_cleaning_and_sentinel_semantics(self, spark):
        df = all_queries()["pipeline_ingest_enrich_clean"].fn(spark, SF_DIR)
        rows = df.collect()
        assert rows
        by_item = {}
        for r in rows:
            by_item.setdefault(r["ITEM_CODE"], []).append(r)
        # A3: I2 (GROUPNO=0) and I4 (join-miss null) both take max+1 = 3
        for code in ("I2", "I4"):
            assert {r["GROUPNO"] for r in by_item.get(code, [])} <= {3}
        assert {r["GROUPNO"] for r in by_item["I0"]} == {1}
        # F6: empty TCNAME_GROUP (I1) fell to the per-language default
        assert {r["TCNAME_GROUP"] for r in by_item["I1"]} == {"其他"}
        # F3: the newline in I0's ENNAME_GROUP was stripped, not split
        assert {r["ENNAME_GROUP"] for r in by_item["I0"]} == {"GrpA0"}
        # P3+F1: uncovered item I4 carries empty-string names
        if "I4" in by_item:
            assert {r["TCNAME_ITEM"] for r in by_item["I4"]} == {""}
        for r in rows:
            # F3-F5 on COMMENT: no newlines, no full-width, parens tight
            assert "\n" not in r["COMMENT"] and "（" not in r["COMMENT"]
            assert "( " not in r["COMMENT"] and " )" not in r["COMMENT"]
            assert r["COMMENT"].strip() != ""  # P1 dropped blanks
            # F6: summary columns are never empty post-default
            assert r["TCNAME_SUMMARY"] != "" and r["JPNAME_SUMMARY"] != ""
        # O1: ord is a contiguous 1..n rank per record
        recs = {}
        for r in rows:
            recs.setdefault(r["record_id"], []).append(r["ord"])
        for rid, ords in recs.items():
            assert sorted(ords) == list(range(1, len(ords) + 1)), rid
        # A2: dedup key is unique
        keys = [
            (r["ITEM_CODE"], r["record_id"], r["LANG_NO"], r["ORG_ID"],
             r["TCNAME_SUMMARY"], r["ENNAME_SUMMARY"], r["JPNAME_SUMMARY"],
             r["SCNAME_SUMMARY"])
            for r in rows
        ]
        assert len(keys) == len(set(keys))
