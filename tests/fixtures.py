"""Shared test fixtures — reference-shaped inputs (FIXTURES.md §A)."""

from __future__ import annotations

import json
import os

import pandas as pd


def sample_request() -> list[dict]:
    """The reference's ``POST /process`` sample shape (FIXTURES.md A1):
    one LANG_NO "1" record, two items, one finding each."""
    with open(os.path.join(os.path.dirname(__file__), "sample_request.json"), encoding="utf-8") as f:
        return json.load(f)


def finding(diag: str, comment, summary: str = "") -> dict:
    return {"DIAG_CODE": diag, "COMMENT": comment, "SUMMARY_CODE": summary}


def item(code: str, findings: list[dict]) -> dict:
    return {"ITEM_CODE": code, "FINDINGS": findings}


def record(rid: str, lang: str, org: str, items: list[dict]) -> dict:
    return {"RECORD_ID": rid, "LANG_NO": lang, "ORG_ID": org, "ITEMS": items}


def multilang_edge_batch() -> list[dict]:
    """All four languages + the comment edge cases from FIXTURES.md §A1:
    null / empty / whitespace-only comments (dropped), embedded newlines,
    full-width punctuation, duplicate findings within and across items."""
    return [
        record(
            "R101",
            "1",
            "ORG_A",
            [
                item(
                    "I001",
                    [
                        finding("D001", "（全形）：，。！？　～％"),
                        finding("D002", "text\r\nwith\nnewlines"),
                        finding("D003", None),
                        finding("D004", ""),
                        finding("D005", "   "),
                    ],
                ),
                item("I002", [finding("D001", "（全形）：，。！？　～％")]),  # dup across items
                item("I003", [finding("D006", " spaced ( inner ) out ")]),
            ],
        ),
        record(
            "R102",
            "2",
            "ORG_A",
            [
                item("I001", [finding("D001", "english comment"), finding("D001", "english comment")]),
                item("I004", [finding("D007", "another comment")]),
            ],
        ),
        record("R103", "3", "ORG_A", [item("I005", [finding("D008", "日本語のコメント")])]),
        record("R104", "4", "ORG_A", [item("I006", [finding("D009", "简体评论（测试）")])]),
    ]


# ---------------------------------------------------------------------------
# Custom-dim fact frames (exercise non-fallback content: real summary
# texts → the renderer's non-default branch, GROUPNO 0/null sentinel,
# multiple groups, A8 block merging).
# ---------------------------------------------------------------------------


def custom_fact_frame() -> tuple[pd.DataFrame, list[dict]]:
    """A hand-built 22-column fact frame + matching request list.

    Shapes exercised: two groups with GROUPNO 0 (sentinel pushes group
    last), two items sharing a summary (A8 merge), distinct summaries per
    item, default summaries mixed in, duplicate rows (A2 dedup).
    """
    records = [
        record(
            "R201",
            "1",
            "ORG_A",
            [
                item("I010", [finding("D010", "comment ten")]),
                item("I011", [finding("D011", "comment eleven")]),
                item("I012", [finding("D012", "comment twelve")]),
                item("I013", [finding("D013", "comment thirteen")]),
            ],
        ),
        record(
            "R202",
            "2",
            "ORG_B",
            [
                item("I020", [finding("D020", "en comment A"), finding("D020", "en comment A")]),
                item("I021", [finding("D021", "en comment B")]),
            ],
        ),
    ]

    rows = []

    def fact_row(rid, org, lang, diag, groupno, group_names, icode, item_names, comment,
                 comment_names, summary_names, ord_):
        tc_g, en_g, jp_g, sc_g = group_names
        tc_i, en_i, jp_i, sc_i = item_names
        en_c, jp_c, sc_c = comment_names
        tc_s, en_s, jp_s, sc_s = summary_names
        rows.append(
            {
                "RECORD_ID": rid, "ORG_ID": org, "LANG_NO": lang, "DIAG_CODE": diag,
                "GROUPNO": groupno,
                "TCNAME_GROUP": tc_g, "ENNAME_GROUP": en_g, "JPNAME_GROUP": jp_g, "SCNAME_GROUP": sc_g,
                "ITEM_CODE": icode,
                "TCNAME_ITEM": tc_i, "ENNAME_ITEM": en_i, "JPNAME_ITEM": jp_i, "SCNAME_ITEM": sc_i,
                "COMMENT": comment,
                "ENNAME_COMMENT": en_c, "JPNAME_COMMENT": jp_c, "SCNAME_COMMENT": sc_c,
                "TCNAME_SUMMARY": tc_s, "ENNAME_SUMMARY": en_s, "JPNAME_SUMMARY": jp_s, "SCNAME_SUMMARY": sc_s,
                "ord": ord_,
            }
        )

    g1 = ("檢查分類一", "Group One", "グループ一", "检查分类一")
    g0 = ("", "", "", "")  # empty names → F6 language defaults
    shared_summary = ("共同摘要文字", "Shared summary text", "共通要約", "共同摘要")
    own_summary = ("獨立摘要", "Own summary", "個別要約", "独立摘要")
    no_summary = ("", "", "", "")  # → per-language default text

    # R201 (lang 1): items I010+I011 share a summary (A8 merge), I012 has
    # its own, I013 has none (default branch); I013 sits in GROUPNO=0.
    fact_row("R201", "ORG_A", "1", "D010", 1, g1, "I010",
             ("項目甲", "Item A", "項目A", "项目甲"), "comment ten",
             ("c-ten", "コメント10", "评论十"), shared_summary, 1)
    fact_row("R201", "ORG_A", "1", "D011", 1, g1, "I011",
             ("項目乙", "Item B", "項目B", "项目乙"), "comment eleven",
             ("c-eleven", "コメント11", "评论十一"), shared_summary, 2)
    fact_row("R201", "ORG_A", "1", "D012", 1, g1, "I012",
             ("項目丙", "Item C", "項目C", "项目丙"), "comment twelve",
             ("c-twelve", "コメント12", "评论十二"), own_summary, 3)
    fact_row("R201", "ORG_A", "1", "D013", 0, g0, "I013",
             ("項目丁", "Item D", "項目D", "项目丁"), "comment thirteen",
             ("c-thirteen", "コメント13", "评论十三"), no_summary, 4)

    # R202 (lang 2): duplicate row (same dedup key) exercises A2;
    # null GROUPNO exercises the fillna(max+1) path.
    fact_row("R202", "ORG_B", "2", "D020", 2, g1, "I020",
             ("項目戊", "Item E", "項目E", "项目戊"), "en comment A",
             ("c-A", "コメントA", "评论A"), own_summary, 5)
    fact_row("R202", "ORG_B", "2", "D020", 2, g1, "I020",
             ("項目戊", "Item E", "項目E", "项目戊"), "en comment A",
             ("c-A", "コメントA", "评论A"), own_summary, 6)
    fact_row("R202", "ORG_B", "2", "D021", None, g0, "I021",
             ("項目己", "Item F", "項目F", "项目己"), "en comment B",
             ("c-B", "コメントB", "评论B"), no_summary, 7)

    fact = pd.DataFrame(rows)
    fact["GROUPNO"] = fact["GROUPNO"].astype("float")  # merge-typical dtype
    return fact, records


def custom_fact_dims(spark, fact: pd.DataFrame) -> dict:
    """The four dim tables whose enrichment of ``custom_fact_frame``'s
    records yields ``fact``: each dim is the fact projected onto its
    join key, with one SUMMARY_CODE per distinct summary-name tuple."""
    from medical_examination_data_etl_system_spark.schemas import (
        DIAG_TBL_SCHEMA,
        ITEM_GROUP_MAP_SCHEMA,
        ITEM_META_SCHEMA,
        SUMMARY_TBL_SCHEMA,
    )

    summary_cols = ["TCNAME_SUMMARY", "SCNAME_SUMMARY", "ENNAME_SUMMARY", "JPNAME_SUMMARY"]
    codes = {t: f"S{i}" for i, t in enumerate(dict.fromkeys(fact[summary_cols].itertuples(index=False)))}
    fact = fact.astype(object).assign(
        SUMMARY_CODE=[codes[t] for t in fact[summary_cols].itertuples(index=False)],
        GROUPNO=pd.Series([None if pd.isna(g) else int(g) for g in fact["GROUPNO"]], dtype=object),
    )

    def dim(schema):
        rows = fact[schema.fieldNames()].drop_duplicates()
        return spark.createDataFrame(list(rows.itertuples(index=False, name=None)), schema)

    return {
        "item_meta": dim(ITEM_META_SCHEMA),
        "item_group_map": dim(ITEM_GROUP_MAP_SCHEMA),
        "diag_tbl": dim(DIAG_TBL_SCHEMA),
        "summary_tbl": dim(SUMMARY_TBL_SCHEMA),
    }
