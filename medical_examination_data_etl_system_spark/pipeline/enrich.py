"""Enrichment: four broadcast left equi-joins against the dim tables,
or one projection when there are none.

Parity with reference db_to_dataframe.py:144-184 (key normalization +
J1-J4 merges + SUBSET projection), Spark-first:

- Supplied dim tables (Mongo, parquet) are filtered by the request's
  key space — small by construction, so every join is an explicit
  ``F.broadcast``: no shuffle of the fact table, which is the side that
  scales to 100 TB.
- With no dim tables, the reference's offline fallback
  (db_to_dataframe.py:61-95) builds each dim row as a pure function of
  its own key, so joining it back onto the fact is an identity lookup:
  the engine computes the same columns from the fact's keys in one
  ``select`` — no aggregate, no join, no job.
- Key normalization (trim + cast-to-string, reference :144-162) happens
  once on each side before joining.
- Suffix collisions (pandas ``suffixes=('_ITEM','_GROUP')``) don't arise:
  the canonical dim schemas already carry suffixed names (schemas.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.schemas import SUBSET, ensure_columns


def _norm_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """Trim + cast-to-string each join key (reference F2 semantics)."""
    present = [k for k in keys if k in df.columns]
    return df.withColumns({k: F.trim(F.col(k).cast("string")) for k in present})


# The left joins against the reference's fallback dims, as SQL text
# over the normalized fact keys. Join semantics carry over exactly: an
# equi-join on a null key never matches, so the item names need ITEM_CODE
# and ORG_ID, the group columns need ITEM_CODE, and the comment and
# summary names (all '') need DIAG_CODE; otherwise the column is null, as
# an unmatched left join leaves it, and clean's per-language defaults
# apply.
_HAS_ITEM = "ITEM_CODE IS NOT NULL"
_HAS_ITEM_ORG = "ITEM_CODE IS NOT NULL AND ORG_ID IS NOT NULL"
_FALLBACK_NAMES = {
    "GROUPNO": f"CASE WHEN {_HAS_ITEM} THEN 1 END",
    "TCNAME_GROUP": f"CASE WHEN {_HAS_ITEM} THEN '範例分類' END",
    "ENNAME_GROUP": f"CASE WHEN {_HAS_ITEM} THEN 'Sample Group' END",
    "JPNAME_GROUP": f"CASE WHEN {_HAS_ITEM} THEN 'サンプル分類' END",
    "SCNAME_GROUP": f"CASE WHEN {_HAS_ITEM} THEN '示例分类' END",
    "TCNAME_ITEM": f"CASE WHEN {_HAS_ITEM_ORG} THEN concat('項目 ', ITEM_CODE) END",
    "ENNAME_ITEM": f"CASE WHEN {_HAS_ITEM_ORG} THEN concat('Item ', ITEM_CODE) END",
    "JPNAME_ITEM": f"CASE WHEN {_HAS_ITEM_ORG} THEN concat('項目 ', ITEM_CODE) END",
    "SCNAME_ITEM": f"CASE WHEN {_HAS_ITEM_ORG} THEN concat('项目 ', ITEM_CODE) END",
    **{
        c: "CASE WHEN DIAG_CODE IS NOT NULL THEN '' END"
        for c in SUBSET
        if c.endswith(("_COMMENT", "_SUMMARY"))
    },
}
_FALLBACK_SELECT = [
    f"{_FALLBACK_NAMES[c]} AS {c}" if c in _FALLBACK_NAMES else c for c in SUBSET
] + ["ord", "request"]


def enrich(flat: DataFrame, dims: dict[str, DataFrame] | None) -> DataFrame:
    """fact ⋈ item_meta ⋈ item_group_map ⋈ diag_tbl ⋈ summary_tbl.

    All left joins, all broadcast; with no ``dims`` (``None`` or empty),
    the offline fallback projection instead. Returns SUBSET ∪ {ord,
    request}.
    """
    fact = _norm_keys(flat, ["ITEM_CODE", "ORG_ID", "DIAG_CODE"])
    if not dims:
        return fact.selectExpr(*_FALLBACK_SELECT)

    item_meta = _norm_keys(dims["item_meta"], ["ITEM_CODE", "ORG_ID"])
    item_group_map = _norm_keys(dims["item_group_map"], ["ITEM_CODE"])
    diag_tbl = _norm_keys(dims["diag_tbl"], ["DIAG_CODE", "SUMMARY_CODE", "ORG_ID"])
    summary_tbl = _norm_keys(dims["summary_tbl"], ["SUMMARY_CODE", "ORG_ID"])

    # J1 (reference :164): multilingual item names on (ITEM_CODE, ORG_ID)
    df = fact.join(F.broadcast(item_meta), ["ITEM_CODE", "ORG_ID"], "left")
    # J2 (reference :165): group number + names on ITEM_CODE
    df = df.join(F.broadcast(item_group_map), ["ITEM_CODE"], "left")
    # J3 (reference :167-171): DIAG_CODE → SUMMARY_CODE + comment names.
    # The fact side carries no SUMMARY_CODE (dropped at ingest), so the
    # diag table's mapping is authoritative — the engine's resolution of
    # the reference's would-be column collision (SURVEY.md §2a J3).
    diag_cols = ["DIAG_CODE", "SUMMARY_CODE", "ENNAME_COMMENT", "JPNAME_COMMENT", "SCNAME_COMMENT"]
    df = df.join(F.broadcast(diag_tbl.select(*diag_cols)), ["DIAG_CODE"], "left")
    # J4 (reference :173-177): SUMMARY_CODE → multilingual summary names
    sum_cols = ["SUMMARY_CODE", "TCNAME_SUMMARY", "SCNAME_SUMMARY", "ENNAME_SUMMARY", "JPNAME_SUMMARY"]
    df = df.join(F.broadcast(summary_tbl.select(*sum_cols)), ["SUMMARY_CODE"], "left")

    # P3 + P2 (reference :180-184): backfill then fixed projection,
    # keeping the engine's order/echo columns.
    df = ensure_columns(df, SUBSET)
    return df.select(*SUBSET, "ord", "request")
