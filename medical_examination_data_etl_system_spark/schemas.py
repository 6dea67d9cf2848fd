"""Explicit schema contracts for the medical-report pipeline.

The reference works with inferred pandas frames and papers over schema
drift by back-filling missing columns with '' (reference
db_to_dataframe.py:180-182). The engine declares everything up front and
keeps that guard as an explicit :func:`ensure_columns`.

Citations point into /root/reference/ for parity checking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: one row per examination record (reference sample_request.json:1-29)
# ---------------------------------------------------------------------------

FINDING_SCHEMA = T.StructType(
    [
        T.StructField("DIAG_CODE", T.StringType(), True),
        T.StructField("COMMENT", T.StringType(), True),
        # Present in the input but shadowed by the diag-table join — see
        # SURVEY.md §2a J3: the engine drops it at ingest; diag_tbl is
        # authoritative for SUMMARY_CODE.
        T.StructField("SUMMARY_CODE", T.StringType(), True),
    ]
)

ITEM_SCHEMA = T.StructType(
    [
        T.StructField("ITEM_CODE", T.StringType(), True),
        T.StructField("FINDINGS", T.ArrayType(FINDING_SCHEMA), True),
    ]
)

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("RECORD_ID", T.StringType(), True),
        T.StructField("LANG_NO", T.StringType(), True),  # '1' TC,'2' EN,'3' JP,'4' SC
        T.StructField("ORG_ID", T.StringType(), True),
        T.StructField("ITEMS", T.ArrayType(ITEM_SCHEMA), True),
    ]
)

# Ingest wraps RECORD_SCHEMA with a batch position so "encounter order"
# is data, not physical row order (SURVEY.md §1.3): the API takes its
# request list's position from posexplode; file and stream ingest set 0.
BATCH_SCHEMA = T.StructType(
    [T.StructField("_rec_idx", T.LongType(), False), *RECORD_SCHEMA.fields]
)

# ---------------------------------------------------------------------------
# The 22-column unified fact contract (reference db_to_dataframe.py:7-13)
# ---------------------------------------------------------------------------

SUBSET = [
    "RECORD_ID",
    "ORG_ID",
    "LANG_NO",
    "DIAG_CODE",
    "GROUPNO",
    "TCNAME_GROUP",
    "ENNAME_GROUP",
    "JPNAME_GROUP",
    "SCNAME_GROUP",
    "ITEM_CODE",
    "TCNAME_ITEM",
    "ENNAME_ITEM",
    "JPNAME_ITEM",
    "SCNAME_ITEM",
    "COMMENT",
    "ENNAME_COMMENT",
    "JPNAME_COMMENT",
    "SCNAME_COMMENT",
    "TCNAME_SUMMARY",
    "ENNAME_SUMMARY",
    "JPNAME_SUMMARY",
    "SCNAME_SUMMARY",
]

# Dedup key (reference data_preprocessing.py:18-19)
SUBSET_2_KEEP = [
    "ITEM_CODE",
    "RECORD_ID",
    "LANG_NO",
    "ORG_ID",
    "TCNAME_SUMMARY",
    "ENNAME_SUMMARY",
    "JPNAME_SUMMARY",
    "SCNAME_SUMMARY",
]

# ---------------------------------------------------------------------------
# Per-language texts (reference text_processing.py:23-28)
# ---------------------------------------------------------------------------

# Default "no additional information" text per language
# (reference text_processing.py:23-28 / llm_processing.py:10)
LANGU_MAP = {
    "1": "本項無補充說明",
    "2": "No additional information for this item.",
    "3": "この項目に関する追加情報はありません。",
    "4": "本项无补充说明。",
}

# Per-language defaults for missing SUMMARY / GROUP names
# (reference data_preprocessing.py:10-15)
LANGU_DEFAULT_MAP = {
    "1": {"TCNAME_SUMMARY": "本項無補充說明", "TCNAME_GROUP": "其他"},
    "2": {"ENNAME_SUMMARY": "No additional information for this item.", "ENNAME_GROUP": "Others"},
    "3": {"JPNAME_SUMMARY": "この項目に関する追加情報はありません。", "JPNAME_GROUP": "その他"},
    "4": {"SCNAME_SUMMARY": "本项无补充说明。", "SCNAME_GROUP": "其他"},
}

# Full-width -> half-width punctuation map (reference
# data_preprocessing.py:41-51). All 1 char -> 1 char, so F.translate works.
FULLWIDTH_SRC = "（）【】：；，。！？“”‘’、　～％＋－＝＠"
HALFWIDTH_DST = "()[]:;,.!?\"\"'', ~%+-=@"
assert len(FULLWIDTH_SRC) == len(HALFWIDTH_DST)

# ---------------------------------------------------------------------------
# Dimension table schemas (reference fallback builders db_to_dataframe.py:63-95;
# Mongo projections :103-141 post-rename). Canonical names carry the _ITEM /
# _GROUP / _COMMENT / _SUMMARY suffixes so no join-time suffixing is needed.
# ---------------------------------------------------------------------------

ITEM_META_SCHEMA = T.StructType(
    [
        T.StructField("ITEM_CODE", T.StringType(), True),
        T.StructField("TCNAME_ITEM", T.StringType(), True),
        T.StructField("SCNAME_ITEM", T.StringType(), True),
        T.StructField("JPNAME_ITEM", T.StringType(), True),
        T.StructField("ENNAME_ITEM", T.StringType(), True),
        T.StructField("ORG_ID", T.StringType(), True),
    ]
)

ITEM_GROUP_MAP_SCHEMA = T.StructType(
    [
        T.StructField("ITEM_CODE", T.StringType(), True),
        T.StructField("GROUPNO", T.IntegerType(), True),
        T.StructField("TCNAME_GROUP", T.StringType(), True),
        T.StructField("ENNAME_GROUP", T.StringType(), True),
        T.StructField("JPNAME_GROUP", T.StringType(), True),
        T.StructField("SCNAME_GROUP", T.StringType(), True),
    ]
)

DIAG_TBL_SCHEMA = T.StructType(
    [
        T.StructField("DIAG_CODE", T.StringType(), True),
        T.StructField("SUMMARY_CODE", T.StringType(), True),
        T.StructField("ENNAME_COMMENT", T.StringType(), True),
        T.StructField("JPNAME_COMMENT", T.StringType(), True),
        T.StructField("SCNAME_COMMENT", T.StringType(), True),
    ]
)

SUMMARY_TBL_SCHEMA = T.StructType(
    [
        T.StructField("SUMMARY_CODE", T.StringType(), True),
        T.StructField("TCNAME_SUMMARY", T.StringType(), True),
        T.StructField("SCNAME_SUMMARY", T.StringType(), True),
        T.StructField("ENNAME_SUMMARY", T.StringType(), True),
        T.StructField("JPNAME_SUMMARY", T.StringType(), True),
    ]
)

def sql_literal(text: str) -> str:
    """``text`` as a Spark SQL string literal: backslashes and single
    quotes escaped, so the parser's unescaping gives ``text`` back."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ensure_columns(df: DataFrame, columns: list[str], fill: str = "") -> DataFrame:
    """Backfill any missing contract column with a literal.

    Parity with reference db_to_dataframe.py:180-182 — the guard that
    makes the SUBSET projection total under schema drift.
    """
    missing = [c for c in columns if c not in df.columns]
    if not missing:
        return df
    return df.withColumns({c: F.lit(fill) for c in missing})
