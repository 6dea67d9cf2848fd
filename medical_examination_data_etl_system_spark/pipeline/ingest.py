"""Ingest: nested request records → flat fact DataFrame with order column.

Reference behavior re-expressed (SURVEY.md §2a S2-S4, P1, J5, F8):

- ``pd.json_normalize(record_path='ITEMS', meta=[...])`` + ``explode('FINDINGS')``
  + struct flatten (reference db_to_dataframe.py:33-38) becomes two
  ``posexplode`` passes; the positions feed a single bigint ``ord``
  column — Spark rows carry no physical order, so encounter order is
  materialized as data (SURVEY.md §1.3).
- The non-empty-comment filter (reference db_to_dataframe.py:41-44) runs
  immediately after flattening so every downstream join sees less data.
- The per-record request-echo (reference text_processing.py:51-52, an
  O(n²) linear scan) becomes a ``to_json`` column computed at ingest.
- The input-side SUMMARY_CODE is dropped: the diag table is authoritative
  (SURVEY.md §2a J3 hazard — the pandas pipeline would KeyError on it).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from medical_examination_data_etl_system_spark.schemas import BATCH_SCHEMA, RECORD_SCHEMA

# ord = (_rec_idx << 40) | (item_pos << 20) | finding_pos.
# Caps: 2^20 (~1M) items per record, 2^20 findings per item, 2^23 (~8M)
# records per ingest batch. A batch is one API request — far below caps.
_ITEM_SHIFT = 1 << 40
_FINDING_SHIFT = 1 << 20


def records_to_df(spark: SparkSession, records: list[dict[str, Any]] | dict[str, Any]) -> DataFrame:
    """Create the nested-record DataFrame from parsed JSON.

    Accepts a single record dict (promoted to a 1-element batch, parity
    with reference text_processing.py:152). The driver-side enumerate
    pins each record's batch position — the only place order can be
    captured before the data becomes distributed.
    """
    if isinstance(records, dict):
        records = [records]
    rows = [
        {
            "_rec_idx": i,
            "RECORD_ID": r.get("RECORD_ID"),
            "LANG_NO": r.get("LANG_NO"),
            "ORG_ID": r.get("ORG_ID"),
            "ITEMS": r.get("ITEMS"),
        }
        for i, r in enumerate(records)
    ]
    return spark.createDataFrame(rows, schema=BATCH_SCHEMA)


def records_from_json_files(spark: SparkSession, path: str) -> DataFrame:
    """Distributed batch ingest: JSON-lines record files → the nested
    frame ``flatten`` expects.

    The 100 TB path — ``records_to_df`` materializes a Python list on
    the driver (right for the API's request/response shape, wrong for
    bulk). Files are read with the explicit RECORD_SCHEMA (no inference,
    SURVEY.md §1.2).
    """
    return with_batch_position(spark.read.schema(RECORD_SCHEMA).json(path))


def with_batch_position(raw: DataFrame) -> DataFrame:
    """RECORD_SCHEMA rows → BATCH_SCHEMA rows. The batch position
    ``_rec_idx`` — which the API path pins by driver-side enumerate — is
    re-derived deterministically as a dense rank over RECORD_ID, since
    files and stream micro-batches carry no meaningful row order.
    """
    # The unpartitioned window funnels every WHOLE nested record (its
    # ITEMS and FINDINGS arrays ride along) through one task. The ord
    # bit layout caps a batch at 2^23 records, but not the bytes per
    # record, so this single-task stage grows with the batch; only the
    # data exploded after it is distributed.
    return raw.withColumn(
        "_rec_idx",
        F.dense_rank().over(Window.orderBy("RECORD_ID")).cast("long") - 1,
    ).select(*[f.name for f in BATCH_SCHEMA.fields])


def flatten(nested: DataFrame) -> DataFrame:
    """Nested records → one row per (record, item, finding), with ``ord``.

    Output columns: RECORD_ID, LANG_NO, ORG_ID, ITEM_CODE, DIAG_CODE,
    COMMENT, ord, request. Findings whose COMMENT is null or blank are
    dropped, as in the reference.
    """
    # Request echo (F8): reconstruct the original record JSON once, here.
    with_req = nested.withColumn(
        "request",
        F.to_json(F.struct("RECORD_ID", "LANG_NO", "ORG_ID", "ITEMS")),
    )

    items = with_req.select(
        "_rec_idx",
        "RECORD_ID",
        "LANG_NO",
        "ORG_ID",
        "request",
        F.posexplode("ITEMS").alias("_item_pos", "_item"),
    )
    findings = items.select(
        "_rec_idx",
        "RECORD_ID",
        "LANG_NO",
        "ORG_ID",
        "request",
        "_item_pos",
        F.col("_item.ITEM_CODE").alias("ITEM_CODE"),
        # posexplode_outer: an item with an empty FINDINGS list still
        # yields a (null-finding) row — pandas ``explode`` does the same;
        # the comment filter below then drops it, as in the reference.
        F.posexplode_outer("_item.FINDINGS").alias("_finding_pos", "_finding"),
    )
    flat = findings.select(
        "RECORD_ID",
        "LANG_NO",
        "ORG_ID",
        "ITEM_CODE",
        F.col("_finding.DIAG_CODE").alias("DIAG_CODE"),
        F.col("_finding.COMMENT").alias("COMMENT"),
        # _finding.SUMMARY_CODE intentionally dropped (J3 decision).
        (
            F.col("_rec_idx") * F.lit(_ITEM_SHIFT)
            + F.col("_item_pos") * F.lit(_FINDING_SHIFT)
            + F.coalesce(F.col("_finding_pos"), F.lit(0))
        ).alias("ord"),
        "request",
    )
    # P1 (reference db_to_dataframe.py:41-44): null-safe trim-empty drop.
    return flat.filter(F.trim(F.coalesce(F.col("COMMENT"), F.lit(""))) != "")
