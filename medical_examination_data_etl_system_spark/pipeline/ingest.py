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
# records per ingest batch. A batch is one API request, one file-ingest
# call or one stream micro-batch (the last two get their positions from
# ``with_batch_position``). Nothing checks the caps: past the item or
# finding cap a position spills into the next bit field and report
# order is silently wrong; past the record cap the bigint overflows.
_ITEM_SHIFT = 1 << 40
_FINDING_SHIFT = 1 << 20

# flatten's three projections, as SQL text written once (a Column tree
# rebuilt per call costs a py4j round trip per node).
_ITEMS = [
    "_rec_idx", "RECORD_ID", "LANG_NO", "ORG_ID",
    # Request echo (F8): reconstruct the original record JSON once, here.
    "to_json(struct(RECORD_ID, LANG_NO, ORG_ID, ITEMS)) AS request",
    "posexplode(ITEMS) AS (_item_pos, _item)",
]
_FINDINGS = [
    "_rec_idx", "RECORD_ID", "LANG_NO", "ORG_ID", "request", "_item_pos",
    "_item.ITEM_CODE AS ITEM_CODE",
    # posexplode_outer: an item with an empty FINDINGS list still yields
    # a (null-finding) row — pandas ``explode`` does the same; the
    # comment filter then drops it, as in the reference.
    "posexplode_outer(_item.FINDINGS) AS (_finding_pos, _finding)",
]
_FLAT = [
    "RECORD_ID", "LANG_NO", "ORG_ID", "ITEM_CODE",
    "_finding.DIAG_CODE AS DIAG_CODE",
    "_finding.COMMENT AS COMMENT",
    # _finding.SUMMARY_CODE intentionally dropped (J3 decision).
    f"_rec_idx * {_ITEM_SHIFT} + _item_pos * {_FINDING_SHIFT} + coalesce(_finding_pos, 0) AS ord",
    "request",
]


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
    return (
        nested.selectExpr(*_ITEMS)
        .selectExpr(*_FINDINGS)
        .selectExpr(*_FLAT)
        # P1 (reference db_to_dataframe.py:41-44): null-safe trim-empty drop.
        .filter("trim(coalesce(COMMENT, '')) != ''")
    )
