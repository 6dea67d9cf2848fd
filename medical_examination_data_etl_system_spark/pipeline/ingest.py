"""Ingest: nested request records → flat fact DataFrame with order column.

Reference behavior re-expressed (SURVEY.md §2a S2-S4, P1, J5, F8):

- ``pd.json_normalize(record_path='ITEMS', meta=[...])`` + ``explode('FINDINGS')``
  + struct flatten (reference db_to_dataframe.py:33-38) becomes two
  ``posexplode`` passes; the batch position and the two positions form
  the struct ``ord`` (rec, item, finding) — Spark rows carry no physical
  order, so encounter order is materialized as data (SURVEY.md §1.3).
- The non-empty-comment filter (reference db_to_dataframe.py:41-44) runs
  immediately after flattening so every downstream join sees less data.
- The per-record request-echo (reference text_processing.py:51-52, an
  O(n²) linear scan) becomes a ``to_json`` column computed at ingest.
- The input-side SUMMARY_CODE is dropped: the diag table is authoritative
  (SURVEY.md §2a J3 hazard — the pandas pipeline would KeyError on it).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType

from medical_examination_data_etl_system_spark.schemas import RECORD_SCHEMA

# The request list → BATCH_SCHEMA rows, parsed in the JVM. FAILFAST: a
# value the schema cannot hold is an error, never a silent null.
_BATCH_SQL = (
    "SELECT CAST(pos AS BIGINT) AS _rec_idx, r.* FROM (SELECT posexplode(from_json("
    f":batch, '{ArrayType(RECORD_SCHEMA).simpleString()}', map('mode', 'FAILFAST'))) AS (pos, r))"
)

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
    # Structs compare field by field: no field caps another.
    "named_struct('rec', _rec_idx, 'item', _item_pos, 'finding', coalesce(_finding_pos, 0)) AS ord",
    "request",
]


def records_to_df(spark: SparkSession, records: list[dict[str, Any]] | dict[str, Any]) -> DataFrame:
    """Create the nested-record DataFrame (BATCH_SCHEMA) from parsed JSON.

    Accepts a single record dict (promoted to a 1-element batch, parity
    with reference text_processing.py:152). The request is checked on
    the driver (:func:`_check_batch`), then sent as one JSON literal that
    the JVM parses; ``posexplode`` gives each record its batch position,
    as it gives the item and finding positions in :func:`flatten`. No
    Python worker runs: the frame is a folded constant, not a pickled
    RDD. ``json.dumps`` keeps ``ensure_ascii``, so the literal is ASCII
    whatever the request's text.
    """
    if isinstance(records, dict):
        records = [records]
    _check_batch(records)
    return spark.sql(_BATCH_SQL, args={"batch": json.dumps(records)})


def _check_batch(records: list[dict[str, Any]]) -> None:
    """Raise ``ValueError`` naming the record index and the field unless
    ``records`` is a list of objects whose ``ITEMS`` and their
    ``FINDINGS`` are lists of objects or null — the shapes the JVM
    parser would otherwise reject only when the request is collected —
    and whose ``RECORD_ID`` is not missing, null or blank (clean would
    render it under ``''``; an int ingests as its text)."""
    if not isinstance(records, list):
        raise ValueError(f"records: expected a list or an object, got {type(records).__name__}")
    for i, rec in enumerate(_objects(records, "records")):
        rid = rec.get("RECORD_ID")
        if rid is None or (isinstance(rid, str) and not rid.strip()):
            raise ValueError(f"records[{i}].RECORD_ID: expected a non-blank id, got {rid!r}")
        for j, it in enumerate(_objects(rec.get("ITEMS"), f"records[{i}].ITEMS")):
            _objects(it.get("FINDINGS"), f"records[{i}].ITEMS[{j}].FINDINGS")


def _objects(value: Any, where: str) -> list[dict[str, Any]]:
    if value is None:
        return []
    if not isinstance(value, list):
        raise ValueError(f"{where}: expected a list or null, got {type(value).__name__}")
    for k, v in enumerate(value):
        if not isinstance(v, dict):
            raise ValueError(f"{where}[{k}]: expected an object, got {type(v).__name__}")
    return value


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
    """RECORD_SCHEMA rows → BATCH_SCHEMA rows with batch position 0.

    Files and stream micro-batches carry no row order, and every later
    window and group is keyed by RECORD_ID, so no cross-record position
    is needed (the API's request list takes its position from
    ``posexplode`` in :func:`records_to_df`).
    """
    return raw.selectExpr("CAST(0 AS BIGINT) AS _rec_idx", *RECORD_SCHEMA.fieldNames())


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
