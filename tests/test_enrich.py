"""The offline fallback is a projection: ``enrich(flat, {})`` must equal
left-joining the reference's fallback dim tables (db_to_dataframe.py:61-95)
onto the fact, null and blank keys included."""

from __future__ import annotations

import pytest

from medical_examination_data_etl_system_spark.pipeline.enrich import enrich
from medical_examination_data_etl_system_spark.pipeline.ingest import flatten, records_to_df
from medical_examination_data_etl_system_spark.schemas import (
    DIAG_TBL_SCHEMA,
    ITEM_GROUP_MAP_SCHEMA,
    ITEM_META_SCHEMA,
    SUMMARY_TBL_SCHEMA,
)

from .fixtures import finding, item, multilang_edge_batch, record


def _key(v):
    # Spark's trim strips spaces only; match it, not str.strip().
    return None if v is None else str(v).strip(" ")


def _reference_dims(spark, records: list[dict]) -> dict:
    """The reference's four offline dim tables, one row per distinct
    trimmed key of the batch (null keys too, which no join may match),
    built on the driver."""
    pairs, codes, diags = set(), set(), set()
    for r in records:
        for it in r["ITEMS"] or []:
            pairs.add((_key(it["ITEM_CODE"]), _key(r["ORG_ID"])))
            codes.add(_key(it["ITEM_CODE"]))
            diags.update(_key(f["DIAG_CODE"]) for f in it["FINDINGS"] or [])

    return {
        "item_meta": spark.createDataFrame(
            [(c, f"項目 {c}", f"项目 {c}", f"項目 {c}", f"Item {c}", org) for c, org in pairs],
            ITEM_META_SCHEMA,
        ),
        "item_group_map": spark.createDataFrame(
            [(c, 1, "範例分類", "Sample Group", "サンプル分類", "示例分类") for c in codes],
            ITEM_GROUP_MAP_SCHEMA,
        ),
        "diag_tbl": spark.createDataFrame([(d, d, "", "", "") for d in diags], DIAG_TBL_SCHEMA),
        "summary_tbl": spark.createDataFrame([(d, "", "", "", "") for d in diags], SUMMARY_TBL_SCHEMA),
    }


def _odd_key_batch() -> list[dict]:
    """Null, blank and whitespace ITEM_CODE / ORG_ID / DIAG_CODE."""
    return [
        record("K1", "1", None, [item("I1", [finding("D1", "org null")])]),
        record("K2", "2", "  ", [item(" I2 ", [finding(" D2 ", "org blank, padded keys")])]),
        record(
            "K3",
            "3",
            "ORG_A",
            [
                item(None, [finding("D3", "item null")]),
                item("", [finding("", "item and diag empty")]),
                item("   ", [finding("   ", "item and diag whitespace")]),
                item("I4", [finding(None, "diag null")]),
            ],
        ),
    ]


@pytest.mark.parametrize("batch", [multilang_edge_batch, _odd_key_batch])
def test_fallback_projection_equals_fallback_dim_joins(spark, batch):
    records = batch()
    flat = flatten(records_to_df(spark, records))
    got = enrich(flat, {})
    want = enrich(flat, _reference_dims(spark, records))
    assert [(f.name, f.dataType) for f in got.schema] == [(f.name, f.dataType) for f in want.schema]
    assert got.orderBy("ord").collect() == want.orderBy("ord").collect()


def test_fallback_projection_null_keys_never_match(spark):
    rows = {
        r["COMMENT"]: r
        for r in enrich(flatten(records_to_df(spark, _odd_key_batch())), None).collect()
    }
    assert rows["org null"]["TCNAME_ITEM"] is None
    assert rows["org null"]["GROUPNO"] == 1
    assert rows["org blank, padded keys"]["ENNAME_ITEM"] == "Item I2"
    assert rows["item null"]["GROUPNO"] is None
    assert rows["item null"]["TCNAME_GROUP"] is None
    assert rows["item null"]["ENNAME_COMMENT"] == ""
    assert rows["item and diag empty"]["TCNAME_ITEM"] == "項目 "
    assert rows["diag null"]["TCNAME_SUMMARY"] is None
