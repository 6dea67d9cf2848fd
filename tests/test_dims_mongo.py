"""Mongo dim-loader parity (reference db_to_dataframe.py:98-141) with a
stubbed client — no pymongo needed; the loader returns the same
dict[str, DataFrame] any dim source does, so the pipeline is
source-agnostic."""

from __future__ import annotations

import json

from medical_examination_data_etl_system_spark.pipeline import process_records
from medical_examination_data_etl_system_spark.pipeline.dims import dims_from_mongo


class _FakeCollection:
    def __init__(self, docs):
        self._docs = docs
        self.calls = []

    def find(self, query, projection):
        self.calls.append((json.loads(json.dumps(query)), dict(projection)))
        items = query.get("ITEM_CODE", {}).get("$in")
        out = []
        for doc in self._docs:
            if items is not None and doc.get("ITEM_CODE") not in items:
                continue
            if projection and any(v == 1 for v in projection.values()):
                keep = {k for k, v in projection.items() if v == 1}
                out.append({k: v for k, v in doc.items() if k in keep})
            else:
                out.append({k: v for k, v in doc.items() if k != "_id"})
        return iter(out)


class _FakeDB(dict):
    def __getitem__(self, name):
        return dict.__getitem__(self, name)


class _FakeClient(dict):
    def __getitem__(self, name):
        return dict.__getitem__(self, name)


def _fake_client(uri):
    item_meta = _FakeCollection(
        [
            {"_id": 1, "ITEM_CODE": "I001", "TCNAME": "甲", "SCNAME": "甲s", "JPNAME": "甲j",
             "ENNAME": "Alpha", "ORG_ID": "ORG1", "EXTRA": "dropped-by-projection"},
            {"_id": 2, "ITEM_CODE": "I999", "TCNAME": "乙", "SCNAME": "乙s", "JPNAME": "乙j",
             "ENNAME": "Beta", "ORG_ID": "ORG1"},
        ]
    )
    item_group_map = _FakeCollection(
        [{"_id": 3, "ITEM_CODE": "I001", "GROUPNO": 2, "TCNAME_GROUP": "組", "ENNAME_GROUP": "Group",
          "JPNAME_GROUP": "組j", "SCNAME_GROUP": "组"}]
    )
    diag_tbl = _FakeCollection(
        [{"_id": 4, "DIAG_CODE": "D01", "SUMMARY_CODE": "S01", "SCNAME": "评", "ENNAME": "Comment",
          "JPNAME": "評", "ORG_ID": "ORG1"}]
    )
    summary_tbl = _FakeCollection(
        [{"_id": 5, "SUMMARY_CODE": "S01", "TCNAME": "總", "SCNAME": "总", "JPNAME": "総",
          "ENNAME": "Summary", "ORG_ID": "ORG1"}]
    )
    client = _FakeClient(
        main=_FakeDB(item_meta=item_meta, diag_tbl=diag_tbl),
        aux=_FakeDB(item_group_map=item_group_map, summary_tbl=summary_tbl),
    )
    client["__collections__"] = {
        "item_meta": item_meta,
        "item_group_map": item_group_map,
        "diag_tbl": diag_tbl,
        "summary_tbl": summary_tbl,
    }
    return client


def test_mongo_dims_shapes_and_renames(spark):
    client = _fake_client("mongodb://stub")
    dims = dims_from_mongo(
        spark, "mongodb://stub", ["I001"], client_factory=lambda uri: client
    )
    meta = dims["item_meta"]
    assert set(meta.columns) == {
        "ITEM_CODE", "TCNAME_ITEM", "SCNAME_ITEM", "JPNAME_ITEM", "ENNAME_ITEM", "ORG_ID",
    }
    rows = meta.collect()
    # $in filter: I999 excluded; generic names renamed to *_ITEM roles.
    assert [r["ITEM_CODE"] for r in rows] == ["I001"]
    assert rows[0]["ENNAME_ITEM"] == "Alpha"

    # item-filtered collections received the $in; full-table ones did not.
    cols = client["__collections__"]
    assert cols["item_meta"].calls[0][0] == {"ITEM_CODE": {"$in": ["I001"]}}
    assert cols["item_group_map"].calls[0][0] == {"ITEM_CODE": {"$in": ["I001"]}}
    assert cols["diag_tbl"].calls[0][0] == {}
    assert cols["summary_tbl"].calls[0][0] == {}
    # _id always projected away (reference does the same).
    assert all(call[1].get("_id") == 0 for c in cols.values() for call in c.calls)

    assert dims["diag_tbl"].collect()[0]["ENNAME_COMMENT"] == "Comment"
    assert dims["summary_tbl"].collect()[0]["TCNAME_SUMMARY"] == "總"
    assert dims["item_group_map"].collect()[0]["GROUPNO"] == 2


def test_mongo_dims_drive_the_pipeline(spark):
    """The loaded dims satisfy the enrich contract: the full pipeline
    runs and the enriched names appear in the report."""
    client = _fake_client("mongodb://stub")
    records = [
        {
            "RECORD_ID": "R100",
            "ORG_ID": "ORG1",
            "LANG_NO": "2",
            "ITEMS": [
                {
                    "ITEM_CODE": "I001",
                    "FINDINGS": [
                        {"DIAG_CODE": "D01", "COMMENT": "finding text", "SUMMARY_CODE": "S01"}
                    ],
                }
            ],
        }
    ]
    dims = dims_from_mongo(
        spark, "mongodb://stub", ["I001"], client_factory=lambda uri: client
    )
    out = process_records(spark, records, dims=dims).collect()
    assert len(out) == 1
    report = out[0]["report"]
    assert "Alpha" in report  # ENNAME_ITEM from the mongo dim (LANG_NO=2 → EN)
    assert "Group" in report


def test_resolve_dims_defaults_to_fallback(spark, monkeypatch):
    """Offline there are no dim tables: ``resolve_dims`` returns ``{}``
    and the report carries enrich's fallback names."""
    monkeypatch.delenv("MONGO_URI", raising=False)
    from medical_examination_data_etl_system_spark.pipeline.dims import resolve_dims
    from medical_examination_data_etl_system_spark.pipeline.ingest import flatten, records_to_df

    records = [{"RECORD_ID": "R1", "ORG_ID": "O", "LANG_NO": "1",
                "ITEMS": [{"ITEM_CODE": "X", "FINDINGS": [
                    {"DIAG_CODE": "D", "COMMENT": "c", "SUMMARY_CODE": "S"}]}]}]
    assert resolve_dims(spark, flatten(records_to_df(spark, records))) == {}
    report = process_records(spark, records).collect()[0]["report"]
    assert "項目 X" in report
    assert "範例分類" in report
