"""E1 parity for the framework-free request handler (S1/S8)."""

from __future__ import annotations

import asyncio
import glob
import sys
import types

import pytest

from medical_examination_data_etl_system_spark.api import create_app, handle_process_request
from medical_examination_data_etl_system_spark.pipeline.ingest import records_to_df
from medical_examination_data_etl_system_spark.schemas import SUBSET

from .fixtures import sample_request


def test_handle_process_request_list(spark):
    out = handle_process_request(spark, sample_request())
    assert set(out) == {"rows"}
    assert len(out["rows"]) == 1
    assert out["rows"][0]["report"].splitlines()[0] == "範例分類"


def test_handle_process_request_dict_promotion(spark):
    """A single dict payload is promoted to a 1-element batch
    (reference text_processing.py:152)."""
    single = sample_request()[0]
    out = handle_process_request(spark, single)
    assert len(out["rows"]) == 1


def test_handle_process_request_releases_caches(spark):
    """ADVICE r13: the pipeline's internal persists must not accumulate
    on the process-global tracked list across requests — a long-lived
    server would otherwise grow cache usage per request."""
    from medical_examination_data_etl_system_spark.operators.cache import tracked_frames

    before = len(tracked_frames())
    handle_process_request(spark, sample_request())
    assert len(tracked_frames()) == before


def test_handle_process_request_writes_csv_checkpoints(spark, tmp_path):
    """With an output_dir, the request also writes the reference's two
    timestamped CSV artifacts (text_processing.py:157-166)."""
    out = handle_process_request(spark, sample_request(), output_dir=str(tmp_path))
    assert len(out["rows"]) == 1
    (pre,) = glob.glob(str(tmp_path / "output_01_preprocessed" / "csv_*"))
    (post,) = glob.glob(str(tmp_path / "output_02_text_processed" / "csv_*"))
    assert spark.read.option("header", True).csv(pre).columns == [*SUBSET, "ord"]
    reports = spark.read.option("header", True).option("multiLine", True).csv(post)
    assert reports.columns == ["record_id", "report", "request"]
    assert reports.count() == 1


def _with_items(items) -> dict:
    return {"RECORD_ID": "R1", "LANG_NO": "1", "ORG_ID": "ORG_A", "ITEMS": items}


# (payload, the ValueError's message): one case per shape the JVM
# parser would reject only at collect time, and per kind of absent id.
_BAD_PAYLOADS = {
    "payload_not_list": ("R1", "records: expected a list or an object, got str"),
    "record_not_object": ([_with_items([]), ["R2"]], "records[1]: expected an object, got list"),
    "items_not_list": (_with_items({"ITEM_CODE": "I001"}), "records[0].ITEMS: expected a list or null, got dict"),
    "item_not_object": (_with_items(["I001"]), "records[0].ITEMS[0]: expected an object, got str"),
    "findings_not_list": (
        [_with_items([]), _with_items([{"ITEM_CODE": "I1", "FINDINGS": []}, {"ITEM_CODE": "I2", "FINDINGS": "D1"}])],
        "records[1].ITEMS[1].FINDINGS: expected a list or null, got str",
    ),
    "finding_not_object": (
        _with_items([{"ITEM_CODE": "I1", "FINDINGS": [{"COMMENT": "ok"}, None]}]),
        "records[0].ITEMS[0].FINDINGS[1]: expected an object, got NoneType",
    ),
    # No RECORD_ID: clean would render the record under ''.
    "record_id_missing": (
        [_with_items([]), {"LANG_NO": "1", "ITEMS": []}],
        "records[1].RECORD_ID: expected a non-blank id, got None",
    ),
    "record_id_null": ({**_with_items([]), "RECORD_ID": None}, "records[0].RECORD_ID: expected a non-blank id, got None"),
    "record_id_blank": ({**_with_items([]), "RECORD_ID": " \t"}, "records[0].RECORD_ID: expected a non-blank id, got ' \\t'"),
}


@pytest.mark.parametrize("case", list(_BAD_PAYLOADS))
def test_bad_payload_raises_before_any_spark_call(case):
    """The shape check runs on the driver first: a session that fails on
    any use never gets touched."""
    payload, message = _BAD_PAYLOADS[case]
    with pytest.raises(ValueError) as exc:
        records_to_df(object(), payload)
    assert str(exc.value) == message


def test_app_maps_bad_payload_to_422(spark, monkeypatch):
    """``create_app`` over a minimal stand-in for fastapi: a payload of
    the wrong shape is a 422 naming the field; a good one is served."""

    class HTTPException(Exception):
        def __init__(self, status_code, detail=None):
            super().__init__(detail)
            self.status_code, self.detail = status_code, detail

    class FastAPI:
        def __init__(self):
            self.routes = {}

        def post(self, path):
            def register(fn):
                self.routes[path] = fn
                return fn

            return register

    class Request:
        def __init__(self, body):
            self.body = body

        async def json(self):
            return self.body

    stub = types.ModuleType("fastapi")
    stub.FastAPI, stub.HTTPException, stub.Request = FastAPI, HTTPException, Request
    monkeypatch.setitem(sys.modules, "fastapi", stub)
    process = create_app(spark).routes["/process"]

    with pytest.raises(HTTPException) as exc:
        asyncio.run(process(Request(_with_items(["I001"]))))
    assert exc.value.status_code == 422
    assert exc.value.detail == "records[0].ITEMS[0]: expected an object, got str"
    assert asyncio.run(process(Request(sample_request()))) == handle_process_request(spark, sample_request())
