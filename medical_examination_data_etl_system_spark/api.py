"""HTTP shell — reference E1 parity (`POST /process`).

The reference serves the pipeline behind FastAPI
(`/root/reference/app.py:1-13`, `text_processing.py:144-177`). The
engine keeps that surface as a thin shell over the Spark pipeline:

- ``handle_process_request`` is the framework-free request handler
  (dict/list payload → JSON-able response dict) — fully testable without
  any HTTP dependency. A request runs in the caller's served session
  (``pipeline.run.served_session``: its SQL conf with AQE off); the
  caller's session, which batch and stream work use, keeps AQE on;
- ``create_app`` wraps it in FastAPI when that package is installed
  (an optional dependency: import-gated, not stubbed). A payload
  of the wrong shape is a 422 naming the record and the field; any
  other failure is a 500.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession

from medical_examination_data_etl_system_spark.operators.cache import cache_scope
from medical_examination_data_etl_system_spark.pipeline import process_records
from medical_examination_data_etl_system_spark.pipeline.run import reports_to_json


def handle_process_request(
    spark: SparkSession,
    payload: list[dict[str, Any]] | dict[str, Any],
    output_dir: str | None = None,
) -> dict[str, list[dict[str, str]]]:
    """`POST /process` semantics: dict payloads are promoted to a
    1-element batch (reference text_processing.py:152); returns
    ``{"rows": [{"report": ...}, ...]}`` in request order."""
    # cache_scope per request (ADVICE r13): the pipeline persists its
    # cleaned fact; a long-lived server must release it after the
    # response's collect, not accumulate one cached frame per request.
    with cache_scope():
        reports = process_records(spark, payload, output_dir=output_dir)
        return reports_to_json(reports)


def create_app(spark: SparkSession, output_dir: str | None = None):
    """FastAPI app exposing ``POST /process`` (requires fastapi)."""
    try:
        from fastapi import FastAPI, HTTPException, Request
    except ImportError as exc:  # pragma: no cover - fastapi not in container
        raise ImportError(
            "fastapi is not installed; use handle_process_request() directly "
            "or install fastapi to serve HTTP"
        ) from exc

    app = FastAPI()

    @app.post("/process")
    async def process(request: Request):  # pragma: no cover - needs fastapi
        try:
            payload = await request.json()
            return handle_process_request(spark, payload, output_dir=output_dir)
        except ValueError as exc:
            raise HTTPException(status_code=422, detail=str(exc))
        except Exception as exc:
            raise HTTPException(status_code=500, detail=str(exc))

    return app
