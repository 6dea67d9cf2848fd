"""The composed pipeline: records → reports (reference E1 parity).

``process_records`` mirrors reference text_processing.py:144-177
(``POST /process``): flatten → enrich → clean → rewrite → render, all
lazy until the caller acts (collect / write). CSV checkpoints are
optional sinks, matching the reference's two timestamped CSV artifacts.
"""

from __future__ import annotations

import os
from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from medical_examination_data_etl_system_spark.observability import timed_stage
from medical_examination_data_etl_system_spark.operators.cache import persist_tracked
from medical_examination_data_etl_system_spark.pipeline.clean import postprocess_multilang
from medical_examination_data_etl_system_spark.pipeline.dims import resolve_dims
from medical_examination_data_etl_system_spark.pipeline.enrich import enrich
from medical_examination_data_etl_system_spark.pipeline.ingest import flatten, records_to_df
from medical_examination_data_etl_system_spark.pipeline.llm import rewrite_distinct_summaries
from medical_examination_data_etl_system_spark.pipeline.render import (
    render_generic_reports,
    with_generic_columns,
)


def process_records(
    spark: SparkSession,
    records: list[dict[str, Any]] | dict[str, Any],
    dims: dict[str, DataFrame] | None = None,
    output_dir: str | None = None,
) -> DataFrame:
    """records → (record_id, report, request), ordered by batch position.

    With no ``dims``, ``resolve_dims`` picks the source: MongoDB when
    MONGO_URI is set, else no tables, for which ``enrich`` computes the
    reference's offline fallback names (db_to_dataframe.py:61-95) in one
    projection. With no ``output_dir``, no CSV artifacts are written.
    """
    # Stage timings (reference utils.py:7-15 parity) land on the
    # medical_examination_data_etl_system_spark.timing logger + observability.recorded_timings().
    # Spark stages are LAZY — these scopes time driver-side plan
    # construction/analysis; execution cost shows up in the scopes that
    # contain actions (csv checkpoints, the caller's collect).
    with timed_stage("ingest_flatten"):
        nested = records_to_df(spark, records)
        flat = flatten(nested)
    if dims is None:
        with timed_stage("resolve_dims"):
            dims = resolve_dims(spark, flat)
    with timed_stage("enrich"):
        enriched = enrich(flat, dims)
    return _in_batch_order(_reports(enriched, output_dir))


def reports_from_fact(fact: DataFrame, output_dir: str | None = None) -> DataFrame:
    """E3 parity: any SUBSET ∪ {ord, request} fact frame → (record_id,
    report, request), in no particular order: the stream sink and the
    registry queries need none, and a global sort would cost a range
    exchange and its sampling job."""
    return _reports(fact, output_dir).drop("rec_ord")


def _in_batch_order(reports: DataFrame) -> DataFrame:
    """Reports in batch position (``rec_ord``) order, without a range
    exchange: a served batch is a driver-side list, small enough for one
    sorted partition."""
    return reports.coalesce(1).sortWithinPartitions("rec_ord").drop("rec_ord")


def _reports(fact: DataFrame, output_dir: str | None) -> DataFrame:
    """fact → (record_id, report, request, rec_ord), unordered."""
    with timed_stage("clean"):
        # Persisted barrier (r13): `cleaned` has two consumers — the
        # distinct-summary rewrite branch and the renderer (three with
        # the CSV checkpoint) — and is itself the whole front half
        # (flatten → enrich → clean: groupBy, explode, dim joins, dedup
        # windows). Without the barrier the front half recomputes per
        # consumer; measured at sf0.1 the end-to-end report query drops
        # 9.7→7.6 s with it (guide §2.4: share one computation).
        cleaned = persist_tracked(postprocess_multilang(fact))

    if output_dir:
        with timed_stage("csv_checkpoint_preprocessed"):
            write_csv_checkpoint(cleaned.drop("request"), os.path.join(output_dir, "output_01_preprocessed"))

    with timed_stage("llm_rewrite"):
        # One generic frame feeds both the rewrite and the renderer.
        generic = with_generic_columns(cleaned)
        rewrites = rewrite_distinct_summaries(generic)
    with timed_stage("render"):
        reports = render_generic_reports(generic, rewrites)

    if output_dir:
        with timed_stage("csv_checkpoint_text_processed"):
            write_csv_checkpoint(
                _in_batch_order(reports), os.path.join(output_dir, "output_02_text_processed")
            )
    return reports


def write_csv_checkpoint(df: DataFrame, base_dir: str) -> str:
    """Timestamped header CSV (reference text_processing.py:157-166 / S7).

    Single-file parity via coalesce(1) — checkpoint CSVs are per-batch
    artifacts, small by construction.
    """
    ts = datetime.now().strftime("%y%m%d_%H%M")
    path = os.path.join(base_dir, f"csv_{ts}")
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    return path


def reports_to_json(reports: DataFrame) -> dict[str, list[dict[str, str]]]:
    """S8 (reference text_processing.py:174): the API response payload."""
    rows = [{"report": r["report"]} for r in reports.select("report").collect()]
    return {"rows": rows}
