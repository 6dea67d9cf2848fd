"""The composed pipeline: records → reports (reference E1 parity).

``reports_for_batch`` is the one batch body, reference
text_processing.py:144-177 (``POST /process``): flatten → enrich →
clean → rewrite → render. Building it fires one job, the collect of the
distinct summaries the driver rewrites (``pipeline.llm``); the rest is
lazy until the caller acts (collect / write). Every served input calls
it: the API (``process_records``, over the driver's request list), file
ingest (``records_from_json_files``) and each stream micro-batch; only
the nested frame differs. A request list is a small batch, so
``process_records`` plans it in the caller's :func:`served_session`,
whose one difference is AQE off: runtime re-optimization gains such a
plan nothing and costs a job and a re-plan at every shuffle. Files and
streams keep the caller's session, AQE on. CSV checkpoints are optional
sinks, matching the reference's two timestamped CSV artifacts.
"""

from __future__ import annotations

import os
import weakref
from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame, SparkSession

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
    """records → (record_id, report, request), ordered by batch position:
    :func:`reports_for_batch` over the driver's request list, in the
    caller's :func:`served_session`. A payload of the wrong shape
    raises ``ValueError`` before any Spark work (``records_to_df``)."""
    nested = records_to_df(served_session(spark), records)
    return _in_batch_order(reports_for_batch(nested, dims, output_dir))


_SERVED: weakref.WeakKeyDictionary[SparkSession, SparkSession] = weakref.WeakKeyDictionary()


def served_session(spark: SparkSession) -> SparkSession:
    """The session a driver-side request list is planned in: a clone of
    ``spark`` (its SQL conf, temp views and functions as of the first
    request; the same context and cache) with AQE off, made once per
    caller session. ``spark`` itself is left as it is."""
    served = _SERVED.get(spark)
    if served is None:
        served = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
        served.conf.set("spark.sql.adaptive.enabled", "false")
        _SERVED[spark] = served
    return served


def reports_for_batch(
    nested: DataFrame,
    dims: dict[str, DataFrame] | None = None,
    output_dir: str | None = None,
) -> DataFrame:
    """Nested records (BATCH_SCHEMA) → (record_id, report, request,
    rec_ord), in no particular order: the stream sink needs none, and a
    global sort would cost a range exchange and its sampling job.
    Building it runs the rewrite's one job and LLM calls (one per
    distinct text), never repeated however often the plan runs.

    With no ``dims``, ``resolve_dims`` picks the source: MongoDB when
    MONGO_URI is set, else no tables, for which ``enrich`` computes the
    reference's offline fallback names (db_to_dataframe.py:61-95) in one
    projection. With no ``output_dir``, no CSV artifacts are written.
    """
    flat = flatten(nested)
    if dims is None:
        dims = resolve_dims(nested.sparkSession, flat)
    # Persisted barrier (r13): `cleaned` has two consumers — the
    # rewrite's distinct-summary collect and the renderer (three with the
    # CSV checkpoint) — and is itself the whole front half (flatten →
    # enrich → clean: explode, dim joins, dedup windows). Without the
    # barrier the front half recomputes per consumer; measured at sf0.1
    # the end-to-end report query drops 9.7→7.6 s with it (guide §2.4:
    # share one computation). The caller's cache_scope releases it.
    cleaned = persist_tracked(postprocess_multilang(enrich(flat, dims)))

    if output_dir:
        # rec_ord is a struct (flatten's ord), which CSV cannot hold.
        write_csv_checkpoint(
            cleaned.drop("request", "rec_ord"), os.path.join(output_dir, "output_01_preprocessed")
        )

    # One generic frame feeds both the rewrite and the renderer.
    generic = with_generic_columns(cleaned)
    reports = render_generic_reports(generic, rewrite_distinct_summaries(generic))

    if output_dir:
        write_csv_checkpoint(
            _in_batch_order(reports), os.path.join(output_dir, "output_02_text_processed")
        )
    return reports


def _in_batch_order(reports: DataFrame) -> DataFrame:
    """Reports in batch position (``rec_ord``) order, without a range
    exchange: a served batch is a driver-side list, small enough for one
    sorted partition."""
    return reports.coalesce(1).sortWithinPartitions("rec_ord").drop("rec_ord")


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
