"""Streaming variant of the medical-report pipeline.

Record files arrive continuously; each micro-batch runs the SAME batch
pipeline (flatten → enrich → clean → rewrite → render) via
``foreachBatch`` — the canonical Structured Streaming pattern for
reusing battle-tested batch logic with streaming input.

Delivery is at-least-once, not exactly-once: ``foreachBatch`` replays a
batch whose sink write landed before its commit-log entry, and
``_process`` ignores ``batch_id`` and appends, so a replayed batch
writes its reports a second time (a known defect: the sink is not yet
idempotent per batch id).

With no dims, each micro-batch gets the deterministic fallback names
(``enrich``'s projection, the batch pipeline's behavior with no dims);
production passes static dim frames once and they broadcast into every
micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from medical_examination_data_etl_system_spark.operators.cache import cache_scope
from medical_examination_data_etl_system_spark.pipeline.enrich import enrich
from medical_examination_data_etl_system_spark.pipeline.ingest import flatten, with_batch_position
from medical_examination_data_etl_system_spark.pipeline.run import reports_from_fact
from medical_examination_data_etl_system_spark.schemas import RECORD_SCHEMA


def read_records_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of JSON-lines record files (explicit schema)."""
    reader = spark.readStream.schema(RECORD_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def stream_reports(
    records_stream: DataFrame,
    output_path: str,
    checkpoint: str,
    dims: dict[str, DataFrame] | None = None,
):
    """records stream → rendered reports appended to parquet.

    Returns the started StreamingQuery; callers trigger/await it
    (tests use ``trigger(availableNow=True)`` + ``awaitTermination``).
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # cache_scope per micro-batch (ADVICE r13): reports_from_fact
        # persists its cleaned fact; without a scope every batch would
        # park that frame on the process-global tracked list for the
        # stream's lifetime. The write action runs inside the scope, so
        # the barrier is consumed before release.
        with cache_scope():
            flat = flatten(with_batch_position(batch_df))
            enriched = enrich(flat, dims)
            reports = reports_from_fact(enriched)
            reports.write.mode("append").parquet(output_path)

    return (
        records_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
