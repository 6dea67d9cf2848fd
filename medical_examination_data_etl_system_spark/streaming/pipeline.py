"""Streaming variant of the medical-report pipeline.

Record files arrive continuously; each micro-batch runs the SAME batch
body as the API and file ingest (``pipeline.run.reports_for_batch``:
flatten → enrich → clean → rewrite → render) via ``foreachBatch`` — the
canonical Structured Streaming pattern for reusing battle-tested batch
logic with streaming input.

Delivery is at-least-once, not exactly-once: ``foreachBatch`` replays a
batch whose sink write landed before its commit-log entry, and
``_process`` ignores ``batch_id`` and appends, so a replayed batch
writes its reports a second time (a known defect: the sink is not yet
idempotent per batch id).

``dims=None`` resolves per micro-batch as on the API path
(``resolve_dims``: MongoDB when MONGO_URI is set, else ``enrich``'s
fallback-name projection); production passes static dim frames once and
they broadcast into every micro-batch. An empty micro-batch runs the
same body and appends no rows, so no separate emptiness probe (one more
job per batch) runs first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from medical_examination_data_etl_system_spark.operators.cache import cache_scope
from medical_examination_data_etl_system_spark.pipeline.ingest import with_batch_position
from medical_examination_data_etl_system_spark.pipeline.run import reports_for_batch
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
        # cache_scope per micro-batch (ADVICE r13): reports_for_batch
        # persists its cleaned fact; without a scope every batch would
        # park that frame on the process-global tracked list for the
        # stream's lifetime. The write action runs inside the scope, so
        # the barrier is consumed before release.
        with cache_scope():
            reports = reports_for_batch(with_batch_position(batch_df), dims).drop("rec_ord")
            reports.write.mode("append").parquet(output_path)

    return (
        records_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
