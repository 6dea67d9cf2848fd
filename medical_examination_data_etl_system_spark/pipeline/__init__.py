"""The medical-report ETL pipeline: ingest → enrich → clean → render.

Each stage is a pure ``DataFrame -> DataFrame`` function; the whole
pipeline stays lazy until a sink action. See ``pipeline.run`` for the
composed flow (parity with reference text_processing.py:144-177).
"""

from medical_examination_data_etl_system_spark.pipeline.ingest import records_to_df, flatten
from medical_examination_data_etl_system_spark.pipeline.enrich import enrich
from medical_examination_data_etl_system_spark.pipeline.clean import postprocess_multilang
from medical_examination_data_etl_system_spark.pipeline.run import process_records

__all__ = [
    "records_to_df",
    "flatten",
    "enrich",
    "postprocess_multilang",
    "process_records",
]
