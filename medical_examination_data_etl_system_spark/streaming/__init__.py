"""Structured Streaming surface of the engine.

The reference pipeline is synchronous request/response batch
(`/root/reference/text_processing.py:144-177`); it has no streaming
operators. This package is the driver-mandated extension: the same
event-time aggregations as `queries/events.py`, expressed over
`readStream` with watermarks, plus a custom stateful sessionizer built
on `applyInPandasWithState`. Batch/stream parity is tested —
`tests/test_streaming.py` runs each stream with an availableNow trigger
and compares against the batch implementation on the same data.
"""

from medical_examination_data_etl_system_spark.streaming.events import (
    EVENTS_SCHEMA,
    attribution_join,
    dedup_within_watermark,
    read_events_stream,
    run_available_now,
    running_ewma_stateful,
    sessionize_stateful,
    stream_session_counts,
    stream_sliding_counts,
    stream_tumbling_counts,
)
from medical_examination_data_etl_system_spark.streaming.upsert import (
    UpsertParquetView,
    run_upsert_stream,
)
from medical_examination_data_etl_system_spark.streaming.sources import (
    PAYLOAD_SCHEMA,
    event_payload_json,
    parse_event_payload,
    read_events_kafka,
    read_events_socket,
    read_events_source,
)

__all__ = [
    "EVENTS_SCHEMA",
    "PAYLOAD_SCHEMA",
    "attribution_join",
    "dedup_within_watermark",
    "event_payload_json",
    "parse_event_payload",
    "read_events_kafka",
    "read_events_socket",
    "read_events_source",
    "read_events_stream",
    "run_available_now",
    "sessionize_stateful",
    "stream_session_counts",
    "stream_sliding_counts",
    "stream_tumbling_counts",
    "UpsertParquetView",
    "run_upsert_stream",
]
