from psql_streamer_spark.streaming.pipeline import CdcPipeline, SinkRoute
from psql_streamer_spark.streaming.sinks import (
    KafkaSink,
    MemorySink,
    NoopSink,
    ParquetSink,
    Sink,
)
from psql_streamer_spark.streaming.stateful import (
    dedup_events_within_watermark,
    session_window_stats,
    sessionize_with_state,
    windowed_event_counts,
)

__all__ = [
    "CdcPipeline",
    "KafkaSink",
    "MemorySink",
    "NoopSink",
    "ParquetSink",
    "Sink",
    "SinkRoute",
    "dedup_events_within_watermark",
    "session_window_stats",
    "sessionize_with_state",
    "windowed_event_counts",
]
