"""streaming — Structured Streaming runner sharing the batch operator library."""

from .runner import StreamingPipeline, kafka_source_stream
from .temporal_join import temporal_join_streaming

__all__ = [
    "StreamingPipeline",
    "kafka_source_stream",
    "temporal_join_streaming",
]
