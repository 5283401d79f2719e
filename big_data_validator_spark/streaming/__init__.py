"""Streaming validation: the batch rule vocabulary over Structured
Streaming."""

from big_data_validator_spark.streaming.validate_stream import (
    StreamingRuleConfig,
    stream_violation_sink,
    windowed_violation_counts,
)

__all__ = [
    "StreamingRuleConfig",
    "stream_violation_sink",
    "windowed_violation_counts",
]
