"""Structured Streaming surface: the bounded drain, DLQ/redelivery,
exactly-once sinks, sticky Key_Shared ranges, custom stateful operators
(SURVEY §2C)."""

from pulsar_lunar_spark.streaming.ops import (
    foreach_batch_with_dlq,
    idempotent_foreach_batch,
    key_hash_sticky,
    key_shared_range,
    run_available_now,
    stateful_running_count,
    stateful_sessionize,
)

__all__ = [
    "key_hash_sticky",
    "key_shared_range",
    "foreach_batch_with_dlq",
    "idempotent_foreach_batch",
    "run_available_now",
    "stateful_running_count",
    "stateful_sessionize",
]
