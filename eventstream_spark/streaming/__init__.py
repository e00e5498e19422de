"""Structured Streaming semantics.

Replaces the reference's hand-rolled delivery machinery (poll loops,
consumer groups, inbox/idle reclamation — SURVEY §2 A1-A3, A15-A18) with
Spark's checkpointed micro-batch model, and re-expresses its distinctive
stateful op — the multi-consumer completion barrier (A19) — on
``applyInPandasWithState``.

Every aggregation helper here is written so the SAME function works on a
batch DataFrame and a streaming one; the streaming≡batch test harness
(SURVEY §5.2 item 2) relies on that.
"""

from .windows import session_counts, sliding_counts, tumbling_counts
from .dedup import dedup_events
from .barrier import completion_barrier, barrier_batch_oracle
from .control import (
    QueryInfo,
    QueryManager,
    close_local,
    publish_event,
    read_archive,
    trim_and_archive,
    trim_partitions,
)
from .correlate import correlate_responses, unanswered_requests
from .sinks import idempotent_parquet_sink, read_sink

__all__ = [
    "tumbling_counts",
    "sliding_counts",
    "session_counts",
    "dedup_events",
    "completion_barrier",
    "barrier_batch_oracle",
    "QueryManager",
    "QueryInfo",
    "trim_and_archive",
    "trim_partitions",
    "close_local",
    "publish_event",
    "read_archive",
    "correlate_responses",
    "unanswered_requests",
    "idempotent_parquet_sink",
    "read_sink",
]
