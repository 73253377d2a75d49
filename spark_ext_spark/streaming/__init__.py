"""Structured Streaming operators.

The reference predates Structured Streaming entirely (Spark 1.5).
Where a batch builder exists, the stream op calls it; the rest are
stream-only shapes (watermarked state, sinks):

- ``streaming_gather``: ``operators.gather.Gather`` keyed on
  (event-time window, pk).
- ``streaming_dedup_exact``: keeps the first document per
  ``llm.dedup.text_digest`` (the ``exact_duplicates`` key) with
  ``dropDuplicatesWithinWatermark``.
- ``streaming_distinct_estimate``: per-window fixed-theta distinct
  estimate on ``operators.sketches``' threshold and estimate (batch
  twin: ``theta_distinct``).
- ``streaming_event_counts``: watermarked (sliding) window count + sum
  per key.
- ``streaming_interval_join``: watermarked stream-stream interval join.
- ``streaming_running_totals``: unwindowed per-key lifetime totals
  (``applyInPandasWithState``).
- ``foreach_batch_upsert``: foreachBatch sink that upserts into a
  parquet key-value store.
- ``sessionize`` (``streaming.sessionize``): gap sessionization; batch
  twin ``plans.relational.event_sessions``.

Pure per-row builders need no stream variant: ``llm.text.text_stats``
and the other ``select``-only ops run on a stream as they are.

All builders take/return streaming DataFrames and never call an
action; sinks are the caller's choice (tests use the memory sink).
"""

from spark_ext_spark.streaming.ops import (  # noqa: F401
    foreach_batch_upsert, streaming_dedup_exact,
    streaming_distinct_estimate, streaming_event_counts, streaming_gather,
    streaming_interval_join)
from spark_ext_spark.streaming.stateful import (  # noqa: F401
    streaming_running_totals)
