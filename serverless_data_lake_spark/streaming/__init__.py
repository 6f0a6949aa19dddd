"""Structured Streaming variants of the pipeline.

Each operator follows the one-declaration/two-runtimes pattern: the
batch form of the plan doubles as the correctness oracle for the
streaming form (stream==batch agreement is asserted in tests).

- ``silver_stream``  — checkpointed bronze→silver micro-batch loop
  sharing the batch merge code.
- ``sessionize``     — gap-based sessionization
  (``applyInPandasWithState`` with a batch twin).
- ``windowed``       — tumbling/sliding event-time aggregation.
- ``dedup_stream``   — cross-micro-batch dedup, watermark-bounded
  state.
- ``join_stream``    — stream-stream interval join (attribution
  windows), state bounded by watermark + interval.
- ``decontaminate_stream`` — GPT-3 n-gram decontamination at ingest
  (per-batch filter over the once-persisted eval gram set).
- ``span_dedup_stream``    — reference-span scrubbing at ingest.
- ``curation_fanout``      — one ``foreachBatch`` query that fans each
  micro-batch out to several per-batch twins (the two above).
"""

from serverless_data_lake_spark.streaming.dedup_stream import (
    dedup_stream,
    dedup_stream_exact,
)
from serverless_data_lake_spark.streaming.join_stream import (
    interval_join,
    interval_join_stream,
)
from serverless_data_lake_spark.streaming.silver_stream import start_silver_stream

__all__ = [
    "dedup_stream",
    "dedup_stream_exact",
    "interval_join",
    "interval_join_stream",
    "start_silver_stream",
]
