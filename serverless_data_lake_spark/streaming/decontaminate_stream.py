"""Streaming benchmark decontamination — the streaming twin of
``operators/dedup.py::decontaminate`` (GPT-3 13-gram rule).

A training-data pipeline that ingests documents continuously wants
contamination filtered at INGEST time, not in a nightly sweep. The
eval corpus is static by construction (benchmark suites change
rarely), which makes this a **stream-static** problem; the doc-level
rule (≥ ``min_shared`` distinct shared grams) needs an aggregation
over the gram-match join, so the production shape is
``foreachBatch`` reusing the batch operator per micro-batch:

- the eval gram set (:func:`operators.dedup.eval_gram_set`) is
  computed ONCE and persisted — each micro-batch joins against the
  same materialized 8-byte hash set, broadcast under the same
  size-gate as batch;
- within a micro-batch the plan is exactly the batch plan
  (one declaration, two runtimes — the module-wide property
  stream==batch tests assert);
- exactly-once to the sink comes from the checkpoint + an
  idempotent/transactional sink, the standard foreachBatch
  contract. No streaming state is held between batches: a document
  is contaminated or not independent of every other document, so
  the operator is stateless across batches by construction.

This is also the honest answer to "why not a pure stream-static
join": Structured Streaming supports stream-static joins, but the
min_shared threshold needs a per-doc COUNT over the gram matches
followed by an anti-join of the stream against its own aggregate —
a shape append-mode cannot express without watermark-delayed
emission. foreachBatch gives batch-exact semantics with zero added
latency beyond the trigger interval.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from serverless_data_lake_spark.operators.dedup import (
    decontaminate,
    eval_gram_set,
)


def decontaminate_stream(
    test: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    min_shared: int = 1,
    broadcast: bool | None = None,
    test_grams: DataFrame | None = None,
) -> tuple[Callable[[DataFrame], DataFrame], DataFrame]:
    """Build the ``foreachBatch`` handler for streaming
    decontamination.

    Returns ``(clean_batch, test_grams)``: ``clean_batch`` maps one
    micro-batch to its clean rows; wire it into a ``foreachBatch``
    sink (:func:`streaming.curation_fanout.start_curation_fanout_stream`
    does). The persisted ``test_grams`` is returned so the caller can
    ``unpersist()`` it when the query stops.

    ``test_grams`` accepts a precomputed gram set (e.g. a small
    collected set rebuilt as a local relation — the eval corpus is
    STATIC by construction, so its grams are a pure function of
    (test, n) that a caller re-wiring the same stream repeatedly
    shouldn't re-derive from a scan each time, r11). When given, it
    is used as-is: no persist happens here and the caller owns its
    lifecycle (unpersisting it is a no-op for an unpersisted local
    relation).
    """
    grams = (
        test_grams
        if test_grams is not None
        else eval_gram_set(test, id_col, text_col, n).persist()
    )
    if broadcast is None:
        # Size the strategy ONCE here rather than per micro-batch.
        from serverless_data_lake_spark.operators.dedup import (
            DECONTAMINATE_BROADCAST_GRAM_CAP,
        )

        broadcast = grams.count() <= DECONTAMINATE_BROADCAST_GRAM_CAP

    def clean_batch(batch_df: DataFrame) -> DataFrame:
        return decontaminate(
            batch_df,
            test,
            id_col,
            text_col,
            n=n,
            min_shared=min_shared,
            broadcast=broadcast,
            test_grams=grams,
        )

    return clean_batch, grams

