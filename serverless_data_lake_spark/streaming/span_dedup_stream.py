"""Streaming exact-substring scrubbing — the streaming twin of
``operators/dedup.py::remove_reference_spans``.

A continuously-ingesting training-data pipeline wants duplicated
passages cut at INGEST time against the corpus it has ALREADY
published (or against eval suites, at span rather than document
granularity — the scalpel to :mod:`decontaminate_stream`'s axe).
The reference corpus is static, so this is the same stream-static
shape as streaming decontamination, and the same honesty argument
applies: the per-document removal-start aggregation + rewrite is a
shape append-mode streaming cannot express without watermark-delayed
emission, so the production pattern is ``foreachBatch`` reusing the
batch operator per micro-batch — one declaration, two runtimes.

- the reference gram-hash set
  (:func:`operators.dedup.reference_span_grams`) is computed ONCE
  and persisted; each micro-batch semi-joins against the same
  materialized 8-byte set (broadcast unless the caller opts out for
  an oversized reference);
- within a micro-batch the plan is exactly the batch plan — the
  stream==batch test asserts union-of-batches == batch-of-union
  (documents are rewritten independently, so the equality is by
  construction);
- exactly-once to the sink comes from the checkpoint + an idempotent
  sink, the standard foreachBatch contract. No state is held between
  batches: a document's rewrite depends only on itself and the
  static reference.

Full corpus-global first-occurrence semantics
(:func:`remove_duplicate_spans`) cannot stream: "first occurrence
anywhere in the corpus" over an unbounded stream is unbounded state
by definition. The batch operator owns that; this module owns the
stream-vs-static contract.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from serverless_data_lake_spark.operators.dedup import (
    reference_span_grams,
    remove_reference_spans,
)


def span_scrub_stream(
    ref: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 13,
    broadcast: bool = True,
    ref_grams: DataFrame | None = None,
) -> tuple[Callable[[DataFrame], DataFrame], DataFrame]:
    """Build the per-micro-batch scrubber. Returns
    ``(clean_batch, ref_grams)``; the persisted ``ref_grams`` is
    returned so the caller can ``unpersist()`` when the query
    stops.

    ``ref_grams`` accepts a precomputed gram set (the reference
    corpus is static — same rationale and lifecycle contract as
    ``decontaminate_stream``'s ``test_grams`` parameter): when
    given, no persist happens here and it is used as-is."""
    grams = (
        ref_grams
        if ref_grams is not None
        else reference_span_grams(ref, id_col, text_col, k).persist()
    )

    def clean_batch(batch_df: DataFrame) -> DataFrame:
        return remove_reference_spans(
            batch_df, grams, id_col, text_col, k=k, broadcast=broadcast
        )

    return clean_batch, grams

