"""Reference-span scrubbing semantics (``remove_reference_spans``),
the batch operator behind the streaming span twin; the twin's
stream==batch agreement is asserted through the curation fan-out
(tests/test_curation_fanout.py)."""

from __future__ import annotations

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from serverless_data_lake_spark.operators.dedup import (
    reference_span_grams,
    remove_reference_spans,
)

SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)

PASSAGE = "the quick brown fox jumps over the lazy dog"


def test_reference_span_cut_wherever_it_appears(spark):
    # The 9-token reference passage is cut wherever it appears in a
    # document; an overlap shorter than k survives.
    ref = spark.createDataFrame([(100, PASSAGE)], SCHEMA)
    grams = reference_span_grams(ref, "doc_id", "text", k=5)
    df = spark.createDataFrame(
        [
            (1, f"intro text {PASSAGE} outro"),
            (2, "nothing shared here at all"),
            (3, f"{PASSAGE} appears right at the start"),
            (4, "quick brown fox alone is below the span threshold"),
        ],
        SCHEMA,
    )
    got = {
        r.doc_id: (r.text_dedup, r.n_kept, r.n_removed)
        for r in remove_reference_spans(
            df, grams, "doc_id", "text", k=5
        ).collect()
    }
    assert got[1] == ("intro text outro", 3, 9)
    assert got[3] == ("appears right at the start", 5, 9)
    assert got[4][2] == 0  # "quick brown fox" alone: below k=5
    assert got[2][2] == 0


def test_reference_doc_itself_scrubs_fully(spark):
    # A document IDENTICAL to a reference doc loses every token —
    # the scalpel degenerates to the axe exactly when it should.
    ref = spark.createDataFrame([(100, PASSAGE)], SCHEMA)
    grams = reference_span_grams(ref, "doc_id", "text", k=5)
    df = spark.createDataFrame([(1, PASSAGE)], SCHEMA)
    row = remove_reference_spans(df, grams, "doc_id", "text", k=5).collect()[0]
    assert (row.text_dedup, row.n_kept, row.n_removed) == ("", 0, 9)
