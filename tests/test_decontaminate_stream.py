"""The driver's decontamination stream gate: the streamed survivor
and span-scrub fingerprints must equal the batch operators' over the
same slices, on the local-relation fast path and on the distributed
over-cap path."""

from __future__ import annotations

import pytest

from serverless_data_lake_spark.operators.dedup import decontaminate


@pytest.fixture(scope="module")
def gate_rows_fast(spark):
    """ONE fast-path run of the driver stream gate shared by both
    gate tests (r15, r14-verdict stretch #7 — the module used to run
    it twice: once for the fingerprint assertions, once as the
    baseline of the over-cap A/B; both assertion sets are kept)."""
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip(f"driver testdata not present at {sf}")
    import __spark_entry__ as entrymod

    return entrymod._decont_stream_gate(spark, sf).collect()


def test_driver_stream_gate_rows(spark, gate_rows_fast):
    """The driver-visible stream gate (sketch_quality_gates leg
    'stream', r9; widened to the shared fan-out query in r11): the
    streamed survivor set's three-moment fingerprint AND the
    streamed span-scrub output's three-moment fingerprint must equal
    the BATCH operators' over the same slices — the stream==batch
    equivalences the driver's oracle replays with independent SQL."""
    from pyspark.sql import functions as F

    from serverless_data_lake_spark import testdata
    from serverless_data_lake_spark.operators.dedup import (
        reference_span_grams,
        remove_reference_spans,
    )

    sf = "/root/testdata/sf0.001"
    rows = {r.key: r for r in gate_rows_fast}
    assert set(rows) == {
        "decont_survivor_count",
        "decont_survivor_idsum",
        "decont_survivor_sqmod",
        "scrub_doc_count",
        "scrub_kept_sum",
        "scrub_removed_sum",
    }
    assert all(r.approx_ok for r in rows.values())
    docs = testdata.read(spark, sf, "documents")
    test_df = docs.filter(
        (F.col("doc_id") % 17 == 0) & (F.col("doc_id") % 3 == 0)
    )
    train = docs.filter(
        (F.col("doc_id") % 17 != 0) & (F.col("doc_id") % 10 == 0)
    )
    batch = decontaminate(train, test_df, "doc_id", "text", n=5)
    m = batch.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("doc_id"), F.lit(0)).alias("idsum"),
        F.coalesce(
            F.sum((F.col("doc_id") * F.col("doc_id")) % 1000003), F.lit(0)
        ).alias("sqmod"),
    ).collect()[0]
    assert rows["decont_survivor_count"].metric == float(m["n"])
    assert rows["decont_survivor_idsum"].metric == float(m["idsum"])
    assert rows["decont_survivor_sqmod"].metric == float(m["sqmod"])
    # the gate's scrub reference is the re-crawl slice: a subset of
    # the streamed docs themselves (train ∧ id%20==10), so removals
    # are guaranteed non-zero at every scale
    ref_grams = reference_span_grams(
        train.filter(F.col("doc_id") % 20 == 10), "doc_id", "text", k=5
    )
    scrub = remove_reference_spans(
        train, ref_grams, "doc_id", "text", k=5
    )
    s = scrub.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("n_kept"), F.lit(0)).alias("kept"),
        F.coalesce(F.sum("n_removed"), F.lit(0)).alias("removed"),
    ).collect()[0]
    assert rows["scrub_doc_count"].metric == float(s["n"])
    assert rows["scrub_kept_sum"].metric == float(s["kept"])
    assert rows["scrub_removed_sum"].metric == float(s["removed"])
    # non-vacuous at this SF: the stream really scrubbed something
    assert rows["scrub_removed_sum"].metric > 0


def test_gate_overcap_fallback_matches_local_path(
    spark, monkeypatch, gate_rows_fast
):
    """Force the stream gate's gram memo over its cap (r12 advisory
    wiring): with `_GATE_LOCAL_GRAM_CAP` monkeypatched to 0 both
    builders must take their persisted DISTRIBUTED path (decont
    re-sizes against the broadcast cap, span degrades to a keyed
    join) and the six fingerprint moments must be identical to the
    local-relation fast path's (the shared module fixture's run)."""
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip(f"driver testdata not present at {sf}")
    import __spark_entry__ as entrymod

    fast = {(r.key, r.metric) for r in gate_rows_fast}
    monkeypatch.setattr(entrymod, "_GATE_LOCAL_GRAM_CAP", 0)
    slow = {
        (r.key, r.metric)
        for r in entrymod._decont_stream_gate(spark, sf).collect()
    }
    assert fast == slow and len(fast) == 6
