"""Shared-query curation fan-out (streaming/curation_fanout.py):
ONE availableNow query feeding several product sinks must produce,
at every sink, exactly what that product's batch operator produces
over the union of all micro-batches — the stream==batch property of
each twin is preserved under fan-out (per-document transforms are
independent, so sharing the micro-batch cannot couple them)."""

from __future__ import annotations

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from serverless_data_lake_spark.operators.dedup import (
    decontaminate,
    remove_reference_spans,
)
from serverless_data_lake_spark.streaming.curation_fanout import (
    CurationSink,
    start_curation_fanout_stream,
)
from serverless_data_lake_spark.streaming.decontaminate_stream import (
    decontaminate_stream,
)
from serverless_data_lake_spark.streaming.span_dedup_stream import (
    span_scrub_stream,
)

SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)

LEAK = "the exact answer to benchmark question forty two is this"

DOCS = [
    (1, "clean document about weather patterns entirely here"),
    (2, f"contaminated document containing {LEAK} verbatim"),
    (3, "another clean one about cooking rice slowly today"),
    (4, f"partial overlap with {LEAK} inside a longer passage"),
    (5, "benign mention of benchmark question without the answer"),
]


import pytest


@pytest.fixture(scope="module")
def default_fanout(spark, tmp_path_factory):
    """ONE default-path (derive-and-persist) fan-out query shared by
    the batch-twin test and the precomputed-params A/B (r15,
    r14-verdict stretch #7 — the module used to run this identical
    stream twice; both tests keep their full assertion sets).
    Returns the materialized products: sorted survivor ids, sorted
    scrub rows, and the span sink's columns."""
    tmp = tmp_path_factory.mktemp("fanout_default")
    ref_df = spark.createDataFrame(
        [(100, f"eval prompt: {LEAK}?")], SCHEMA
    )
    src = tmp / "docs_in"
    src.mkdir()
    spark.createDataFrame(DOCS, SCHEMA).coalesce(1).write.mode(
        "append"
    ).json(str(src))

    stream = spark.readStream.schema(SCHEMA).json(str(src))
    clean_decont, grams = decontaminate_stream(
        ref_df, "doc_id", "text", n=5
    )
    clean_span, ref_grams = span_scrub_stream(
        ref_df, "doc_id", "text", k=5
    )
    out_decont = str(tmp / "decont")
    out_spans = str(tmp / "spans")
    try:
        q = start_curation_fanout_stream(
            stream,
            [
                CurationSink(clean_decont, out_decont, ["doc_id"]),
                CurationSink(
                    clean_span, out_spans,
                    ["doc_id", "n_kept", "n_removed"],
                ),
            ],
            checkpoint=str(tmp / "ckpt"),
        )
        q.awaitTermination()
        spans_raw = spark.read.parquet(out_spans)
        return {
            "decont_ids": sorted(
                r["doc_id"]
                for r in spark.read.parquet(out_decont).collect()
            ),
            "spans_rows": sorted(
                (r["doc_id"], r["n_kept"], r["n_removed"])
                for r in spans_raw.collect()
            ),
            "spans_columns": spans_raw.columns,
        }
    finally:
        grams.unpersist()
        ref_grams.unpersist()


def test_fanout_matches_both_batch_twins(spark, default_fanout):
    from serverless_data_lake_spark.operators.dedup import (
        reference_span_grams,
    )

    ref_df = spark.createDataFrame(
        [(100, f"eval prompt: {LEAK}?")], SCHEMA
    )
    docs_df = spark.createDataFrame(DOCS, SCHEMA)
    got_decont = default_fanout["decont_ids"]
    want_decont = sorted(
        r["doc_id"]
        for r in decontaminate(
            docs_df, ref_df, "doc_id", "text", n=5
        ).collect()
    )
    assert got_decont == want_decont
    # the leak-quoting docs (2 and 4) are dropped, so the check
    # is non-vacuous
    assert 2 not in got_decont and 4 not in got_decont

    # every parquet append carries the replay-detection batch id
    assert "__batch_id" in default_fanout["spans_columns"]
    got_spans = default_fanout["spans_rows"]
    # the batch twin's reference grams come straight from the
    # operator builder (test_precomputed_gram_params_match_default
    # proves the stream-side ref_grams identical to these)
    want_spans = sorted(
        (r["doc_id"], r["n_kept"], r["n_removed"])
        for r in remove_reference_spans(
            docs_df,
            reference_span_grams(ref_df, "doc_id", "text", 5),
            "doc_id",
            "text",
            k=5,
        ).collect()
    )
    assert got_spans == want_spans
    # every doc survives scrubbing (span removal, not doc
    # removal) and at least one doc actually lost tokens
    assert len(got_spans) == len(DOCS)
    assert any(removed > 0 for _i, _k, removed in got_spans)


def test_precomputed_gram_params_match_default(
    spark, tmp_path, default_fanout
):
    """The r11 `test_grams` / `ref_grams` builder parameters (the
    gate feeds memoized LOCAL gram relations through them) must
    yield exactly the default derive-and-persist path's outputs
    (the shared module fixture's products)."""
    from serverless_data_lake_spark.operators.dedup import (
        eval_gram_set,
        reference_span_grams,
    )

    ref_df = spark.createDataFrame(
        [(100, f"eval prompt: {LEAK}?")], SCHEMA
    )
    docs_df = spark.createDataFrame(DOCS, SCHEMA)

    src = tmp_path / "in_pre"
    src.mkdir()
    docs_df.coalesce(1).write.mode("append").json(str(src))
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    g = eval_gram_set(ref_df, "doc_id", "text", 5)
    tg = spark.createDataFrame(g.collect(), g.schema)
    r = reference_span_grams(ref_df, "doc_id", "text", 5)
    rg_pre = spark.createDataFrame(r.collect(), r.schema)
    cd, grams = decontaminate_stream(
        ref_df, "doc_id", "text", n=5,
        broadcast=True, test_grams=tg,
    )
    cs, rg = span_scrub_stream(
        ref_df, "doc_id", "text", k=5, ref_grams=rg_pre
    )
    try:
        q = start_curation_fanout_stream(
            stream,
            [
                CurationSink(cd, str(tmp_path / "d_pre"), ["doc_id"]),
                CurationSink(
                    cs, str(tmp_path / "s_pre"),
                    ["doc_id", "n_kept", "n_removed"],
                ),
            ],
            checkpoint=str(tmp_path / "ckpt_pre"),
        )
        q.awaitTermination()
    finally:
        grams.unpersist()
        rg.unpersist()
    d = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "d_pre")).collect()
    )
    s = sorted(
        map(
            tuple,
            spark.read.parquet(str(tmp_path / "s_pre"))
            .select("doc_id", "n_kept", "n_removed")
            .collect(),
        )
    )
    assert (d, s) == (
        default_fanout["decont_ids"],
        default_fanout["spans_rows"],
    )


def test_handler_replay_detectable_and_consume_idempotent(
    spark, tmp_path
):
    """The at-least-once replay contract (r11 advisory): a replayed
    micro-batch's parquet appends are exact duplicates INCLUDING
    ``__batch_id``, so ``DISTINCT`` collapses only replays — while a
    legitimately repeated row from a DIFFERENT batch survives (it
    differs in batch id). Driver-side ``consume`` products keyed by
    batch id overwrite on replay instead of double-counting."""
    import pytest

    from serverless_data_lake_spark.streaming.curation_fanout import (
        build_fanout_handler,
    )

    out = str(tmp_path / "sink")
    moments = {}

    def consume(df, batch_id):
        moments[batch_id] = df.count()

    handler = build_fanout_handler(
        [
            CurationSink(lambda df: df, out_path=out),
            CurationSink(lambda df: df, consume=consume),
        ]
    )
    b0 = spark.createDataFrame(DOCS[:3], SCHEMA)
    b1 = spark.createDataFrame(DOCS[2:3], SCHEMA)  # doc 3 repeats

    handler(b0, 0)
    handler(b0, 0)  # crash-replay of batch 0
    handler(b1, 1)  # a different batch re-delivering doc 3

    raw = spark.read.parquet(out)
    assert raw.count() == 7  # 3 + 3 (replay) + 1
    deduped = raw.distinct()
    # replays collapse; the cross-batch repeat of doc 3 survives
    # because its __batch_id differs
    assert deduped.count() == 4
    assert (
        deduped.filter("doc_id = 3").count() == 2
        and deduped.filter("doc_id = 1").count() == 1
    )
    # consume keyed by batch id: replay overwrote, no double count
    assert moments == {0: 3, 1: 1}

    # exactly one consumption mode per sink
    with pytest.raises(ValueError):
        CurationSink(lambda df: df)
    with pytest.raises(ValueError):
        CurationSink(lambda df: df, out_path=out, consume=consume)


def test_consume_receives_projected_frame_and_persist_batch(
    spark, tmp_path
):
    """`project` narrows what a consume callback sees (the same
    contract parquet sinks get), and `persist_batch=True` caches the
    micro-batch across sinks without changing any product."""
    from serverless_data_lake_spark.streaming.curation_fanout import (
        build_fanout_handler,
    )

    seen = {}

    def consume(df, batch_id):
        seen[batch_id] = (df.columns, df.count())

    out = str(tmp_path / "p_sink")
    handler = build_fanout_handler(
        [
            CurationSink(lambda df: df, consume=consume,
                         project=["doc_id"]),
            CurationSink(lambda df: df, out_path=out,
                         project=["doc_id"]),
        ],
        persist_batch=True,
    )
    b = spark.createDataFrame(DOCS[:2], SCHEMA)
    handler(b, 7)
    assert seen == {7: (["doc_id"], 2)}
    assert not b.is_cached  # unpersisted before the handler returned
    cols = spark.read.parquet(out).columns
    assert sorted(cols) == ["__batch_id", "doc_id"]


def test_fanout_partitions_repartitions_without_changing_products(
    spark, tmp_path
):
    """`fanout_partitions` (r15 optimization round) widens a
    narrow micro-batch before the sinks consume it — the sink
    transforms must see the repartitioned frame (task parallelism),
    while every product stays identical to the unrepartitioned run."""
    from serverless_data_lake_spark.streaming.curation_fanout import (
        build_fanout_handler,
    )

    widths = {}

    def consume(df, batch_id):
        widths[batch_id] = df.rdd.getNumPartitions()

    out = str(tmp_path / "fp_sink")
    handler = build_fanout_handler(
        [
            CurationSink(lambda df: df, consume=consume),
            CurationSink(lambda df: df, out_path=out),
        ],
        persist_batch=True,
        fanout_partitions=4,
    )
    b = spark.createDataFrame(DOCS, SCHEMA).coalesce(1)
    handler(b, 3)
    assert widths == {3: 4}
    rows = sorted(
        (r["doc_id"], r["text"], r["__batch_id"])
        for r in spark.read.parquet(out).collect()
    )
    assert rows == sorted((d[0], d[1], 3) for d in DOCS)
