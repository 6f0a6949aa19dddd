"""Declarative curation pipeline (pipeline/curation.py): stage
composition, observe()-based audit counts, end-state correctness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serverless_data_lake_spark.pipeline.curation import CurationPipeline

SCHEMA = "doc_id long, text string"

UNIQUE = "the weather over the northern valley stayed calm and clear today"
NEAR = "the weather over the northern valley stayed calm and clear tonight"
LEAK = "secret eval answer forty two hidden phrase"


@pytest.fixture()
def corpus(spark):
    rows = [
        (1, UNIQUE),
        (2, UNIQUE),                      # exact dup of 1
        (3, NEAR),                        # near dup of 1 (1 token off)
        (4, f"prefix words ahead {UNIQUE} trailing tail words here"),
        (5, f"totally different document mentioning {LEAK} inline"),
        (6, "@@ ## $$ %% ^^ && ** (( ))"),  # junk quality
        (7, "too short"),
        (8, "a perfectly ordinary document about cooking rice slowly "
            "with plenty of water and patience for dinner"),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_full_chain_counts_and_endstate(spark, corpus):
    eval_df = spark.createDataFrame([(100, f"prompt: {LEAK}?")], SCHEMA)
    pipe = (
        CurationPipeline("doc_id", "text")
        .exact_dedup()
        # 0.7: catches doc 3 (J=0.8 vs doc 1, one token changed)
        # while doc 4 (J=0.6 — the span sits among flank tokens)
        # survives for the span-removal stage to rewrite.
        .near_dedup(method="jaccard", threshold=0.7)
        .remove_duplicate_spans(k=5)
        .decontaminate(eval_df, n=5)
        .quality_filter(min_score=0.4)
        .length_filter(min_tokens=4)
        .sample(rate=1.0, salt="t")
        .assign_splits({"train": 0.5, "val": 0.25, "test": 0.25})
    )
    collected = {}
    out, report = pipe.execute(
        corpus, sink=lambda df: collected.update(
            {r["doc_id"]: r.asDict() for r in df.collect()}
        )
    )
    by_name = {r.stage: r for r in report}

    # exact: doc 2 collapses into 1.
    assert by_name["exact_dedup"].rows_in == 8
    assert by_name["exact_dedup"].rows_out == 7
    # near (jaccard >= .5): doc 3 collapses into 1.
    assert by_name["near_dedup[jaccard]"].rows_out == 6
    # span removal rewrites doc 4 (its embedded copy of UNIQUE is
    # cut; doc 1 is the canonical occurrence) but drops nothing.
    assert by_name["span_dedup[k=5]"].rows_out == 6
    # decontamination drops doc 5 (shares >=1 5-gram with eval).
    assert by_name["decontaminate"].rows_out == 5
    # quality gate drops the symbol-soup doc 6.
    assert by_name["quality>=0.4"].rows_out == 4
    # length gate drops doc 7 ("too short": 2 tokens).
    assert by_name["length_filter"].rows_out == 3
    assert by_name["sample[1.0]"].rows_out == 3
    assert by_name["assign_splits"].rows_out == 3

    assert sorted(collected) == [1, 4, 8]
    # doc 4's embedded duplicated span is gone, flanks survive.
    assert collected[4]["text"] == (
        "prefix words ahead trailing tail words here"
    )
    # every surviving row got a split assignment.
    assert all(
        r["split"] in ("train", "val", "test") for r in collected.values()
    )
    # dropped accounting is internally consistent.
    assert sum(r.rows_dropped for r in report) == 8 - 3


def test_default_noop_sink_and_builder_reuse(spark, corpus):
    pipe = CurationPipeline().exact_dedup().length_filter(min_tokens=3)
    out, report = pipe.execute(corpus)  # noop sink
    assert [r.stage for r in report] == ["exact_dedup", "length_filter"]
    assert report[0].rows_in == 8
    assert report[-1].rows_out == 6  # docs 2 and 7 gone
    # The returned DataFrame stays usable for further actions.
    assert out.count() == 6


def test_unknown_near_dedup_method(spark, corpus):
    pipe = CurationPipeline().near_dedup(method="nope")
    with pytest.raises(ValueError, match="near-dedup method"):
        pipe.execute(corpus)


def test_real_documents_smoke(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    pipe = (
        CurationPipeline("doc_id", "text")
        .exact_dedup()
        .quality_filter(min_score=0.1)
        .sample(rate=0.5, salt="smoke")
    )
    out, report = pipe.execute(docs)
    assert report[0].rows_in == n
    # monotone non-increasing flow
    flows = [report[0].rows_in] + [r.rows_out for r in report]
    assert all(a >= b for a, b in zip(flows, flows[1:]))
    assert report[-1].rows_out == out.count()


def test_curate_into_partitioned_table(spark, tmp_path):
    # Release flow: curate -> overwrite a split-partitioned catalog
    # table; the manifest comes from the same write action, and split
    # filters prune partitions on read-back.
    from serverless_data_lake_spark.catalog import TableStore
    from serverless_data_lake_spark.config import LakeConfig

    store = TableStore(spark, LakeConfig(root=str(tmp_path / "lake")))
    rows = [
        (i, f"document number {i} about topic {i % 7} with several "
            f"unique words tail{i}")
        for i in range(60)
    ] + [(100, "document number 1 about topic 1 with several unique "
               "words tail1")]  # byte-identical to doc 1's text
    docs = spark.createDataFrame(rows, SCHEMA)

    pipe = (
        CurationPipeline("doc_id", "text")
        .exact_dedup()
        .length_filter(min_tokens=5)
        .assign_splits({"train": 0.8, "val": 0.1, "test": 0.1}, salt="w")
    )
    out, report = pipe.execute(
        docs,
        sink=lambda df: store.create_or_replace(
            "corpus_gold", "curated", df, [], ["split"]
        ),
    )
    assert report[0].rows_in == 61
    assert report[-1].rows_out == 60  # doc 100 = exact dup, dropped

    back = store.read("corpus_gold", "curated")
    assert back.count() == 60
    splits = {
        r["split"]: r["n"]
        for r in back.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert sum(splits.values()) == 60 and set(splits) <= {
        "train", "val", "test",
    }
    # Partition pruning: a split filter must reach the scan as a
    # partition filter, not a post-scan predicate.
    plan = (
        back.filter(F.col("split") == "train")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan and "split" in plan.split(
        "PartitionFilters:"
    )[1][:120]


def test_repetition_filter_stage(spark):
    docs = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now buy now"),
            (2, "a varied sentence with mostly distinct word choices"),
        ],
        SCHEMA,
    )
    pipe = CurationPipeline("doc_id", "text").repetition_filter(
        max_dup_gram_frac=0.5
    )
    kept = {}
    _out, report = pipe.execute(
        docs, sink=lambda d: kept.update(
            {r["doc_id"]: True for r in d.collect()}
        )
    )
    assert sorted(kept) == [2]
    assert report[-1].rows_dropped == 1


def test_eager_stage_inputs_compute_once(spark):
    """Stages whose operator runs driver actions over its input
    (near_dedup's closure, rebalance's count+collect) must read a
    materialized cache, not re-execute the upstream chain per
    action. An accumulator inside a mapInPandas tap on the raw input
    counts total row-consumptions across the whole execute()."""
    rows = [
        (i, f"document number {i} about topic {i % 3} with plenty of "
            f"filler words to pass every quality and length gate",
         f"https://site{i % 4}.example.com/p/{i}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, url string")
    acc = spark.sparkContext.accumulator(0)

    def tap(batches):
        for b in batches:
            acc.add(len(b))
            yield b

    tapped = df.mapInPandas(tap, df.schema)
    pipe = (
        CurationPipeline("doc_id", "text")
        .exact_dedup()
        .near_dedup(method="minhash", threshold=0.8)
        .length_filter(min_tokens=5)
        .rebalance_sources("url", max_frac=0.5)
        .assign_splits({"train": 0.5, "val": 0.5})
    )
    out, report = pipe.execute(tapped)
    # Exactly ONE full pass over the raw input: the first eager
    # boundary's materialization. Everything downstream reuses the
    # caches (closure iterations, rebalance collect, final action).
    assert acc.value == 40
    assert report[0].stage == "exact_dedup" and report[0].rows_in == 40
    assert report[-1].stage == "assign_splits"
    assert report[-1].rows_out == 40  # nothing dropped in this corpus
    # Caches released.
    assert pipe._persisted == []


def test_make_release_cli(spark, tmp_path):
    """The one-command release (tools/make_release.py): curated
    split-partitioned parquet + packed train sequences + manifest,
    reproducible across reruns."""
    import json
    import sys

    sys.path.insert(0, "tools")
    from make_release import main

    out = str(tmp_path / "rel")
    rc = main([
        "--sf-dir", "/root/testdata/sf0.001",
        "--out", out,
        "--capacity", "128",
        "--near-dedup",
        "--eval-frac", "50",
        "--min-tokens", "3",
        "--sample-rate", "0.9",
    ])
    assert rc == 0
    man = json.load(open(tmp_path / "rel" / "manifest.json"))
    stages = [s["stage"] for s in man["stages"]]
    assert stages[0] == "exact_dedup" and "decontaminate" in stages
    # The audit table rode along: one row per eval doc, leak counts
    # consistent with the decontaminate stage's drops.
    cont = man["contamination"]
    assert cont["eval_docs"] > 0
    decon = next(s for s in man["stages"] if s["stage"] == "decontaminate")
    assert cont["contaminated_pairs"] >= decon["dropped"]
    assert man["outputs"]["curated_rows"] > 0
    assert man["outputs"]["sequences"] > 0
    curated = spark.read.parquet(man["outputs"]["curated"])
    assert set(r.split for r in curated.select("split").distinct().collect()) \
        <= {"train", "val", "test"}
    packed = spark.read.parquet(man["outputs"]["packed"])
    full = packed.filter("n_tokens = 128").count()
    assert full >= packed.count() - 1  # all but the tail chunk full

    # Reproducibility: identical selections on rerun.
    out2 = str(tmp_path / "rel2")
    main(["--sf-dir", "/root/testdata/sf0.001", "--out", out2,
          "--capacity", "128", "--near-dedup", "--eval-frac", "50",
          "--min-tokens", "3", "--sample-rate", "0.9"])
    a = sorted(r.doc_id for r in curated.collect())
    b = sorted(r.doc_id for r in spark.read.parquet(out2 + "/curated").collect())
    assert a == b


def test_make_release_external_eval_path(spark, tmp_path):
    """--eval-path decontaminates against a SEPARATE eval corpus
    file (the production shape) instead of the corpus-derived
    --eval-frac slice: a planted eval doc sharing a 13-gram with a
    training doc must remove that training doc from the release."""
    import json
    import sys

    sys.path.insert(0, "tools")
    from make_release import main

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    leaked = docs.orderBy("doc_id").limit(1).collect()[0]
    eval_file = str(tmp_path / "eval.jsonl")
    with open(eval_file, "w") as f:
        f.write(json.dumps({"question": leaked.text}) + "\n")
        f.write(json.dumps({"question": "benchmark question with no "
                            "overlap whatsoever zq xv jk"}) + "\n")

    out = str(tmp_path / "rel")
    rc = main([
        "--sf-dir", "/root/testdata/sf0.001",
        "--out", out,
        "--capacity", "128",
        "--eval-path", eval_file,
        "--eval-text-col", "question",
        "--decontaminate-n", "13",
        "--min-tokens", "3",
    ])
    assert rc == 0
    man = json.load(open(tmp_path / "rel" / "manifest.json"))
    decon = next(s for s in man["stages"] if s["stage"] == "decontaminate")
    assert decon["dropped"] >= 1  # the leaked training doc went
    curated = spark.read.parquet(man["outputs"]["curated"])
    assert curated.filter(
        F.col("doc_id") == leaked.doc_id
    ).count() == 0
    assert man["contamination"]["eval_docs"] == 2


def test_make_release_eval_path_missing_column(spark, tmp_path):
    import sys

    import pytest

    sys.path.insert(0, "tools")
    from make_release import main

    eval_file = str(tmp_path / "eval.jsonl")
    with open(eval_file, "w") as f:
        f.write('{"prompt": "x"}\n')
    with pytest.raises(SystemExit, match="eval-text-col"):
        main(["--sf-dir", "/root/testdata/sf0.001",
              "--out", str(tmp_path / "rel"),
              "--eval-path", eval_file])


def test_length_filter_bpe_mode(spark):
    """length_filter(token_mode='bpe') bounds in real subword tokens:
    a short-word doc and a rare-long-word doc with equal WHITESPACE
    counts diverge under BPE (rare words split into many pieces)."""
    from serverless_data_lake_spark.operators.bpe import default_tokenizer

    tok = default_tokenizer()
    short = "the data lake stores documents"
    rare = "floccinaucinihilipilification antidisestablishmentarianism xylophonically quizzically bamboozled"
    assert len(short.split()) == len(rare.split())
    cut = (tok.count(short) + tok.count(rare)) // 2
    df = spark.createDataFrame(
        [(1, short), (2, rare)], "doc_id long, text string"
    )
    out, _report = (
        CurationPipeline("doc_id", "text")
        .length_filter(max_tokens=cut, token_mode="bpe")
        .execute(df)
    )
    assert [r.doc_id for r in out.collect()] == [1]
