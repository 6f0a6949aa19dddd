"""Trainable quality classifier (operators/classifier.py):
separability on planted data, JVM-only scoring plan, model
persistence round-trip, and the frozen shipped model's probes."""

from __future__ import annotations

import random

import pytest

from serverless_data_lake_spark.operators.classifier import (
    QUALITY_SCORE_COL,
    score_quality,
    train_quality_classifier,
)

SCHEMA = "doc_id long, text string, label double"

CLEAN_WORDS = (
    "the report describes how the committee reviewed evidence and "
    "reached a careful conclusion about water management policy"
).split()
JUNK_WORDS = "zx qq7 ### lol111 @@@ buyy now$$ freee клик spam".split()


def _labeled(n=80, seed=3):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        clean = i % 2 == 0
        words = CLEAN_WORDS if clean else JUNK_WORDS
        text = " ".join(rng.choice(words) for _ in range(25))
        rows.append((i, text, 1.0 if clean else 0.0))
    return rows


@pytest.fixture(scope="module")
def model(spark):
    df = spark.createDataFrame(_labeled(), SCHEMA)
    return train_quality_classifier(df, num_features=1 << 12)


def test_separates_planted_distributions(spark, model):
    rng = random.Random(99)
    held = spark.createDataFrame(
        [
            (1000 + i,
             " ".join(
                 rng.choice(CLEAN_WORDS if i % 2 == 0 else JUNK_WORDS)
                 for _ in range(25)
             ),
             1.0 if i % 2 == 0 else 0.0)
            for i in range(40)
        ],
        SCHEMA,
    )
    scored = score_quality(held, model)
    rows = scored.select("label", QUALITY_SCORE_COL).collect()
    clean = [r[QUALITY_SCORE_COL] for r in rows if r.label == 1.0]
    junk = [r[QUALITY_SCORE_COL] for r in rows if r.label == 0.0]
    assert min(clean) > max(junk)  # fully separable held-out set
    assert min(clean) > 0.8 and max(junk) < 0.2


def test_scoring_plan_is_jvm_only(spark, model):
    df = spark.createDataFrame([(1, "some text here", 0.0)], SCHEMA)
    plan = score_quality(df, model)._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan


def test_output_schema_is_clean(spark, model):
    df = spark.createDataFrame([(1, "hello world text", 0.0)], SCHEMA)
    out = score_quality(df, model)
    assert set(out.columns) == {"doc_id", "text", "label", QUALITY_SCORE_COL}


def test_model_roundtrips_through_disk(spark, model, tmp_path):
    from pyspark.ml import PipelineModel

    path = str(tmp_path / "qc_model")
    model.write().overwrite().save(path)
    loaded = PipelineModel.load(path)
    df = spark.createDataFrame(
        [(1, " ".join(CLEAN_WORDS), 1.0), (2, " ".join(JUNK_WORDS), 0.0)],
        SCHEMA,
    )
    a = {r.doc_id: r[QUALITY_SCORE_COL]
         for r in score_quality(df, model).collect()}
    b = {r.doc_id: r[QUALITY_SCORE_COL]
         for r in score_quality(df, loaded).collect()}
    assert a == pytest.approx(b)


def test_frozen_model_reproduces_pinned_probe_scores(spark):
    """The shipped qc_model artifact + the entry's `_QC_PROBES`
    literals + the training tool's PROBES must agree three ways
    (r12): same probe texts, same 6-dp scores, and the >0.5/<0.5
    side gates hold — the driver gate's oracle pins these as
    literals, so drift here means the CORRECTNESS row fails."""
    import __spark_entry__ as entry
    from tools.train_qc_model import PROBES

    from serverless_data_lake_spark.operators.classifier import (
        default_quality_model,
        score_quality,
    )

    # single source of truth: entry literals == tool probe texts
    assert [(k, t) for k, t, _s, _q in entry._QC_PROBES] == PROBES

    model = default_quality_model()
    probes = spark.createDataFrame(PROBES, "key string, text string")
    got = {
        r["key"]: r["quality_prob"]
        for r in score_quality(probes, model).collect()
    }
    for key, _text, frozen, is_quality in entry._QC_PROBES:
        assert round(got[key], 6) == frozen, key
        assert (got[key] > 0.5) == is_quality, key
