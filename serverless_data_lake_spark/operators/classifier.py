"""Trainable document-quality classifier — the GPT-3/CCNet pattern:
a linear model over hashed bag-of-token features separates "looks
like the reference corpus" from "looks like raw crawl" (Brown et
al. 2020 appendix A trained exactly this — a classifier on curated
positives vs Common Crawl negatives — and kept documents by a
score-dependent coin; CCNet used a fastText linear model the same
way). Complements the closed-form signals (:mod:`operators.text`
``quality_score``, :mod:`operators.lm` perplexity): this one LEARNS
the boundary from examples.

Spark-first shape: tokenization, hashed term frequencies
(``HashingTF`` — the hashing trick, no vocabulary state), and
logistic regression all run JVM-side through ``pyspark.ml``;
scoring is a pure model transform (one map over the corpus, no
shuffle, no Python in the row path). Training cost is the L-BFGS
passes over the (small) labeled set — the 100 TB corpus only ever
sees the final ``transform``.

Word + bigram features (fastText style): bigrams carry the word-
order signal a pure bag of words loses; both hash into one shared
feature space.
"""

from __future__ import annotations

import os

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import HashingTF, SQLTransformer
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUALITY_SCORE_COL = "quality_prob"


def _token_and_bigram_sql(text_col: str) -> str:
    """SQL for the token+bigram array, engine-side (SQLTransformer
    keeps the whole pipeline — including preprocessing — inside the
    saved PipelineModel, so a loaded model scores raw text with no
    Python glue)."""
    toks = (
        f"filter(split(lower({text_col}), '\\\\s+'), x -> x != '')"
    )
    return (
        "SELECT *, concat("
        f"  __qc_toks,"
        "  CASE WHEN size(__qc_toks) < 2"
        "       THEN array()"
        "       ELSE transform(sequence(0, size(__qc_toks) - 2),"
        "                      i -> concat(element_at(__qc_toks, i + 1),"
        "                                  ' ',"
        "                                  element_at(__qc_toks, i + 2)))"
        "  END) AS __qc_feats "
        f"FROM (SELECT *, {toks} AS __qc_toks FROM __THIS__)"
    )


def train_quality_classifier(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    num_features: int = 1 << 18,
    reg_param: float = 1e-4,
    max_iter: int = 50,
) -> PipelineModel:
    """Fit the classifier on a labeled set (1.0 = reference-quality
    positives, 0.0 = crawl negatives). Returns a ``PipelineModel``
    whose ``transform`` adds ``quality_prob`` — save/load it with
    the standard ml persistence (``model.write().save(path)``)."""
    pipeline = Pipeline(
        stages=[
            SQLTransformer(statement=_token_and_bigram_sql(text_col)),
            HashingTF(
                inputCol="__qc_feats",
                outputCol="__qc_vec",
                numFeatures=num_features,
            ),
            LogisticRegression(
                featuresCol="__qc_vec",
                labelCol=label_col,
                regParam=reg_param,
                maxIter=max_iter,
                probabilityCol="__qc_prob",
            ),
        ]
    )
    model = pipeline.fit(
        labeled.withColumn(label_col, F.col(label_col).cast("double"))
    )
    # Round-trip the fitted model through disk to DROP the training
    # summary: LogisticRegressionModel.trainingSummary holds the
    # SparkSession (whose ObservationManager is not serializable),
    # and the scoring UDF's closure captures the model — so a plan
    # containing any observe() node would fail task serialization
    # (seen from CurationPipeline audit taps). Persistence never
    # writes the summary, so the reloaded model is closure-clean.
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sdls_qc_model_")
    try:
        model.write().overwrite().save(tmp)
        model = PipelineModel.load(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return model


#: The frozen classifier shipped with the package (r12): trained by
#: ``tools/train_qc_model.py`` on its fixed labeled set and committed
#: as a standard ml-persistence directory (~64 KB — JSON metadata +
#: one coefficient parquet). The BPE-vocab precedent: scoring frozen
#: probes through the REAL distributed pipeline yields constants an
#: oracle can pin as literals at every scale; any change to the
#: tokenizer SQL, hashing, or training set shifts them and fails the
#: gate loudly. Regenerate with the tool if the operator changes.
_QC_MODEL_DIR = os.path.join(os.path.dirname(__file__), "qc_model")


def default_quality_model() -> PipelineModel:
    """Load the frozen document-quality ``PipelineModel`` shipped
    with the package (train your own with
    :func:`train_quality_classifier` for real corpora — this one is
    a 20-document demonstration model whose value is pinning the
    scoring path, not its boundary)."""
    return PipelineModel.load(_QC_MODEL_DIR)


def score_quality(
    df: DataFrame, model: PipelineModel, keep_intermediate: bool = False
) -> DataFrame:
    """Add ``quality_prob`` in [0, 1] to every document — one
    JVM-side map over the corpus (``vector_to_array`` is a JVM
    expression despite living in ``pyspark.ml.functions``; it is not
    SQL-registered, which is why the extraction happens here rather
    than in a SQLTransformer stage inside the model)."""
    from pyspark.ml.functions import vector_to_array

    out = model.transform(df).withColumn(
        QUALITY_SCORE_COL,
        vector_to_array(F.col("__qc_prob")).getItem(1).cast("double"),
    )
    if keep_intermediate:
        return out
    return out.drop(
        "__qc_toks", "__qc_feats", "__qc_vec",
        "rawPrediction", "__qc_prob", "prediction",
    )

