"""Bigram-LM perplexity scoring (operators/lm.py) against an
independent brute-force reference, plus the CurationPipeline hook."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from serverless_data_lake_spark.operators.lm import (
    NGramLM,
    perplexity_score,
    train_bigram_lm,
)

SCHEMA = "doc_id long, text string"

REF = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the rug"),
    (3, "a cat and a dog sat together"),
]


def ref_lm(texts):
    uni, bi = Counter(), Counter()
    for t in texts:
        toks = t.lower().split()
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    return uni, bi, len(uni) + 1, sum(uni.values())


def ref_score(text, uni, bi, vocab, total, alpha=0.1, lam=0.7):
    toks = text.lower().split()
    if len(toks) < 2:
        return 0, None
    lps = []
    for a, b in zip(toks, toks[1:]):
        c1 = uni.get(a, 0)
        lam_eff = lam * c1 / (c1 + 1)
        p_bi = (bi.get((a, b), 0) + alpha) / (c1 + alpha * vocab)
        p_uni = (uni.get(b, 0) + alpha) / (total + alpha * vocab)
        lps.append(math.log(lam_eff * p_bi + (1 - lam_eff) * p_uni))
    return len(lps), sum(lps) / len(lps)


@pytest.fixture(scope="module")
def lm(spark):
    return train_bigram_lm(
        spark.createDataFrame(REF, SCHEMA)
    ).persist()


def collected(lm: NGramLM):
    """The distributed LM's two count tables collected into a
    ``LocalNGramLM``: the baseline the local training routes must
    reproduce, and the broadcast model the in-row scorer consumes."""
    import numpy as np

    from serverless_data_lake_spark.operators.lm import _local_from_frames

    uni = lm.unigrams.toPandas()
    bi = lm.bigrams.toPandas()
    return _local_from_frames(
        uni["w1"].to_numpy(np.int64),
        uni["c1"].to_numpy(np.int64),
        bi["w1"].to_numpy(np.int64),
        bi["w2"].to_numpy(np.int64),
        bi["c12"].to_numpy(np.int64),
        vocab_size=lm.vocab_size,
        total_tokens=lm.total_tokens,
    )


class TestLM:
    def test_counts_match_reference(self, spark, lm):
        uni, bi, vocab, total = ref_lm([t for _i, t in REF])
        assert lm.vocab_size == vocab
        assert lm.total_tokens == total
        got_uni = {
            r["w1"]: r["c1"] for r in lm.unigrams.collect()
        }
        assert sorted(got_uni.values()) == sorted(uni.values())
        assert lm.bigrams.count() == len(bi)

    def test_scores_match_bruteforce(self, spark, lm):
        uni, bi, vocab, total = ref_lm([t for _i, t in REF])
        docs = [
            (10, "the cat sat on the rug"),       # in-distribution
            (11, "rug mat dog the on sat a"),     # shuffled words
            (12, "completely novel tokens here"),  # all-unseen
            (13, "single"),                        # no bigrams
            (14, ""),
        ]
        out = {
            r["doc_id"]: r
            for r in perplexity_score(
                spark.createDataFrame(docs, SCHEMA), "doc_id", lm
            ).collect()
        }
        for i, text in docs:
            n, lp = ref_score(text, uni, bi, vocab, total)
            assert out[i]["n_bigrams"] == n
            if lp is None:
                assert out[i]["avg_logp"] is None
            else:
                assert out[i]["avg_logp"] == pytest.approx(lp, rel=1e-12)
                assert out[i]["perplexity"] == pytest.approx(
                    math.exp(-lp), rel=1e-12
                )
        # The in-distribution doc must beat the shuffled one.
        assert (
            out[10]["perplexity"] < out[11]["perplexity"]
        )
        assert out[11]["perplexity"] < out[12]["perplexity"]

    def test_plan_is_jvm_only(self, spark, lm):
        df = spark.createDataFrame(REF, SCHEMA)
        plan = (
            perplexity_score(df, "doc_id", lm)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan

    def test_curation_hook(self, spark, lm):
        from serverless_data_lake_spark.pipeline.curation import (
            CurationPipeline,
        )

        docs = spark.createDataFrame(
            [
                (1, "the cat sat on the mat"),
                (2, "zz qq ww ee rr tt yy"),  # far out of distribution
            ],
            SCHEMA,
        )
        # Threshold between the two measured perplexities.
        ppl = {
            r["doc_id"]: r["perplexity"]
            for r in perplexity_score(docs, "doc_id", lm).collect()
        }
        cut = (ppl[1] + ppl[2]) / 2
        pipe = CurationPipeline("doc_id", "text").perplexity_filter(
            lm, max_perplexity=cut
        )
        kept = {}
        _out, report = pipe.execute(
            docs, sink=lambda d: kept.update(
                {r["doc_id"]: True for r in d.collect()}
            )
        )
        assert sorted(kept) == [1]
        assert report[-1].rows_out == 1


class TestInRowScoring:
    """r10: the map-only scorer (broadcast LocalNGramLM + one Arrow
    pandas_udf) must be semantically identical to the join-based
    plan — same smoothing arithmetic, same NULL rules — and its plan
    must be exchange-free."""

    DOCS = [
        (10, "the cat sat on the rug"),
        (11, "rug mat dog the on sat a"),
        (12, "completely novel tokens here"),  # all-unseen
        (13, "single"),
        (14, ""),
        (15, "the dog sat on the mat and the cat sat too"),
        (16, None),  # NULL text: join path pads via explode_outer;
        # the kernel must see None as an empty token array (r10 fix)
    ]

    def test_training_routes_identical(self, spark, lm):
        import numpy as np

        from serverless_data_lake_spark.operators.lm import (
            train_bigram_lm_local,
        )

        # NULL text must be a training no-op on BOTH routes (r11
        # advisory: the partials route's np.asarray(None) crashed
        # where the shuffle route's explode_outer+isNotNull and the
        # scorer's None-guard already tolerated it) — so the NULL
        # row is added here and the counts must still equal the
        # NULL-free collected baseline.
        ref = spark.createDataFrame(REF + [(4, None)], SCHEMA)
        via_collect = collected(lm)
        for mode in ("partials", "shuffle"):
            loc = train_bigram_lm_local(ref, merge=mode)
            assert loc.vocab_size == via_collect.vocab_size
            assert loc.total_tokens == via_collect.total_tokens
            for f in (
                "vocab_hashes",
                "uni_counts",
                "bigram_keys",
                "bigram_counts",
            ):
                assert np.array_equal(
                    getattr(loc, f), getattr(via_collect, f)
                ), (mode, f)

    def test_inrow_equals_join_path(self, spark, lm):
        from serverless_data_lake_spark.operators.lm import (
            perplexity_score_inrow,
        )

        docs = spark.createDataFrame(self.DOCS, SCHEMA)
        joined = {
            r["doc_id"]: r
            for r in perplexity_score(docs, "doc_id", lm).collect()
        }
        inrow = {
            r["doc_id"]: r
            for r in perplexity_score_inrow(
                docs, "doc_id", collected(lm)
            ).collect()
        }
        assert set(joined) == set(inrow)
        for i in joined:
            assert joined[i]["n_bigrams"] == inrow[i]["n_bigrams"], i
            for col in ("avg_logp", "perplexity"):
                a, b = joined[i][col], inrow[i][col]
                if a is None:
                    assert b is None, (i, col)
                else:
                    # same IEEE expression tree; only log() may differ
                    # in the last ulp across libm/JVM (the entry's
                    # 6-dp rounding contract absorbs far more)
                    assert b == pytest.approx(a, rel=1e-12), (i, col)

    def test_alpha_zero_unseen_bigrams_masked_like_join_path(
        self, spark, lm
    ):
        """At alpha=0 an unseen bigram's probability is exactly 0:
        the join path scores it F.log(0)=NULL which avg() skips while
        n_bigrams still counts the row — the kernel must mask the
        same way (an all-unseen doc keeps n_bigrams>0, NULL avg)."""
        from serverless_data_lake_spark.operators.lm import (
            perplexity_score_inrow,
        )

        docs = spark.createDataFrame(self.DOCS, SCHEMA)
        joined = {
            r["doc_id"]: r
            for r in perplexity_score(
                docs, "doc_id", lm, alpha=0.0
            ).collect()
        }
        inrow = {
            r["doc_id"]: r
            for r in perplexity_score_inrow(
                docs, "doc_id", collected(lm), alpha=0.0
            ).collect()
        }
        assert joined[12]["n_bigrams"] == 3
        assert joined[12]["avg_logp"] is None
        for i in joined:
            assert inrow[i]["n_bigrams"] == joined[i]["n_bigrams"]
            a, b = joined[i]["avg_logp"], inrow[i]["avg_logp"]
            if a is None:
                assert b is None, i
            else:
                assert b == pytest.approx(a, rel=1e-12), i

    def test_inrow_plan_has_no_exchange(self, spark, lm):
        from serverless_data_lake_spark.operators.lm import (
            perplexity_score_inrow,
        )

        docs = spark.createDataFrame(self.DOCS, SCHEMA)
        plan = (
            perplexity_score_inrow(docs, "doc_id", collected(lm))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan  # map-only: zero shuffles
        assert "ArrowEvalPython" in plan  # the one vectorized kernel

    def test_curation_filter_accepts_local_lm(self, spark, lm):
        """pipeline.curation.perplexity_filter dispatches on the LM
        type: a LocalNGramLM routes through the map-only scorer and
        must keep exactly the documents the NGramLM path keeps."""
        from serverless_data_lake_spark.pipeline.curation import (
            CurationPipeline,
        )

        docs = spark.createDataFrame(
            [
                (1, "the cat sat on the mat"),
                (2, "zz qq ww ee rr tt yy"),
            ],
            SCHEMA,
        )
        ppl = {
            r["doc_id"]: r["perplexity"]
            for r in perplexity_score(docs, "doc_id", lm).collect()
        }
        cut = (ppl[1] + ppl[2]) / 2
        kept: dict = {}
        pipe = CurationPipeline("doc_id", "text").perplexity_filter(
            collected(lm), max_perplexity=cut
        )
        _out, report = pipe.execute(
            docs,
            sink=lambda d: kept.update(
                {r["doc_id"]: True for r in d.collect()}
            ),
        )
        assert sorted(kept) == [1]
        assert report[-1].rows_out == 1

    def test_empty_training_corpus(self, spark):
        from serverless_data_lake_spark.operators.lm import (
            perplexity_score_inrow,
            train_bigram_lm_local,
        )

        empty = spark.createDataFrame([], SCHEMA)
        loc = train_bigram_lm_local(empty)
        assert loc.vocab_size == 1 and loc.total_tokens == 0
        out = {
            r["doc_id"]: r
            for r in perplexity_score_inrow(
                spark.createDataFrame(self.DOCS, SCHEMA), "doc_id", loc
            ).collect()
        }
        # every bigram is unseen but alpha-smoothing still yields a
        # finite probability; short docs stay NULL
        assert out[13]["avg_logp"] is None
        assert out[10]["avg_logp"] is not None


class TestDSIR:
    def test_lm_ratio_importance_sampling_enriches_target_domain(self, spark):
        """The DSIR composition (operators/sampling.importance_sample
        docstring): weight = exp(avg_logp_target − avg_logp_general);
        sampling a mixed corpus with that weight keeps target-domain
        documents at a far higher rate than off-domain ones."""
        from pyspark.sql import functions as F

        from serverless_data_lake_spark.operators.sampling import (
            importance_sample,
        )

        legal = [
            f"the court held that the contract clause {i} was void"
            for i in range(30)
        ]
        chat = [
            f"lol ok see you later number {i} haha sounds good"
            for i in range(30)
        ]
        target_lm = train_bigram_lm(
            spark.createDataFrame(list(enumerate(legal)), SCHEMA)
        ).persist()
        general_lm = train_bigram_lm(
            spark.createDataFrame(
                list(enumerate(legal[:5] + chat)), SCHEMA
            )
        ).persist()

        mixed = spark.createDataFrame(
            [(i, t) for i, t in enumerate(legal)]
            + [(1000 + i, t) for i, t in enumerate(chat)],
            SCHEMA,
        )
        t = perplexity_score(mixed, "doc_id", target_lm).select(
            F.col("doc_id").alias("tid"), F.col("avg_logp").alias("lp_t")
        )
        g = perplexity_score(mixed, "doc_id", general_lm).select(
            F.col("doc_id").alias("gid"), F.col("avg_logp").alias("lp_g")
        )
        scored = mixed.join(t, mixed.doc_id == t.tid).join(
            g, mixed.doc_id == g.gid
        )
        kept = {
            r["doc_id"]
            for r in importance_sample(
                scored, "doc_id",
                F.exp(F.col("lp_t") - F.col("lp_g")), scale=0.5,
            ).collect()
        }
        n_target = sum(1 for k in kept if k < 1000)
        n_off = sum(1 for k in kept if k >= 1000)
        assert n_target >= 15          # target docs kept aggressively
        assert n_off <= n_target // 3  # off-domain heavily thinned


def test_short_docs_score_zero_bigrams_not_null(spark):
    """r9 review: a 0/1-token document HAS zero bigrams — it must
    appear in the scored output with n_bigrams=0 and NULL
    avg_logp/perplexity (the oracle COALESCEs to the same shape)."""
    from serverless_data_lake_spark.operators.lm import (
        perplexity_score,
        train_bigram_lm,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "single"),
            (3, ""),
            (4, "the cat ran"),
        ],
        "doc_id long, text string",
    )
    lm = train_bigram_lm(docs, "text")
    rows = {
        r["doc_id"]: r
        for r in perplexity_score(docs, "doc_id", lm).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    for short in (2, 3):
        assert rows[short]["n_bigrams"] == 0
        assert rows[short]["avg_logp"] is None
        assert rows[short]["perplexity"] is None
    assert rows[1]["n_bigrams"] == 5 and rows[4]["n_bigrams"] == 2
    assert rows[1]["perplexity"] is not None
