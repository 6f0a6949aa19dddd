"""Operator correctness: the reference's one real-compute anchor
(filter_df: 3 rows, dup PK → 2 rows; tests/test_processing.py:8-18)
plus ground-truth checks for the scale-dedup/similarity family."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serverless_data_lake_spark.operators.dedup import (
    dedup_exact,
    keep_one_per_key,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    simhash_signatures,
)
from serverless_data_lake_spark.operators.similarity import (
    cosine_topk,
    embedding_near_duplicates,
    lsh_bucketed_topk,
)
from serverless_data_lake_spark.operators.text import (
    detect_language,
    quality_score,
    token_count,
)


class TestPkDedup:
    def test_reference_fixture(self, spark):
        """3 rows, duplicate PK, keep earliest _insert_date → 2 rows."""
        df = spark.createDataFrame(
            [
                (1, "first", "2024-01-01T00:00:00"),
                (1, "second", "2024-01-01T00:00:01"),
                (2, "only", "2024-01-01T00:00:02"),
            ],
            ["id", "tag", "_insert_date"],
        )
        out = keep_one_per_key(df, ["id"]).orderBy("id").collect()
        assert len(out) == 2
        assert out[0].tag == "first"

    def test_descending(self, spark):
        df = spark.createDataFrame(
            [(1, "a", "t1"), (1, "b", "t2")], ["id", "tag", "_insert_date"]
        )
        out = keep_one_per_key(df, ["id"], ascending=False).collect()
        assert out[0].tag == "b"

    def test_composite_keys(self, spark):
        df = spark.createDataFrame(
            [(1, "x", "a", "t1"), (1, "x", "b", "t2"), (1, "y", "c", "t1")],
            ["k1", "k2", "tag", "_insert_date"],
        )
        assert keep_one_per_key(df, ["k1", "k2"]).count() == 2


class TestExactDedup:
    def test_min_id_representative(self, spark):
        df = spark.createDataFrame(
            [(3, "dup"), (1, "dup"), (2, "unique")], ["id", "text"]
        )
        out = {r.id for r in dedup_exact(df, ["text"], id_col="id").collect()}
        assert out == {1, 2}

    def test_without_id(self, spark):
        df = spark.createDataFrame([("a",), ("a",), ("b",)], ["text"])
        assert dedup_exact(df, ["text"]).count() == 2


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (0, base),
        (1, base),  # exact duplicate
        (2, base.replace("today", "tomorrow")),  # near-dup
        (3, "completely different content about spark query engines and shuffles"),
        (4, "another unrelated document mentioning benchmarks and optimizers"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestSimilarityDedup:
    def test_jaccard_ground_truth(self, spark, near_dup_docs):
        pairs = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(
                near_dup_docs, "doc_id", "text", n=3, threshold=0.5
            ).collect()
        }
        assert (0, 1) in pairs  # identical
        assert (0, 2) in pairs and (1, 2) in pairs  # near-dup
        assert not any(3 in p or 4 in p for p in pairs)

    def test_df_cap_drops_stop_phrase_pairs(self, spark):
        """A shared stop-phrase must not create pairs once its grams
        exceed max_doc_freq; genuinely near-dup pairs (overlap in
        rare grams) survive the cap."""
        stop = "click here to subscribe to our newsletter"
        rows = [
            (0, f"alpha beta gamma delta epsilon zeta {stop}"),
            (1, f"alpha beta gamma delta epsilon eta {stop}"),
            (2, f"totally different words one two three {stop}"),
            (3, f"more unrelated text four five six {stop}"),
            (4, f"yet another separate document seven eight {stop}"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        uncapped = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=0.1
            ).collect()
        }
        capped = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=0.1, max_doc_freq=2
            ).collect()
        }
        # The stop-phrase grams appear in all 5 docs -> dropped by the
        # cap; docs 0/1 still pair via their rare shared grams, while
        # stop-phrase-only pairs (e.g. 2-3) lose their intersection.
        assert (0, 1) in capped
        assert (2, 3) in uncapped and (2, 3) not in capped

    def test_df_frac_cap_scales_with_corpus(self, spark):
        """max_doc_frac expresses the cap as a corpus fraction: on a
        10-doc corpus frac=0.2 means cap 2 (stop-phrase grams in all
        10 docs are pruned), while frac=1.0 means cap 10 (nothing
        pruned — identical to exact). The combined form takes the max
        of floor and fraction."""
        stop = "click here to subscribe to our newsletter"
        rows = [(i, f"doc number {i} unique words {stop}") for i in range(8)]
        rows += [
            (8, f"alpha beta gamma delta epsilon zeta {stop}"),
            (9, f"alpha beta gamma delta epsilon eta {stop}"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        exact = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=0.1
            ).collect()
        }
        tight = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=0.1, max_doc_frac=0.2
            ).collect()
        }
        loose = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=0.1, max_doc_frac=1.0
            ).collect()
        }
        assert loose == exact
        assert (8, 9) in tight  # rare-gram overlap survives
        assert (0, 1) in exact and (0, 1) not in tight  # stop-only pair
        # floor dominates when larger than the fraction
        floored = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=0.1,
                max_doc_freq=1000, max_doc_frac=0.2,
            ).collect()
        }
        assert floored == exact

    def test_df_cap_exact_when_cap_above_all_frequencies(
        self, spark, near_dup_docs
    ):
        exact = ngram_jaccard_pairs(
            near_dup_docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
        capped = ngram_jaccard_pairs(
            near_dup_docs, "doc_id", "text", n=3, threshold=0.5,
            max_doc_freq=1000,
        ).collect()
        assert {(r.id_a, r.id_b, r.jaccard) for r in capped} == {
            (r.id_a, r.id_b, r.jaccard) for r in exact
        }

    def test_df_cap_plan_filters_before_join(self, spark, near_dup_docs):
        plan = ngram_jaccard_pairs(
            near_dup_docs, "doc_id", "text", max_doc_freq=5
        )._jdf.queryExecution().optimizedPlan().toString()
        # The cap shows up as a pre-join aggregate over the gram hash
        # with a frequency filter — i.e. head grams are dropped
        # BEFORE the self-join, not after.
        assert "__df" in plan

    def test_minhash_agrees_with_exact(self, spark, near_dup_docs):
        exact = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(
                near_dup_docs, "doc_id", "text", n=3, threshold=0.5
            ).collect()
        }
        lsh = {
            (r.id_a, r.id_b)
            # bands=32/rows=2: detection prob at s=0.5 is
            # 1-(1-0.25)^32 ≈ 1.0 — adequate for this low threshold.
            for r in minhash_lsh_pairs(
                near_dup_docs, "doc_id", "text",
                num_hashes=64, bands=32, verify_threshold=0.5,
            ).collect()
        }
        assert lsh == exact

    def test_band_hash_matches_sql_and_set_semantics(self, spark):
        """r12 regression: the PySpark-built band expression must
        equal the SQL-textual spelling. The r6-r11 inner lambda used
        the ``lambda t, _j=j:`` default-param idiom; PySpark picks
        the HOF form from the PARAMETER COUNT, so the default second
        parameter silently selected the two-argument
        ``(element, position)`` transform and the position column
        overrode the captured ``j`` — band hashes keyed on
        ``b*rows + gram_position`` (order-sensitive, both band rows
        identical). MinHash band hashes must be a function of the
        gram SET, not its order."""
        from serverless_data_lake_spark.operators.dedup import (
            _band_hash_arr,
        )

        g = spark.createDataFrame(
            [(1, [10, 20, 30, 40]), (2, [40, 30, 20, 10])],
            ["__cid", "__grams"],
        )
        built = {
            r["__cid"]: list(r.b)
            for r in g.select(
                "__cid", _band_hash_arr(F.col("__grams"), 4, 2).alias("b")
            ).collect()
        }
        g.createOrReplaceTempView("__band_fix_g")
        sql = {
            r["__cid"]: list(r.b)
            for r in spark.sql(
                """SELECT __cid, transform(sequence(0,3), b ->
                     xxhash64(
                       array_min(transform(__grams,
                                           t -> xxhash64(t, b*2+0))),
                       array_min(transform(__grams,
                                           t -> xxhash64(t, b*2+1))))) AS b
                   FROM __band_fix_g"""
            ).collect()
        }
        spark.catalog.dropTempView("__band_fix_g")
        assert built == sql
        # set semantics: permuting the gram array must not move a
        # document to different buckets.
        assert built[1] == built[2]

    def test_banded_rows_kernel_matches_expression_spec(self, spark):
        """The Arrow banding kernel (production path) must be
        bit-identical to the JVM expression spec ``_band_hash_arr``,
        including the empty/NULL-gram no-row contract."""
        from serverless_data_lake_spark.operators.dedup import (
            _band_hash_arr,
            _banded_rows,
        )

        g = spark.createDataFrame(
            [
                (1, [10, 20, 30, 40]),
                (2, [40, 30, 20, 10]),
                (3, [-5]),
                (4, []),
                (5, None),
            ],
            "`__cid` bigint, `__grams` array<bigint>",
        )
        kernel = _banded_rows(g, 4, 2, id_out="__cid")
        bases = F.col("__grams")
        # NULL gram arrays are excluded from the spec comparison:
        # ``xxhash64`` SKIPS null children, so the expression
        # spelling degenerates to the bare seed (__bh = 42) there —
        # but NULL is unreachable from gram_hash_sets (NULL text
        # maps to []), and the kernel pins the sane no-row contract.
        hof = g.filter(bases.isNotNull()).select(
            F.col("__cid"),
            F.posexplode_outer(
                F.when(
                    F.size(bases) == 0, F.array().cast("array<bigint>")
                ).otherwise(_band_hash_arr(bases, 4, 2))
            ).alias("__band", "__bh"),
        ).filter(F.col("__bh").isNotNull())
        k = {tuple(r) for r in kernel.collect()}
        h = {tuple(r) for r in hof.collect()}
        assert k == h
        assert {r[0] for r in k} == {1, 2, 3}  # empty/NULL emit nothing

    def test_banded_rows_kernel_random_equivalence(self, spark):
        """Seeded-random kernel-vs-spec sweep: 200 gram arrays with
        extreme longs (MIN/MAX), duplicates, singletons and skewed
        lengths must produce identical banded rows through the Arrow
        kernel and the JVM expression spec."""
        import random

        from serverless_data_lake_spark.operators.dedup import (
            _band_hash_arr,
            _banded_rows,
        )

        rng = random.Random(20260816)
        extremes = [-(2**63), 2**63 - 1, 0, -1, 1, 42]
        rows = []
        for i in range(200):
            n = rng.choice([1, 2, 3, 7, 40, 150])
            g = [
                rng.choice(extremes)
                if rng.random() < 0.1
                else rng.randint(-(2**63), 2**63 - 1)
                for _ in range(n)
            ]
            if rng.random() < 0.2 and g:
                g = g + [g[0]]  # duplicates
            rows.append((i, g))
        df = spark.createDataFrame(
            rows, "`__cid` bigint, `__grams` array<bigint>"
        )
        kernel = {
            tuple(r) for r in _banded_rows(df, 8, 4, id_out="__cid").collect()
        }
        bases = F.col("__grams")
        spec = {
            tuple(r)
            for r in df.select(
                F.col("__cid"),
                F.posexplode_outer(
                    F.when(
                        F.size(bases) == 0,
                        F.array().cast("array<bigint>"),
                    ).otherwise(_band_hash_arr(bases, 8, 4))
                ).alias("__band", "__bh"),
            )
            .filter(F.col("__bh").isNotNull())
            .collect()
        }
        assert kernel == spec
        assert len(kernel) == 200 * 8

    def test_banded_rows_null_ids_emit_no_rows(self, spark):
        """NULL-id rows are filtered BEFORE the Arrow kernel (r13):
        a null id can never reach emitted pair output (every consumer
        joins or <-compares on the id), and with the null gone the
        int64 id column survives the Arrow→pandas round-trip as int64
        instead of widening to float64/NaN and failing the cast back
        to LongType (the r12 ADVICE item)."""
        from serverless_data_lake_spark.operators.dedup import (
            _banded_rows,
        )

        g = spark.createDataFrame(
            [(1, [10, 20, 30]), (None, [10, 20, 30]), (2, [7])],
            "`__cid` bigint, `__grams` array<bigint>",
        )
        out = _banded_rows(g, 4, 2, id_out="__cid")
        assert out.schema["__cid"].dataType.simpleString() == "bigint"
        rows = out.collect()
        assert {r["__cid"] for r in rows} == {1, 2}
        assert len(rows) == 2 * 4  # 4 bands each, no null-id rows

    def test_banded_rows_exotic_id_uses_expression_path(self, spark):
        """Id types without a lossless pandas round-trip (decimal
        here) route through the JVM expression spec — same
        (band, bh) values as the kernel produces for the same
        documents under a safe id type, null ids dropped
        identically."""
        from serverless_data_lake_spark.operators.dedup import (
            _banded_rows,
        )

        grams = [
            (1, [10, 20, 30, 40]),
            (2, [-5, 7]),
            (None, [1, 2, 3]),
            (3, []),
        ]
        safe = spark.createDataFrame(
            grams, "`__cid` bigint, `__grams` array<bigint>"
        )
        exotic = safe.select(
            F.col("__cid").cast("decimal(20,0)").alias("__cid"),
            "__grams",
        )
        k = {
            (int(r["__cid"]), r["__band"], r["__bh"])
            for r in _banded_rows(safe, 4, 2, id_out="__cid").collect()
        }
        e_df = _banded_rows(exotic, 4, 2, id_out="__cid")
        # no pandas round-trip: the exotic path is pure JVM (no
        # mapInPandas / ArrowEvalPython in the plan)
        plan = e_df._jdf.queryExecution().executedPlan().toString()
        assert "mapInPandas" not in plan and "Arrow" not in plan
        e = {
            (int(r["__cid"]), r["__band"], r["__bh"])
            for r in e_df.collect()
        }
        assert k == e
        assert {t[0] for t in e} == {1, 2}

    def test_xxhash_np_matches_spark(self, spark):
        """The numpy XXH64 ports must reproduce ``F.xxhash64`` on the
        long path (seed 42), the int path (chained seed), and the
        multi-long chain — the three forms the banding kernel uses."""
        import random

        import numpy as np

        from serverless_data_lake_spark.operators.xxhash_np import (
            SEED,
            xxh64_int,
            xxh64_long,
        )

        random.seed(7)
        rows = [
            (random.randint(-(2**63), 2**63 - 1),
             random.randint(-(2**63), 2**63 - 1),
             random.randint(0, 127))
            for _ in range(200)
        ]
        df = spark.createDataFrame(rows, ["a", "b", "i"]).select(
            "a", "b", F.col("i").cast("int").alias("i")
        )
        got = df.select(
            "a", "b", "i",
            F.xxhash64("a").alias("ha"),
            F.xxhash64("a", "i").alias("hai"),
            F.xxhash64("a", "b").alias("hab"),
        ).collect()
        for r in got:
            a = np.uint64(np.int64(r.a))
            b = np.uint64(np.int64(r.b))
            ha = xxh64_long(a, SEED)
            assert np.int64(ha) == r.ha
            assert np.int64(xxh64_int(np.uint64(r.i), ha)) == r.hai
            assert np.int64(xxh64_long(b, ha)) == r.hab

    def test_simhash_identical_docs_same_signature(self, spark, near_dup_docs):
        sigs = {
            r.doc_id: r.simhash
            for r in simhash_signatures(near_dup_docs, "doc_id", "text").collect()
        }
        assert sigs[0] == sigs[1]
        assert sigs[0] != sigs[3]

    def test_simhash_near_duplicates(self, spark, near_dup_docs):
        pairs = {
            (r.id_a, r.id_b)
            for r in simhash_near_duplicates(
                near_dup_docs, "doc_id", "text", max_hamming=3
            ).collect()
        }
        assert (0, 1) in pairs
        assert (3, 4) not in pairs

    def test_simhash_caller_owned_signatures(self, spark, near_dup_docs):
        """Passing precomputed ``signatures`` gives the caller the
        persist lifecycle (nothing cached by the operator) and
        identical pairs — the long-lived-session escape hatch for
        the internal cache() (r12 ADVICE)."""
        sig = simhash_signatures(near_dup_docs, "doc_id", "text").persist()
        try:
            before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
            pairs = {
                (r.id_a, r.id_b)
                for r in simhash_near_duplicates(
                    near_dup_docs,
                    "doc_id",
                    "text",
                    max_hamming=3,
                    signatures=sig,
                ).collect()
            }
            after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
            assert after == before  # operator added no cache of its own
        finally:
            sig.unpersist()
        base = {
            (r.id_a, r.id_b)
            for r in simhash_near_duplicates(
                near_dup_docs, "doc_id", "text", max_hamming=3
            ).collect()
        }
        spark.catalog.clearCache()
        assert pairs == base

    def test_simhash_mismatched_signatures_fail_loudly(
        self, spark, near_dup_docs
    ):
        """r14 (r13 ADVICE): a ``signatures`` frame built under a
        different id column name — or missing the simhash column —
        raises up front instead of silently pairing the wrong
        corpus."""
        sig = simhash_signatures(near_dup_docs, "doc_id", "text")
        with pytest.raises(ValueError, match="missing column"):
            simhash_near_duplicates(
                near_dup_docs,
                "document_id",  # not the column the frame carries
                "text",
                signatures=sig,
            )
        with pytest.raises(ValueError, match="simhash"):
            simhash_near_duplicates(
                near_dup_docs,
                "doc_id",
                "text",
                signatures=sig.select("doc_id"),
            )


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),  # ~same direction as 0
        (2, [0.0, 1.0, 0.0, 0.0]),     # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),    # opposite
        (4, [0.7, 0.7, 0.0, 0.0]),     # diagonal
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


class TestDecontaminate:
    def test_sizing_probe_sum_size_equals_exploded_count(self, spark):
        """contamination_pairs' auto-broadcast probe sizes the
        self-built gram side with SUM(size(__grams)) over the
        PRE-explode projection (r13, r12 ADVICE: the count() probe
        paid the whole gram explode). The probe must equal the
        exploded row count exactly — including null-text and
        too-short (gram-less) documents, which explode to zero rows
        and contribute 0/NULL to the sum."""
        from serverless_data_lake_spark.operators.dedup import (
            _explode_grams,
            _probe_gram_count,
            gram_hash_sets,
        )

        test = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "alpha beta gamma"),  # one 3-gram
                (3, "short"),  # gram-less at n=3
                (4, None),  # null text
                (5, "alpha beta alpha beta alpha beta alpha"),  # dups
            ],
            "`doc_id` bigint, `text` string",
        )
        gsets = gram_hash_sets(test, "doc_id", "text", 3)
        exploded = _explode_grams(gsets, "__tid").count()
        assert _probe_gram_count(gsets) == exploded > 0
        # r14 (r13 ADVICE): the probe is exact under BOTH sizeOfNull
        # conventions — ANSI (size(NULL)=NULL, Spark 4 default) and
        # legacy (size(NULL)=-1), where the raw SUM(size()) would
        # undercount by 1 per null-text document.
        ansi0 = spark.conf.get("spark.sql.ansi.enabled")
        legacy0 = spark.conf.get("spark.sql.legacy.sizeOfNull")
        try:
            spark.conf.set("spark.sql.ansi.enabled", "false")
            spark.conf.set("spark.sql.legacy.sizeOfNull", "true")
            assert _probe_gram_count(gsets) == exploded
        finally:
            spark.conf.set("spark.sql.ansi.enabled", ansi0)
            spark.conf.set("spark.sql.legacy.sizeOfNull", legacy0)

    def test_planted_contamination_removed(self, spark):
        from serverless_data_lake_spark.operators.dedup import decontaminate

        leak = "the exact answer to benchmark question forty two is this"
        train = spark.createDataFrame(
            [
                (1, f"clean document about weather patterns {'x ' * 10}"),
                (2, f"contaminated document containing {leak} verbatim"),
                (3, "another clean one about cooking rice slowly today"),
            ],
            ["doc_id", "text"],
        )
        test = spark.createDataFrame(
            [(100, f"eval prompt: {leak}?")], ["doc_id", "text"]
        )
        kept = sorted(
            r["doc_id"]
            for r in decontaminate(
                train, test, "doc_id", "text", n=5
            ).collect()
        )
        assert kept == [1, 3]

    def test_min_shared_threshold(self, spark):
        from serverless_data_lake_spark.operators.dedup import decontaminate

        # Shares exactly one 3-gram with the test set; min_shared=2
        # keeps it, min_shared=1 drops it.
        train = spark.createDataFrame(
            [(1, "alpha beta gamma wholly unrelated tail words here")],
            ["doc_id", "text"],
        )
        test = spark.createDataFrame(
            [(9, "alpha beta gamma different continuation entirely")],
            ["doc_id", "text"],
        )
        assert decontaminate(train, test, "doc_id", "text", n=3).count() == 0
        assert (
            decontaminate(
                train, test, "doc_id", "text", n=3, min_shared=2
            ).count()
            == 1
        )

    def test_no_overlap_keeps_everything(self, spark):
        from serverless_data_lake_spark.operators.dedup import decontaminate

        train = spark.createDataFrame(
            [(1, "one two three four five six")], ["doc_id", "text"]
        )
        test = spark.createDataFrame(
            [(2, "seven eight nine ten eleven twelve")], ["doc_id", "text"]
        )
        assert decontaminate(train, test, "doc_id", "text", n=3).count() == 1

    def test_auto_broadcast_gates_on_gram_count(self, spark, monkeypatch):
        # broadcast=None must size-check the distinct test-gram set:
        # over the cap → no broadcast hint (shuffle join); under → hint
        # present. Same end state either way.
        from serverless_data_lake_spark.operators import dedup

        leak = "the exact answer to benchmark question forty two is this"
        train = spark.createDataFrame(
            [
                (1, "clean document about weather patterns entirely"),
                (2, f"contaminated document containing {leak} verbatim"),
            ],
            ["doc_id", "text"],
        )
        test = spark.createDataFrame(
            [(100, f"eval prompt: {leak}?")], ["doc_id", "text"]
        )
        # The anti-join side never carries a hint, so any ResolvedHint
        # in the analyzed plan is the gram-set broadcast.
        def has_broadcast_hint(df):
            return "ResolvedHint" in (
                df._jdf.queryExecution().analyzed().toString()
            )

        monkeypatch.setattr(dedup, "DECONTAMINATE_BROADCAST_GRAM_CAP", 0)
        big = dedup.decontaminate(train, test, "doc_id", "text", n=5)
        assert not has_broadcast_hint(big)
        assert [r["doc_id"] for r in big.collect()] == [1]

        monkeypatch.setattr(
            dedup, "DECONTAMINATE_BROADCAST_GRAM_CAP", 20_000_000
        )
        small = dedup.decontaminate(train, test, "doc_id", "text", n=5)
        assert has_broadcast_hint(small)
        assert [r["doc_id"] for r in small.collect()] == [1]


class TestSimilaritySearch:
    def test_near_duplicates_exact(self, spark, vectors):
        pairs = {
            (r.id_a, r.id_b): r.cosine
            for r in embedding_near_duplicates(
                vectors, dim=4, threshold=0.95, planes=0
            ).collect()
        }
        assert set(pairs) == {(0, 1)}
        assert pairs[(0, 1)] > 0.99

    def test_topk_ranks(self, spark, vectors):
        queries = vectors.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        rows = cosine_topk(vectors, queries, id_col="vec_id", k=3).collect()
        ranked = [r.vec_id for r in sorted(rows, key=lambda r: r.rank)]
        assert ranked[0] == 0 and ranked[1] == 1 and ranked[2] == 4

    def test_lsh_topk_includes_self(self, spark, vectors):
        queries = vectors.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        rows = lsh_bucketed_topk(
            vectors, queries, dim=4, id_col="vec_id", k=3, planes=4
        ).collect()
        assert any(r.vec_id == 0 and r.rank == 1 for r in rows)


class TestSemanticDedup:
    def _corpus(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        # Two well-separated clusters + planted near-duplicates:
        # ids 10/11 are tiny perturbations of id 0; id 20 duplicates
        # id 2 in the other cluster; everything else is spread out.
        c1 = np.array([1.0, 0.0, 0.0, 0.0])
        c2 = np.array([0.0, 1.0, 0.0, 0.0])
        def unit(v):
            return (v / np.linalg.norm(v)).tolist()
        rows = [
            (0, unit(c1 + 0.05 * rng.randn(4))),
            (1, unit(c1 + 0.4 * rng.randn(4))),
            (2, unit(c2 + 0.05 * rng.randn(4))),
            (3, unit(c2 + 0.4 * rng.randn(4))),
        ]
        base = {i: np.array(v) for i, v in rows}
        rows += [
            (10, unit(base[0] + 0.01 * rng.randn(4))),
            (11, unit(base[0] + 0.01 * rng.randn(4))),
            (20, unit(base[2] + 0.01 * rng.randn(4))),
        ]
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_drops_planted_duplicates_min_id_wins(self, spark):
        from serverless_data_lake_spark.operators.similarity import (
            semantic_dedup,
        )

        df = self._corpus(spark)
        kept = sorted(
            r.vec_id
            for r in semantic_dedup(
                df, dim=4, threshold=0.98, nlist=2, sample_size=100
            ).collect()
        )
        # 10/11 duplicate 0; 20 duplicates 2; min ids win.
        assert kept == [0, 1, 2, 3]

    def test_threshold_one_keeps_everything(self, spark):
        from serverless_data_lake_spark.operators.similarity import (
            semantic_dedup,
        )

        df = self._corpus(spark)
        kept = semantic_dedup(
            df, dim=4, threshold=1.01, nlist=2, sample_size=100
        ).count()
        assert kept == df.count()

    def test_schema_preserved(self, spark):
        from serverless_data_lake_spark.operators.similarity import (
            semantic_dedup,
        )

        df = self._corpus(spark).withColumn("label", F.lit("x"))
        out = semantic_dedup(
            df, dim=4, threshold=0.98, nlist=2, sample_size=100
        )
        assert out.columns == df.columns

    def test_trainer_is_input_order_insensitive(self, spark):
        # The seeded k-means init indexes into the collected sample;
        # the lex-sort must make any partitioning/order of the same
        # row set train identical centroids.
        import numpy as np

        from serverless_data_lake_spark.operators.similarity import (
            _train_spherical_kmeans,
        )

        df = self._corpus(spark)
        a = _train_spherical_kmeans(df, "embedding", 3, 100, 42)
        b = _train_spherical_kmeans(
            df.orderBy(F.desc("vec_id")).repartition(7),
            "embedding", 3, 100, 42,
        )
        np.testing.assert_array_equal(a, b)


class TestSemanticDedupCellSafety:
    def test_oversized_cell_refused_loudly(self, spark):
        """A cell above max_cell_rows must raise (the OOM guard), not
        silently stack an unbounded matrix in one task."""
        import numpy as np
        import pytest

        from serverless_data_lake_spark.operators.similarity import (
            semantic_dedup,
        )

        rng = np.random.RandomState(0)
        base = rng.randn(4)
        # 12 near-identical vectors -> one cell under nlist=1.
        rows = [
            (i, [float(x) for x in base + 0.001 * rng.randn(4)])
            for i in range(12)
        ]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        with pytest.raises(Exception, match="per-task cap"):
            semantic_dedup(
                df, dim=4, threshold=0.99, nlist=1,
                sample_size=100, max_cell_rows=3,
            ).collect()

    def test_auto_nlist_scales_with_corpus(self, monkeypatch):
        """nlist=None must grow ceil(n/target_cell_rows)-style with
        the corpus, not stay pinned to sqrt(sample)."""
        from serverless_data_lake_spark.operators import similarity

        captured = {}

        def fake_train(corpus, vec_col, nlist, sample_size, seed):
            captured["nlist"] = nlist
            raise _Stop()

        class _Stop(Exception):
            pass

        class _FakeDF:
            def count(self):
                return 10_000_000

        monkeypatch.setattr(
            similarity, "_train_spherical_kmeans", fake_train
        )
        # Tiny target: 1024-row cells -> by_mem = ceil(1e7/1024) but
        # clamped at sample_size.
        monkeypatch.setattr(
            similarity, "SEMANTIC_CELL_TARGET_BYTES", 1024 * 8 * 8
        )
        try:
            similarity.semantic_dedup(_FakeDF(), dim=8, sample_size=10_000)
        except _Stop:
            pass
        # 10M rows / 1024-row target = 9766 cells; sqrt rule alone
        # would have said 100.
        assert captured["nlist"] == 9766


class TestText:
    def test_language_detection(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat sat on the mat and it was happy with this"),
                (2, "el gato se sienta en la casa y es feliz con su vida"),
                (3, "der Hund ist in dem Haus und er ist nicht allein"),
                (4, "xyzzy plugh 12345"),
            ],
            ["id", "text"],
        )
        out = {r.id: r.lang for r in df.select(
            "id", detect_language(F.col("text")).alias("lang")
        ).collect()}
        assert out[1] == "en"
        assert out[2] == "es"
        assert out[3] == "de"
        assert out[4] == "und"

    def test_quality_score_ordering(self, spark):
        df = spark.createDataFrame(
            [
                (1, "The project was finished early because the whole team "
                    "understood the goals and worked together through the "
                    "entire release cycle without major problems."),
                (2, "$$$ !!! ??? ### 123 @@@ %%% ^^^ &&& ***"),
            ],
            ["id", "text"],
        )
        out = {r.id: r.q for r in df.select(
            "id", quality_score(F.col("text")).alias("q")
        ).collect()}
        assert out[1] > 0.7 > out[2]

    def test_token_counts(self, spark):
        df = spark.createDataFrame([(1, "Hello world, 42 times!")], ["id", "t"])
        row = df.select(
            token_count(F.col("t")).alias("ws"),
            token_count(F.col("t"), "regex").alias("rx"),
        ).collect()[0]
        assert row.ws == 4
        # hello / world / , / 4 / 2 / times / !  (mode "regex" — the
        # SQL-expressible piece proxy; real subword counting is mode
        # "bpe", covered in tests/test_bpe.py)
        assert row.rx == 7

class TestIvf:
    def test_ivf_matches_exact_topk_at_full_probe(self, spark):
        from serverless_data_lake_spark.operators.similarity import ivf_topk
        from serverless_data_lake_spark.testdata import data_path
        emb = spark.read.parquet(data_path("/root/testdata/sf0.01", "embeddings"))
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {
            (r.query_id, r.rank): r.vec_id
            for r in cosine_topk(emb, queries, id_col="vec_id", k=5).collect()
        }
        # nprobe == nlist -> scans everything -> must equal exact
        full = {
            (r.query_id, r.rank): r.vec_id
            for r in ivf_topk(emb, queries, dim=64, k=5,
                              nlist=8, nprobe=8).collect()
        }
        assert full == exact

    def test_ivf_partial_probe_high_recall_for_top1(self, spark):
        from serverless_data_lake_spark.operators.similarity import ivf_topk
        from serverless_data_lake_spark.testdata import data_path
        emb = spark.read.parquet(data_path("/root/testdata/sf0.01", "embeddings"))
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        rows = ivf_topk(emb, queries, dim=64, k=1, nlist=8, nprobe=2).collect()
        # top-1 for a query drawn from the corpus is itself (cosine 1),
        # and the query's own cell is always its best cell.
        assert {(r.query_id, r.vec_id) for r in rows} == {(i, i) for i in range(10)}


class TestAnnRecallGate:
    """The driver's ANN entries assert recall@k ≥ 0.5 via
    ann_recall_at_k (r1 verdict #3); these anchor the measured
    recall and the helper's arithmetic."""

    def _exact_and_queries(self, spark):
        from serverless_data_lake_spark.testdata import data_path
        emb = spark.read.parquet(
            data_path("/root/testdata/sf0.01", "embeddings")
        )
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = cosine_topk(emb, queries, id_col="vec_id", k=10)
        return emb, queries, exact

    def test_recall_helper_counts_hits(self, spark):
        from serverless_data_lake_spark.operators.similarity import (
            ann_recall_at_k,
        )
        _, _, exact = self._exact_and_queries(spark)
        # ANN == exact -> recall 1.0 for every query.
        rows = ann_recall_at_k(exact, exact, k=10).collect()
        assert len(rows) == 5
        assert all(r.recall_at_k == 1.0 for r in rows)

    def test_recall_denominator_is_exact_count_not_k(self, spark):
        # Corpus smaller than k: a perfect ANN result must score 1.0,
        # not n_exact/k (ADVICE r2).
        from serverless_data_lake_spark.operators.similarity import (
            ann_recall_at_k,
        )
        exact = spark.createDataFrame(
            [(0, 10), (0, 11), (0, 12)], "query_id long, vec_id long"
        )
        rows = ann_recall_at_k(exact, exact, k=10).collect()
        assert len(rows) == 1 and rows[0].recall_at_k == 1.0

    def test_lsh_multiprobe2_recall_above_gate(self, spark):
        from serverless_data_lake_spark.operators.similarity import (
            ann_recall_at_k, lsh_bucketed_topk,
        )
        emb, queries, exact = self._exact_and_queries(spark)
        ann = lsh_bucketed_topk(emb, queries, dim=64, id_col="vec_id",
                                k=10, planes=4, multiprobe=2)
        rows = ann_recall_at_k(ann, exact, k=10).collect()
        assert min(r.recall_at_k for r in rows) >= 0.5

    def test_ivf_recall_above_gate(self, spark):
        from serverless_data_lake_spark.operators.similarity import (
            ann_recall_at_k, ivf_topk,
        )
        emb, queries, exact = self._exact_and_queries(spark)
        ann = ivf_topk(emb, queries, dim=64, id_col="vec_id", k=10,
                       nlist=8, nprobe=4)
        rows = ann_recall_at_k(ann, exact, k=10).collect()
        assert min(r.recall_at_k for r in rows) >= 0.5

    def test_multiprobe2_supersets_multiprobe1(self, spark):
        from serverless_data_lake_spark.operators.similarity import (
            lsh_bucketed_topk,
        )
        emb, queries, _ = self._exact_and_queries(spark)
        got1 = {
            (r.query_id, r.vec_id)
            for r in lsh_bucketed_topk(
                emb, queries, dim=64, id_col="vec_id", k=500,
                planes=4, multiprobe=1,
            ).collect()
        }
        got2 = {
            (r.query_id, r.vec_id)
            for r in lsh_bucketed_topk(
                emb, queries, dim=64, id_col="vec_id", k=500,
                planes=4, multiprobe=2,
            ).collect()
        }
        assert got1 <= got2 and len(got2) > len(got1)


class TestNumpyPairsKernel:
    def test_bitwise_equal_to_sql_path(self, spark):
        from serverless_data_lake_spark.operators.similarity import (
            embedding_all_pairs_numpy,
        )
        from serverless_data_lake_spark.testdata import data_path
        emb = spark.read.parquet(
            data_path("/root/testdata/sf0.001", "embeddings")
        )
        sql_rows = sorted(
            (r.id_a, r.id_b, r.cosine)
            for r in embedding_near_duplicates(
                emb, dim=64, threshold=0.3, planes=0
            ).collect()
        )
        np_rows = sorted(
            (r.id_a, r.id_b, r.cosine)
            for r in embedding_all_pairs_numpy(emb, threshold=0.3).collect()
        )
        assert sql_rows == np_rows  # bit-exact, including the doubles

    def test_broadcast_bound_raises(self, spark):
        from serverless_data_lake_spark.operators.similarity import (
            embedding_all_pairs_numpy,
        )
        import pytest as _pytest
        from serverless_data_lake_spark.testdata import data_path
        emb = spark.read.parquet(
            data_path("/root/testdata/sf0.001", "embeddings")
        )
        with _pytest.raises(ValueError, match="too large"):
            embedding_all_pairs_numpy(emb, max_broadcast_rows=10)


class TestMultimodalStrict:
    def test_strict_decode_raises(self, spark):
        from serverless_data_lake_spark.operators.multimodal import (
            extract_image_features,
        )
        media = spark.createDataFrame(
            [(1, "image/png", b"\x89PNG")],
            ["media_id", "mime_type", "content"],
        )
        with pytest.raises(Exception, match="NotImplementedError|codec"):
            extract_image_features(media, strict=True).collect()


class TestMultiProbe:
    def test_multiprobe_recall_not_lower(self, spark):
        from serverless_data_lake_spark.operators.similarity import (
            cosine_topk, lsh_bucketed_topk,
        )
        from serverless_data_lake_spark.testdata import data_path
        emb = spark.read.parquet(
            data_path("/root/testdata/sf0.01", "embeddings")
        )
        queries = emb.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {(r.query_id, r.vec_id)
                 for r in cosine_topk(emb, queries, id_col="vec_id", k=5).collect()}
        single = {(r.query_id, r.vec_id)
                  for r in lsh_bucketed_topk(emb, queries, dim=64,
                                             id_col="vec_id", k=5).collect()}
        multi = {(r.query_id, r.vec_id)
                 for r in lsh_bucketed_topk(emb, queries, dim=64, id_col="vec_id",
                                            k=5, multiprobe=1).collect()}
        r_single = len(exact & single) / len(exact)
        r_multi = len(exact & multi) / len(exact)
        # Recall vs exact is monotone in the candidate set (an exact
        # top-k member among the candidates always survives the final
        # top-k), and strictly improves here: 0.21 -> 0.27 on the
        # seeded hyperplanes over near-random synthetic embeddings.
        assert r_multi > r_single


class TestSkewOperators:
    """Salted aggregate: row-identical to the plain plan on a
    deliberately skewed key distribution."""

    def _skewed(self, spark):
        from pyspark.sql import functions as F

        # 90% of rows share key 0 (the hot key).
        return spark.range(2000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            (F.col("id") % 100).alias("v"),
        )

    def test_salted_aggregate_matches_plain(self, spark):
        from pyspark.sql import functions as F

        from serverless_data_lake_spark.operators.skew import (
            salted_aggregate,
        )

        df = self._skewed(spark)
        plain = {
            r.k: (r.n, r.s, r.mn, r.mx)
            for r in df.groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("s"),
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
            )
            .collect()
        }
        salted = {
            r.k: (r.n, r.s, r.mn, r.mx)
            for r in salted_aggregate(
                df,
                ["k"],
                {
                    "n": ("count", "*"),
                    "s": ("sum", "v"),
                    "mn": ("min", "v"),
                    "mx": ("max", "v"),
                },
                salt=8,
            ).collect()
        }
        assert plain == salted

    def test_salted_aggregate_rejects_non_algebraic(self, spark):
        import pytest

        from serverless_data_lake_spark.operators.skew import (
            salted_aggregate,
        )

        with pytest.raises(ValueError, match="non-algebraic"):
            salted_aggregate(
                self._skewed(spark), ["k"], {"a": ("avg", "v")}
            )


class TestProfile:
    """Single-pass table profiling."""

    def test_profile_values(self, spark):
        from serverless_data_lake_spark.operators.profile import (
            profile_table,
        )

        df = spark.createDataFrame(
            [(1, "a", None), (2, "b", 5.0), (2, None, 7.0)],
            "k long, s string, v double",
        )
        prof = {r.column: r for r in profile_table(df).collect()}
        assert prof["k"].n_rows == 3
        assert prof["k"].n_nulls == 0
        assert prof["k"].n_distinct == 2
        assert prof["k"].min_value == "1" and prof["k"].max_value == "2"
        assert prof["s"].n_nulls == 1 and prof["s"].n_distinct == 2
        assert prof["v"].n_nulls == 1

    def test_profile_plan_shapes(self, spark):
        """split_distinct=False keeps the single-scan Expand plan
        (the non-columnar-source escape hatch); the default split
        shape adds one subtree per distinct column and must produce
        IDENTICAL values (r12 — the 0.36 s vs 1.1 s A/B in the
        module docstring is only valid because of this equality)."""
        from serverless_data_lake_spark.operators.profile import (
            profile_table,
        )

        df = spark.range(100).selectExpr(
            "id", "id % 7 AS a", "CAST(id AS STRING) AS b"
        )
        fused = profile_table(df, split_distinct=False)
        plan = (
            fused._jdf.queryExecution()  # noqa: SLF001
            .executedPlan()
            .toString()
        )
        # One pass of the input regardless of column count: the
        # multi-distinct rides a single Expand, no join in the plan.
        assert "Expand" in plan and "Join" not in plan
        want = sorted(map(tuple, fused.collect()))
        got = sorted(map(tuple, profile_table(df).collect()))
        assert got == want

    def test_unorderable_types_null_minmax(self, spark):
        from serverless_data_lake_spark.operators.profile import (
            profile_table,
        )

        df = spark.createDataFrame([([1, 2],), ([3],)], "arr array<long>")
        r = profile_table(df).first()
        assert r.min_value is None and r.max_value is None
        assert r.n_distinct == 2

    def test_approx_mode_close(self, spark):
        from serverless_data_lake_spark.operators.profile import (
            profile_table,
        )

        df = spark.range(5000).selectExpr("id % 1000 AS k")
        r = profile_table(df, ["k"], approx=True).first()
        assert abs(r.n_distinct - 1000) <= 100


class TestChunkDocuments:
    def test_chunk_windows(self, spark):
        from serverless_data_lake_spark.operators.text import (
            chunk_documents,
        )

        df = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(100)))],
            "doc_id long, text string",
        )
        rows = sorted(
            chunk_documents(df, "doc_id", "text", 64, 16).collect(),
            key=lambda r: r.chunk_id,
        )
        assert [r.n_tokens for r in rows] == [64, 52]
        assert rows[0].chunk_text.startswith("w0 ")
        # Overlap: chunk 1 starts at token 48.
        assert rows[1].chunk_text.startswith("w48 ")
        # Full coverage: last token appears in the final chunk.
        assert rows[1].chunk_text.endswith("w99")

    def test_short_and_empty_docs_yield_one_chunk(self, spark):
        from serverless_data_lake_spark.operators.text import (
            chunk_documents,
        )

        df = spark.createDataFrame(
            [(1, "a b"), (2, "")], "doc_id long, text string"
        )
        rows = chunk_documents(df, "doc_id", "text", 64, 16).collect()
        got = {(r.doc_id, r.chunk_id, r.n_tokens) for r in rows}
        assert got == {(1, 0, 2), (2, 0, 0)}

    def test_overlap_bound(self, spark):
        import pytest

        from serverless_data_lake_spark.operators.text import (
            chunk_documents,
        )

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="overlap"):
            chunk_documents(df, "doc_id", "text", 16, 16)

    def test_no_shuffle(self, spark):
        from serverless_data_lake_spark.operators.text import (
            chunk_documents,
        )

        df = spark.createDataFrame(
            [(1, "a b c")], "doc_id long, text string"
        )
        plan = (
            chunk_documents(df, "doc_id", "text")
            ._jdf.queryExecution()  # noqa: SLF001
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan


class TestRepetitionStats:
    def test_signals(self, spark):
        from serverless_data_lake_spark.operators.text import (
            repetition_stats,
        )

        df = spark.createDataFrame(
            [
                (1, "a b a b a b"),      # heavy repetition
                (2, "one two three four"),  # all distinct
                (3, ""),
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in repetition_stats(df, "doc_id", "text").collect()}
        # doc 1: grams = [a b, b a, a b, b a, a b] → 5 total, 2 distinct
        assert rows[1].n_grams == 5
        assert abs(rows[1].dup_gram_frac - 0.6) < 1e-9
        assert abs(rows[1].top_gram_frac - 0.6) < 1e-9
        # doc 2: 3 distinct grams out of 3.
        assert rows[2].n_grams == 3
        assert rows[2].dup_gram_frac == 0.0
        assert abs(rows[2].top_gram_frac - 1 / 3) < 1e-9
        # empty doc: zeros, not nulls/NaN.
        assert rows[3].n_grams == 0
        assert rows[3].dup_gram_frac == 0.0 and rows[3].top_gram_frac == 0.0

    def test_unigram_mode(self, spark):
        from serverless_data_lake_spark.operators.text import (
            repetition_stats,
        )

        df = spark.createDataFrame(
            [(1, "x x y")], "doc_id long, text string"
        )
        r = repetition_stats(df, "doc_id", "text", n=1).first()
        assert r.n_grams == 3
        assert abs(r.dup_gram_frac - 1 / 3) < 1e-9


class TestShortDocGrams:
    """Documents shorter than the shingle size must yield empty gram
    sets, not a slice() runtime error (regression: sequence(0,-1)
    descends)."""

    def test_jaccard_with_short_docs(self, spark):
        from serverless_data_lake_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        df = spark.createDataFrame(
            [(1, "one two"), (2, "a"), (3, ""), (4, "x y z w"), (5, "x y z w")],
            "doc_id long, text string",
        )
        pairs = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert got == {(4, 5)}

    def test_minhash_with_short_docs(self, spark):
        from serverless_data_lake_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        df = spark.createDataFrame(
            [(1, "a"), (2, ""), (3, "p q r s t"), (4, "p q r s t")],
            "doc_id long, text string",
        )
        got = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(
                df, "doc_id", "text", num_hashes=16, bands=8
            ).collect()
        }
        assert got == {(3, 4)}


class TestSampling:
    def test_sample_is_deterministic_across_layouts(self, spark):
        from serverless_data_lake_spark.operators.sampling import (
            deterministic_sample,
        )

        df = spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
        a = {r.k for r in deterministic_sample(df, "k", 0.2).collect()}
        b = {
            r.k
            for r in deterministic_sample(
                df.repartition(13), "k", 0.2
            ).collect()
        }
        assert a == b
        assert 100 < len(a) < 300  # ~20%

    def test_salt_decorrelates(self, spark):
        from serverless_data_lake_spark.operators.sampling import (
            deterministic_sample,
        )

        df = spark.range(1000).selectExpr("id AS k")
        a = {r.k for r in deterministic_sample(df, "k", 0.2).collect()}
        b = {
            r.k
            for r in deterministic_sample(df, "k", 0.2, salt="x").collect()
        }
        assert a != b

    def test_splits_partition_rows(self, spark):
        from serverless_data_lake_spark.operators.sampling import (
            assign_splits,
        )

        df = spark.range(1000).selectExpr("id AS k")
        out = assign_splits(df, "k")
        counts = {r.split: r.n for r in out.groupBy("split").agg(
            __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
        ).collect()}
        assert sum(counts.values()) == 1000
        assert counts["train"] > counts["val"]
        assert set(counts) == {"train", "val", "test"}

    def test_group_stability(self, spark):
        from pyspark.sql import functions as F

        from serverless_data_lake_spark.operators.sampling import (
            assign_splits,
        )

        # Many rows per user; all rows of a user share the split.
        df = spark.range(1000).select(
            (F.col("id") % 50).alias("user_id"), F.col("id")
        )
        out = assign_splits(df, "user_id")
        per_user = out.groupBy("user_id").agg(
            F.count_distinct("split").alias("n_splits")
        )
        assert per_user.filter(F.col("n_splits") > 1).count() == 0

    def test_weight_validation(self, spark):
        import pytest

        from serverless_data_lake_spark.operators.sampling import (
            assign_splits,
        )

        df = spark.range(10).selectExpr("id AS k")
        with pytest.raises(ValueError, match="sum to 1"):
            assign_splits(df, "k", {"a": 0.5, "b": 0.2})

    def test_stratified_rates_and_nesting(self, spark):
        from pyspark.sql import functions as F

        from serverless_data_lake_spark.operators.sampling import (
            deterministic_sample,
            stratified_sample,
        )

        df = spark.range(3000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("g"),
        )
        out = stratified_sample(
            df, "k", "g", {"g0": 0.5, "g1": 0.05}, default_rate=0.2
        )
        counts = {
            r.g: r.n
            for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()
        }
        assert 400 < counts["g0"] < 600       # ~50% of 1000
        assert 20 < counts["g1"] < 90         # ~5%
        assert 140 < counts["g2"] < 260       # default ~20%
        # Nested: each group's survivors are exactly the flat-sample
        # survivors at that rate — rates don't perturb selection.
        flat = {
            r.k
            for r in deterministic_sample(df, "k", 0.05).collect()
        }
        g1 = {r.k for r in out.filter(F.col("g") == "g1").collect()}
        assert g1 == {k for k in flat if k % 3 == 1}

    def test_importance_sample_monotone_in_scale(self, spark):
        from pyspark.sql import functions as F

        from serverless_data_lake_spark.operators.sampling import (
            importance_sample,
        )

        df = spark.range(2000).select(
            F.col("id").alias("k"),
            # weights in (0, 1]: heavier for larger ids
            ((F.col("id") + 1) / 2000.0).alias("w"),
        )
        small = {
            r.k
            for r in importance_sample(df, "k", F.col("w"), scale=0.3).collect()
        }
        big = {
            r.k
            for r in importance_sample(df, "k", F.col("w"), scale=0.9).collect()
        }
        assert small < big  # strictly nested selections
        # Acceptance tracks the weight: top-decile rows survive far
        # more often than bottom-decile ones.
        top = sum(1 for k in small if k >= 1800)
        bottom = sum(1 for k in small if k < 200)
        assert top > 3 * max(bottom, 1)

    def test_importance_sample_null_weights_drop(self, spark):
        from pyspark.sql import functions as F

        from serverless_data_lake_spark.operators.sampling import (
            importance_sample,
        )

        df = spark.range(100).select(
            F.col("id").alias("k"),
            F.when(F.col("id") < 50, 1.0).alias("w"),  # NULL for id>=50
        )
        kept = {
            r.k
            for r in importance_sample(df, "k", F.col("w"), scale=1.0).collect()
        }
        assert kept == set(range(50))


class TestRedactPii:
    def test_all_kinds(self, spark):
        from pyspark.sql import functions as F

        from serverless_data_lake_spark.operators.text import redact_pii

        df = spark.createDataFrame(
            [(
                "mail a.b+c@ex.org then 10.20.30.40 then "
                "+1 (415) 555-0133 done",
            )],
            "t string",
        )
        r = df.select(redact_pii(F.col("t")).alias("r")).first().r
        assert r == "mail <EMAIL> then <IP> then <PHONE> done"

    def test_kind_selection(self, spark):
        from pyspark.sql import functions as F

        from serverless_data_lake_spark.operators.text import redact_pii

        df = spark.createDataFrame([("x@y.io 1.2.3.4",)], "t string")
        r = df.select(
            redact_pii(F.col("t"), kinds=["email"]).alias("r")
        ).first().r
        assert r == "<EMAIL> 1.2.3.4"

    def test_clean_text_untouched(self, spark):
        from pyspark.sql import functions as F

        from serverless_data_lake_spark.operators.text import redact_pii

        df = spark.createDataFrame(
            [("plain prose with no identifiers at all",)], "t string"
        )
        r = df.select(redact_pii(F.col("t")).alias("r")).first().r
        assert r == "plain prose with no identifiers at all"

    def test_unknown_kind_raises(self, spark):
        import pytest
        from pyspark.sql import functions as F

        from serverless_data_lake_spark.operators.text import redact_pii

        with pytest.raises(ValueError, match="unknown PII"):
            redact_pii(F.lit("x"), kinds=["ssn"])


class TestPrefixFilteredJaccard:
    """PPJoin prefix filtering must return EXACTLY the same pairs as
    the full inverted-index path — it prunes candidates, never
    results."""

    def _corpus(self, spark):
        import random

        rng = random.Random(11)
        vocab = [f"w{i}" for i in range(300)]
        docs = []
        for i in range(60):
            words = rng.choices(vocab, k=rng.randint(8, 30))
            docs.append((i, " ".join(words)))
            if i % 4 == 0:
                # Plant a near-duplicate: same text, one word changed.
                dup = list(words)
                dup[rng.randrange(len(dup))] = rng.choice(vocab)
                docs.append((1000 + i, " ".join(dup)))
        # Stop-phrase skew: one shared phrase in every doc.
        docs = [(i, t + " the common tail phrase") for i, t in docs]
        return spark.createDataFrame(docs, "doc_id long, text string")

    def test_equals_exact_path(self, spark):
        from serverless_data_lake_spark.operators.dedup import (
            ngram_jaccard_pairs,
            ngram_jaccard_prefix,
        )

        df = self._corpus(spark)
        for t in (0.5, 0.8):
            exact = {
                (r.id_a, r.id_b, round(r.jaccard, 9))
                for r in ngram_jaccard_pairs(
                    df, "doc_id", "text", n=3, threshold=t
                ).collect()
            }
            pref = {
                (r.id_a, r.id_b, round(r.jaccard, 9))
                for r in ngram_jaccard_prefix(
                    df, "doc_id", "text", n=3, threshold=t
                ).collect()
            }
            assert pref == exact
            assert exact  # the planted near-dups are found

    def test_short_and_empty_docs(self, spark):
        from serverless_data_lake_spark.operators.dedup import (
            ngram_jaccard_prefix,
        )

        df = spark.createDataFrame(
            [(1, ""), (2, "a"), (3, "x y z w v"), (4, "x y z w v")],
            "doc_id long, text string",
        )
        got = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_prefix(df, "doc_id", "text").collect()
        }
        assert got == {(3, 4)}


def test_hyperplane_signature_frozen_literals(spark):
    """Bit-exact pin of the hyperplane-LSH signature (r12): the
    expression was rebuilt from a per-plane loop into one nested
    HOF tree, value-identity A/B'd on the sf0.1 corpus at the time
    — these frozen literals keep any FUTURE restructure honest (the
    signature feeds bucketing, so silent drift would change every
    LSH bucket assignment). Independent pins: a one-hot vector, a
    ±1 alternating vector, and a ramp, at two (planes, seed)
    settings."""
    from pyspark.sql import functions as F

    from serverless_data_lake_spark.operators.similarity import (
        _hyperplane_signature,
    )

    frozen = [
        ("unit_x", 9951, 1054),
        ("alternating", 12037, 3150),
        ("ramp", 2602, 176),
    ]
    df = spark.createDataFrame(
        [
            ("unit_x", [1.0] + [0.0] * 7),
            ("alternating", [(-1.0) ** i for i in range(8)]),
            ("ramp", [i / 10 for i in range(8)]),
        ],
        "key string, v array<double>",
    )
    got = {
        r.key: (r.s, r.s7)
        for r in df.select(
            "key",
            _hyperplane_signature(F.col("v"), 8, 16).alias("s"),
            _hyperplane_signature(F.col("v"), 8, 12, seed=7).alias("s7"),
        ).collect()
    }
    for key, s, s7 in frozen:
        assert got[key] == (s, s7), key
    # signatures fit their plane budget
    assert all(0 <= s < (1 << 16) and 0 <= s7 < (1 << 12)
               for s, s7 in got.values())
    # full 64-bit signatures must not raise (r12 close-out review:
    # the first HOF form's arithmetic weight-doubling fold computed
    # an unused 2^planes and threw ARITHMETIC_OVERFLOW under ANSI
    # for planes >= 63; the bitwise OR fold matches the original
    # per-plane shiftleft loop's full range)
    wide = df.select(
        _hyperplane_signature(F.col("v"), 8, 63).alias("s63"),
        _hyperplane_signature(F.col("v"), 8, 64).alias("s64"),
    ).collect()
    assert len(wide) == 3
    for r in wide:
        # 63-plane signature occupies bits 0..62; the 64-plane one
        # shares those bits exactly and may additionally set the
        # (two's-complement sign) bit 63
        assert 0 <= r.s63 < (1 << 63)
        assert r.s64 % (1 << 63) == r.s63  # low 63 bits agree


def test_profile_split_handles_unorderable_and_null_columns(spark):
    """The r12 split-distinct path must agree with the fused plan on
    the awkward columns too: unorderable types (array — NULL
    min/max, distinct still counted) and all-NULL columns."""
    from serverless_data_lake_spark.operators.profile import (
        profile_table,
    )

    df = spark.createDataFrame(
        [([1, 2], None), ([1, 2], None), ([3], None)],
        "arr array<long>, dead string",
    )
    split = sorted(map(tuple, profile_table(df).collect()))
    fused = sorted(
        map(tuple, profile_table(df, split_distinct=False).collect())
    )
    assert split == fused
    prof = {r[0]: r for r in split}
    assert prof["arr"][3] == 2 and prof["arr"][4] is None  # n_distinct, min
    assert prof["dead"][2] == 3 and prof["dead"][3] == 0   # nulls, distinct
