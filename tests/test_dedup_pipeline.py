"""The full LLM-training-data loop through the lakehouse write path:

push-ingest a dup-heavy document corpus (bronze JSONL) → silver PK
table → near-dup pairs (MinHash-LSH) → transitive closure →
one-representative-per-group corpus → MERGE the deduped corpus into
a gold table through TableStore — then assert the persisted end
state and idempotence on re-run.

This certifies that the scale operators (operators/dedup.py,
operators/components.py) compose with the medallion write path
(sources/bronze.py, pipeline/silver.py, catalog.py) — the loop a
real dedup pipeline runs — not just that each piece passes its own
unit tests. Reference anchor: the degenerate exact-key dedup at
``serverless_processing_iceberg/main.py:64-74``; this is its
transitive near-dup generalization.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serverless_data_lake_spark.operators.components import dedup_corpus
from serverless_data_lake_spark.operators.dedup import minhash_lsh_pairs
from serverless_data_lake_spark.schema.types import (
    ColumnDef,
    DataType,
    EndpointSchema,
)

def _corpus() -> list[dict]:
    """30 docs: three 3-member near-dup families (disjoint
    vocabularies so families never cross-match; variants append a
    couple of words so intra-family Jaccard stays high) + 21
    unrelated docs."""
    docs = []
    did = 0
    for fam in range(3):
        seed = " ".join(f"f{fam}word{i}" for i in range(40))
        for variant in ("", f" tail{fam}a", f" tail{fam}b extra"):
            docs.append({"doc_id": did, "text": seed + variant})
            did += 1
    for k in range(21):
        # Per-doc disjoint vocabulary, long enough to shingle. (The
        # r6-r11 filler drew from ONE shared mod-97 arithmetic
        # progression, so filler trigram sets were shifted overlaps
        # of each other — exact Jaccard up to 0.949, i.e. genuine
        # near-dups at the 0.5 threshold. The order-sensitive band
        # bug hid them; the fixed MinHash banding correctly collapses
        # them, so the fixture now makes the fillers actually
        # unrelated, matching its stated intent.)
        words = [f"k{k}w{i}" for i in range(40)]
        docs.append({"doc_id": did, "text": " ".join(words)})
        did += 1
    return docs


@pytest.fixture(scope="module")
def pipeline_lake(spark, tmp_path_factory):
    from serverless_data_lake_spark.engine import Lake

    return Lake.local(
        str(tmp_path_factory.mktemp("dedup_loop") / "lake"), spark
    )


def test_full_dedup_loop_end_state(pipeline_lake, spark):
    lake = pipeline_lake
    lake.create_endpoint(
        EndpointSchema(
            domain="corpus",
            name="documents",
            columns=[
                ColumnDef("doc_id", DataType.BIGINT, required=True,
                          primary_key=True),
                ColumnDef("text", DataType.STRING),
            ],
        )
    )
    docs = _corpus()
    res = lake.ingest_batch("corpus", "documents", docs)
    assert (res.accepted, res.failed) == (30, 0)
    silver = lake.process_silver("corpus", "documents")
    assert silver.rows_written == 30

    silver_df = lake.sql(
        "SELECT doc_id, text FROM corpus.silver.documents"
    )
    pairs = minhash_lsh_pairs(
        silver_df, "doc_id", "text",
        num_hashes=64, bands=16, shingle_size=3, verify_threshold=0.5,
    )
    deduped = dedup_corpus(silver_df, pairs, "doc_id")

    # Persist the deduped corpus through the COW MERGE write path.
    lake.store.merge("corpus_gold", "documents_dedup", deduped, ["doc_id"])
    kept = {
        r["doc_id"]
        for r in lake.store.read("corpus_gold", "documents_dedup")
        .select("doc_id").collect()
    }
    # Each 3-member family collapses to its min id; filler survives.
    assert kept == {0, 3, 6} | set(range(9, 30))

    # Idempotence: re-running the whole dedup+merge changes nothing.
    deduped2 = dedup_corpus(silver_df, pairs, "doc_id")
    lake.store.merge("corpus_gold", "documents_dedup", deduped2, ["doc_id"])
    again = {
        r["doc_id"]
        for r in lake.store.read("corpus_gold", "documents_dedup")
        .select("doc_id").collect()
    }
    assert again == kept


def test_loop_keeps_representative_text_intact(pipeline_lake):
    lake = pipeline_lake
    row = (
        lake.store.read("corpus_gold", "documents_dedup")
        .filter(F.col("doc_id") == 0)
        .collect()
    )
    assert len(row) == 1 and row[0]["text"].startswith("f0word0 f0word1")


class TestIncrementalLshDedup:
    """Batch-vs-corpus near-dup pairs (operators/dedup.py LshIndex):
    the daily-increment shape — a new batch pairs against a standing
    index without the corpus ever re-pairing with itself."""

    CORPUS = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "completely unrelated text about cooking pasta with garlic and olive oil"),
        (3, "a third corpus document describing mountain hiking trails in autumn"),
    ]
    SCHEMA = "doc_id long, text string"

    def _index(self, spark):
        from serverless_data_lake_spark.operators.dedup import (
            build_lsh_index,
        )

        corpus = spark.createDataFrame(self.CORPUS, self.SCHEMA)
        return build_lsh_index(corpus, "doc_id", "text").persist()

    @staticmethod
    def _pairs(new, index, verify_threshold):
        """(new_id, corpus_id) matches of a text batch against
        ``index``: the batch is indexed with the same parameters."""
        from serverless_data_lake_spark.operators.dedup import (
            build_lsh_index,
            lsh_pairs_index_vs_index,
        )

        batch = build_lsh_index(
            new, "doc_id", "text",
            num_hashes=index.num_hashes, bands=index.bands,
            shingle_size=index.shingle_size,
        )
        return {
            (r.new_id, r.corpus_id)
            for r in lsh_pairs_index_vs_index(
                batch, index, verify_threshold=verify_threshold
            ).collect()
        }

    def test_matches_against_corpus(self, spark):
        idx = self._index(spark)
        new = spark.createDataFrame(
            [
                # near-dup of corpus doc 1 (one word changed)
                (101, "the quick brown fox jumps over the lazy cat near the river bank"),
                (102, "a brand new document about submarine cable maintenance schedules"),
            ],
            self.SCHEMA,
        )
        assert self._pairs(new, idx, 0.5) == {(101, 1)}
        idx.unpersist()

    def test_index_roundtrips_through_parquet(self, spark, tmp_path):
        from serverless_data_lake_spark.operators.dedup import LshIndex

        idx = self._index(spark)
        idx.bands_df.write.parquet(str(tmp_path / "bands"))
        idx.grams_df.write.parquet(str(tmp_path / "grams"))
        reloaded = LshIndex(
            bands_df=spark.read.parquet(str(tmp_path / "bands")),
            grams_df=spark.read.parquet(str(tmp_path / "grams")),
            num_hashes=idx.num_hashes,
            bands=idx.bands,
            shingle_size=idx.shingle_size,
        )
        new = spark.createDataFrame(
            [(201, "the quick brown fox jumps over the lazy dog near the river bank")],
            self.SCHEMA,
        )
        # exact text -> jaccard 1.0
        assert self._pairs(new, reloaded, 0.9) == {(201, 1)}
        idx.unpersist()

    def test_index_join_agrees_with_self_join(self, spark):
        """Splitting a corpus into (index, batch) and matching must
        find exactly the cross-split pairs the full self-join LSH
        finds — the incremental path is a partition of the same
        computation."""
        import random

        from serverless_data_lake_spark.operators.dedup import (
            build_lsh_index,
            minhash_lsh_pairs,
        )

        rng = random.Random(4)
        base = [
            " ".join(f"tok{rng.randrange(30)}" for _ in range(25))
            for _ in range(40)
        ]
        rows = []
        for i, t in enumerate(base):
            rows.append((i, t))
            if i % 4 == 0:  # planted near-dup with higher id
                toks = t.split()
                toks[3] = "mutated"
                rows.append((1000 + i, " ".join(toks)))
        df = spark.createDataFrame(rows, self.SCHEMA)
        full = {
            (min(r.id_a, r.id_b), max(r.id_a, r.id_b))
            for r in minhash_lsh_pairs(
                df, "doc_id", "text", verify_threshold=0.6
            ).collect()
        }
        old = df.filter(F.col("doc_id") < 1000)
        new = df.filter(F.col("doc_id") >= 1000)
        idx = build_lsh_index(old, "doc_id", "text").persist()
        cross = {
            (min(a, b), max(a, b)) for a, b in self._pairs(new, idx, 0.6)
        }
        expected = {
            (a, b) for a, b in full
            if (a < 1000) != (b < 1000)
        }
        assert cross == expected
        idx.unpersist()


class TestContaminationReport:
    def test_report_shape_and_counts(self, spark):
        from serverless_data_lake_spark.operators.dedup import (
            contamination_report,
            decontaminate,
        )

        LEAK1 = "alpha beta gamma delta epsilon"
        LEAK2 = "one two three four five"
        train = spark.createDataFrame(
            [
                (1, f"intro {LEAK1} outro words here"),
                (2, f"another doc also containing {LEAK1} inline"),
                (3, f"this one carries {LEAK2} instead"),
                (4, "completely clean training document with safe text"),
            ],
            "doc_id long, text string",
        )
        test = spark.createDataFrame(
            [
                (100, f"prompt: {LEAK1} thanks"),
                (200, f"question about {LEAK2} please"),
                (300, "an eval item nothing in train matches at all"),
            ],
            "doc_id long, text string",
        )
        rep = {
            r.test_id: (r.n_contaminated, list(r.example_train_ids))
            for r in contamination_report(
                train, test, "doc_id", "text", n=5
            ).collect()
        }
        assert rep[100] == (2, [1, 2])
        assert rep[200] == (1, [3])
        assert rep[300] == (0, [])  # explicit zero row, not absent

        # Consistency with the filter: total contaminated train docs
        # in the report == docs decontaminate() drops.
        dropped = train.count() - decontaminate(
            train, test, "doc_id", "text", n=5
        ).count()
        distinct_contaminated = {
            i for v in rep.values() for i in v[1]
        }
        assert len(distinct_contaminated) == dropped == 3

    def test_examples_bounded(self, spark):
        from serverless_data_lake_spark.operators.dedup import (
            contamination_report,
        )

        LEAK = "zero one two three four"
        train = spark.createDataFrame(
            [(i, f"doc {i} holds {LEAK} yes") for i in range(10)],
            "doc_id long, text string",
        )
        test = spark.createDataFrame(
            [(99, f"eval with {LEAK} inside")], "doc_id long, text string"
        )
        r = contamination_report(
            train, test, "doc_id", "text", n=5, examples=3
        ).first()
        assert r.n_contaminated == 10
        assert list(r.example_train_ids) == [0, 1, 2]  # bounded, sorted


class TestIndexVsIndexPairs:
    SCHEMA = "doc_id long, text string"

    def test_agrees_with_text_path_and_full_slices(self, spark):
        """lsh_pairs_index_vs_index (r9: the minhash entry's
        signature-pass-once shape) must equal the cross-parity pairs
        of minhash_lsh_pairs run over the TEXT of the whole corpus,
        with the same exact Jaccard — and slicing ONE full-corpus
        index by parity must equal building the two sides
        separately."""
        import random

        from serverless_data_lake_spark.operators.dedup import (
            LshIndex,
            build_lsh_index,
            lsh_pairs_index_vs_index,
            minhash_lsh_pairs,
        )

        rng = random.Random(11)
        rows = []
        for i in range(60):
            t = " ".join(f"w{rng.randrange(25)}" for _ in range(20))
            rows.append((i, t))
            if i % 5 == 0:  # planted cross-parity near-dup
                toks = t.split()
                toks[2] = "changed"
                rows.append((i + 1001, " ".join(toks)))  # odd id
        df = spark.createDataFrame(rows, self.SCHEMA)
        even = df.filter(F.col("doc_id") % 2 == 0)
        odd = df.filter(F.col("doc_id") % 2 == 1)

        via_text = {
            (b, a, round(r.jaccard, 12)) if a % 2 == 0
            else (a, b, round(r.jaccard, 12))
            for r in minhash_lsh_pairs(
                df, "doc_id", "text", verify_threshold=0.5
            ).collect()
            for a, b in [(r.id_a, r.id_b)]
            if (a + b) % 2 == 1
        }
        corpus_idx = build_lsh_index(even, "doc_id", "text").persist()
        batch_idx = build_lsh_index(odd, "doc_id", "text")
        via_index = {
            (r.new_id, r.corpus_id, round(r.jaccard, 12))
            for r in lsh_pairs_index_vs_index(
                batch_idx, corpus_idx, verify_threshold=0.5
            ).collect()
        }
        assert via_index == via_text and via_text  # non-empty

        # Parity slices of ONE full index == separately built sides.
        full_idx = build_lsh_index(df, "doc_id", "text").persist()

        def _slice(parity):
            return LshIndex(
                bands_df=full_idx.bands_df.filter(
                    F.col("__cid") % 2 == parity
                ),
                grams_df=full_idx.grams_df.filter(
                    F.col("__cid") % 2 == parity
                ),
                num_hashes=full_idx.num_hashes,
                bands=full_idx.bands,
                shingle_size=full_idx.shingle_size,
            )

        via_slices = {
            (r.new_id, r.corpus_id, round(r.jaccard, 12))
            for r in lsh_pairs_index_vs_index(
                _slice(1), _slice(0), verify_threshold=0.5
            ).collect()
        }
        assert via_slices == via_index
        corpus_idx.unpersist()
        full_idx.unpersist()


class TestContaminationPairsEquivalence:
    SCHEMA = "doc_id long, text string"

    def _corpus(self, spark):
        rows = [
            (0, "alpha beta gamma delta epsilon zeta"),    # eval
            (1, "alpha beta gamma delta epsilon zeta"),    # dup of 0
            (2, "alpha beta gamma other words here now"),  # shares 1 gram w/ 0
            (3, "totally unrelated content about ships"),
            (17, "another eval doc about maritime law"),   # eval
            (4, "another eval doc about maritime law yes"),  # shares w/ 17
        ]
        return spark.createDataFrame(rows, self.SCHEMA)

    def test_min_shared_1_sets_coincide(self, spark):
        """The r9 entry consolidation rests on this: at min_shared=1
        the per-train-doc threshold (decontaminate) and the per-pair
        threshold (contamination_pairs) drop the SAME training
        docs."""
        from serverless_data_lake_spark.operators.dedup import (
            contamination_pairs,
            decontaminate,
        )

        df = self._corpus(spark)
        test = df.filter(F.col("doc_id") % 17 == 0)
        train = df.filter(F.col("doc_id") % 17 != 0)
        survivors_op = {
            r.doc_id
            for r in decontaminate(
                train, test, "doc_id", "text", n=3, min_shared=1,
                broadcast=True,
            ).collect()
        }
        dropped = {
            r["__cid"]
            for r in contamination_pairs(
                train, test, "doc_id", "text", n=3, min_shared=1
            ).collect()
        }
        survivors_pairs = {
            r.doc_id for r in train.collect()
        } - dropped
        assert survivors_op == survivors_pairs

    def test_min_shared_above_1_differs_by_construction(self, spark):
        """And the equivalence is min_shared=1 ONLY: decontaminate
        counts shared grams per TRAIN DOC across the whole eval
        suite, contamination_pairs per (eval, train) PAIR — a train
        doc sharing one gram with each of two eval docs is dropped
        by the former at min_shared=2 but by no pair row. Pins the
        boundary so the entry consolidation can't silently be
        generalized."""
        from serverless_data_lake_spark.operators.dedup import (
            contamination_pairs,
            decontaminate,
        )

        rows = [
            (0, "one two three xx yy zz"),         # eval A
            (17, "four five six xx yy zz qq"),     # eval B (shares nothing w/ A at n=3? ensure distinct)
            (1, "one two three unrelated tail words four five six"),
        ]
        df = spark.createDataFrame(rows, self.SCHEMA)
        test = df.filter(F.col("doc_id") % 17 == 0)
        train = df.filter(F.col("doc_id") % 17 != 0)
        # doc 1 shares exactly one 3-gram with each eval doc.
        pair_counts = {
            (r["__tid"], r["__cid"]): r["__shared"]
            for r in contamination_pairs(
                train, test, "doc_id", "text", n=3, min_shared=1
            ).collect()
        }
        assert pair_counts == {(0, 1): 1, (17, 1): 1}
        # per-pair threshold 2: no pair qualifies...
        assert contamination_pairs(
            train, test, "doc_id", "text", n=3, min_shared=2
        ).count() == 0
        # ...but decontaminate's per-train-doc count (1+1=2) drops it.
        assert decontaminate(
            train, test, "doc_id", "text", n=3, min_shared=2,
            broadcast=True,
        ).count() == 0
