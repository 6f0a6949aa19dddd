"""Source/domain mixing operators (operators/mixing.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from serverless_data_lake_spark.operators.mixing import (
    cap_per_group,
    rebalance_sources,
    source_mix_report,
)


@pytest.fixture()
def skewed(spark):
    # domain 'big' has 40 rows, 'mid' 10, 'small' 2.
    rows = (
        [(i, "big", i % 3) for i in range(40)]
        + [(100 + i, "mid", 0) for i in range(10)]
        + [(200, "small", 0), (201, "small", 1)]
    )
    return spark.createDataFrame(rows, "id long, dom string, pri long")


class TestCapPerGroup:
    def test_matches_naive_window(self, spark, skewed):
        for max_rows, pri in ((5, None), (3, "pri"), (1, "pri")):
            got = cap_per_group(
                skewed, "dom", "id", max_rows, priority_col=pri,
                buckets=4,
            )
            order = ([F.col(pri).asc()] if pri else []) + [F.col("id").asc()]
            w = Window.partitionBy("dom").orderBy(*order)
            naive = (
                skewed.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= max_rows)
                .drop("__r")
            )
            assert sorted(r["id"] for r in got.collect()) == sorted(
                r["id"] for r in naive.collect()
            )

    def test_counts_capped(self, spark, skewed):
        got = cap_per_group(skewed, "dom", "id", 5)
        by = {
            r["dom"]: r["n"]
            for r in got.groupBy("dom").agg(F.count("*").alias("n")).collect()
        }
        assert by == {"big": 5, "mid": 5, "small": 2}
        # Deterministic winners: lowest ids.
        ids = sorted(
            r["id"] for r in got.filter("dom = 'big'").collect()
        )
        assert ids == [0, 1, 2, 3, 4]


class TestRebalance:
    def test_caps_dominant_source(self, spark, skewed):
        out = rebalance_sources(skewed, "dom", "id", max_frac=0.5)
        by = {
            r["dom"]: r["n"]
            for r in out.groupBy("dom").agg(F.count("*").alias("n")).collect()
        }
        total = sum(by.values())
        # 'big' must not exceed ~half the final corpus (hash sampling
        # is probabilistic around the solved rate: allow slack).
        assert by["small"] == 2 and by["mid"] == 10  # untouched
        assert by["big"] <= 0.65 * total
        # Deterministic: same inputs, same selection.
        again = rebalance_sources(skewed, "dom", "id", max_frac=0.5)
        assert sorted(r["id"] for r in again.collect()) == sorted(
            r["id"] for r in out.collect()
        )

    def test_noop_when_balanced(self, spark, skewed):
        out = rebalance_sources(
            skewed.filter("dom != 'big'"), "dom", "id", max_frac=0.9
        )
        assert out.count() == 12

    def test_null_group_rows_survive(self, spark):
        """A NULL source is a group like any other: rows must not
        vanish through the rate join (inner equi-join would drop
        them — NULL never equals NULL)."""
        df = spark.createDataFrame(
            [(i, None if i < 3 else "a") for i in range(13)],
            "id long, dom string",
        )
        out = rebalance_sources(df, "dom", "id", max_frac=0.9)
        got = {r.dom: 1 for r in out.collect()}
        assert None in got  # null-group rows kept
        assert out.filter(F.col("dom").isNull()).count() == 3

    def test_non_string_group_column(self, spark):
        """The rate-table key follows df's own group-column type."""
        df = spark.createDataFrame(
            [(i, i % 2) for i in range(20)], "id long, src int"
        )
        out = rebalance_sources(df, "src", "id", max_frac=0.9)
        assert out.count() == 20
        assert dict(out.dtypes)["src"] == "int"

    def test_fixed_point_exact(self):
        # The solved cap must satisfy: capped groups contribute
        # max_frac of the FINAL total. Verify the arithmetic directly
        # on the sizes used above: {big: 40, mid: 10, small: 2}.
        max_frac = 0.5
        sizes = [40, 10, 2]
        t = float(sum(sizes))
        for _ in range(10_000):
            cap = max_frac * t
            new_t = sum(min(n, cap) for n in sizes)
            if abs(new_t - t) < 1e-9:
                break
            t = new_t
        # big capped at cap, others whole: t = cap + 12 and
        # cap = 0.5 t -> t = 24, cap = 12.
        assert t == pytest.approx(24.0)

    def test_mix_report(self, spark, skewed):
        rep = {
            r["dom"]: (r["n"], r["frac"])
            for r in source_mix_report(skewed, "dom").collect()
        }
        assert rep["big"][0] == 40
        assert rep["big"][1] == pytest.approx(40 / 52)
        assert sum(f for _n, f in rep.values()) == pytest.approx(1.0)

    def test_group_cap_guard(self, spark):
        import serverless_data_lake_spark.operators.mixing as mixing

        df = spark.createDataFrame(
            [(i, f"g{i}") for i in range(10)], "id long, dom string"
        )
        old = mixing.REBALANCE_GROUP_CAP
        mixing.REBALANCE_GROUP_CAP = 5
        try:
            with pytest.raises(ValueError, match="REBALANCE_GROUP_CAP"):
                rebalance_sources(df, "dom", "id", max_frac=0.5)
        finally:
            mixing.REBALANCE_GROUP_CAP = old


def test_curation_hooks(spark):
    from serverless_data_lake_spark.pipeline.curation import (
        CurationPipeline,
    )

    rows = (
        [(i, "big", f"text number {i} with unique tail{i} words") for i in range(20)]
        + [(100 + i, "small", f"other doc {i} entirely different tail{i}")
           for i in range(4)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    pipe = (
        CurationPipeline("doc_id", "text")
        .cap_per_source("source", 10)
        .rebalance_sources("source", 0.75)
    )
    kept = {}
    _out, report = pipe.execute(
        docs, sink=lambda d: kept.update(
            {r["doc_id"]: r["source"] for r in d.collect()}
        )
    )
    assert report[0].rows_in == 24
    assert report[0].rows_out == 14  # big capped 20 -> 10
    from collections import Counter
    mix = Counter(kept.values())
    assert mix["small"] == 4
    assert mix["big"] <= 12  # rebalanced near 0.75 of the final mix
