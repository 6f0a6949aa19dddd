"""Hash-bucketed gold materializations: co-located, shuffle-free
joins and aggregations on the bucket key.

The co-location contract is the point: two tables bucketed the same
way on the join key read pre-partitioned, so the sort-merge join has
NO shuffle exchange on either side — at 100 TB that deletes the
dominant cost of a fact⋈dimension join. (Iceberg's ``bucket(n,col)``
partition transform is the reference-world spelling of the same
idea.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serverless_data_lake_spark.catalog import TableStore
from serverless_data_lake_spark.config import LakeConfig


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, LakeConfig(root=str(tmp_path / "lake")))


def _facts(spark, n=500):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("amount")
    )


def _dims(spark, n=500):
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("seg_"), (F.col("id") % 5)).alias("seg"),
    )


def _shuffles(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return plan.count("Exchange hashpartitioning")


class TestBucketedJoin:
    def test_cobucketed_join_has_no_shuffle(self, spark, store):
        store.create_bucketed("d_gold", "facts", _facts(spark), ["k"], 8)
        store.create_bucketed("d_gold", "dims", _dims(spark), ["k"], 8)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try:
            j = store.read("d_gold", "facts").join(
                store.read("d_gold", "dims"), "k"
            )
            assert _shuffles(j) == 0
            assert j.count() == 500
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    def test_agg_on_bucket_key_has_no_shuffle(self, spark, store):
        store.create_bucketed("d_gold", "facts", _facts(spark), ["k"], 8)
        g = (
            store.read("d_gold", "facts")
            .groupBy("k")
            .agg(F.sum("amount").alias("total"))
        )
        assert _shuffles(g) == 0
        assert g.count() == 500

    def test_rows_roundtrip(self, spark, store):
        store.create_bucketed("d_gold", "facts", _facts(spark), ["k"], 8)
        rows = {r.k: r.amount for r in store.read("d_gold", "facts").collect()}
        assert len(rows) == 500 and rows[7] == 14

    def test_replace_refreshes(self, spark, store):
        store.create_bucketed("d_gold", "facts", _facts(spark, 100), ["k"], 8)
        store.create_bucketed("d_gold", "facts", _facts(spark, 200), ["k"], 8)
        assert store.read("d_gold", "facts").count() == 200


class TestBucketedGuards:
    def test_merge_on_bucketed_raises(self, spark, store):
        store.create_bucketed("d_gold", "facts", _facts(spark), ["k"], 8)
        with pytest.raises(ValueError, match="overwrite-only"):
            store.merge("d_gold", "facts", _facts(spark, 10), ["k"])

    def test_append_on_bucketed_raises(self, spark, store):
        store.create_bucketed("d_gold", "facts", _facts(spark), ["k"], 8)
        with pytest.raises(ValueError, match="overwrite-only"):
            store.append("d_gold", "facts", _facts(spark, 10))


class TestBucketedRestart:
    def test_register_all_restores_bucketing(self, spark, store, tmp_path):
        store.create_bucketed("d_gold", "facts", _facts(spark), ["k"], 8)
        store.create_bucketed("d_gold", "dims", _dims(spark), ["k"], 8)
        fresh = TableStore(spark, LakeConfig(root=str(tmp_path / "lake")))
        infos = {i.name: i for i in fresh.register_all()}
        assert infos["facts"].bucket_by == ["k"]
        assert infos["facts"].n_buckets == 8
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try:
            j = fresh.read("d_gold", "facts").join(
                fresh.read("d_gold", "dims"), "k"
            )
            # Bucket metadata survives re-registration from disk meta.
            assert _shuffles(j) == 0
            assert j.count() == 500
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


class TestBucketedGoldJob:
    def test_gold_job_bucket_by(self, spark, tmp_path):
        from serverless_data_lake_spark.pipeline.gold import (
            GoldJobConfig,
            GoldRunner,
        )

        cfg = LakeConfig(root=str(tmp_path / "lake"))
        store = TableStore(spark, cfg)
        store.create_or_replace(
            "sales_silver", "orders", _facts(spark), ["k"]
        )
        runner = GoldRunner(spark, cfg, store=store)
        job = GoldJobConfig(
            domain="sales",
            name="orders_by_k",
            query="SELECT k, amount FROM sales.silver.orders",
            write_mode="overwrite",
            bucket_by=["k"],
            n_buckets=4,
        )
        runner.run_job(job)
        info = store.info("sales_gold", "orders_by_k")
        assert info.bucket_by == ["k"] and info.n_buckets == 4
        assert store.read("sales_gold", "orders_by_k").count() == 500

    def test_bucket_by_requires_overwrite(self, spark, tmp_path):
        from serverless_data_lake_spark.pipeline.gold import (
            GoldJobConfig,
            GoldRunner,
        )

        cfg = LakeConfig(root=str(tmp_path / "lake"))
        store = TableStore(spark, cfg)
        store.create_or_replace(
            "sales_silver", "orders", _facts(spark), ["k"]
        )
        runner = GoldRunner(spark, cfg, store=store)
        job = GoldJobConfig(
            domain="sales",
            name="bad",
            query="SELECT k, amount FROM sales.silver.orders",
            write_mode="append",
            unique_key=["k"],
            bucket_by=["k"],
        )
        with pytest.raises(ValueError, match="write_mode=overwrite"):
            runner.run_job(job)
