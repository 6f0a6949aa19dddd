"""Scheduling anchors: tag fixed-point inheritance (reference
compute_effective_tags, entrypoint.py:111-160) and DAG ordering."""

from __future__ import annotations

import pytest

from serverless_data_lake_spark.pipeline.gold import (
    compute_effective_tags,
    topo_sort,
)
from serverless_data_lake_spark.schema.registry import GoldJobConfig


def job(name, schedule_type="cron", cron="day", deps=()):
    return GoldJobConfig(
        domain="d", name=name, query="SELECT 1",
        schedule_type=schedule_type, cron_schedule=cron,
        dependencies=list(deps),
    )


class TestEffectiveTags:
    def test_cron_keeps_own_tag(self):
        tags = compute_effective_tags([job("a", cron="hour")])
        assert tags["d.a"] == "hour"

    def test_dependency_inherits_consumer(self):
        jobs = [job("base", "dependency"), job("top", cron="hour", deps=["base"])]
        assert compute_effective_tags(jobs)["d.base"] == "hour"

    def test_dependency_inherits_highest_frequency(self):
        jobs = [
            job("base", "dependency"),
            job("daily", cron="day", deps=["base"]),
            job("hourly", cron="hour", deps=["base"]),
            job("monthly", cron="month", deps=["base"]),
        ]
        assert compute_effective_tags(jobs)["d.base"] == "hour"

    def test_transitive_inheritance_fixed_point(self):
        jobs = [
            job("leaf", "dependency"),
            job("mid", "dependency", deps=["leaf"]),
            job("top", cron="hour", deps=["mid"]),
        ]
        tags = compute_effective_tags(jobs)
        assert tags["d.mid"] == "hour"
        assert tags["d.leaf"] == "hour"

    def test_orphan_dependency_defaults_daily(self):
        assert compute_effective_tags([job("solo", "dependency")])["d.solo"] == "day"


class TestTopoSort:
    def test_orders_dependencies_first(self):
        jobs = [job("top", deps=["base"]), job("base")]
        assert [j.name for j in topo_sort(jobs)] == ["base", "top"]

    def test_chain(self):
        jobs = [job("c", deps=["b"]), job("a"), job("b", deps=["a"])]
        names = [j.name for j in topo_sort(jobs)]
        assert names.index("a") < names.index("b") < names.index("c")

    def test_cycle_raises(self):
        jobs = [job("a", deps=["b"]), job("b", deps=["a"])]
        with pytest.raises(ValueError, match="cycle"):
            topo_sort(jobs)

    def test_missing_dep_tolerated(self):
        # A dependency not registered as a job is ignored (it may be a
        # plain silver table name).
        jobs = [job("a", deps=["not_a_job"])]
        assert [j.name for j in topo_sort(jobs)] == ["a"]


class TestIncrementalGold:
    """dbt-style incremental materialization: append runs only
    process rows past the target's high-water mark."""

    def _setup(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from serverless_data_lake_spark.catalog import TableStore
        from serverless_data_lake_spark.config import LakeConfig
        from serverless_data_lake_spark.pipeline.gold import GoldRunner

        cfg = LakeConfig(root=str(tmp_path / "lake"))
        store = TableStore(spark, cfg)
        base = spark.range(10).select(
            F.col("id"), (F.col("id") * 10).alias("amount")
        )
        store.create_or_replace("sales_silver", "orders", base, ["id"])
        return store, GoldRunner(spark, cfg, store=store)

    def test_incremental_appends_only_new_rows(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from serverless_data_lake_spark.schema.registry import GoldJobConfig

        store, runner = self._setup(spark, tmp_path)
        job = GoldJobConfig(
            domain="sales",
            name="inc",
            query="SELECT id, amount FROM sales.silver.orders",
            write_mode="append",
            incremental_column="id",
        )
        r1 = runner.run_job(job)
        assert r1.rows == 10
        # New silver rows beyond the high-water mark.
        more = spark.range(10, 15).select(
            F.col("id"), (F.col("id") * 10).alias("amount")
        )
        store.append("sales_silver", "orders", more)
        r2 = runner.run_job(job)
        assert r2.rows == 5  # only the delta, not 15
        out = store.read("sales_gold", "inc")
        assert out.count() == 15
        assert out.select("id").distinct().count() == 15

    def test_incremental_noop_when_no_new_rows(self, spark, tmp_path):
        from serverless_data_lake_spark.schema.registry import GoldJobConfig

        store, runner = self._setup(spark, tmp_path)
        job = GoldJobConfig(
            domain="sales",
            name="inc",
            query="SELECT id, amount FROM sales.silver.orders",
            write_mode="append",
            incremental_column="id",
        )
        runner.run_job(job)
        r2 = runner.run_job(job)
        assert r2.rows == 0
        assert store.read("sales_gold", "inc").count() == 10

    def test_incremental_with_unique_key_upserts_delta(
        self, spark, tmp_path
    ):
        from pyspark.sql import functions as F

        from serverless_data_lake_spark.schema.registry import GoldJobConfig

        store, runner = self._setup(spark, tmp_path)
        job = GoldJobConfig(
            domain="sales",
            name="inc",
            query="SELECT id, amount FROM sales.silver.orders",
            write_mode="append",
            unique_key=["id"],
            incremental_column="id",
        )
        runner.run_job(job)
        more = spark.range(10, 12).select(
            F.col("id"), (F.col("id") * 10).alias("amount")
        )
        store.append("sales_silver", "orders", more)
        r2 = runner.run_job(job)
        assert r2.rows == 2 and r2.mode == "upsert"
        assert store.read("sales_gold", "inc").count() == 12


class TestGoldFrontEnd:
    """Gold jobs read through ``QueryEngine.dataframe``, the query
    API's front end: bronze views, the ``epoch_ms`` retry, the gate."""

    def test_bronze_job_sees_every_push(self, lake):
        def push(lo, hi):
            lake.ingest_batch(
                "sales", "events", [{"id": i, "v": i * 1.5} for i in range(lo, hi)]
            )

        def gold_n():
            return lake.query("SELECT n FROM sales.gold.ev").rows[0]["n"]

        push(0, 5)
        lake.create_gold_job(GoldJobConfig(
            domain="sales", name="ev",
            query="SELECT count(*) AS n, sum(id) AS s FROM sales.bronze.events",
        ))
        assert lake.run_gold("sales", "ev").rows == 1  # a fresh session
        assert gold_n() == 5
        # A query registers the view; a later run must not read its
        # file listing.
        assert lake.query(
            "SELECT count(*) AS n FROM sales.bronze.events"
        ).rows[0]["n"] == 5
        push(5, 8)
        lake.run_gold("sales", "ev")
        assert gold_n() == 8

    def test_epoch_ms_timestamp_direction(self, lake):
        sql = "SELECT epoch_ms(TIMESTAMP '2026-01-02 03:04:05.678') AS ms"
        lake.create_gold_job(GoldJobConfig(domain="sales", name="ms", query=sql))
        assert lake.run_gold("sales", "ms").rows == 1
        want = lake.sql(sql).collect()[0].ms
        assert lake.query("SELECT ms FROM sales.gold.ms").rows[0]["ms"] == want


def test_bad_write_mode_fails_at_save_not_on_listing(lake, tmp_path):
    """r9 review: write_mode validates on the SAVE path (fail at
    creation), but deserialization stays tolerant — one legacy
    config row with an unknown mode must not take down listing of
    the whole gold registry."""
    import os

    import pytest
    import yaml

    from serverless_data_lake_spark.schema.registry import GoldJobConfig

    good = GoldJobConfig(domain="sales", name="ok_job",
                         query="SELECT 1 AS x")
    lake.create_gold_job(good)
    with pytest.raises(ValueError, match="write_mode"):
        lake.create_gold_job(GoldJobConfig(
            domain="sales", name="bad_job", query="SELECT 1 AS x",
            write_mode="upsert"))
    # Plant a legacy on-disk config with the bad spelling directly.
    d = os.path.join(lake.registry.root, "sales", "gold", "legacy_job")
    os.makedirs(d, exist_ok=True)
    cfg = good.to_dict()
    cfg.update(name="legacy_job", write_mode="upsert")
    with open(os.path.join(d, "config.yaml"), "w") as fh:
        yaml.safe_dump(cfg, fh)
    names = {j.name for j in lake.registry.list_gold_jobs("sales")}
    assert {"ok_job", "legacy_job"} <= names  # listing survives
    # ... but RUNNING the legacy row fails loudly on its FIRST run
    # (r9 review: without _run_job's validate(), an unknown mode
    # slipped through the table-doesn't-exist branch, "succeeded"
    # once, and only errored on the second run) and the failure is
    # recorded in the execution status.
    with pytest.raises(ValueError, match="write_mode"):
        lake.run_gold("sales", "legacy_job")
    status = lake.registry.get_execution_status("sales", "legacy_job")
    assert status["status"] == "FAILED"
    assert "write_mode" in status["error"]

    # The query passes the query API's gate at save, over HTTP too.
    import json
    import urllib.error
    import urllib.request

    from serverless_data_lake_spark.plans.validate import QueryValidationError
    from serverless_data_lake_spark.serving import LakeServer

    spy = GoldJobConfig(
        domain="sales", name="spy",
        query="SELECT reflect('java.lang.System','getProperty','user.name') AS u",
    )
    with pytest.raises(QueryValidationError, match="reflect"):
        lake.create_gold_job(spy)
    srv = LakeServer(lake)
    port = srv.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/transform/jobs",
            data=json.dumps(spy.to_dict()).encode(), method="POST",
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(req)
        assert err.value.code == 400
    finally:
        srv.stop()
    assert lake.registry.get_gold_job("sales", "spy") is None
