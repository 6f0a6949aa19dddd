"""Hive-partitioned tables on TableStore: directory pruning on
partition-column filters, partition-local copy-on-write merge,
appends that land in their partitions, and restart.

The reference gets its file organization from Iceberg's (hidden)
partitioning; here the same levers are hive layout + Catalyst
partition pruning. This is the primary 100 TB file-organization
feature: a filtered scan opens only matching directories, and an
upsert rewrites only files inside the partitions its batch touches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serverless_data_lake_spark.catalog import TableStore
from serverless_data_lake_spark.config import LakeConfig


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, LakeConfig(root=str(tmp_path / "lake")))


def _base(spark, n=100, parts=4):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % parts).alias("p"),
        (F.col("id") * 2).alias("v"),
    )


def _files(store, db, table):
    """The data files of the table's newest version, as full paths."""
    location = store.info(db, table).location
    return sorted(f"{location}/{f}" for f in store._latest(location)["files"])


class TestPartitionedCreateRead:
    def test_roundtrip_and_layout(self, spark, store, tmp_path):
        info = store.create_or_replace(
            "d_gold", "t", _base(spark), ["id"], ["p"]
        )
        assert info.partition_by == ["p"]
        # Partition column values come back from directory names.
        t = store.read("d_gold", "t")
        assert t.count() == 100
        assert t.filter(F.col("p") == 2).count() == 25
        # Hive layout on disk.
        files = _files(store, "d_gold", "t")
        assert files and all("/p=" in f for f in files)

    def test_partition_pruning_in_plan(self, spark, store):
        store.create_or_replace("d_gold", "t", _base(spark), ["id"], ["p"])
        q = store.read("d_gold", "t").filter(F.col("p") == 2)
        plan = q._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "PartitionFilters" in plan
        # Only the matching directory's files are scanned (plan paths
        # get elided in toString, so check the resolved input files).
        files = q.inputFiles()
        assert files and all("/p=2/" in f for f in files)

    def test_partition_column_missing_raises(self, spark, store):
        with pytest.raises(ValueError, match="partition columns"):
            store.create_or_replace(
                "d_gold", "t", _base(spark), ["id"], ["nope"]
            )


class TestPartitionedMerge:
    def test_merge_rewrites_only_touched_partitions(self, spark, store):
        store.create_or_replace("d_gold", "t", _base(spark), ["id"], ["p"])
        before = set(_files(store, "d_gold", "t"))
        # Batch lands entirely in partition 1 (update id=1, insert
        # id=1001 with p=1).
        src = spark.createDataFrame(
            [(1, 1, -1), (1001, 1, -2)], "id long, p long, v long"
        )
        store.merge("d_gold", "t", src, ["id"])
        after = set(_files(store, "d_gold", "t"))
        # Every file outside p=1 survives by identity.
        assert {f for f in before if "/p=1/" not in f} <= after
        # p=1 files were rewritten.
        assert all("/p=1/" in f for f in after - before)
        rows = {r.id: r.v for r in store.read("d_gold", "t").collect()}
        assert rows[1] == -1 and rows[1001] == -2 and rows[0] == 0
        assert len(rows) == 101

    def test_merge_creates_partitioned_table(self, spark, store):
        store.merge("d_gold", "t", _base(spark), ["id"], ["p"])
        assert store.info("d_gold", "t").partition_by == ["p"]
        assert store.read("d_gold", "t").count() == 100

    def test_merge_new_partition_inserted(self, spark, store):
        store.create_or_replace("d_gold", "t", _base(spark), ["id"], ["p"])
        src = spark.createDataFrame([(5000, 9, 1)], "id long, p long, v long")
        store.merge("d_gold", "t", src, ["id"])
        t = store.read("d_gold", "t")
        assert t.filter(F.col("p") == 9).count() == 1
        assert t.count() == 101

    def test_merge_key_moved_partition_no_duplicate(self, spark, store):
        # A late correction that changes a row's partition value must
        # replace the stored row table-wide (Iceberg MERGE semantics),
        # not leave the old row behind in its old partition.
        store.create_or_replace("d_gold", "t", _base(spark), ["id"], ["p"])
        src = spark.createDataFrame([(1, 3, -5)], "id long, p long, v long")
        store.merge("d_gold", "t", src, ["id"])
        t = store.read("d_gold", "t")
        assert t.count() == 100  # updated, not duplicated
        got = t.filter(F.col("id") == 1).collect()
        assert len(got) == 1 and got[0].p == 3 and got[0].v == -5

    def test_merge_null_filled_partition_column_no_duplicate(self, spark, store):
        # A batch missing the partition column entirely: _conform
        # null-fills it, and the matched row must still be found in
        # its real partition (the null tuple must not be trusted as a
        # pruning filter).
        store.create_or_replace("d_gold", "t", _base(spark), ["id"], ["p"])
        src = spark.createDataFrame([(1, -5)], "id long, v long")
        store.merge("d_gold", "t", src, ["id"])
        t = store.read("d_gold", "t")
        assert t.count() == 100
        got = t.filter(F.col("id") == 1).collect()
        assert len(got) == 1 and got[0].v == -5 and got[0].p is None

    def test_merge_prune_safe_when_partition_in_keys(self, spark, store):
        # partition_by ⊆ keys: equal keys imply equal partition
        # tuples, directory pruning stays on and results are exact.
        store.create_or_replace("d_gold", "t", _base(spark), ["id", "p"], ["p"])
        src = spark.createDataFrame(
            [(1, 1, -1), (5, 1, -5)], "id long, p long, v long"
        )
        before = set(_files(store, "d_gold", "t"))
        store.merge("d_gold", "t", src, ["id", "p"])
        after = set(_files(store, "d_gold", "t"))
        assert {f for f in before if "/p=1/" not in f} <= after
        rows = {r.id: r.v for r in store.read("d_gold", "t").collect()}
        assert rows[1] == -1 and rows[5] == -5 and len(rows) == 100

    def test_merge_finds_keys_in_same_named_partition_files(
        self, spark, store
    ):
        # One task writes every partition under the same file name;
        # each file's zone map must still be its own, or a matched
        # key's file is pruned and the key duplicated.
        df = spark.range(30).select(
            F.col("id"), (F.col("id") / 10).cast("long").alias("p"),
            F.col("id").alias("v"),
        ).coalesce(1)
        info = store.create_or_replace("d_gold", "t", df, ["id"], ["p"])
        files = store._latest(info.location)["files"]
        assert sorted(e["zone_map"] for e in files.values()) == [
            [0, 9], [10, 19], [20, 29]
        ]
        src = spark.createDataFrame([(5, 0, -5)], "id long, p long, v long")
        store.merge("d_gold", "t", src, ["id"])
        rows = {r.id: r.v for r in store.read("d_gold", "t").collect()}
        assert store.read("d_gold", "t").count() == 30 and rows[5] == -5

    def test_merge_partition_value_needing_escape(self, spark, store):
        # Partition dirs such as "p=a b" and "p=c%2Fd": the matched
        # file is found, rewritten and removed.
        df = spark.createDataFrame(
            [(1, "a b", 1), (2, "c/d", 2)], "id long, p string, v long"
        ).coalesce(1)
        store.create_or_replace("d_gold", "t", df, ["id"], ["p"])
        src = spark.createDataFrame(
            [(1, "a b", -1), (2, "c/d", -2)], "id long, p string, v long"
        )
        store.merge("d_gold", "t", src, ["id"])
        got = sorted(
            (r.id, r.p, r.v) for r in store.read("d_gold", "t").collect()
        )
        assert got == [(1, "a b", -1), (2, "c/d", -2)]

    def test_merge_schema_evolution(self, spark, store):
        store.create_or_replace("d_gold", "t", _base(spark), ["id"], ["p"])
        src = spark.createDataFrame(
            [(1, 1, -1, "new")], "id long, p long, v long, extra string"
        )
        store.merge("d_gold", "t", src, ["id"])
        t = store.read("d_gold", "t")
        assert "extra" in t.columns
        got = {r.id: r.extra for r in t.select("id", "extra").collect()}
        assert got[1] == "new" and got[0] is None


class TestPartitionedAppendCompact:
    def test_append_lands_in_partition_dirs(self, spark, store):
        store.create_or_replace("d_gold", "t", _base(spark), ["id"], ["p"])
        store.append(
            "d_gold",
            "t",
            spark.createDataFrame([(2000, 9, 5)], "id long, p long, v long"),
        )
        t = store.read("d_gold", "t")
        assert t.filter(F.col("p") == 9).count() == 1
        assert t.count() == 101


class TestPartitionedRestart:
    def test_register_all_restores_partitioned_table(
        self, spark, store, tmp_path
    ):
        store.create_or_replace("d_gold", "t", _base(spark), ["id"], ["p"])
        fresh = TableStore(spark, LakeConfig(root=str(tmp_path / "lake")))
        infos = fresh.register_all()
        assert [(i.qualified, i.partition_by) for i in infos] == [
            ("d_gold.t", ["p"])
        ]
        t = fresh.read("d_gold", "t")
        assert t.count() == 100
        assert t.filter(F.col("p") == 3).count() == 25


class TestGoldJobPartitionBy:
    def test_gold_job_materializes_partitioned(self, spark, tmp_path):
        from serverless_data_lake_spark.pipeline.gold import (
            GoldJobConfig,
            GoldRunner,
        )

        cfg = LakeConfig(root=str(tmp_path / "lake"))
        store = TableStore(spark, cfg)
        base = _base(spark).withColumnRenamed("p", "bucket")
        store.create_or_replace("sales_silver", "orders", base, ["id"])
        runner = GoldRunner(spark, cfg, store=store)
        job = GoldJobConfig(
            domain="sales",
            name="by_bucket",
            query=(
                "SELECT id, bucket, v FROM sales.silver.orders"
            ),
            write_mode="append",
            unique_key=["id"],
            partition_by=["bucket"],
        )
        runner.run_job(job)
        info = store.info("sales_gold", "by_bucket")
        assert info.partition_by == ["bucket"]
        # Second (idempotent upsert) run keeps the layout and rows.
        runner.run_job(job)
        t = store.read("sales_gold", "by_bucket")
        assert t.count() == 100
        assert t.filter(F.col("bucket") == 0).count() == 25


class TestSilverPartitioning:
    """Endpoint-declared silver partitioning flows bronze → silver."""

    def test_silver_table_partitioned_by_endpoint_config(
        self, spark, tmp_path
    ):
        from pyspark.sql import functions as F

        from serverless_data_lake_spark.engine import Lake
        from serverless_data_lake_spark.schema.types import (
            ColumnDef,
            DataType,
            EndpointSchema,
        )

        lake = Lake.local(str(tmp_path / "lake"), spark)
        schema = EndpointSchema(
            domain="iot",
            name="readings",
            columns=[
                ColumnDef("id", DataType.BIGINT, primary_key=True),
                ColumnDef("region", DataType.STRING),
                ColumnDef("v", DataType.DOUBLE),
            ],
            partition_by=["region"],
        )
        lake.create_endpoint(schema)
        lake.ingest_batch(
            "iot",
            "readings",
            [
                {"id": 1, "region": "eu", "v": 1.0},
                {"id": 2, "region": "us", "v": 2.0},
                {"id": 3, "region": "eu", "v": 3.0},
            ],
        )
        lake.process_silver("iot", "readings")
        info = lake.store.info("iot_silver", "readings")
        assert info.partition_by == ["region"]
        t = lake.store.read("iot_silver", "readings")
        assert t.count() == 3
        q = t.filter(F.col("region") == "eu")
        files = q.inputFiles()
        assert files and all("/region=eu/" in f for f in files)
        # Round-trips through the registry YAML.
        assert lake.registry.get("iot", "readings").partition_by == [
            "region"
        ]


class TestIvfCellPartitionedStorage:
    """The IVF scale path end-to-end: assign corpus vectors to coarse
    cells, STORE the corpus hive-partitioned by cell id, and verify a
    probe's scan is pruned to its cell directories — file-level I/O
    proportional to nprobe/nlist of the corpus, which is what makes
    IVF sub-linear on disk and not just in compute."""

    def test_probe_scan_prunes_cells(self, spark, store):
        import numpy as np

        rng = np.random.RandomState(7)
        vecs = rng.normal(size=(400, 8)).astype(float)
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(400)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

        # Coarse assignment: reuse the IVF quantizer machinery by
        # picking the argmax-dot cell against 4 fixed centroids.
        from pyspark.sql import functions as F

        cents = [vecs[i] / np.linalg.norm(vecs[i]) for i in range(4)]
        def dot(c):
            return F.aggregate(
                F.zip_with(
                    "embedding",
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        scores = F.array(*[dot(c) for c in cents])
        assigned = df.withColumn(
            "cell",
            (F.array_position(scores, F.array_max(scores)) - 1).cast("int"),
        )
        store.create_or_replace(
            "ann_gold", "corpus", assigned, ["vec_id"], ["cell"]
        )
        t = store.read("ann_gold", "corpus")
        n_cells = t.select("cell").distinct().count()
        assert n_cells >= 2

        probe = t.filter(F.col("cell") == 0)
        files = probe.inputFiles()
        assert files and all("/cell=0/" in f for f in files)
        # Pruned I/O: strictly fewer files than the whole table.
        assert len(files) < len(t.inputFiles())
        # And the probe still finds its vectors.
        assert probe.count() > 0
        assert probe.count() + t.filter(F.col("cell") != 0).count() == 400
