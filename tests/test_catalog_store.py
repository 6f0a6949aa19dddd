"""TableStore mechanics: file-level COW merge rewrites only matched
files; compaction bin-packs small files; schema evolution."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from serverless_data_lake_spark.catalog import TableStore
from serverless_data_lake_spark.config import LakeConfig


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, LakeConfig(root=str(tmp_path / "lake")))


def _files(store, db, table):
    info = store.info(db, table)
    return sorted(store._list_data_files(info.location))


class TestMergeCow:
    def test_merge_rewrites_only_matched_files(self, spark, store):
        # Two distinct key ranges written as separate appends → at
        # least two files with disjoint keys.
        df1 = spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit("a").alias("v")
        ).coalesce(1)
        df2 = spark.range(1000, 1100).select(
            F.col("id").alias("k"), F.lit("b").alias("v")
        ).coalesce(1)
        store.create_or_replace("db", "t", df1, ["k"])
        store.append("db", "t", df2)
        before = _files(store, "db", "t")
        assert len(before) >= 2

        # Batch touches ONLY keys in df2's range.
        updates = spark.createDataFrame([(1000, "B")], ["k", "v"])
        store.merge("db", "t", updates, ["k"])
        after = _files(store, "db", "t")

        # df1's file(s) survive untouched (same names); df2's were
        # rewritten (different names).
        untouched = set(before) & set(after)
        assert untouched  # at least the unmatched file persisted
        rows = {r.k: r.v for r in store.read("db", "t").collect()}
        assert rows[1000] == "B" and rows[0] == "a"
        assert len(rows) == 200

    def test_merge_insert_new_keys(self, spark, store):
        store.create_or_replace(
            "db", "t", spark.createDataFrame([(1, "x")], ["k", "v"]), ["k"]
        )
        store.merge(
            "db", "t", spark.createDataFrame([(2, "y")], ["k", "v"]), ["k"]
        )
        assert store.read("db", "t").count() == 2

    def test_schema_evolution_on_merge(self, spark, store):
        store.create_or_replace(
            "db", "t", spark.createDataFrame([(1, "x")], ["k", "v"]), ["k"]
        )
        store.merge(
            "db", "t",
            spark.createDataFrame([(2, "y", 9.5)], ["k", "v", "score"]),
            ["k"],
        )
        rows = {r.k: (r.v, r.score) for r in store.read("db", "t").collect()}
        assert rows[1] == ("x", None)
        assert rows[2] == ("y", 9.5)


class TestCompaction:
    def test_compacts_small_files(self, spark, store):
        store.create_or_replace(
            "db", "t",
            spark.range(0, 10).select(F.col("id").alias("k")).coalesce(1),
            ["k"],
        )
        for i in range(5):
            store.append(
                "db", "t",
                spark.range(100 + i, 101 + i).select(
                    F.col("id").alias("k")
                ).coalesce(1),
            )
        before = _files(store, "db", "t")
        assert len(before) >= 6
        compacted = store.compact("db", "t")
        assert compacted == len(before)
        after = _files(store, "db", "t")
        assert len(after) < len(before)
        assert store.read("db", "t").count() == 15

    def test_compact_noop_on_single_file(self, spark, store):
        store.create_or_replace(
            "db", "t", spark.range(5).select(F.col("id").alias("k")).coalesce(1)
        )
        assert store.compact("db", "t") == 0

    def test_compact_skips_large_files(self, spark, store):
        store.create_or_replace(
            "db", "t", spark.range(5).select(F.col("id").alias("k")).coalesce(1)
        )
        store.append(
            "db", "t", spark.range(5, 10).select(F.col("id").alias("k")).coalesce(1)
        )
        # threshold below any real file size -> nothing is "small"
        assert store.compact("db", "t", small_file_bytes=1) == 0


class TestCommitRecovery:
    """Hand-built crashed states the fault-injection test below cannot
    reach: a pending marker met by a later write in the same session,
    and a staging dir that carries a meta file."""

    def _setup(self, spark, store):
        df1 = spark.range(0, 10).select(
            F.col("id").alias("k"), F.lit("a").alias("v")
        ).coalesce(1)
        df2 = spark.range(100, 110).select(
            F.col("id").alias("k"), F.lit("b").alias("v")
        ).coalesce(1)
        store.create_or_replace("db", "t", df1, ["k"])
        store.append("db", "t", df2)
        return store.info("db", "t")

    def test_merge_heals_prior_crash(self, spark, store):
        """A real merge on a table with a pending marker rolls the
        crashed commit forward before computing its own COW set."""
        info = self._setup(spark, store)
        originals = store._list_data_files(info.location)
        staging = f"{info.location}__stage_crash"
        spark.read.parquet(info.location).write.mode("overwrite").parquet(
            staging
        )
        store._write_pending(info, staging, originals, {})

        updates = spark.createDataFrame([(0, "Z")], ["k", "v"])
        store.merge("db", "t", updates, ["k"])
        rows = {r.k: r.v for r in store.read("db", "t").collect()}
        assert len(rows) == 20 and rows[0] == "Z" and rows[100] == "b"

    def test_register_all_skips_stage_dirs(self, spark, store, tmp_path):
        self._setup(spark, store)
        # Leftover staging dir with a meta file must not register.
        info = store.info("db", "t")
        staging = f"{info.location}__stage_leftover"
        spark.range(1).write.parquet(staging)
        store._write_json(
            f"{staging}/_sdls_meta.json",
            {"schema": spark.range(1).schema.json()},
        )
        names = {i.name for i in store.register_all()}
        assert names == {"t"}


class _FaultyFs:
    """A Hadoop FileSystem whose mutating calls are counted, and the
    ``fail_at``-th one raises instead of running: a crash at exactly
    that point of a commit."""

    MUTATING = ("create", "rename", "delete", "mkdirs")

    def __init__(self, fs, state):
        self._fs, self._state = fs, state

    def __getattr__(self, name):
        attr = getattr(self._fs, name)
        if name not in self.MUTATING:
            return attr

        def call(*args):
            self._state["n"] += 1
            if self._state["n"] == self._state["fail_at"]:
                raise _Crash(f"{name} #{self._state['n']}")
            return attr(*args)

        return call


class _Crash(Exception):
    pass


def _faulty(store, fail_at=0):
    """Route the store's filesystem helpers through ``_FaultyFs``;
    returns the call counter (``fail_at=0`` never fails)."""
    state = {"n": 0, "fail_at": fail_at}
    real = store._fs
    store._fs = lambda path: _FaultyFs(real(path), state)
    return state


class TestCommitFaultInjection:
    """A crash at every filesystem step of one commit: after a fresh
    store's ``register_all`` and one no-op write, the table holds
    exactly its pre-write or its post-write state — rows, schema,
    partition list and file count — and its zone maps cover every
    live file."""

    def _frame(self, spark, lo, hi, tag):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("p"),
            F.lit(tag).alias("v"),
        ).coalesce(1)

    def _flat(self, spark):
        return lambda store: store.create_or_replace(
            "db", "t", self._frame(spark, 0, 10, "a"), ["k"]
        )

    def _state(self, spark, root):
        store = TableStore(spark, LakeConfig(root=root))
        info = store.info("db", "t")
        if info is None:
            return None
        df = store.read("db", "t")
        rows = sorted(repr(sorted(r.asDict().items())) for r in df.collect())
        live = {rel for _, rel, _ in store._walk_data_files(info.location)}
        assert set(store._load_file_stats(info.location)) == live
        return rows, df.schema.simpleString(), info.partition_by, len(live)

    def _noop_write(self, spark, root):
        """Upsert one stored row unchanged."""
        store = TableStore(spark, LakeConfig(root=root))
        if store.info("db", "t") is None:
            return
        df = store.read("db", "t")
        row = spark.createDataFrame([df.first()], df.schema)
        store.merge("db", "t", row, ["k"])

    def _check(self, spark, tmp_path, setup, write):
        template = str(tmp_path / "template")
        os.makedirs(template)
        setup(TableStore(spark, LakeConfig(root=template)))
        pre = self._state(spark, template)

        def run(name, fail_at):
            root = str(tmp_path / name)
            shutil.copytree(template, root)
            store = TableStore(spark, LakeConfig(root=root))
            calls = _faulty(store, fail_at)
            if fail_at:
                with pytest.raises(_Crash):
                    write(store)
            else:
                write(store)
            return root, calls["n"]

        root, n_calls = run("clean", 0)
        post = self._state(spark, root)
        assert pre != post and n_calls >= 4
        for k in range(1, n_calls + 1):
            root, _ = run(f"crash{k}", k)
            TableStore(spark, LakeConfig(root=root)).register_all()
            assert not os.path.exists(
                f"{root}/warehouse/db/t/_sdls_pending.json"
            )
            got = self._state(spark, root)
            assert got in (pre, post), f"crash at mutating call {k}"
            self._noop_write(spark, root)
            # The no-op write may rewrite a file, not change the table.
            after = self._state(spark, root)
            assert (after and after[:3]) == (got and got[:3]), (
                f"crash at mutating call {k}"
            )

    def test_merge_widening_schema(self, spark, tmp_path):
        def write(store):
            batch = self._frame(spark, 5, 15, "b").withColumn(
                "w", F.col("k") * 10
            )
            store.merge("db", "t", batch, ["k"])

        self._check(spark, tmp_path, self._flat(spark), write)

    def test_append(self, spark, tmp_path):
        def write(store):
            store.append("db", "t", self._frame(spark, 20, 30, "b"))

        self._check(spark, tmp_path, self._flat(spark), write)

    def test_replace_flat_with_partitioned(self, spark, tmp_path):
        def write(store):
            store.create_or_replace(
                "db", "t", self._frame(spark, 5, 15, "b"), ["k"], ["p"]
            )

        self._check(spark, tmp_path, self._flat(spark), write)

    def test_create_new_table(self, spark, tmp_path):
        def write(store):
            store.create_or_replace(
                "db", "t", self._frame(spark, 0, 10, "a"), ["k"], ["p"]
            )

        self._check(spark, tmp_path, lambda store: None, write)

    def test_compact(self, spark, tmp_path):
        def setup(store):
            self._flat(spark)(store)
            store.append("db", "t", self._frame(spark, 10, 20, "b"))

        def write(store):
            assert store.compact("db", "t") == 2

        self._check(spark, tmp_path, setup, write)


class TestZoneMaps:
    """Per-file lead-key min/max stats: maintained by every write,
    consumed by merge to prune non-overlapping files before the
    affected-file scan (data skipping a la Iceberg/Delta)."""

    def _two_range_table(self, spark, store):
        lo = spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit("lo").alias("v")
        ).coalesce(1)
        hi = spark.range(10_000, 10_100).select(
            F.col("id").alias("k"), F.lit("hi").alias("v")
        ).coalesce(1)
        store.create_or_replace("db", "t", lo, ["k"])
        store.append("db", "t", hi)
        return store.info("db", "t")

    def test_stats_written_and_updated(self, spark, store):
        info = self._two_range_table(spark, store)
        stats = store._load_file_stats(info.location)
        files = store._list_data_files(info.location)
        assert len(stats) == len(files) >= 2
        ranges = sorted(tuple(v) for v in stats.values())
        assert ranges[0] == (0, 99) and ranges[-1] == (10_000, 10_099)

    def test_merge_prunes_disjoint_files(self, spark, store):
        info = self._two_range_table(spark, store)
        before = {
            f.rsplit("/", 1)[-1] for f in store._list_data_files(info.location)
        }
        stats_before = store._load_file_stats(info.location)
        # Batch touches only the hi range; the lo file's range [0,99]
        # is disjoint -> pruned before the affected scan.
        lo_file = next(b for b, v in stats_before.items() if v[1] == 99)
        updates = spark.createDataFrame([(10_000, "HI")], ["k", "v"])
        store.merge("db", "t", updates, ["k"])
        after = {
            f.rsplit("/", 1)[-1] for f in store._list_data_files(info.location)
        }
        assert lo_file in after  # untouched, not rewritten
        rows = {r.k: r.v for r in store.read("db", "t").collect()}
        assert rows[10_000] == "HI" and rows[0] == "lo" and len(rows) == 200
        # stats follow the rewrite: deleted file's entry gone, new
        # file's entry present, lo entry intact
        stats_after = store._load_file_stats(info.location)
        assert stats_after[lo_file] == [0, 99]
        assert len(stats_after) == len(after)

    def test_prune_by_stats_logic(self, store):
        stats = {"a": [0, 99], "b": [100, 199], "c": [50, 150]}
        files = ["/x/a", "/x/b", "/x/c", "/x/unknown"]
        # batch [120, 130]: a disjoint; b, c overlap; unknown kept
        kept = store._prune_by_stats(files, stats, 120, 130)
        assert kept == ["/x/b", "/x/c", "/x/unknown"]
        # non-numeric bounds -> no pruning
        assert store._prune_by_stats(files, stats, "x", "y") == files

    def test_merge_against_fully_disjoint_batch_inserts_only(self, spark, store):
        self._two_range_table(spark, store)
        batch = spark.createDataFrame([(500, "new")], ["k", "v"])
        info = store.info("db", "t")
        before = set(store._list_data_files(info.location))
        store.merge("db", "t", batch, ["k"])
        after = set(store._list_data_files(info.location))
        assert before <= after  # nothing rewritten, pure insert
        assert store.read("db", "t").count() == 201

    def test_compact_refreshes_stats(self, spark, store):
        store.create_or_replace(
            "db", "t",
            spark.range(5).select(F.col("id").alias("k")).coalesce(1), ["k"],
        )
        for i in range(4):
            store.append(
                "db", "t",
                spark.range(100 + i, 101 + i).select(
                    F.col("id").alias("k")
                ).coalesce(1),
            )
        info = store.info("db", "t")
        assert store.compact("db", "t") >= 2
        stats = store._load_file_stats(info.location)
        files = store._list_data_files(info.location)
        assert set(stats) == {f.rsplit("/", 1)[-1] for f in files}


@pytest.fixture()
def tt_store(spark, tmp_path):
    return TableStore(
        spark, LakeConfig(root=str(tmp_path / "ttlake")), retain_history=True
    )


class TestTimeTravel:
    """retain_history: every committed write records a snapshot;
    replaced files go to _archive/; read_version reconstructs any
    snapshot; vacuum prunes."""

    def test_merge_history(self, spark, tt_store):
        tt_store.create_or_replace(
            "db", "t",
            spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), ["k"],
        )
        tt_store.merge(
            "db", "t", spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]),
            ["k"],
        )
        snaps = tt_store.snapshots("db", "t")
        assert [s["version"] for s in snaps] == [1, 2]
        v1 = {(r.k, r.v) for r in tt_store.read_version("db", "t", 1).collect()}
        v2 = {(r.k, r.v) for r in tt_store.read_version("db", "t", 2).collect()}
        assert v1 == {(1, "a"), (2, "b")}
        assert v2 == {(1, "a"), (2, "B"), (3, "c")}
        # current read matches latest snapshot
        cur = {(r.k, r.v) for r in tt_store.read("db", "t").collect()}
        assert cur == v2

    def test_overwrite_preserves_history(self, spark, tt_store):
        tt_store.create_or_replace(
            "db", "t", spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"]
        )
        tt_store.create_or_replace(
            "db", "t", spark.createDataFrame([(9, "z")], ["k", "v"]), ["k"]
        )
        v1 = {(r.k, r.v) for r in tt_store.read_version("db", "t", 1).collect()}
        v2 = {(r.k, r.v) for r in tt_store.read_version("db", "t", 2).collect()}
        assert v1 == {(1, "a")} and v2 == {(9, "z")}

    def test_schema_evolution_snapshot_schemas(self, spark, tt_store):
        tt_store.create_or_replace(
            "db", "t", spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"]
        )
        tt_store.append(
            "db", "t", spark.createDataFrame([(2, "b", 7.5)], ["k", "v", "w"])
        )
        v1 = tt_store.read_version("db", "t", 1)
        v2 = tt_store.read_version("db", "t", 2)
        assert v1.columns == ["k", "v"]
        assert v2.columns == ["k", "v", "w"]
        rows = {r.k: r.w for r in v2.collect()}
        assert rows[1] is None and rows[2] == 7.5

    def test_vacuum_prunes_old_versions(self, spark, tt_store):
        tt_store.create_or_replace(
            "db", "t", spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"]
        )
        tt_store.merge(
            "db", "t", spark.createDataFrame([(1, "A")], ["k", "v"]), ["k"]
        )
        tt_store.merge(
            "db", "t", spark.createDataFrame([(1, "AA")], ["k", "v"]), ["k"]
        )
        assert len(tt_store.snapshots("db", "t")) == 3
        removed = tt_store.vacuum("db", "t", keep_last=1)
        assert removed >= 1
        assert [s["version"] for s in tt_store.snapshots("db", "t")] == [3]
        with pytest.raises(KeyError):
            tt_store.read_version("db", "t", 1)
        # latest still reads fine
        assert tt_store.read_version("db", "t", 3).collect()[0].v == "AA"

    def test_no_history_mode_records_nothing(self, spark, store):
        store.create_or_replace(
            "db", "t", spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"]
        )
        assert store.snapshots("db", "t") == []


class TestCompactSortBy:
    def test_sorted_compaction_tightens_zone_maps(self, spark, store):
        from pyspark.sql import functions as F

        # Interleaved appends: every file spans nearly the full key
        # range, so zone maps prune nothing.
        for i in range(4):
            df = spark.range(1000).select(
                (F.col("id") * 4 + i).alias("k"),
                F.lit(f"b{i}").alias("v"),
            ).coalesce(1)
            store.append("db", "t", df, ["k"])
        n = store.compact(
            "db", "t", target_file_bytes=16 * 1024, sort_by=["k"]
        )
        assert n == 4
        info = store.info("db", "t")
        stats = store._load_file_stats(info.location)  # noqa: SLF001
        files = store._list_data_files(info.location)  # noqa: SLF001
        assert len(files) >= 2
        # Post-sort, file key ranges are disjoint (tight clustering).
        ranges = sorted(stats.values())
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 < lo2
        # Rows intact.
        assert store.read("db", "t").count() == 4000
