"""TableStore mechanics: file-level COW merge rewrites only matched
files; schema evolution; crash recovery and commit conflicts."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from serverless_data_lake_spark.catalog import CommitConflict, TableStore
from serverless_data_lake_spark.config import LakeConfig
from serverless_data_lake_spark.engine import Lake
from serverless_data_lake_spark.schema.types import (
    ColumnDef,
    DataType,
    EndpointSchema,
)


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, LakeConfig(root=str(tmp_path / "lake")))


def _files(store, db, table):
    """The data files of the table's newest version."""
    return sorted(store._latest(store.info(db, table).location)["files"])


def _leftovers(root):
    """What crashed commits left under ``root``: staging dirs and temp
    version files."""
    out = []
    for _, dirs, names in os.walk(root):
        out += [n for n in dirs if "__stage_" in n]
        out += [n for n in names if n.endswith((".tmp", ".tmp.crc"))]
    return out


def _on_disk(location):
    """The data files under a table dir, as paths below it."""
    out = set()
    for d, dirs, names in os.walk(location):
        dirs[:] = [n for n in dirs if not n.startswith(("_", "."))]
        out.update(
            os.path.relpath(os.path.join(d, n), location)
            for n in names
            if not n.startswith(("_", "."))
        )
    return out


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


class TestCommitRecovery:
    """Crashed states the fault-injection test below does not reach: a
    half rolled-forward commit met by a later write of the same store,
    and a staging dir that carries a commit log."""

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
        """A real merge on a table whose last commit crashed before its
        roll-forward rolls that commit forward before computing its own
        COW set."""
        info = self._setup(spark, store)
        copy = spark.read.parquet(info.location)
        real_fs = store._fs
        # Calls 1-2 publish the version; call 3 moves the first staged
        # file in.
        _faulty(store, fail_at=3)
        with pytest.raises(_Crash):
            store.create_or_replace("db", "t", copy, ["k"])
        store._fs = real_fs

        updates = spark.createDataFrame([(0, "Z")], ["k", "v"])
        store.merge("db", "t", updates, ["k"])
        rows = {r.k: r.v for r in store.read("db", "t").collect()}
        assert len(rows) == 20 and rows[0] == "Z" and rows[100] == "b"

    def test_register_all_skips_stage_dirs(self, spark, store, tmp_path):
        self._setup(spark, store)
        # Leftover staging dir with a commit log must not register.
        info = store.info("db", "t")
        staging = f"{info.location}__stage_leftover"
        spark.range(1).write.parquet(staging)
        shutil.copytree(f"{info.location}/_log", f"{staging}/_log")
        names = {i.name for i in store.register_all()}
        assert names == {"t"}


class _FaultyFs:
    """A Hadoop FileSystem whose mutating calls are counted, and the
    ``fail_at``-th one (or the first one named ``fail_at``) raises
    instead of running: a crash at exactly that point of a commit.
    With ``tear``, a failing ``create`` runs
    and returns a stream that writes half of its bytes, then raises: a
    crash mid-write."""

    MUTATING = ("create", "rename", "delete", "mkdirs")

    def __init__(self, fs, state):
        self._fs, self._state = fs, state

    def __getattr__(self, name):
        attr = getattr(self._fs, name)
        if name not in self.MUTATING:
            return attr

        def call(*args):
            self._state["n"] += 1
            self._state["names"].append(name)
            if self._state["fail_at"] in (self._state["n"], name):
                if name == "create" and self._state["tear"]:
                    return _TornStream(attr(*args))
                raise _Crash(f"{name} #{self._state['n']}")
            return attr(*args)

        return call


class _TornStream:
    def __init__(self, out):
        self._out = out

    def write(self, data):
        self._out.write(data[: len(data) // 2])
        raise _Crash("torn write")

    def close(self):
        self._out.close()


class _Crash(Exception):
    pass


def _faulty(store, fail_at=0, tear=False):
    """Route the store's filesystem helpers through ``_FaultyFs``;
    returns the call counter and the calls' names (``fail_at=0`` never
    fails)."""
    state = {"n": 0, "names": [], "fail_at": fail_at, "tear": tear}
    real = store._fs
    store._fs = lambda path: _FaultyFs(real(path), state)
    return state


class TestCommitFaultInjection:
    """A crash at every filesystem step of one commit: after a fresh
    store's ``register_all`` and one no-op write, the table holds
    exactly its pre-write or its post-write state — rows, schema,
    partition list and file count — in one version: no version is
    left half rolled forward, and the table's version file map is
    exactly the data files on disk, each with a zone map. A crash
    before the version's rename (calls 1-2) leaves a staging dir,
    which ``vacuum`` removes without changing the table."""

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
        newest = store._latest(info.location)
        assert len(store._versions(info.location)) == 1
        assert not os.path.exists(info.location + newest["staging"])
        assert set(newest["files"]) == _on_disk(info.location)
        assert all(e["zone_map"] for e in newest["files"].values())
        return (
            rows, df.schema.simpleString(), info.partition_by,
            len(newest["files"]),
        )

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
            got = self._state(spark, root)
            assert got in (pre, post), f"crash at mutating call {k}"
            if k <= 2 and got:
                assert _leftovers(root)
                TableStore(spark, LakeConfig(root=root)).vacuum("db", "t")
                assert not _leftovers(root)
                assert self._state(spark, root) == got
            self._noop_write(spark, root)
            # The no-op write may rewrite a file, not change the table.
            after = self._state(spark, root)
            assert (after and after[:3]) == (got and got[:3]), (
                f"crash at mutating call {k}"
            )

    def _widening_merge(self, spark, store):
        batch = self._frame(spark, 5, 15, "b").withColumn(
            "w", F.col("k") * 10
        )
        store.merge("db", "t", batch, ["k"])

    def _partitioned_replace(self, spark, store):
        store.create_or_replace(
            "db", "t", self._frame(spark, 5, 15, "b"), ["k"], ["p"]
        )

    def test_merge_widening_schema(self, spark, tmp_path):
        self._check(
            spark, tmp_path, self._flat(spark),
            lambda store: self._widening_merge(spark, store),
        )

    def test_append(self, spark, tmp_path):
        def write(store):
            store.append("db", "t", self._frame(spark, 20, 30, "b"))

        self._check(spark, tmp_path, self._flat(spark), write)

    def test_replace_flat_with_partitioned(self, spark, tmp_path):
        self._check(
            spark, tmp_path, self._flat(spark),
            lambda store: self._partitioned_replace(spark, store),
        )

    def test_create_new_table(self, spark, tmp_path):
        def write(store):
            store.create_or_replace(
                "db", "t", self._frame(spark, 0, 10, "a"), ["k"], ["p"]
            )

        self._check(spark, tmp_path, lambda store: None, write)


class TestCommitLog:
    """A commit torn mid-write is no version, and a commit whose
    version another writer took is detected and undone."""

    def _table(self, spark, store):
        store.create_or_replace(
            "db", "t",
            spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), ["k"],
        )

    def _rows(self, store):
        return {(r.k, r.v) for r in store.read("db", "t").collect()}

    def test_torn_commit_leaves_last_version(self, spark, tmp_path):
        root = str(tmp_path / "lake")
        store = TableStore(spark, LakeConfig(root=root))
        self._table(spark, store)
        batch = spark.createDataFrame([(2, "B")], ["k", "v"])
        # The first file the commit creates is cut off mid-write.
        _faulty(store, fail_at="create", tear=True)
        with pytest.raises(_Crash):
            store.merge("db", "t", batch, ["k"])

        fresh = TableStore(spark, LakeConfig(root=root))
        assert fresh.info("db", "t").primary_keys == ["k"]
        assert [i.name for i in fresh.register_all()] == ["t"]
        assert self._rows(fresh) == {(1, "a"), (2, "b")}
        log = f"{root}/warehouse/db/t/_log"
        bodies = [
            open(f"{log}/{n}").read()
            for n in os.listdir(log)
            if not n.endswith(".crc")
        ]
        torn = []
        for body in bodies:
            try:
                json.loads(body)
            except ValueError:
                torn.append(body)
        assert len(torn) == 1 and len(bodies) == 2
        fresh.vacuum("db", "t")
        assert not _leftovers(root)
        assert self._rows(fresh) == {(1, "a"), (2, "b")}

        fresh.merge("db", "t", batch, ["k"])
        assert self._rows(fresh) == {(1, "a"), (2, "B")}
        location = fresh.info("db", "t").location
        assert set(fresh._latest(location)["files"]) == _on_disk(location)

    @pytest.mark.parametrize("winner_commits", [1, 2])
    def test_conflicting_commit_raises_and_keeps_winner(
        self, spark, tmp_path, winner_commits
    ):
        root = str(tmp_path / "lake")
        loser = TableStore(spark, LakeConfig(root=root))
        winner = TableStore(spark, LakeConfig(root=root))
        self._table(spark, loser)
        location = loser.info("db", "t").location
        real_stage = loser._stage
        won = []

        def stage_after_winner(*args):
            # The winner commits between the loser's read and commit.
            for k in range(3, 3 + winner_commits):
                winner.merge(
                    "db", "t",
                    spark.createDataFrame([(k, "w")], ["k", "v"]), ["k"],
                )
            won.append(winner._latest(location))
            return real_stage(*args)

        loser._stage = stage_after_winner
        with pytest.raises(CommitConflict):
            loser.merge(
                "db", "t", spark.createDataFrame([(1, "L")], ["k", "v"]),
                ["k"],
            )

        parent = os.path.dirname(location)
        assert not [n for n in os.listdir(parent) if "__stage_" in n]
        assert winner._versions(location) == [1 + winner_commits]
        expected = {(1, "a"), (2, "b")} | {
            (k, "w") for k in range(3, 3 + winner_commits)
        }
        assert self._rows(winner) == expected
        # The winner's files and zone maps are exactly as it committed.
        assert winner._latest(location) == won[0]
        assert set(won[0]["files"]) == _on_disk(location)


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
        files = store._latest(info.location)["files"]
        assert set(files) == _on_disk(info.location) and len(files) >= 2
        ranges = sorted(tuple(e["zone_map"]) for e in files.values())
        assert ranges[0] == (0, 99) and ranges[-1] == (10_000, 10_099)

    def test_merge_prunes_disjoint_files(self, spark, store):
        info = self._two_range_table(spark, store)
        files_before = store._latest(info.location)["files"]
        # Batch touches only the hi range; the lo file's range [0,99]
        # is disjoint -> pruned before the affected scan.
        lo_file = next(
            b for b, e in files_before.items() if e["zone_map"][1] == 99
        )
        updates = spark.createDataFrame([(10_000, "HI")], ["k", "v"])
        store.merge("db", "t", updates, ["k"])
        after = _on_disk(info.location)
        assert lo_file in after  # untouched, not rewritten
        rows = {r.k: r.v for r in store.read("db", "t").collect()}
        assert rows[10_000] == "HI" and rows[0] == "lo" and len(rows) == 200
        # stats follow the rewrite: deleted file's entry gone, new
        # file's entry present, lo entry intact
        files_after = store._latest(info.location)["files"]
        assert files_after[lo_file]["zone_map"] == [0, 99]
        assert set(files_after) == after

    def test_prune_by_stats_logic(self, store):
        files = {
            name: {"size": 1, "zone_map": zm}
            for name, zm in (
                ("a", [0, 99]), ("b", [100, 199]), ("c", [50, 150]),
                ("unknown", None),
            )
        }
        # batch [120, 130]: a disjoint; b, c overlap; unknown kept
        kept = store._prune_by_stats(files, 120, 130)
        assert kept == ["b", "c", "unknown"]
        # non-numeric bounds -> no pruning
        assert store._prune_by_stats(files, "x", "y") == list(files)

    def test_merge_against_fully_disjoint_batch_inserts_only(self, spark, store):
        self._two_range_table(spark, store)
        batch = spark.createDataFrame([(500, "new")], ["k", "v"])
        before = set(_files(store, "db", "t"))
        store.merge("db", "t", batch, ["k"])
        after = set(_files(store, "db", "t"))
        assert before <= after  # nothing rewritten, pure insert
        assert store.read("db", "t").count() == 201

    def test_writes_leave_no_empty_files(self, spark, store):
        """Frames with fewer rows than Spark partitions: the empty
        files their write stages are dropped before the commit."""
        import pyarrow.parquet as pq

        store.create_or_replace(
            "db", "t",
            spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), ["k"],
        )
        store.merge(
            "db", "t", spark.createDataFrame([(3, "c")], ["k", "v"]), ["k"]
        )
        info = store.info("db", "t")
        files = store._latest(info.location)["files"]
        assert set(files) == _on_disk(info.location) and len(files) <= 3
        assert all(e["zone_map"] for e in files.values())
        assert all(
            pq.ParquetFile(f"{info.location}/{f}").metadata.num_rows
            for f in files
        )
        rows = {(r.k, r.v) for r in store.read("db", "t").collect()}
        assert rows == {(1, "a"), (2, "b"), (3, "c")}

    def test_rel_rejects_a_path_outside_its_root(self, store):
        # Empty staged files are found by relative path: a path that
        # does not map below the staging dir must raise, never name
        # (and so delete) some other file.
        assert store._rel("/a/b/", "file:/a/b/p=1/f") == "p=1/f"
        with pytest.raises(ValueError):
            store._rel("/a/b", "/a/c/f")


class TestSilverExactlyOnce:
    """Silver's progress commits with its rows: a crash at every
    filesystem step of ``process_silver`` (a torn version write
    included), or a second processor committing in between, never
    applies a bronze object twice."""

    def _template(self, spark, root, keyed):
        """One processed push and one pending; returns the rows silver
        holds once both are applied exactly once."""
        lake = Lake(spark, LakeConfig(root=root))
        lake.create_endpoint(
            EndpointSchema(
                domain="crm",
                name="events",
                columns=[
                    ColumnDef("id", DataType.BIGINT, primary_key=keyed),
                    ColumnDef("v", DataType.STRING),
                ],
            )
        )
        first = [{"id": i, "v": "a"} for i in range(5)]
        second = [{"id": i, "v": "b"} for i in range(3, 8)]
        lake.ingest_batch("crm", "events", first)
        lake.process_silver("crm", "events")
        lake.ingest_batch("crm", "events", second)
        if keyed:
            return sorted({r["id"]: r["v"] for r in first + second}.items())
        return sorted((r["id"], r["v"]) for r in first + second)

    def _lake(self, spark, root):
        return Lake(spark, LakeConfig(root=root))

    def _rows(self, lake):
        return sorted(
            (r.id, r.v) for r in lake.store.read("crm_silver", "events").collect()
        )

    @pytest.mark.parametrize("keyed", [False, True], ids=["append", "pk"])
    def test_crash_at_every_step(self, spark, tmp_path, keyed):
        template = str(tmp_path / "template")
        want = self._template(spark, template, keyed)

        def run(name, fail_at, tear=False):
            root = str(tmp_path / name)
            shutil.copytree(template, root)
            lake = self._lake(spark, root)
            calls = _faulty(lake.store, fail_at, tear)
            if fail_at:
                with pytest.raises(_Crash):
                    lake.process_silver("crm", "events")
            else:
                lake.process_silver("crm", "events")
            return root, calls

        root, calls = run("clean", 0)
        assert self._rows(self._lake(spark, root)) == want
        crashes = [(k, False) for k in range(1, calls["n"] + 1)] + [
            (k, True) for k, name in enumerate(calls["names"], 1)
            if name == "create"
        ]
        for k, tear in crashes:
            root, _ = run(f"crash{k}{'torn' if tear else ''}", k, tear)
            lake = self._lake(spark, root)
            lake.process_silver("crm", "events")
            assert self._rows(lake) == want, f"crash at mutating call {k}"

    @pytest.mark.parametrize("keyed", [False, True], ids=["append", "pk"])
    def test_stale_read_conflicts(self, spark, tmp_path, keyed):
        root = str(tmp_path / "lake")
        want = self._template(spark, root, keyed)
        first, second = self._lake(spark, root), self._lake(spark, root)
        write = "merge" if keyed else "append"
        real = getattr(first.store, write)

        def second_commits_first(*args, **kwargs):
            # Between the first processor's read of its progress and
            # its commit, the second one processes the same objects.
            assert second.process_silver("crm", "events").rows_in == 5
            return real(*args, **kwargs)

        setattr(first.store, write, second_commits_first)
        with pytest.raises(CommitConflict):
            first.process_silver("crm", "events")
        assert self._rows(first) == want
        assert not _leftovers(root)
        assert first.process_silver("crm", "events").mode == "noop"

    @pytest.mark.parametrize("suffix", ["/", "//", "/./"])
    def test_root_spelling_keeps_every_object(self, spark, tmp_path, suffix):
        # The consumed record holds paths below the bronze prefix; a
        # root spelled with a trailing "/", a "//" or a "." segment
        # must give every object its own entry, not lose all but one.
        root = str(tmp_path / "lake") + suffix
        want = self._template(spark, root, False)
        lake = self._lake(spark, root)
        assert lake.process_silver("crm", "events").rows_in == 5
        assert self._rows(lake) == want
        assert len(lake.store.consumed("crm_silver", "events")) == 2
        assert lake.process_silver("crm", "events").mode == "noop"

    def test_log_without_consumed_record_fails_loudly(self, spark, tmp_path):
        # A version written before the log recorded consumed objects
        # cannot tell which bronze objects silver holds: re-applying
        # them all would duplicate an append endpoint's rows.
        root = str(tmp_path / "lake")
        self._template(spark, root, False)
        lake = self._lake(spark, root)
        log = lake.store._latest(lake.config.table_path("crm_silver", "events"))
        path = lake.store._version_path(
            lake.config.table_path("crm_silver", "events"), log["version"]
        )
        del log["consumed"]
        with open(path, "w") as f:
            json.dump(log, f)
        d, name = os.path.split(path)
        os.remove(os.path.join(d, f".{name}.crc"))  # the local FS checksum
        with pytest.raises(ValueError, match="consumed-object record"):
            lake.process_silver("crm", "events")
