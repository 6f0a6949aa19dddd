"""Parquet-backed table store with file-level copy-on-write MERGE.

The reference maintains silver/gold as Apache Iceberg tables and gets
``upsert`` / ``append`` / ``overwrite`` from PyIceberg
(``lambdas/serverless_processing_iceberg/main.py:127-146``,
``containers/dbt_runner/entrypoint.py:381-440``). This environment
has no Iceberg/Delta Spark runtime jars, so the same write-mode
semantics are provided over plain parquet directories — designed so
the *plan shape* matches what an Iceberg MERGE would do at 100 TB:

- **Upsert is file-level copy-on-write**, the same strategy Delta
  Lake / Iceberg COW use: a semi-join against the incoming keys
  (via the ``_metadata.file_path`` column) identifies exactly the
  data files containing matched keys; only those files are rewritten
  (surviving rows ∪ new batch), every other file is untouched. Merge
  cost is O(matched files + batch), not O(table).
- **Schema evolution is union-by-name**: the declared table schema is
  the union of every batch's schema; parquet files missing a column
  yield nulls (matching Iceberg ``union_by_name`` evolution,
  reference ``main.py:134-138``).
- Tables are registered in the session catalog as external parquet
  tables (``{domain}_{layer}.{table}``), so ``spark.sql`` resolves
  rewritten three-part names and Catalyst gets stats/pushdown. A
  partitioned table's partition list is derived from the ``col=value``
  directories of its committed files, never from a directory scan.

Durability model: one commit log per table, ``{location}/_log/``, of
numbered version files (``{version:020d}.json``, the Delta Lake
layout). A version holds the whole table state — schema, keys,
partition/bucket layout, every live data file with its size and
lead-key zone map, and ``consumed``: the source objects whose rows the
table holds (silver's bronze objects) — plus its commit's journal: the
staging dir and the files the commit removes. The table's state is its
newest version, and it is the only state a write leaves: a writer's
progress commits atomically with its data (Delta's ``txn`` action).

Every write stages its output under ``{location}__stage_*``, writes
the next version to a temp file inside ``_log/`` and renames it to its
version name. That rename is the commit point: a version file is
either complete or absent, so a crash before it (a torn temp file
included) leaves the table as it was. The commit then rolls forward:
staged files move in, the files it removes and the older version
files are deleted, and the staging dir goes last. So a table keeps
one version and no replaced file outlives the commit that replaced
it. The roll-forward is idempotent,
and every write and :meth:`TableStore.register_all` first finishes one
a crash cut short (its staging dir still exists), so after the next
write or ``register_all`` a table holds exactly its pre-write or its
post-write state.

Single writer per table, with conflicts detected, not retried: a
rename onto a taken version number fails, a commit that finds a newer
version than its own lost the race too, and so does a commit that
adds a source object its base version already consumed; the loser
removes its staging dir and raises :class:`CommitConflict`. Readers
still list the table directory (the catalog tables need it for
``PARTITIONED BY`` pruning and bucketed joins), so a concurrent reader
can observe a partly rolled-forward write during the (small)
roll-forward window. That is weaker than the reference's Iceberg
snapshot isolation, and the trade is deliberate for plain parquet;
swap the backend for Iceberg/Delta in environments that ship the jar,
the interface is unchanged.
"""

from __future__ import annotations

import dataclasses
import json
import time
import uuid
from dataclasses import dataclass
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from serverless_data_lake_spark.config import LakeConfig

_LOG_DIR = "_log"


class CommitConflict(RuntimeError):
    """Another writer committed to the table after this write read it.
    The write's staged files are removed and none of it is visible."""


@dataclass
class TableInfo:
    database: str
    name: str
    location: str
    schema: StructType
    primary_keys: list[str]
    partition_by: list[str] = dataclasses.field(default_factory=list)
    bucket_by: list[str] = dataclasses.field(default_factory=list)
    n_buckets: int = 0

    @property
    def qualified(self) -> str:
        return f"{self.database}.{self.name}"

    @property
    def data_schema(self) -> StructType:
        """Schema of the parquet *files*: partition column values live
        in directory names (hive layout), not in the data files."""
        if not self.partition_by:
            return self.schema
        return StructType(
            [f for f in self.schema.fields if f.name not in self.partition_by]
        )


class TableStore:
    """Catalog + storage manager for one lake.

    Each table's state is its one version in the commit log: every
    commit deletes the files it removes and the older version files
    (see the module docstring: single writer, conflicts raise
    :class:`CommitConflict`, and directory-listing readers can see a
    write mid roll-forward)."""

    def __init__(self, spark: SparkSession, config: LakeConfig) -> None:
        self.spark = spark
        self.config = config

    # ------------------------------------------------------------------
    # Hadoop FS helpers (work for file:// and s3a:// alike)
    # ------------------------------------------------------------------
    def _hpath(self, path: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001

    def _fs(self, path: str):
        jpath = self._hpath(path)
        return jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())  # noqa: SLF001

    def _exists(self, path: str) -> bool:
        return self._fs(path).exists(self._hpath(path))

    def _delete(self, path: str) -> None:
        self._fs(path).delete(self._hpath(path), True)

    def _walk_data_files(self, directory: str) -> list[tuple[str, str, int]]:
        """All data files under ``directory`` recursively as
        ``(abs_path, rel_path, size_bytes)``. ``_``/``.``-prefixed
        files AND directories are skipped at every level (``_log`` and
        Spark's markers), so hive partition subdirs (``col=value/...``)
        are walked and flat tables behave exactly as before
        (rel == basename)."""
        fs = self._fs(directory)
        out: list[tuple[str, str, int]] = []

        def rec(jpath, rel: str) -> None:
            for st in fs.listStatus(jpath):
                name = st.getPath().getName()
                if name.startswith(("_", ".")):
                    continue
                if st.isFile():
                    out.append(
                        (st.getPath().toString(), f"{rel}{name}", st.getLen())
                    )
                elif st.isDirectory():
                    rec(st.getPath(), f"{rel}{name}/")

        rec(self._hpath(directory), "")
        return out

    def _move_files_into(self, src_dir: str, dst_dir: str) -> None:
        """Move every data file of ``src_dir`` into ``dst_dir``
        preserving relative paths (partition subdirectories are
        recreated at the destination)."""
        fs = self._fs(dst_dir)
        for _, rel, _ in self._walk_data_files(src_dir):
            dst = f"{dst_dir}/{rel}"
            if "/" in rel:
                fs.mkdirs(self._hpath(dst.rsplit("/", 1)[0]))
            fs.rename(self._hpath(f"{src_dir}/{rel}"), self._hpath(dst))

    def _read_json(self, path: str) -> dict:
        fs = self._fs(path)
        stream = fs.open(self._hpath(path))
        try:
            data = bytes(
                self.spark._jvm.org.apache.commons.io.IOUtils.toByteArray(  # noqa: SLF001
                    stream
                )
            )
        finally:
            stream.close()
        return json.loads(data.decode())

    def _norm(self, path: str) -> str:
        """Scheme-less absolute path (``file:/x`` and ``/x`` compare
        equal)."""
        return self._hpath(path).toUri().getPath()

    def _rel(self, root: str, path: str) -> str:
        """Path relative to ``root``; raises if ``path`` is not under
        it (a wrong name must not reach a file map, nor a delete)."""
        r = self._norm(root).rstrip("/") + "/"
        p = self._norm(path)
        if not p.startswith(r):
            raise ValueError(f"{path} is not under {root}")
        return p[len(r):]

    # ------------------------------------------------------------------
    # Commit log: {location}/_log/{version:020d}.json. Every write
    # stages its output under {location}__stage_* and commits through
    # _commit. The table's state is its newest version, and recovering
    # from a crash anywhere is rolling that version forward if its
    # staging dir still exists.
    # ------------------------------------------------------------------
    def _version_path(self, location: str, version: int) -> str:
        return f"{location}/{_LOG_DIR}/{version:020d}.json"

    def _versions(self, location: str) -> list[int]:
        """Committed version numbers, ascending. Only the commit's
        rename gives a file its version name, so the temp file of a
        crashed commit is never listed."""
        log = f"{location}/{_LOG_DIR}"
        if not self._exists(log):
            return []
        names = [
            st.getPath().getName()
            for st in self._fs(log).listStatus(self._hpath(log))
        ]
        return sorted(
            int(n[:20])
            for n in names
            if len(n) == 25 and n[:20].isdigit() and n.endswith(".json")
        )

    def _latest(self, location: str) -> dict | None:
        """The newest version: the table's current state."""
        versions = self._versions(location)
        if not versions:
            return None
        return self._read_json(self._version_path(location, versions[-1]))

    def _stage(
        self, df: DataFrame, location: str, partition_by: list[str]
    ) -> str:
        """Write ``df`` to a fresh staging dir next to ``location``."""
        staging = f"{location}__stage_{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        return staging

    def _commit(
        self,
        info: TableInfo,
        base: dict | None,
        staging: str,
        remove: list[str],
        register: bool,
        consumed: list[str] = (),
    ) -> TableInfo:
        """The one commit step of every write. ``base`` is the version
        the write read (None: a new table); the new version's files are
        its files minus ``remove`` (paths below the table root) plus
        the staged ones, and its ``consumed`` is the base's plus the
        source objects the write passes. A write that passes an object
        the base already consumed raises :class:`CommitConflict`: its
        rows are in the table already. After the roll-forward the
        catalog entry is re-registered (``register``: the schema or
        layout changed), or gets the new files' partitions and a
        refresh."""
        done = base.get("consumed", []) if base else []
        if set(consumed) & set(done):
            self._delete(staging)
            raise CommitConflict(f"{info.location}: objects already consumed")
        gone = set(remove)
        staged = self._staged_files(staging, info)
        files = {
            rel: entry
            for rel, entry in (base["files"] if base else {}).items()
            if rel not in gone
        } | staged
        record = {
            "version": (base["version"] if base else 0) + 1,
            "timestamp": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "schema": info.schema.json(),
            "primary_keys": info.primary_keys,
            "partition_by": info.partition_by,
            "bucket_by": info.bucket_by,
            "n_buckets": info.n_buckets,
            "files": files,
            "consumed": done + list(consumed),
            "staging": staging.removeprefix(info.location),
            "remove": remove,
        }
        self._publish(info.location, record)
        self._roll_forward(info.location, record)
        if register:
            self._register(info, files)
        else:
            self._add_partitions(info, staged)
            self.spark.sql(f"REFRESH TABLE `{info.database}`.`{info.name}`")
        return info

    def _publish(self, location: str, record: dict) -> None:
        """The commit point: write ``record`` to a temp file in the log
        and rename it to its version name. The rename fails if another
        writer took the number, and a newer version than ours means
        another writer committed twice meanwhile (and deleted the
        number we took). Either way our version and staging dir go and
        :class:`CommitConflict` is raised."""
        tmp = f"{location}/{_LOG_DIR}/.{uuid.uuid4().hex}.tmp"
        version = record["version"]
        out = self._fs(tmp).create(self._hpath(tmp), True)
        try:
            out.write(bytearray(json.dumps(record).encode()))
        finally:
            out.close()
        dst = self._version_path(location, version)
        if self._fs(dst).rename(self._hpath(tmp), self._hpath(dst)):
            if self._versions(location)[-1] == version:
                return
            tmp = dst
        self._delete(tmp)
        self._delete(location + record["staging"])
        raise CommitConflict(
            f"{location}: version {version} lost to a concurrent writer"
        )

    def _roll_forward(self, location: str, record: dict) -> None:
        """Make the table dir match ``record``, its newest version:
        move the staged files in, delete the removed ones and the older
        version files, and drop the staging dir last, so a version is
        half rolled forward exactly while its staging dir exists.
        Idempotent, and the staged files always move in before the
        files they replace go, so a crash at any step loses no rows."""
        staging = location + record["staging"]
        self._move_files_into(staging, location)
        for rel in record["remove"]:
            f = f"{location}/{rel}"
            if self._exists(f):
                self._delete(f)
        for v in self._versions(location):
            if v < record["version"]:
                self._delete(self._version_path(location, v))
        self._delete(staging)

    def _open(
        self, database: str, table: str
    ) -> tuple[TableInfo | None, dict | None]:
        """A write's view of its table: the newest version, rolled
        forward if a crash cut its commit short (its staging dir still
        exists), and its table info. A rolled-forward table is
        re-registered, because the crashed write never synced the
        catalog."""
        location = self.config.table_path(database, table)
        record = self._latest(location)
        if record is None:
            return None, None
        info = self._table_info(database, table, location, record)
        if self._exists(location + record["staging"]):
            self._roll_forward(location, record)
            self._register(info, record["files"])
        return info, record

    def vacuum(self, database: str, table: str) -> None:
        """Delete what crashed commits left: every
        ``{location}__stage_*`` dir and the temp files in ``_log/``. A
        write under the single-writer rule: like every write it first
        finishes a roll-forward a crash cut short, after which no
        version names a staging dir that still exists."""
        info, _ = self._open(database, table)
        if info is None:
            raise KeyError(f"no such table {database}.{table}")
        location = info.location
        for leftover in (f"{location}__stage_*", f"{location}/{_LOG_DIR}/.*.tmp"):
            for st in self._fs(location).globStatus(self._hpath(leftover)):
                self._delete(st.getPath().toString())

    # ------------------------------------------------------------------
    # Zone maps: per-data-file [min, max] of the lead primary key,
    # kept in every version's file map and maintained incrementally by
    # every write. merge() uses them to prune files whose key range
    # cannot overlap the incoming batch BEFORE its affected-file
    # scan — the Iceberg/Delta data-skipping idea, so merge I/O is
    # O(overlapping files), not O(table). Only numeric keys are
    # tracked (string ordering differs between JVM UTF8 bytes and
    # Python codepoints; a file without a zone map is simply never
    # pruned, which is always safe).
    # ------------------------------------------------------------------
    @staticmethod
    def _statable(v) -> bool:
        return isinstance(v, (int, float)) and not isinstance(v, bool)

    def _staged_files(self, staging: str, info: TableInfo) -> dict[str, dict]:
        """``{rel: {"size", "zone_map"}}`` for the data files under
        ``staging``, ``rel`` being the path below it (and so below the
        table root once moved in). A lead key that is a partition
        column has no zone maps (its values live in directory names).
        On a keyed table the zone-map job also finds the empty files a
        write leaves (a file it does not group has no rows): they are
        deleted from staging and left out of the map."""
        walked = self._walk_data_files(staging)
        key = info.primary_keys[0] if info.primary_keys else None
        zone_maps = {}
        if walked and key in info.data_schema.fieldNames():
            rows = (
                self.spark.read.schema(info.data_schema)
                .parquet(*[f for f, _, _ in walked])
                .select(
                    F.col(key).alias("__k"),
                    F.col("_metadata.file_path").alias("__f"),
                )
                .groupBy("__f")
                .agg(F.min("__k").alias("mn"), F.max("__k").alias("mx"))
                .collect()
            )
            # _metadata.file_path is URL-encoded; Hadoop paths are not.
            bounds = {
                self._rel(staging, unquote(r["__f"])): [r["mn"], r["mx"]]
                for r in rows
            }
            for f, rel, _ in walked:
                if rel not in bounds:
                    self._delete(f)
            walked = [w for w in walked if w[1] in bounds]
            zone_maps = {
                rel: b for rel, b in bounds.items() if all(map(self._statable, b))
            }
        return {
            rel: {"size": size, "zone_map": zone_maps.get(rel)}
            for _, rel, size in walked
        }

    def _prune_by_stats(
        self, files: dict[str, dict], batch_min, batch_max
    ) -> list[str]:
        """The files of a version's file map that may contain keys
        within [batch_min, batch_max]: files without a zone map always
        qualify; the others unless disjoint from the batch range."""
        if not (self._statable(batch_min) and self._statable(batch_max)):
            return list(files)
        return [
            rel
            for rel, entry in files.items()
            if entry["zone_map"] is None
            or not (
                entry["zone_map"][1] < batch_min
                or entry["zone_map"][0] > batch_max
            )
        ]

    # ------------------------------------------------------------------
    # Catalog registration
    # ------------------------------------------------------------------
    def ensure_database(self, database: str) -> None:
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{database}`")

    def _register(self, info: TableInfo, files) -> None:
        """(Re-)declare the external table with the current schema.
        Partitioned tables register with ``PARTITIONED BY`` so
        Catalyst prunes partition directories on partition-column
        filters, and list the partitions of ``files``, the version's
        data files."""
        self.ensure_database(info.database)
        self.spark.sql(f"DROP TABLE IF EXISTS `{info.database}`.`{info.name}`")
        fields = info.schema.fields
        if info.partition_by:
            # Catalog schema lists partition columns last, matching
            # what a partitioned scan produces.
            fields = [
                f for f in fields if f.name not in info.partition_by
            ] + [f for f in fields if f.name in info.partition_by]
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in fields
        )
        part = (
            " PARTITIONED BY ("
            + ", ".join(f"`{c}`" for c in info.partition_by)
            + ")"
            if info.partition_by
            else ""
        )
        bucket = ""
        if info.bucket_by:
            cols = ", ".join(f"`{c}`" for c in info.bucket_by)
            bucket = (
                f" CLUSTERED BY ({cols}) SORTED BY ({cols}) "
                f"INTO {info.n_buckets} BUCKETS"
            )
        self.spark.sql(
            f"CREATE TABLE `{info.database}`.`{info.name}` ({ddl}) "
            f"USING parquet{part}{bucket} LOCATION '{info.location}'"
        )
        self._add_partitions(info, files)

    def _add_partitions(self, info: TableInfo, files) -> None:
        """Add the partitions of ``files`` (paths below the table root,
        ``col=value/.../name``) to the catalog's partition list in one
        statement: the list follows the committed files, and costs
        O(partitions written), not a rescan of the layout. Directory
        values are path-escaped (``a%2Fb``); a null is
        ``__HIVE_DEFAULT_PARTITION__``, which the catalog reads back as
        NULL."""
        specs = sorted({
            ", ".join(
                "`{}`='{}'".format(c, unquote(d.split("=", 1)[1])
                                   .replace("\\", "\\\\").replace("'", "\\'"))
                for c, d in zip(info.partition_by, rel.split("/"))
            )
            for rel in files
        } if info.partition_by else ())
        if specs:
            self.spark.sql(
                f"ALTER TABLE `{info.database}`.`{info.name}` ADD IF NOT EXISTS "
                + " ".join(f"PARTITION ({s})" for s in specs)
            )

    def register_all(self) -> list[TableInfo]:
        """Scan the warehouse and register every persisted table in
        the (session-scoped) catalog. Called once per session."""
        root = self.config.warehouse_root
        infos: list[TableInfo] = []
        if not self._exists(root):
            return infos
        fs = self._fs(root)
        for db_status in fs.listStatus(self._hpath(root)):
            if not db_status.isDirectory():
                continue
            database = db_status.getPath().getName()
            for t_status in fs.listStatus(db_status.getPath()):
                if not t_status.isDirectory():
                    continue
                name = t_status.getPath().getName()
                if "__stage_" in name:
                    continue  # staging dir of a crashed write
                info, record = self._open(database, name)
                if info is not None:
                    self._register(info, record["files"])
                    infos.append(info)
        return infos

    def table_exists(self, database: str, table: str) -> bool:
        return bool(self._versions(self.config.table_path(database, table)))

    def read(self, database: str, table: str) -> DataFrame:
        qualified = f"`{database}`.`{table}`"
        info = self.info(database, table)
        if info is not None and (
            not self.spark.catalog.tableExists(qualified)
            or self._registered_location(database, table) != info.location
        ):
            # Missing, or a stale registration left by another Lake
            # instance (different root) in this shared session.
            self._register(info, self._latest(info.location)["files"])
        return self.spark.table(qualified)

    def _registered_location(self, database: str, table: str) -> str | None:
        try:
            rows = self.spark.sql(
                f"DESCRIBE FORMATTED `{database}`.`{table}`"
            ).collect()
        except Exception:  # noqa: BLE001
            return None
        for r in rows:
            if r.col_name.strip() == "Location":
                loc = r.data_type.strip()
                return loc.removeprefix("file:")
        return None

    def info(self, database: str, table: str) -> TableInfo | None:
        location = self.config.table_path(database, table)
        record = self._latest(location)
        if record is None:
            return None
        return self._table_info(database, table, location, record)

    def consumed(self, database: str, table: str) -> set[str]:
        """The source objects whose rows the table holds: its newest
        version's ``consumed`` (see :meth:`_commit`)."""
        record = self._latest(self.config.table_path(database, table))
        if record is not None and "consumed" not in record:
            raise ValueError(
                f"{database}.{table}: its newest version predates the "
                f"consumed-object record, so which source objects it "
                f"holds is unknown; re-create it from its sources"
            )
        return set(record["consumed"]) if record else set()

    @staticmethod
    def _table_info(
        database: str, table: str, location: str, record: dict
    ) -> TableInfo:
        return TableInfo(
            database=database,
            name=table,
            location=location,
            schema=StructType.fromJson(json.loads(record["schema"])),
            primary_keys=record["primary_keys"],
            partition_by=record["partition_by"],
            bucket_by=record["bucket_by"],
            n_buckets=record["n_buckets"],
        )

    # ------------------------------------------------------------------
    # Write modes
    # ------------------------------------------------------------------
    def create_or_replace(
        self,
        database: str,
        table: str,
        df: DataFrame,
        primary_keys: list[str] | None = None,
        partition_by: list[str] | None = None,
        consumed: list[str] = (),
    ) -> TableInfo:
        """Full overwrite (gold ``write_mode=overwrite`` — reference
        S6). The new content is staged, then committed as a write that
        removes every current data file: the previous content goes
        only after the new one has moved in, so a failed job never
        destroys it, and after a crash the table holds either the old
        or the new content (see the module docstring).

        ``partition_by`` lays the table out hive-style
        (``col=value/`` directories): scans filtered on partition
        columns prune whole directories, and upserts/appends touch
        only the partitions their batch lands in — the primary
        file-organization lever at 100 TB. ``consumed`` names the
        source objects the write's rows come from (see
        :meth:`_commit`), here and in :meth:`append` / :meth:`merge`."""
        partition_by = list(partition_by or [])
        missing = [c for c in partition_by if c not in df.columns]
        if missing:
            raise ValueError(f"partition columns not in data: {missing}")
        location = self.config.table_path(database, table)
        _, base = self._open(database, table)
        staging = self._stage(df, location, partition_by)
        schema = StructType(
            [f for f in df.schema.fields if f.name not in partition_by]
            + [f for f in df.schema.fields if f.name in partition_by]
        )
        info = TableInfo(
            database, table, location, schema, primary_keys or [], partition_by
        )
        return self._commit(
            info, base, staging, list(base["files"]) if base else [], True,
            consumed,
        )

    def create_bucketed(
        self,
        database: str,
        table: str,
        df: DataFrame,
        bucket_by: list[str] | str,
        n_buckets: int,
        sort_by: list[str] | None = None,
        primary_keys: list[str] | None = None,
    ) -> TableInfo:
        """Materialize a hash-bucketed (and per-bucket sorted) table.

        Two tables bucketed the same way join on the bucket columns
        with NO shuffle exchange on either side, and aggregations
        keyed by the bucket columns skip their shuffle too — the
        output files ARE the co-located layout. This is the
        co-location lever for join-heavy gold marts: bucket the fact
        and its dimensions by the join key once at write time, and
        every downstream join is exchange-free. (Iceberg expresses
        the same thing as a ``bucket(n, col)`` partition transform.)

        Bucketed tables are overwrite-only materializations: bucket
        membership is baked into file names at write time, so
        incremental file surgery (merge/append) would corrupt the
        bucket→file contract. Re-run the producing job to refresh —
        exactly how dbt treats a ``table`` materialization.
        """
        if isinstance(bucket_by, str):
            bucket_by = [bucket_by]
        if not bucket_by or n_buckets <= 0:
            raise ValueError("bucket_by and n_buckets>0 required")
        missing = [c for c in bucket_by if c not in df.columns]
        if missing:
            raise ValueError(f"bucket columns not in data: {missing}")
        sort_by = list(sort_by or bucket_by)
        location = self.config.table_path(database, table)
        _, base = self._open(database, table)
        staging = f"{location}__stage_{uuid.uuid4().hex[:8]}"
        # saveAsTable is the only writer that emits bucket metadata;
        # stage under a throwaway catalog name, then drop the name
        # (files stay) and commit the staged files like any replace.
        tmp = f"sdls_bucket_stage_{uuid.uuid4().hex[:8]}"
        (
            df.write.mode("overwrite")
            .bucketBy(n_buckets, *bucket_by)
            .sortBy(*sort_by)
            .option("path", staging)
            .saveAsTable(tmp)
        )
        self.spark.sql(f"DROP TABLE IF EXISTS `{tmp}`")
        info = TableInfo(
            database,
            table,
            location,
            df.schema,
            primary_keys or [],
            [],
            bucket_by,
            int(n_buckets),
        )
        return self._commit(
            info, base, staging, list(base["files"]) if base else [], True
        )

    def append(
        self,
        database: str,
        table: str,
        df: DataFrame,
        primary_keys: list[str] | None = None,
        partition_by: list[str] | None = None,
        consumed: list[str] = (),
    ) -> TableInfo:
        """Append with union-by-name schema evolution (reference S5 +
        V6: new columns widen the table schema; old files read as
        null for them). On a partitioned table the batch's files land
        only in the partitions it carries (``partition_by`` applies
        on first create; thereafter the table's layout wins)."""
        existing, base = self._open(database, table)
        if existing is None:
            return self.create_or_replace(
                database, table, df, primary_keys, partition_by, consumed
            )
        if existing.bucket_by:
            raise ValueError(
                f"{database}.{table} is a bucketed materialization "
                f"(overwrite-only); re-run its producing job instead "
                f"of appending"
            )
        merged_schema = self._merge_schemas(existing.schema, df.schema)
        staging = self._stage(
            self._conform(df, merged_schema),
            existing.location,
            existing.partition_by,
        )
        info = TableInfo(
            database, table, existing.location, merged_schema,
            primary_keys if primary_keys is not None else existing.primary_keys,
            existing.partition_by,
        )
        return self._commit(
            info, base, staging, [], merged_schema != existing.schema, consumed
        )

    def merge(
        self,
        database: str,
        table: str,
        source: DataFrame,
        keys: list[str],
        partition_by: list[str] | None = None,
        consumed: list[str] = (),
    ) -> TableInfo:
        """Upsert: MERGE-matched-update-all / not-matched-insert-all
        semantics (reference S7/S8) via file-level copy-on-write.

        Plan, in Spark terms:
        1. semi-join ``candidates ⋉ source_keys`` over the hidden
           ``_metadata.file_path`` column → the set of data files
           that contain any matched key (driver sees only file
           *names*, never rows);
        2. rewrite = (rows of those files anti-joined against source
           keys) ∪ source;
        3. stage the rewrite and commit it as a write that removes
           the matched files (see the module docstring: after a
           crash the table holds the pre- or the post-merge state).

        Cost is proportional to the candidate files + the batch. The
        incoming-keys side of both joins is typically small and
        broadcast by AQE; skewed PKs are handled by AQE skew-join.

        Candidate files, before the affected-file scan: keys are
        matched TABLE-WIDE (Iceberg MERGE semantics — a late
        correction whose partition value moved still replaces the old
        row instead of duplicating the key), so the candidates are
        every file whose lead-key zone map can overlap the batch
        (maintained for partitioned and flat tables alike; stat-less
        files always qualify). On a partitioned table the scan is
        also filtered to the batch's partition values when that is
        provably safe: ``partition_by ⊆ keys``, in which case equal
        keys imply equal partition tuples and no match can hide in
        another partition. ``partition_by`` applies when this merge
        creates the table.
        """
        if isinstance(keys, str):
            # dbt-style configs allow a scalar unique_key; a bare
            # string would otherwise iterate into per-character
            # column names.
            keys = [keys]
        if not keys:
            raise ValueError("merge requires at least one key column")
        existing, base = self._open(database, table)
        if existing is None:
            return self.create_or_replace(
                database, table, source, keys, partition_by, consumed
            )
        if existing.bucket_by:
            raise ValueError(
                f"{database}.{table} is a bucketed materialization "
                f"(overwrite-only); re-run its producing job instead "
                f"of merging"
            )

        merged_schema = self._merge_schemas(existing.schema, source.schema)
        source = self._conform(source, merged_schema)
        location = existing.location
        pby = existing.partition_by

        # The deduped key set is tiny (keys only) and consumed three
        # times (batch bounds, affected semi-join, survivor anti-join)
        # — persist it so the source plan runs once for all three.
        src_keys = source.select(*keys).dropDuplicates(keys).persist()

        batch_parts = None
        if pby and set(pby) <= set(keys):
            # The batch's partition tuples — bounded by the number of
            # partitions a batch touches, collected like Iceberg's
            # partition summaries — prune the scan below. That is only
            # sound when the partition tuple is part of the key: then
            # equal keys imply equal partition values and a matched
            # row cannot live outside the batch's partitions. Pruning
            # on a non-key partition column would miss a stored row
            # whose partition value differs from the incoming one
            # (late correction) and silently duplicate its key. A key
            # column the batch lacks is null-filled by _conform, and a
            # null key matches nothing, so pruning on it is safe too.
            pvals = (
                source.select(*pby).dropDuplicates(pby).limit(10001).collect()
            )
            if len(pvals) <= 10000:
                batch_parts = pvals

        files = base["files"]
        candidates = list(files)
        if any(entry["zone_map"] for entry in files.values()):
            bounds = src_keys.agg(
                F.min(keys[0]).alias("mn"), F.max(keys[0]).alias("mx")
            ).first()
            candidates = self._prune_by_stats(
                files, bounds["mn"], bounds["mx"]
            )
        # basePath keeps the partition-column values that live in the
        # directory names of the files read.
        reader = self.spark.read.schema(merged_schema).option(
            "basePath", location
        )
        affected_files: list[str] = []
        if candidates:
            scan = reader.parquet(*[f"{location}/{f}" for f in candidates])
            if batch_parts:
                cond = None
                for r in batch_parts:
                    t = None
                    for c in pby:
                        e = (
                            F.col(c).isNull()
                            if r[c] is None
                            else (F.col(c) == F.lit(r[c]))
                        )
                        t = e if t is None else (t & e)
                    cond = t if cond is None else (cond | t)
                scan = scan.where(cond)
            affected = (
                scan.select(
                    *keys, F.col("_metadata.file_path").alias("__file")
                )
                .join(src_keys, on=keys, how="left_semi")
                .select("__file")
                .distinct()
                .collect()
            )
            # _metadata.file_path is URL-encoded; Hadoop paths are not.
            affected_files = [unquote(r["__file"]) for r in affected]

        if affected_files:
            survivors = reader.parquet(*affected_files).join(
                src_keys, on=keys, how="left_anti"
            )
            out = survivors.unionByName(source)
        else:
            out = source
        staging = self._stage(out, location, pby)
        src_keys.unpersist()
        info = TableInfo(database, table, location, merged_schema, keys, pby)
        return self._commit(
            info,
            base,
            staging,
            [self._rel(location, f) for f in affected_files],
            merged_schema != existing.schema,
            consumed,
        )

    def delete_insert(
        self,
        database: str,
        table: str,
        source: DataFrame,
        keys: list[str],
        partition_by: list[str] | None = None,
    ) -> TableInfo:
        """Gold ``append`` + ``unique_key``: delete target rows whose
        key appears in the source, then insert all source rows — the
        dbt incremental-macro semantics (reference R13,
        ``macros/materializations/iceberg_incremental.sql:85-113``).
        Identical mechanics to :meth:`merge` (source may legitimately
        carry several rows per key, all of which are inserted)."""
        return self.merge(database, table, source, keys, partition_by)

    # ------------------------------------------------------------------
    # Schema evolution helpers
    # ------------------------------------------------------------------
    @staticmethod
    def _merge_schemas(base: StructType, incoming: StructType) -> StructType:
        """Union-by-name: base field order, new fields appended."""
        fields = {f.name: f for f in base.fields}
        merged = list(base.fields)
        for f in incoming.fields:
            if f.name not in fields:
                merged.append(f)
        return StructType(merged)

    @staticmethod
    def _conform(df: DataFrame, schema: StructType) -> DataFrame:
        """Project df to the merged schema (missing columns → null,
        order normalized, types cast)."""
        cols = []
        present = set(df.columns)
        for f in schema.fields:
            if f.name in present:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return df.select(*cols)

    # ------------------------------------------------------------------
    # Introspection (reference §2.9)
    # ------------------------------------------------------------------
    def list_tables(self, registry=None) -> list[dict]:
        """Catalog listing. With a registry, bronze endpoints that
        have no silver table yet are included with their registered
        columns (reference fallback, ``query_api/main.py:266-272``)."""
        out = self._list_catalog_tables()
        if registry is not None:
            silver = {
                (t["domain"], t["table"])
                for t in out
                if t["layer"] == "silver"
            }
            for domain, name in registry.list_endpoints(layer="bronze"):
                if (domain, name) in silver:
                    continue
                schema = registry.get(domain, name)
                out.append(
                    {
                        "domain": domain,
                        "layer": "bronze",
                        "table": name,
                        "columns": [
                            {"name": c.name, "type": c.type.value}
                            for c in (schema.columns if schema else [])
                        ],
                    }
                )
        return out

    def _list_catalog_tables(self) -> list[dict]:
        out = []
        for db in self.spark.catalog.listDatabases():
            if db.name in ("default", "global_temp"):
                continue
            for t in self.spark.catalog.listTables(db.name):
                if t.tableType == "TEMPORARY" or t.isTemporary:
                    continue  # per-query bronze views leak into listings
                cols = self.spark.catalog.listColumns(f"{db.name}.{t.name}")
                domain, _, layer = db.name.rpartition("_")
                out.append(
                    {
                        "domain": domain,
                        "layer": layer,
                        "table": t.name,
                        "columns": [
                            {"name": c.name, "type": c.dataType} for c in cols
                        ],
                    }
                )
        return out
