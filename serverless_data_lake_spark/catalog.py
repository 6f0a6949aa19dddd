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
  rewritten three-part names and Catalyst gets stats/pushdown.

Durability model: single writer per table, and one commit rule for
every write. The writer stages its output under
``{location}__stage_*``; the commit then journals the staging dir, the
files the write removes and the new table meta (schema, layout,
zone-map stats) in a ``_sdls_pending.json`` marker, and rolls it
forward: staged files move in, removed files are deleted (archived
under ``retain_history``), the meta is written from the journal and
the marker dropped. The roll-forward is idempotent, and every write
and :meth:`TableStore.register_all` first rolls forward a marker a
crash left behind, so after the next write or ``register_all`` a table
holds exactly its pre-write state (crash before the marker) or its
post-write state (crash after it). This is weaker than the
reference's Iceberg snapshot isolation — a concurrent reader can
observe a partly rolled-forward write during the (small) commit
window — and that trade is deliberate for plain parquet; swap the
backend for Iceberg/Delta in environments that ship the jar, the
interface is unchanged.
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

_META_FILE = "_sdls_meta.json"
_PENDING_FILE = "_sdls_pending.json"
_SNAPSHOTS_FILE = "_sdls_snapshots.json"
_ARCHIVE_DIR = "_archive"


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

    ``retain_history=True`` turns on time travel: every committed
    write records a snapshot (version, data files, schema) in a
    per-table manifest, and files replaced by later writes move to an
    ``_archive/`` subdirectory instead of being deleted (leading
    underscore → invisible to Spark's directory scans).
    :meth:`read_version` reconstructs any recorded snapshot;
    :meth:`vacuum` prunes history. This is the Iceberg/Delta snapshot
    idea over plain parquet — storage grows with churn until
    vacuumed, exactly like their retention model."""

    def __init__(
        self,
        spark: SparkSession,
        config: LakeConfig,
        retain_history: bool = False,
    ) -> None:
        self.spark = spark
        self.config = config
        self.retain_history = retain_history

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
        files AND directories are skipped at every level (metadata,
        ``_archive``), so hive partition subdirs (``col=value/...``)
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

    def _list_data_files(self, directory: str) -> list[str]:
        return [a for a, _, _ in self._walk_data_files(directory)]

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

    def _read_json(self, path: str) -> dict | list | None:
        if not self._exists(path):
            return None
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

    def _write_json(self, path: str, obj) -> None:
        fs = self._fs(path)
        out = fs.create(self._hpath(path), True)
        try:
            out.write(bytearray(json.dumps(obj).encode()))
        finally:
            out.close()

    def _norm(self, path: str) -> str:
        """Scheme-less absolute path (``file:/x`` and ``/x`` compare
        equal)."""
        return self._hpath(path).toUri().getPath()

    def _rel(self, root: str, path: str) -> str:
        """Path relative to ``root`` (falls back to the basename when
        ``path`` is not under ``root``)."""
        r = self._norm(root).rstrip("/") + "/"
        p = self._norm(path)
        return p[len(r):] if p.startswith(r) else p.rsplit("/", 1)[-1]

    def _archive_file(self, location: str, path: str, rel: str) -> None:
        """Move a data file into the table's ``_archive/`` dir,
        preserving its path relative to the table root (partition
        subdirs included) instead of deleting it."""
        fs = self._fs(location)
        dst = f"{location}/{_ARCHIVE_DIR}/{rel}"
        fs.mkdirs(self._hpath(dst.rsplit("/", 1)[0]))
        fs.rename(self._hpath(path), self._hpath(dst))

    # ------------------------------------------------------------------
    # Commit: every write stages its output under {location}__stage_*
    # and commits through _commit. The journal (staging dir, files to
    # remove, new meta) is written before anything at the location
    # changes and its roll-forward is idempotent, so recovering from a
    # crash anywhere is rolling the marker forward, if there is one.
    # ------------------------------------------------------------------
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

    def _write_pending(
        self, info: TableInfo, staging: str, remove: list[str], stats: dict
    ) -> None:
        meta = {
            "schema": info.schema.json(),
            "primary_keys": info.primary_keys,
            "partition_by": info.partition_by,
            "bucket_by": info.bucket_by,
            "n_buckets": info.n_buckets,
            "updated_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "file_stats": stats,
        }
        self._write_json(
            f"{info.location}/{_PENDING_FILE}",
            {"staging": staging, "remove": remove, "meta": meta},
        )

    def _apply_pending(self, location: str) -> bool:
        """Roll a journalled commit forward: move the staged files in,
        delete (or archive) the removed ones, write the journalled
        meta, drop the marker. Idempotent, and the staged files always
        move in before the files they replace go, so a crash at any
        step loses no rows. Returns whether a marker was found."""
        path = f"{location}/{_PENDING_FILE}"
        pending = self._read_json(path)
        if pending is None:
            return False
        if self._exists(pending["staging"]):
            self._move_files_into(pending["staging"], location)
            self._delete(pending["staging"])
        for f in pending["remove"]:
            if self._exists(f):
                if self.retain_history:
                    self._archive_file(location, f, self._rel(location, f))
                else:
                    self._delete(f)
        self._write_json(f"{location}/{_META_FILE}", pending["meta"])
        self._delete(path)
        return True

    def _commit(
        self,
        info: TableInfo,
        staging: str,
        remove: list[str],
        stats: dict[str, list],
        register: bool,
        new_partitions=None,
    ) -> TableInfo:
        """The one commit step of every write. ``stats`` are the zone
        maps before the write: entries of removed files are dropped
        and the staged files' are added. After the roll-forward the
        snapshot is recorded and the catalog entry re-registered
        (``register``: the schema or layout changed) or refreshed."""
        gone = {self._stat_key(f) for f in remove}
        stats = {
            b: v for b, v in stats.items() if b not in gone
        } | self._collect_file_stats(staging, info)
        self._write_pending(info, staging, remove, stats)
        self._apply_pending(info.location)
        self._record_snapshot(info)
        if register:
            self._register(info)
        else:
            self._refresh(info, new_partitions)
        return info

    def _open(
        self, database: str, table: str
    ) -> tuple[TableInfo | None, dict[str, list]]:
        """A write's view of its table: roll a crashed commit forward,
        then read the meta once for the table info and its zone-map
        stats. A rolled-forward table is re-registered, because the
        crashed write never synced the catalog."""
        location = self.config.table_path(database, table)
        recovered = self._apply_pending(location)
        meta = self._read_meta(location)
        if meta is None:
            return None, {}
        info = self._table_info(database, table, location, meta)
        if recovered:
            self._register(info)
        return info, meta.get("file_stats") or {}

    def _replaced_files(self, location: str) -> list[str]:
        """What a full replace removes: every current data file, once
        a crashed commit is rolled forward."""
        self._apply_pending(location)
        if not self._exists(location):
            return []
        return self._list_data_files(location)

    # ------------------------------------------------------------------
    # Metadata
    # ------------------------------------------------------------------
    def _read_meta(self, location: str) -> dict | None:
        return self._read_json(f"{location}/{_META_FILE}")

    # ------------------------------------------------------------------
    # Zone maps: per-data-file [min, max] of the lead primary key,
    # persisted in the table meta and maintained incrementally by
    # every write. merge() uses them to prune files whose key range
    # cannot overlap the incoming batch BEFORE its affected-file
    # scan — the Iceberg/Delta data-skipping idea, so merge I/O is
    # O(overlapping files), not O(table). Only numeric keys are
    # tracked (string ordering differs between JVM UTF8 bytes and
    # Python codepoints; a file without stats is simply never pruned,
    # which is always safe).
    # ------------------------------------------------------------------
    @staticmethod
    def _statable(v) -> bool:
        return isinstance(v, (int, float)) and not isinstance(v, bool)

    @staticmethod
    def _stat_key(path: str) -> str:
        """A data file's zone-map key: its basename under its hive
        partition dirs (``col=value/...``), i.e. its path below the
        table root — one task writes the same basename into every
        partition it touches. Stable across the staging→location
        rename."""
        parts = path.split("/")
        i = len(parts) - 1
        while i > 0 and "=" in parts[i - 1]:
            i -= 1
        return "/".join(parts[i:])

    def _collect_file_stats(
        self, directory: str, info: TableInfo
    ) -> dict[str, list]:
        """``{stat_key: [min, max]}`` of the lead primary key for the
        data files under ``directory``. A lead key that is a partition
        column has no stats (its values live in directory names)."""
        if not info.primary_keys:
            return {}
        key = info.primary_keys[0]
        files = self._list_data_files(directory)
        if not files or key not in info.data_schema.fieldNames():
            return {}
        rows = (
            self.spark.read.schema(info.data_schema)
            .parquet(*files)
            .select(
                F.col(key).alias("__k"),
                F.col("_metadata.file_path").alias("__f"),
            )
            .groupBy("__f")
            .agg(F.min("__k").alias("mn"), F.max("__k").alias("mx"))
            .collect()
        )
        return {
            self._stat_key(unquote(r["__f"])): [r["mn"], r["mx"]]
            for r in rows
            if self._statable(r["mn"]) and self._statable(r["mx"])
        }

    def _load_file_stats(self, location: str) -> dict[str, list]:
        meta = self._read_meta(location)
        return (meta or {}).get("file_stats") or {}

    def _prune_by_stats(
        self,
        all_files: list[str],
        stats: dict[str, list],
        batch_min,
        batch_max,
    ) -> list[str]:
        """Files that may contain keys within [batch_min, batch_max]:
        stat-less files always qualify; ranged files qualify unless
        disjoint from the batch range."""
        if not stats or not (
            self._statable(batch_min) and self._statable(batch_max)
        ):
            return all_files
        out = []
        for f in all_files:
            s = stats.get(self._stat_key(f))
            if s is None or not (s[1] < batch_min or s[0] > batch_max):
                out.append(f)
        return out

    # ------------------------------------------------------------------
    # Snapshots / time travel (retain_history=True)
    # ------------------------------------------------------------------
    def _record_snapshot(self, info: TableInfo) -> None:
        if not self.retain_history:
            return
        path = f"{info.location}/{_SNAPSHOTS_FILE}"
        snaps = self._read_json(path) or []
        files = sorted(
            rel for _, rel, _ in self._walk_data_files(info.location)
        )
        snaps.append(
            {
                "version": (snaps[-1]["version"] + 1) if snaps else 1,
                "timestamp": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
                "files": files,
                "schema": info.schema.json(),
                "partition_by": info.partition_by,
            }
        )
        self._write_json(path, snaps)

    def snapshots(self, database: str, table: str) -> list[dict]:
        """Recorded snapshots, oldest first: version, timestamp,
        file count."""
        info = self.info(database, table)
        if info is None:
            raise KeyError(f"no such table {database}.{table}")
        snaps = self._read_json(f"{info.location}/{_SNAPSHOTS_FILE}") or []
        return [
            {
                "version": s["version"],
                "timestamp": s["timestamp"],
                "n_files": len(s["files"]),
            }
            for s in snaps
        ]

    def read_version(self, database: str, table: str, version: int) -> DataFrame:
        """The table exactly as of a recorded snapshot (time travel).
        Files live either in the table dir (still current) or in
        ``_archive/`` (replaced since); a vacuumed snapshot raises."""
        info = self.info(database, table)
        if info is None:
            raise KeyError(f"no such table {database}.{table}")
        snaps = self._read_json(f"{info.location}/{_SNAPSHOTS_FILE}") or []
        snap = next((s for s in snaps if s["version"] == version), None)
        if snap is None:
            raise KeyError(
                f"no snapshot version {version} for {database}.{table} "
                f"(have: {[s['version'] for s in snaps]})"
            )
        schema = StructType.fromJson(json.loads(snap["schema"]))
        pby = snap.get("partition_by") or []
        current: list[str] = []
        archived: list[str] = []
        for name in snap["files"]:
            cur = f"{info.location}/{name}"
            arch = f"{info.location}/{_ARCHIVE_DIR}/{name}"
            if self._exists(cur):
                current.append(cur)
            elif self._exists(arch):
                archived.append(arch)
            else:
                raise KeyError(
                    f"snapshot {version} of {database}.{table} was "
                    f"vacuumed (missing file {name})"
                )
        if not current and not archived:
            return self.spark.createDataFrame([], schema)
        # Partitioned snapshots: partition values live in the relative
        # directory names, so each group reads with its own basePath
        # (the archive mirrors the table's partition layout).
        parts = []
        for base, paths in (
            (info.location, current),
            (f"{info.location}/{_ARCHIVE_DIR}", archived),
        ):
            if not paths:
                continue
            reader = self.spark.read.schema(schema)
            if pby:
                reader = reader.option("basePath", base)
            parts.append(reader.parquet(*paths))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def vacuum(self, database: str, table: str, keep_last: int = 1) -> int:
        """Drop all but the last ``keep_last`` snapshots and delete
        archived files no kept snapshot references. Returns the number
        of files deleted."""
        info = self.info(database, table)
        if info is None:
            raise KeyError(f"no such table {database}.{table}")
        path = f"{info.location}/{_SNAPSHOTS_FILE}"
        snaps = self._read_json(path) or []
        kept = snaps[-keep_last:] if keep_last > 0 else []
        referenced: set[str] = set()
        for s in kept:
            referenced.update(s["files"])
        referenced.update(
            rel for _, rel, _ in self._walk_data_files(info.location)
        )
        removed = 0
        arch = f"{info.location}/{_ARCHIVE_DIR}"
        if self._exists(arch):
            for f, rel, _ in self._walk_data_files(arch):
                if rel not in referenced:
                    self._delete(f)
                    removed += 1
        self._write_json(path, kept)
        return removed

    # ------------------------------------------------------------------
    # Catalog registration
    # ------------------------------------------------------------------
    def ensure_database(self, database: str) -> None:
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{database}`")

    def _register(self, info: TableInfo) -> None:
        """(Re-)declare the external table with the current schema.
        Partitioned tables register with ``PARTITIONED BY`` so
        Catalyst prunes partition directories on partition-column
        filters, then recover their partition list from the
        directory layout."""
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
        if info.partition_by:
            self.spark.sql(
                f"ALTER TABLE `{info.database}`.`{info.name}` "
                f"RECOVER PARTITIONS"
            )

    def _refresh(self, info: TableInfo, new_partitions=None) -> None:
        """Post-write catalog sync: new partition directories must be
        added to the catalog's partition list. When the write knows
        exactly which partition values its batch touched
        (``new_partitions``: rows keyed by partition column), each is
        added surgically with ADD IF NOT EXISTS PARTITION — O(batch
        partitions). Otherwise RECOVER rescans the whole layout —
        O(table partitions), the fallback a 10k-partition table
        should avoid on the hot path."""
        q = f"`{info.database}`.`{info.name}`"
        if info.partition_by:
            specs = None
            if new_partitions is not None and all(
                r[c] is not None
                for r in new_partitions
                for c in info.partition_by
            ):
                specs = [
                    ", ".join(
                        "`{}`='{}'".format(
                            c, str(r[c]).replace("'", "''")
                        )
                        for c in info.partition_by
                    )
                    for r in new_partitions
                ]
            if specs is not None:
                for spec in specs:
                    self.spark.sql(
                        f"ALTER TABLE {q} "
                        f"ADD IF NOT EXISTS PARTITION ({spec})"
                    )
            else:
                self.spark.sql(f"ALTER TABLE {q} RECOVER PARTITIONS")
        self.spark.sql(f"REFRESH TABLE {q}")

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
                location = t_status.getPath().toString()
                # Before the meta is read: a table whose first write
                # crashed mid-commit has its meta only in the journal.
                self._apply_pending(location)
                meta = self._read_meta(location)
                if meta is None:
                    continue
                info = self._table_info(database, name, location, meta)
                self._register(info)
                infos.append(info)
        return infos

    def table_exists(self, database: str, table: str) -> bool:
        location = self.config.table_path(database, table)
        return self._read_meta(location) is not None

    def read(self, database: str, table: str) -> DataFrame:
        qualified = f"`{database}`.`{table}`"
        info = self.info(database, table)
        if info is not None and (
            not self.spark.catalog.tableExists(qualified)
            or self._registered_location(database, table) != info.location
        ):
            # Missing, or a stale registration left by another Lake
            # instance (different root) in this shared session.
            self._register(info)
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
        meta = self._read_meta(location)
        if meta is None:
            return None
        return self._table_info(database, table, location, meta)

    @staticmethod
    def _table_info(
        database: str, table: str, location: str, meta: dict
    ) -> TableInfo:
        return TableInfo(
            database=database,
            name=table,
            location=location,
            schema=StructType.fromJson(json.loads(meta["schema"])),
            primary_keys=meta.get("primary_keys", []),
            partition_by=meta.get("partition_by", []),
            bucket_by=meta.get("bucket_by", []),
            n_buckets=meta.get("n_buckets", 0),
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
        file-organization lever at 100 TB."""
        partition_by = list(partition_by or [])
        missing = [c for c in partition_by if c not in df.columns]
        if missing:
            raise ValueError(f"partition columns not in data: {missing}")
        location = self.config.table_path(database, table)
        staging = self._stage(df, location, partition_by)
        schema = StructType(
            [f for f in df.schema.fields if f.name not in partition_by]
            + [f for f in df.schema.fields if f.name in partition_by]
        )
        info = TableInfo(
            database, table, location, schema, primary_keys or [], partition_by
        )
        return self._commit(
            info, staging, self._replaced_files(location), {}, register=True
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
            info, staging, self._replaced_files(location), {}, register=True
        )

    def append(
        self,
        database: str,
        table: str,
        df: DataFrame,
        primary_keys: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> TableInfo:
        """Append with union-by-name schema evolution (reference S5 +
        V6: new columns widen the table schema; old files read as
        null for them). On a partitioned table the batch's files land
        only in the partitions it carries (``partition_by`` applies
        on first create; thereafter the table's layout wins)."""
        existing, stats = self._open(database, table)
        if existing is None:
            return self.create_or_replace(
                database, table, df, primary_keys, partition_by
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
            info, staging, [], stats, register=merged_schema != existing.schema
        )

    def merge(
        self,
        database: str,
        table: str,
        source: DataFrame,
        keys: list[str],
        partition_by: list[str] | None = None,
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
        existing, stats = self._open(database, table)
        if existing is None:
            return self.create_or_replace(
                database, table, source, keys, partition_by
            )
        if existing.bucket_by:
            raise ValueError(
                f"{database}.{table} is a bucketed materialization "
                f"(overwrite-only); re-run its producing job instead "
                f"of merging"
            )

        merged_schema = self._merge_schemas(existing.schema, source.schema)
        # Captured before _conform: a batch that never carried a
        # partition column gets it null-filled by _conform, and a
        # null partition value must not be mistaken for a real batch
        # partition tuple when deciding whether pruning is safe.
        source_cols = set(source.columns)
        source = self._conform(source, merged_schema)
        location = existing.location
        pby = existing.partition_by

        # The deduped key set is tiny (keys only) and consumed three
        # times (batch bounds, affected semi-join, survivor anti-join)
        # — persist it so the source plan runs once for all three.
        src_keys = source.select(*keys).dropDuplicates(keys).persist()

        batch_parts = None
        if pby and all(c in source_cols for c in pby):
            # The batch's partition tuples — bounded by the number of
            # partitions a batch touches, collected like Iceberg's
            # partition summaries. Used for the surgical ADD
            # PARTITION catalog sync, and for partition pruning when
            # that is key-safe.
            pvals = (
                source.select(*pby).dropDuplicates(pby).limit(10001).collect()
            )
            if len(pvals) <= 10000:
                batch_parts = pvals

        candidates = self._list_data_files(location)
        if stats:
            bounds = src_keys.agg(
                F.min(keys[0]).alias("mn"), F.max(keys[0]).alias("mx")
            ).first()
            candidates = self._prune_by_stats(
                candidates, stats, bounds["mn"], bounds["mx"]
            )
        # basePath keeps the partition-column values that live in the
        # directory names of the files read.
        reader = self.spark.read.schema(merged_schema).option(
            "basePath", location
        )
        affected_files: list[str] = []
        if candidates:
            scan = reader.parquet(*candidates)
            # Partition pruning is only sound when the partition tuple
            # is part of the key: then equal keys imply equal
            # partition values and a matched row cannot live outside
            # the batch's partitions. Pruning on a non-key partition
            # column would miss a stored row whose partition value
            # differs from the incoming one (late correction) and
            # silently duplicate its key.
            if batch_parts and set(pby) <= set(keys):
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
        # The batch's collected partition tuples make the catalog sync
        # surgical (ADD PARTITION per touched value) instead of a full
        # layout rescan.
        return self._commit(
            info,
            staging,
            affected_files,
            stats,
            register=merged_schema != existing.schema,
            new_partitions=batch_parts,
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

    def compact(
        self,
        database: str,
        table: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        small_file_bytes: int | None = None,
        sort_by: list[str] | None = None,
    ) -> int:
        """Bin-pack small data files into ~target-size files.

        Incremental merges and appends accumulate small files (each
        micro-batch writes at least one); scans then pay per-file open
        cost and lose row-group locality — the classic small-file
        problem. This rewrites only files below ``small_file_bytes``
        (default: half the target), coalesced to
        ceil(total/target) output files; large files are untouched.
        Returns the number of files compacted. Commits like every
        write, as one that removes the compacted files: after a crash
        the table holds the pre- or the post-compaction files.

        ``sort_by`` re-clusters the rewritten rows: a range
        repartition + in-partition sort on the given columns, so
        each output file covers a tight key range. On a PK-keyed
        table this directly sharpens the zone maps (merge prunes
        more files) and any range-filtered scan skips whole files
        via parquet min/max — the Delta OPTIMIZE ZORDER idea,
        restricted to lexicographic clustering."""
        info, stats = self._open(database, table)
        if info is None:
            raise KeyError(f"no such table {database}.{table}")
        if info.bucket_by:
            # Bucket membership is baked into file names; rewriting
            # them would break the bucket→file contract. Bucketed
            # tables are written in one pass and never accrete small
            # files, so there is nothing to compact.
            return 0
        threshold = small_file_bytes or target_file_bytes // 2
        # Group small files by their partition directory ("" for a
        # flat table): compaction is partition-local, so each
        # rewritten file stays inside its partition and the rest of
        # the table is untouched.
        groups: dict[str, list[tuple[str, int]]] = {}
        for f, rel, size in self._walk_data_files(info.location):
            if size < threshold:
                d = rel.rsplit("/", 1)[0] if "/" in rel else ""
                groups.setdefault(d, []).append((f, size))
        groups = {d: fs_ for d, fs_ in groups.items() if len(fs_) >= 2}
        if not groups:
            return 0
        staging = f"{info.location}__stage_{uuid.uuid4().hex[:8]}"
        small: list[str] = []
        for d, members in groups.items():
            paths = [f for f, _ in members]
            total = sum(s for _, s in members)
            n_out = max(1, -(-total // target_file_bytes))
            dst = f"{staging}/{d}" if d else staging
            src = self.spark.read.schema(info.data_schema).parquet(*paths)
            if sort_by:
                out = src.repartitionByRange(
                    int(n_out), *[F.col(c) for c in sort_by]
                ).sortWithinPartitions(*sort_by)
            else:
                out = src.repartition(int(n_out))
            out.write.mode("overwrite").parquet(dst)
            small.extend(paths)
        self._commit(info, staging, small, stats, register=False)
        return len(small)

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
