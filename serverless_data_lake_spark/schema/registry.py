"""Versioned YAML schema registry.

Layout contract from the reference
(``layers/shared/python/shared/schema_registry.py:7-16,61-93,160-216,
410-430``)::

    {registry_root}/{domain}/{layer}/{name}/v{n}.yaml
    {registry_root}/{domain}/{layer}/{name}/latest.yaml

Versions are append-only: every update writes ``v{n+1}.yaml`` and
rewrites ``latest.yaml``. Gold job configs live at
``{domain}/gold/{job}/config.yaml`` (reference
``schema_registry.py:432-462``). Storage is the local/posix
filesystem here; the layout is object-store-shaped (one small YAML
per write, no renames of existing objects) so an S3 adapter is a
drop-in.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import yaml

from serverless_data_lake_spark.schema.types import EndpointSchema

_VERSION_RE = re.compile(r"^v(\d+)\.yaml$")


class SchemaRegistry:
    def __init__(self, root: str) -> None:
        self.root = root

    # ------------------------------------------------------------------
    def _dir(self, domain: str, layer: str, name: str) -> str:
        return os.path.join(self.root, domain, layer, name)

    def _versions(self, domain: str, layer: str, name: str) -> list[int]:
        d = self._dir(domain, layer, name)
        if not os.path.isdir(d):
            return []
        out = []
        for f in os.listdir(d):
            m = _VERSION_RE.match(f)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    # ------------------------------------------------------------------
    # Endpoint (bronze) schemas
    # ------------------------------------------------------------------
    def register(self, schema: EndpointSchema, layer: str = "bronze") -> int:
        """Write the next version + latest. Returns the new version."""
        d = self._dir(schema.domain, layer, schema.name)
        os.makedirs(d, exist_ok=True)
        versions = self._versions(schema.domain, layer, schema.name)
        version = (versions[-1] + 1) if versions else 1
        doc = schema.to_dict() | {"version": version}
        for fname in (f"v{version}.yaml", "latest.yaml"):
            with open(os.path.join(d, fname), "w") as fh:
                yaml.safe_dump(doc, fh, sort_keys=False)
        return version

    def get(
        self,
        domain: str,
        name: str,
        layer: str = "bronze",
        version: int | None = None,
    ) -> EndpointSchema | None:
        d = self._dir(domain, layer, name)
        fname = "latest.yaml" if version is None else f"v{version}.yaml"
        path = os.path.join(d, fname)
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return EndpointSchema.from_dict(yaml.safe_load(fh))

    def list_versions(self, domain: str, name: str, layer: str = "bronze") -> list[int]:
        return self._versions(domain, layer, name)

    def list_endpoints(self, layer: str = "bronze") -> list[tuple[str, str]]:
        """All (domain, name) pairs registered for a layer."""
        out: list[tuple[str, str]] = []
        if not os.path.isdir(self.root):
            return out
        for domain in sorted(os.listdir(self.root)):
            layer_dir = os.path.join(self.root, domain, layer)
            if not os.path.isdir(layer_dir):
                continue
            for name in sorted(os.listdir(layer_dir)):
                if os.path.exists(os.path.join(layer_dir, name, "latest.yaml")):
                    out.append((domain, name))
        return out

    def register_silver(self, schema: EndpointSchema) -> int:
        """Idempotent silver registration (reference
        ``schema_registry.py:348-379``): only bumps a version when the
        schema actually changed."""
        current = self.get(schema.domain, schema.name, layer="silver")
        if current is not None and current.to_dict() == schema.to_dict():
            return self.list_versions(schema.domain, schema.name, "silver")[-1]
        return self.register(schema, layer="silver")

    # ------------------------------------------------------------------
    # Gold job configs
    # ------------------------------------------------------------------
    def save_gold_job(self, domain: str, job: "GoldJobConfig") -> None:
        job.validate()  # fail at creation, not on the second run
        d = self._dir(domain, "gold", job.name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "config.yaml"), "w") as fh:
            yaml.safe_dump(job.to_dict(), fh, sort_keys=False)

    def get_gold_job(self, domain: str, name: str) -> "GoldJobConfig | None":
        path = os.path.join(self._dir(domain, "gold", name), "config.yaml")
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return GoldJobConfig.from_dict(yaml.safe_load(fh))

    def list_gold_jobs(self, domain: str | None = None) -> list["GoldJobConfig"]:
        out: list[GoldJobConfig] = []
        if not os.path.isdir(self.root):
            return out
        domains = [domain] if domain else sorted(os.listdir(self.root))
        for dom in domains:
            gold_dir = os.path.join(self.root, dom, "gold")
            if not os.path.isdir(gold_dir):
                continue
            for name in sorted(os.listdir(gold_dir)):
                cfg = self.get_gold_job(dom, name)
                if cfg is not None:
                    out.append(cfg)
        return out

    # ------------------------------------------------------------------
    # Execution status (reference O5: last_execution.yaml)
    # ------------------------------------------------------------------
    def save_execution_status(self, domain: str, job: str, status: dict) -> None:
        d = self._dir(domain, "gold", job)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "last_execution.yaml"), "w") as fh:
            yaml.safe_dump(status, fh, sort_keys=False)

    def get_execution_status(self, domain: str, job: str) -> dict | None:
        path = os.path.join(self._dir(domain, "gold", job), "last_execution.yaml")
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return yaml.safe_load(fh)


@dataclass
class GoldJobConfig:
    """A gold transform job (reference ``CreateJobRequest``,
    ``lambdas/transform_jobs/main.py:49-67``)."""

    domain: str
    name: str
    query: str
    write_mode: str = "overwrite"  # overwrite | append
    unique_key: list[str] = field(default_factory=list)
    schedule_type: str = "cron"  # cron | dependency
    cron_schedule: str = "day"  # hour | day | month
    dependencies: list[str] = field(default_factory=list)
    description: str = ""
    # Scale extensions beyond the reference's job config: hive
    # partition columns for the materialized table (partition
    # pruning on reads, partition-local upserts), or hash bucketing
    # (shuffle-free joins/aggs on the bucket key; overwrite-only).
    partition_by: list[str] = field(default_factory=list)
    bucket_by: list[str] = field(default_factory=list)
    n_buckets: int = 8
    # dbt-style incremental filter: on append runs against an
    # existing table, only query rows with incremental_column >
    # max(existing) are processed (late rows below the high-water
    # mark are skipped, the standard dbt incremental caveat).
    incremental_column: str = ""

    def __post_init__(self) -> None:
        # dbt-style configs allow a scalar unique_key; left as a bare
        # string, list("id") in to_dict would silently shred it into
        # per-character key columns.
        if isinstance(self.unique_key, str):
            self.unique_key = [self.unique_key]
        if isinstance(self.partition_by, str):
            self.partition_by = [self.partition_by]
        if isinstance(self.bucket_by, str):
            self.bucket_by = [self.bucket_by]
        # NOT validated here: __post_init__ also runs on
        # DESERIALIZATION (from_dict → get_gold_job/list_gold_jobs),
        # where raising on one legacy row with a bad mode would take
        # down listing of the WHOLE registry — a blast-radius
        # regression (r9 review). Creation-time validation lives in
        # validate() / save_gold_job; the RUN path calls validate()
        # at _run_job entry so a legacy bad row fails loudly on its
        # first run, not its second.

    def validate(self) -> "GoldJobConfig":
        """Fail-fast checks for NEW configs (called on the save
        path): an unknown write_mode (e.g. "upsert" — spelled
        ``append`` + ``unique_key`` here, the dbt convention) used
        to pass job creation, succeed on the FIRST run (the
        table-doesn't-exist branch creates regardless of mode), and
        only raise on the second — a delayed failure that looked
        like a working job (found by an r9 verify probe). The query
        passes the query API's gate in ``Lake.create_gold_job``, which
        needs the session's parser."""
        if self.write_mode not in ("overwrite", "append"):
            raise ValueError(
                f"unknown write_mode: {self.write_mode!r} — expected "
                "'overwrite' or 'append' (append + unique_key is the "
                "upsert spelling, as in dbt)"
            )
        return self

    def to_dict(self) -> dict:
        return {
            "domain": self.domain,
            "name": self.name,
            "query": self.query,
            "write_mode": self.write_mode,
            "unique_key": list(self.unique_key),
            "schedule_type": self.schedule_type,
            "cron_schedule": self.cron_schedule,
            "dependencies": list(self.dependencies),
            "description": self.description,
            "partition_by": list(self.partition_by),
            "bucket_by": list(self.bucket_by),
            "n_buckets": self.n_buckets,
            "incremental_column": self.incremental_column,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "GoldJobConfig":
        uk = d.get("unique_key") or []
        if isinstance(uk, str):
            uk = [uk]
        return cls(
            domain=d["domain"],
            name=d["name"],
            query=d["query"],
            write_mode=d.get("write_mode", "overwrite"),
            unique_key=uk,
            schedule_type=d.get("schedule_type", "cron"),
            cron_schedule=d.get("cron_schedule", "day"),
            dependencies=list(d.get("dependencies") or []),
            description=d.get("description", ""),
            partition_by=list(d.get("partition_by") or []),
            bucket_by=list(d.get("bucket_by") or []),
            n_buckets=int(d.get("n_buckets") or 8),
            incremental_column=d.get("incremental_column", ""),
        )
