"""Gold transform jobs: SQL materializations with write modes,
cron-tag scheduling, and dependency DAGs.

Reference semantics (``containers/dbt_runner/entrypoint.py``,
``lambdas/transform_jobs/main.py`` — SURVEY §2.5, §3.3):

- a job = SQL query (three-part names) + write_mode + unique_key +
  schedule (cron tag ∈ {hour, day, month} or dependency list);
- **overwrite** → CREATE OR REPLACE (reference S6/R14);
- **append** without key → plain append (S5);
- **append + unique_key** → delete-by-key + insert (the dbt
  incremental macro, R13 — including composite keys). The reference's
  single-mode runner silently degrades this to a full overwrite
  (``entrypoint.py:434-437``); we implement the macro semantics and
  document the divergence;
- dependency jobs reference other gold tables and are executed in
  topological order within one run (O3);
- dependency jobs inherit the **highest frequency** among their
  transitive consumers, fixed-point iterated, default daily (O2);
- execution status is persisted per job (O5).

The reference's five-step DuckDB→Parquet→Arrow→PyIceberg dance
collapses to ``QueryEngine.dataframe(query) → write per mode`` — one
engine, no intermediate handoff, and the same front end (gate, name
rewrite, bronze views, dialect shims) as the query API.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from serverless_data_lake_spark.catalog import TableStore
from serverless_data_lake_spark.config import LakeConfig
from serverless_data_lake_spark.plans.query import QueryEngine
from serverless_data_lake_spark.schema.registry import GoldJobConfig, SchemaRegistry

_FREQ_ORDER = {"hour": 0, "day": 1, "month": 2}  # lower = more frequent


def compute_effective_tags(jobs: list[GoldJobConfig]) -> dict[str, str]:
    """Effective cron tag per job (keyed ``domain.name``).

    Cron jobs keep their own tag. Dependency jobs inherit the most
    frequent tag among the jobs that (transitively) depend on them,
    fixed-point iterated; jobs nothing depends on default to daily.
    (Reference ``compute_effective_tags``, ``entrypoint.py:111-160``.)
    """
    key = lambda j: f"{j.domain}.{j.name}"  # noqa: E731
    tags: dict[str, str] = {}
    for j in jobs:
        if j.schedule_type == "cron":
            tags[key(j)] = j.cron_schedule
    by_key = {key(j): j for j in jobs}

    changed = True
    while changed:
        changed = False
        for j in jobs:
            if j.schedule_type != "dependency":
                continue
            k = key(j)
            # Consumers: jobs that list this one as a dependency
            # (dependencies are names within the same domain).
            consumer_tags = [
                tags[key(c)]
                for c in jobs
                if j.name in c.dependencies
                and c.domain == j.domain
                and key(c) in tags
            ]
            if not consumer_tags:
                new = tags.get(k, "day")
            else:
                new = min(consumer_tags, key=lambda t: _FREQ_ORDER.get(t, 1))
            if tags.get(k) != new:
                tags[k] = new
                changed = True
    for j in jobs:
        tags.setdefault(key(j), "day")
    return tags


def topo_sort(jobs: list[GoldJobConfig]) -> list[GoldJobConfig]:
    """Order jobs so dependencies run before their consumers.
    Raises on cycles."""
    by_name = {(j.domain, j.name): j for j in jobs}
    visiting: set[tuple[str, str]] = set()
    done: set[tuple[str, str]] = set()
    out: list[GoldJobConfig] = []

    def visit(j: GoldJobConfig) -> None:
        k = (j.domain, j.name)
        if k in done:
            return
        if k in visiting:
            raise ValueError(f"dependency cycle involving {j.domain}.{j.name}")
        visiting.add(k)
        for dep in j.dependencies:
            dep_job = by_name.get((j.domain, dep))
            if dep_job is not None:
                visit(dep_job)
        visiting.discard(k)
        done.add(k)
        out.append(j)

    for j in jobs:
        visit(j)
    return out


@dataclass
class GoldResult:
    domain: str
    name: str
    rows: int
    mode: str
    seconds: float


class GoldRunner:
    def __init__(
        self,
        spark: SparkSession,
        config: LakeConfig,
        registry: SchemaRegistry | None = None,
        store: TableStore | None = None,
        queries: QueryEngine | None = None,
    ) -> None:
        self.spark = spark
        self.config = config
        self.registry = registry or SchemaRegistry(config.registry_root)
        self.store = store or TableStore(spark, config)
        self.queries = queries or QueryEngine(spark, config, self.registry)

    # ------------------------------------------------------------------
    def run_job(self, job: GoldJobConfig) -> GoldResult:
        """Run one gold job; a failure is recorded in the execution
        status (reference O5 — the SFN execution state is persisted
        whether it succeeded or not) and re-raised."""
        try:
            return self._run_job(job)
        except Exception as exc:
            self.registry.save_execution_status(
                job.domain,
                job.name,
                {
                    "status": "FAILED",
                    "error": str(exc).splitlines()[0][:300],
                    "finished_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                },
            )
            raise

    def _run_job(self, job: GoldJobConfig) -> GoldResult:
        # Fail-fast for legacy/hand-built configs that bypassed the
        # save-path validation: without this, an unknown write_mode
        # slips through the table-doesn't-exist branch below and
        # "succeeds" on the FIRST run, erroring only on the second —
        # the delayed failure the r9 verify probe found. The save
        # path already validates; this covers rows deserialized from
        # disk (deserialization is deliberately tolerant so one bad
        # row can't take down listing) and direct run_job callers.
        job.validate()
        started = time.time()
        database = self.config.database_name(job.domain, "gold")
        # ``rows`` = rows produced by THIS run, observed on the write
        # pass itself. The r1 implementation re-counted the whole
        # table after every run — a second full-table scan per job,
        # i.e. a second job at 100 TB.
        from pyspark.sql import Observation

        df = self.queries.dataframe(job.query)
        if (
            job.incremental_column
            and job.write_mode == "append"
            and self.store.table_exists(database, job.name)
        ):
            # dbt-style incremental run: only rows past the target's
            # high-water mark are processed. The filter wraps the
            # whole query result, so Catalyst pushes it through
            # projections/joins into the source scans where legal —
            # at 100 TB this is the difference between reprocessing
            # the world and reading one day's partitions. Rows at or
            # below the mark (late data) are skipped, exactly like
            # dbt's is_incremental() pattern; use unique_key upserts
            # when late corrections matter.
            hi = (
                self.store.read(database, job.name)
                .agg(F.max(job.incremental_column).alias("hi"))
                .first()["hi"]
            )
            if hi is not None:
                df = df.filter(F.col(job.incremental_column) > F.lit(hi))

        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))

        if job.bucket_by and job.write_mode != "overwrite":
            raise ValueError(
                "bucket_by requires write_mode=overwrite (bucketed "
                "tables are full materializations)"
            )
        if job.bucket_by:
            self.store.create_bucketed(
                database,
                job.name,
                df,
                job.bucket_by,
                job.n_buckets,
                primary_keys=job.unique_key,
            )
            mode = "overwrite"
        elif job.write_mode == "overwrite" or not self.store.table_exists(
            database, job.name
        ):
            self.store.create_or_replace(
                database, job.name, df, job.unique_key, job.partition_by
            )
            mode = "overwrite"
        elif job.write_mode == "append" and job.unique_key:
            self.store.delete_insert(
                database, job.name, df, job.unique_key, job.partition_by
            )
            mode = "upsert"
        elif job.write_mode == "append":
            self.store.append(
                database, job.name, df, partition_by=job.partition_by
            )
            mode = "append"
        else:
            raise ValueError(f"unknown write_mode: {job.write_mode}")

        rows = int(obs.get["rows"])
        seconds = time.time() - started
        self.registry.save_execution_status(
            job.domain,
            job.name,
            {
                "status": "SUCCEEDED",
                "rows": rows,
                "mode": mode,
                "seconds": round(seconds, 3),
                "finished_at": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
            },
        )
        return GoldResult(job.domain, job.name, rows, mode, seconds)

    def run_by_tag(self, tag: str) -> list[GoldResult]:
        """Scheduled run: all jobs whose effective tag matches,
        dependencies first (reference scheduled mode,
        ``entrypoint.py:167-194,443-458``)."""
        jobs = self.registry.list_gold_jobs()
        tags = compute_effective_tags(jobs)
        selected = [j for j in jobs if tags[f"{j.domain}.{j.name}"] == tag]
        # Include dependencies of selected jobs even if differently
        # tagged — a consumer must see fresh inputs.
        by_name = {(j.domain, j.name): j for j in jobs}
        frontier = list(selected)
        needed = {(j.domain, j.name) for j in selected}
        while frontier:
            j = frontier.pop()
            for dep in j.dependencies:
                k = (j.domain, dep)
                if k in by_name and k not in needed:
                    needed.add(k)
                    frontier.append(by_name[k])
        run_set = [j for j in jobs if (j.domain, j.name) in needed]
        results = []
        for job in topo_sort(run_set):
            results.append(self.run_job(job))
        return results
