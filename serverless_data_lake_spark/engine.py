"""The Lake facade — one object wiring session, registry, store,
pipeline, and query engine together.

Usage::

    from serverless_data_lake_spark.engine import Lake

    lake = Lake.local("/tmp/my_lake")
    lake.create_endpoint(schema)                  # register bronze endpoint
    lake.ingest("sales", "orders", {...})         # push → bronze JSONL
    lake.process_silver("sales", "orders")        # dedup + MERGE → silver
    lake.create_gold_job(job_cfg); lake.run_gold("sales", "daily_revenue")
    lake.query("SELECT * FROM sales.silver.orders LIMIT 10")

One Lake per SparkSession is the supported deployment: the session
catalog is global, so two Lakes with colliding database/table names
in one session can race on registrations for the raw-SQL path
(``TableStore.read`` self-heals by checking locations; ``spark.sql``
resolution follows whichever Lake registered last).
"""

from __future__ import annotations

import dataclasses
import json
import os

from pyspark.sql import DataFrame, SparkSession

from serverless_data_lake_spark.catalog import TableStore
from serverless_data_lake_spark.config import LakeConfig
from serverless_data_lake_spark.pipeline.gold import GoldRunner, GoldResult
from serverless_data_lake_spark.pipeline.silver import SilverProcessor, SilverResult
from serverless_data_lake_spark.plans.query import QueryEngine, QueryResult
from serverless_data_lake_spark.schema.inference import infer_schema_from_payload
from serverless_data_lake_spark.schema.registry import GoldJobConfig, SchemaRegistry
from serverless_data_lake_spark.schema.types import EndpointSchema
from serverless_data_lake_spark.session import get_spark
from serverless_data_lake_spark.sources.bronze import BronzeZone, IngestResult


class Lake:
    def __init__(self, spark: SparkSession, config: LakeConfig) -> None:
        self.spark = spark
        self.config = config
        self.registry = SchemaRegistry(config.registry_root)
        self.store = TableStore(spark, config)
        self.bronze = BronzeZone(spark, config, self.registry)
        self.silver = SilverProcessor(spark, config, self.registry, self.store)
        self.queries = QueryEngine(spark, config, registry=self.registry)
        self.gold = GoldRunner(spark, config, self.registry, self.store, self.queries)
        # Make previously persisted tables resolvable in this session.
        self.store.register_all()

    @classmethod
    def local(cls, root: str, spark: SparkSession | None = None) -> "Lake":
        return cls(spark or get_spark(), LakeConfig(root=root))

    # ------------------------------------------------------------------
    # Endpoint / schema management
    # ------------------------------------------------------------------
    def create_endpoint(self, schema: EndpointSchema) -> int:
        return self.registry.register(schema)

    def infer_endpoint(
        self, domain: str, name: str, sample_payload: dict
    ) -> EndpointSchema:
        schema = infer_schema_from_payload(domain, name, sample_payload)
        self.registry.register(schema)
        return schema

    # ------------------------------------------------------------------
    # Ingest / pipeline
    # ------------------------------------------------------------------
    def ingest(self, domain: str, table: str, record: dict) -> IngestResult:
        return self.bronze.ingest(domain, table, record)

    def ingest_batch(
        self, domain: str, table: str, records: list[dict]
    ) -> IngestResult:
        return self.bronze.ingest_batch(domain, table, records)

    def process_silver(self, domain: str, endpoint: str) -> SilverResult:
        return self.silver.process_endpoint(domain, endpoint)

    def create_gold_job(self, job: GoldJobConfig) -> None:
        self.queries.parse(job.query)  # the query API's gate, at save
        self.registry.save_gold_job(job.domain, job)

    def run_gold(self, domain: str, name: str) -> GoldResult:
        job = self.registry.get_gold_job(domain, name)
        if job is None:
            raise KeyError(f"no gold job {domain}.{name}")
        return self.gold.run_job(job)

    def run_gold_by_tag(self, tag: str) -> list[GoldResult]:
        return self.gold.run_by_tag(tag)

    # ------------------------------------------------------------------
    # Ingestion plans (REST pull, reference S13 + O6)
    # ------------------------------------------------------------------
    def save_ingestion_plan(self, plan) -> None:
        d = os.path.join(self.config.registry_root, plan.domain, "plans")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "plan.json"), "w") as fh:
            json.dump(dataclasses.asdict(plan), fh, indent=2)

    def list_ingestion_plans(self) -> list:
        from serverless_data_lake_spark.sources.rest import IngestionPlan

        out = []
        root = self.config.registry_root
        if not os.path.isdir(root):
            return out
        for domain in sorted(os.listdir(root)):
            path = os.path.join(root, domain, "plans", "plan.json")
            if os.path.exists(path):
                with open(path) as fh:
                    out.append(IngestionPlan.from_dict(json.load(fh)))
        return out

    # ------------------------------------------------------------------
    # Export (reference S11: COPY ... TO parquet)
    # ------------------------------------------------------------------
    def export_parquet(self, table_ref: str, path: str) -> int:
        """Export a three-part table ref to parquet files; returns the
        row count exported."""
        df = self.queries.dataframe(f"SELECT * FROM {table_ref}")
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path).count()

    # ------------------------------------------------------------------
    # Query / catalog
    # ------------------------------------------------------------------
    def query(self, sql: str) -> QueryResult:
        return self.queries.query(sql)

    def sql(self, sql: str) -> DataFrame:
        """Validated, rewritten, *lazy* query (engine-internal use)."""
        return self.queries.dataframe(sql)

    def list_tables(self) -> list[dict]:
        return self.store.list_tables(registry=self.registry)

    def profile(
        self, domain: str, layer: str, table: str, approx: bool = False
    ) -> list[dict]:
        """Per-column profile of any three-part table (single-pass;
        see operators/profile.py). ``approx=True`` uses HLL distinct
        counts — the 100 TB mode."""
        from serverless_data_lake_spark.operators.profile import (
            profile_table,
        )

        df = self.sql(f"SELECT * FROM {domain}.{layer}.{table}")
        return [r.asDict() for r in profile_table(df, approx=approx).collect()]
