"""Bronze → silver processing.

The write-path lifecycle (reference
``lambdas/serverless_processing_iceberg/main.py``, SURVEY §3.2):

1. read the new bronze object(s) — JSONL, schema inferred;
2. look up the endpoint's primary keys in the registry;
3. if PKs: window-dedup within the batch — **ascending**
   ``_insert_date``, keep row 1 per PK (the reference's ordinal rank;
   SURVEY §7.4 gotcha: earliest-in-batch wins, later batches still
   overwrite via the upsert, so the end state is last-batch-wins);
   then MERGE into ``{domain}_silver.{endpoint}``;
4. else: plain append;
5. metadata columns (``_insert_date``, ``_domain``, ``_endpoint``)
   are dropped before the silver write;
6. schema evolves union-by-name; the silver schema is registered
   idempotently.

Batch and streaming share this code: the streaming variant calls
:meth:`process_batch` from ``foreachBatch`` (see streaming/).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serverless_data_lake_spark.catalog import TableStore
from serverless_data_lake_spark.config import LakeConfig
from serverless_data_lake_spark.operators.dedup import keep_one_ordered
from serverless_data_lake_spark.schema.registry import SchemaRegistry
from serverless_data_lake_spark.schema.types import (
    ColumnDef,
    DataType,
    EndpointSchema,
    SchemaMode,
)
from serverless_data_lake_spark.sources.bronze import METADATA_COLUMNS, BronzeZone


@dataclass
class SilverResult:
    domain: str
    endpoint: str
    rows_in: int
    rows_written: int
    mode: str  # "merge" | "append"


class SilverProcessor:
    def __init__(
        self,
        spark: SparkSession,
        config: LakeConfig,
        registry: SchemaRegistry | None = None,
        store: TableStore | None = None,
    ) -> None:
        self.spark = spark
        self.config = config
        self.registry = registry or SchemaRegistry(config.registry_root)
        self.store = store or TableStore(spark, config)
        self.bronze = BronzeZone(spark, config, self.registry)

    # ------------------------------------------------------------------
    def process_endpoint(self, domain: str, endpoint: str) -> SilverResult:
        """Process bronze objects not yet processed for one endpoint.

        The reference is event-driven: every S3 object is processed
        exactly once. The batch analogue keeps a processed-object
        manifest per endpoint, so re-running is incremental and —
        crucially for PK-less append endpoints — never duplicates
        rows. (Streaming endpoints track progress in their own
        checkpoint instead; use one mode per endpoint.)"""
        objects = self.bronze.list_objects(domain, endpoint)
        done = self._load_state(domain, endpoint)
        new = [o for o in objects if o not in done]
        if not new:
            return SilverResult(domain, endpoint, 0, 0, "noop")
        result = self.process_objects(domain, endpoint, new)
        self._save_state(domain, endpoint, done | set(new))
        return result

    def process_objects(
        self, domain: str, endpoint: str, paths: list[str]
    ) -> SilverResult:
        """Process specific bronze objects (the per-S3-event path)."""
        df = self.spark.read.option("inferTimestamp", "true").json(paths)
        return self.process_batch(domain, endpoint, self._with_arrival(df))

    # -- processed-object manifest -------------------------------------
    def _state_file(self, domain: str, endpoint: str) -> str:
        return f"{self.config.root}/_processing_state/{domain}/{endpoint}.json"

    def _load_state(self, domain: str, endpoint: str) -> set[str]:
        path = self._state_file(domain, endpoint)
        return set(self.store._read_json(path) or [])  # noqa: SLF001

    def _save_state(self, domain: str, endpoint: str, done: set[str]) -> None:
        path = self._state_file(domain, endpoint)
        self.store._write_json(path, sorted(done))  # noqa: SLF001

    @staticmethod
    def _with_arrival(df: DataFrame) -> DataFrame:
        """Attach the object arrival time (file modification time).

        The reference processes one S3 object per event, sequentially:
        within an object the *earliest* ``_insert_date`` per PK wins
        (ascending ordinal rank), but each later object's upsert
        overwrites earlier state. Replaying a whole prefix in one pass
        reproduces that end state with a single window ordered by
        (arrival DESC, _insert_date ASC) — no per-object driver loop,
        one shuffle total."""
        return df.withColumn(
            "__arrival", F.col("_metadata.file_modification_time")
        )

    def process_batch(
        self, domain: str, endpoint: str, df: DataFrame
    ) -> SilverResult:
        schema = self.registry.get(domain, endpoint)
        primary_keys = schema.primary_keys if schema else []
        # Endpoint-declared silver partitioning (scale extension):
        # applied on first table create; thereafter the existing
        # layout wins (catalog.py). Columns absent from the batch are
        # ignored rather than failing ingestion.
        partition_by = [
            c
            for c in (schema.partition_by if schema else [])
            if c in df.columns
        ]

        # The batch is persisted so the dedup window and the merge's
        # two scans of the batch read the cache instead of re-running
        # the JSON scan (the r1 implementation re-scanned per
        # consumer). Row counts piggyback on the write pass itself
        # via observe() — zero dedicated count() jobs per batch, the
        # same pattern gold already uses (pipeline/gold.py:192).
        # Through r4 this path paid persist + two count actions as a
        # workaround for an observe() instability on an earlier Spark
        # line; re-tested green on Spark 4.1 (unit + streaming
        # foreachBatch suites), so the workaround is retired. A
        # silver batch is one bronze object (bounded), so caching it
        # is the standard foreachBatch pattern, not a table-sized
        # persist.
        from pyspark.sql import Observation

        obs_in = Observation()
        df = df.observe(obs_in, F.count(F.lit(1)).alias("n")).persist()

        database = self.config.database_name(domain, "silver")
        if primary_keys:
            order = (
                [F.col("__arrival").desc()] if "__arrival" in df.columns else []
            ) + [F.col("_insert_date").asc()]
            deduped = keep_one_ordered(df, primary_keys, order)
            obs_out = Observation()
            cleaned = (
                deduped.drop(*METADATA_COLUMNS, "__arrival")
                .observe(obs_out, F.count(F.lit(1)).alias("n"))
                .persist()
            )
            self.store.merge(
                database, endpoint, cleaned, primary_keys, partition_by
            )
            rows_written = int(obs_out.get["n"])
            mode = "merge"
        else:
            cleaned = df.drop(*METADATA_COLUMNS, "__arrival")
            self.store.append(
                database, endpoint, cleaned, partition_by=partition_by
            )
            rows_written = None
            mode = "append"
        rows_in = int(obs_in.get["n"])
        if rows_written is None:
            rows_written = rows_in

        self._register_silver(domain, endpoint, cleaned, primary_keys)
        df.unpersist()
        if mode == "merge":
            cleaned.unpersist()
        return SilverResult(domain, endpoint, rows_in, rows_written, mode)

    # ------------------------------------------------------------------
    def _register_silver(
        self,
        domain: str,
        endpoint: str,
        df: DataFrame,
        primary_keys: list[str],
    ) -> None:
        """Idempotent silver-schema registration (reference
        ``register_silver_table``, ``schema_registry.py:348-379``)."""
        type_map = {
            "string": DataType.STRING,
            "long": DataType.BIGINT,
            "integer": DataType.INTEGER,
            "double": DataType.DOUBLE,
            "float": DataType.FLOAT,
            "boolean": DataType.BOOLEAN,
            "timestamp": DataType.TIMESTAMP,
            "date": DataType.DATE,
        }
        columns = []
        for f in df.schema.fields:
            simple = f.dataType.simpleString()
            if simple.startswith("array"):
                dtype = DataType.ARRAY
            elif simple.startswith(("struct", "map")):
                dtype = DataType.JSON
            else:
                dtype = type_map.get(simple, DataType.STRING)
            columns.append(
                ColumnDef(
                    name=f.name,
                    type=dtype,
                    primary_key=f.name in primary_keys,
                )
            )
        self.registry.register_silver(
            EndpointSchema(
                domain=domain,
                name=endpoint,
                columns=columns,
                schema_mode=SchemaMode.AUTO_INFERENCE,
            )
        )
