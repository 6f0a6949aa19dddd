"""Bronze zone: buffered JSONL ingestion + recursive union-by-name scan.

Contract from the reference:

- push ingestion validates the payload against the registered
  endpoint schema, injects metadata columns ``_insert_date`` (ISO
  now), ``_domain``, ``_endpoint``, and lands JSONL under
  ``firehose-data/{domain}/{table}/``
  (``lambdas/serverless_ingestion/main.py:144-176,204-279``);
- Firehose buffers 5 MB / 60 s per object — here every ingest call
  produces one JSONL object (the batch *is* the buffer; a
  Structured-Streaming variant with a 60 s trigger lives in
  ``streaming/``);
- scans read the whole prefix recursively with union-by-name schema
  merging (``lambdas/query_api/main.py:152-159``); the scan is
  ``QueryEngine._register_bronze_view`` in ``plans/query.py``.

Writes go through the Hadoop FileSystem API (not the Spark write
path) because push batches are tiny (reference batch size: 25
records) — a Spark job per 25 records would be pure overhead, and
one JSONL object per call is exactly the Firehose layout.
"""

from __future__ import annotations

import json
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import SparkSession

from serverless_data_lake_spark.config import LakeConfig
from serverless_data_lake_spark.schema.registry import SchemaRegistry
from serverless_data_lake_spark.schema.validation import (
    ValidationError,
    validate_batch,
    validate_record,
)

METADATA_COLUMNS = ("_insert_date", "_domain", "_endpoint")


@dataclass
class IngestResult:
    accepted: int
    failed: int
    errors: list[dict[str, Any]]
    object_path: str | None


class BronzeZone:
    def __init__(
        self,
        spark: SparkSession,
        config: LakeConfig,
        registry: SchemaRegistry | None = None,
    ) -> None:
        self.spark = spark
        self.config = config
        self.registry = registry or SchemaRegistry(config.registry_root)

    # ------------------------------------------------------------------
    # Write path
    # ------------------------------------------------------------------
    def _now_iso(self) -> str:
        return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")

    def _write_jsonl(self, domain: str, table: str, records: list[dict]) -> str:
        path = self.config.bronze_path(domain, table)
        obj = f"{path}/{datetime.now(timezone.utc):%Y/%m/%d}/{uuid.uuid4().hex}.jsonl"
        jvm = self.spark._jvm  # noqa: SLF001
        hpath = jvm.org.apache.hadoop.fs.Path(obj)
        fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())  # noqa: SLF001
        stream = fs.create(hpath, True)
        try:
            payload = "\n".join(json.dumps(r, default=str) for r in records)
            stream.write(bytearray(payload.encode()))
        finally:
            stream.close()
        return obj

    def _stamp(self, record: dict, domain: str, table: str, ts: str) -> dict:
        return {
            **record,
            "_insert_date": ts,
            "_domain": domain,
            "_endpoint": table,
        }

    def _wrap_single_column(self, records: list[dict]) -> list[dict]:
        """``single_column`` schema mode (reference ``models.py:32-37``):
        the payload is kept schema-less, stored whole under a single
        ``data`` column (serialized JSON string)."""
        return [{"data": json.dumps(r, default=str)} for r in records]

    def ingest(
        self, domain: str, table: str, record: dict[str, Any]
    ) -> IngestResult:
        """Single-record push (reference POST /ingest)."""
        schema = self.registry.get(domain, table)
        if schema is not None and schema.schema_mode.value == "single_column":
            record = self._wrap_single_column([record])[0]
        elif schema is not None and schema.columns:
            try:
                record = validate_record(
                    record, schema.columns, strict=schema.strict_validation
                )
            except ValidationError as exc:
                return IngestResult(0, 1, [{"index": 0, "errors": exc.errors}], None)
        ts = self._now_iso()
        obj = self._write_jsonl(domain, table, [self._stamp(record, domain, table, ts)])
        return IngestResult(1, 0, [], obj)

    def ingest_batch(
        self, domain: str, table: str, records: list[dict[str, Any]]
    ) -> IngestResult:
        """Batch push with partial-failure semantics (reference
        POST /ingest/batch, ``main.py:257-279``)."""
        schema = self.registry.get(domain, table)
        errors: list[dict[str, Any]] = []
        if schema is not None and schema.schema_mode.value == "single_column":
            records = self._wrap_single_column(records)
        elif schema is not None and schema.columns:
            records, errors = validate_batch(
                records, schema.columns, strict=schema.strict_validation
            )
        if not records:
            return IngestResult(0, len(errors), errors, None)
        ts = self._now_iso()
        stamped = [self._stamp(r, domain, table, ts) for r in records]
        obj = self._write_jsonl(domain, table, stamped)
        return IngestResult(len(stamped), len(errors), errors, obj)

    def list_objects(self, domain: str, table: str) -> dict[str, str]:
        """The endpoint's bronze objects as ``{rel: path}``, ``rel``
        being the object's path below the endpoint prefix. Both come
        from the one Hadoop listing, so ``rel`` does not depend on how
        the lake root is spelled (``//``, ``.``, a trailing ``/``)."""
        path = self.config.bronze_path(domain, table)
        jvm = self.spark._jvm  # noqa: SLF001
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())  # noqa: SLF001
        if not fs.exists(hpath):
            return {}
        root = fs.makeQualified(hpath).toUri().getPath().rstrip("/") + "/"
        out = {}
        it = fs.listFiles(hpath, True)
        while it.hasNext():
            obj = it.next().getPath()
            if obj.getName().startswith(("_", ".")):
                continue
            key = obj.toUri().getPath()
            if not key.startswith(root):
                raise ValueError(f"bronze object {obj} is not under {root}")
            out[key[len(root):]] = obj.toString()
        return out
