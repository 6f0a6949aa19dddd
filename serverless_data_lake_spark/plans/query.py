"""The one path from SQL text to a DataFrame.

``QueryEngine.dataframe`` is the front end for serving
(``QueryEngine.query``), gold jobs (``GoldRunner``) and the ``Lake``
helpers; each of its passes reads the query through the one SQL lexer
(``dialect.mask_literals``). Pipeline (mirrors the reference query API
lifecycle, ``lambdas/query_api/main.py:210-237``):

1. ``validate_query``  — SELECT/WITH-only gate, 10k-char cap;
2. ``rewrite_query``   — three-part name resolution (bronze refs get
   per-query temp views over the JSONL prefix);
3. ``transpile``       — DuckDB-dialect shims;
4. ``spark.sql``       — Catalyst does parse/analyze/optimize/exec;
5. row cap             — ``limit(N + 1)`` and a ``truncated`` flag;
6. sanitized errors    — storage paths stripped from messages.

Statelessness: the reference builds a fresh DuckDB per request; a
long-lived SparkSession is kept instead. Bronze views stay registered
until the next ``dataframe`` call over the same endpoint refreshes
them, so no call reads an earlier call's file listing; they are
metadata only (a view over a path), so no data is pinned between
queries.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from serverless_data_lake_spark.config import LakeConfig
from serverless_data_lake_spark.plans.dialect import (
    is_epoch_ms_type_mismatch,
    reverse_epoch_ms,
    transpile,
)
from serverless_data_lake_spark.plans.rewrite import (
    bronze_view_name,
    find_table_refs,
    rewrite_query,
)
from serverless_data_lake_spark.plans.validate import (
    QueryValidationError,
    validate_query,
)

_PATH_RE = re.compile(r"(s3a?://\S+|file:/\S+|/[\w./-]{2,})")


@dataclass
class QueryResult:
    columns: list[str]
    rows: list[dict[str, Any]]
    row_count: int
    truncated: bool = False


@dataclass
class QueryEngine:
    spark: SparkSession
    config: LakeConfig
    registry: object | None = None  # SchemaRegistry, for the fast path

    # -- plan-only entry (returns a DataFrame; no collect) ---------
    def dataframe(self, sql: str) -> DataFrame:
        """Validate + rewrite + transpile, return the lazy DataFrame.

        Bronze temp views created here live until the next query that
        touches the same endpoint refreshes them (they are metadata
        only — a view over a path — so leaving them registered does
        not pin data)."""
        validate_query(sql)
        for domain, layer, table in find_table_refs(sql):
            if layer == "bronze":
                self._register_bronze_view(domain, table)
        rewritten = rewrite_query(sql)
        try:
            return self.spark.sql(transpile(rewritten))
        except Exception as exc:  # noqa: BLE001 — overload retry below
            # DuckDB's epoch_ms is overloaded by argument type; the
            # static rename picks the integer→timestamp direction.
            # When analysis rejects a TIMESTAMP argument, retry the
            # timestamp→bigint direction (unix_millis). See
            # dialect.reverse_epoch_ms.
            if not is_epoch_ms_type_mismatch(exc):
                raise
            alt = reverse_epoch_ms(rewritten)
            if alt is None:
                raise
            return self.spark.sql(transpile(alt))

    # -- serving entry (capped, JSON-shaped) -----------------------
    def query(self, sql: str) -> QueryResult:
        cap = self.config.max_result_rows
        try:
            df = self.dataframe(sql)
            rows = df.limit(cap + 1).collect()
        except QueryValidationError:
            raise  # the HTTP-400 class, message kept
        except Exception as exc:  # noqa: BLE001 — serving boundary
            raise QueryExecutionError(_friendly_error(exc)) from None
        truncated = len(rows) > cap
        rows = rows[:cap]
        return QueryResult(
            columns=list(df.columns),
            rows=[r.asDict(recursive=True) for r in rows],
            row_count=len(rows),
            truncated=truncated,
        )

    # -- bronze resolution -----------------------------------------
    def _register_bronze_view(self, domain: str, table: str) -> None:
        """(Re-)register a temp view over the bronze JSONL prefix.

        ``spark.read.json`` over the recursive listing is the exact
        Spark analogue of ``read_json_auto('…/**', union_by_name=true)``:
        schema is inferred per-run across all files and merged by
        name. At scale, schema inference cost is bounded by the
        registry fast path (see sources/bronze.py) — here we stay
        faithful to the schemaless contract."""
        path = self.config.bronze_path(domain, table)
        view = bronze_view_name(domain, table)
        reader = self.spark.read.option("recursiveFileLookup", "true").option(
            "inferTimestamp", "true"
        )
        schema = self._registry_schema(domain, table)
        if schema is not None:
            # Fast path: schema from the registry — the scan skips the
            # full-prefix inference pass (which reads every object
            # once just to infer; prohibitive on a large bronze zone).
            # Union-by-name semantics hold: files missing declared
            # columns read as null.
            reader = reader.schema(schema)
        df = reader.json(path)
        df.createOrReplaceTempView(view)

    def _registry_schema(self, domain: str, table: str):
        if self.registry is None:
            return None
        endpoint = self.registry.get(domain, table)
        if endpoint is None or not endpoint.columns:
            return None
        from serverless_data_lake_spark.schema.types import SchemaMode

        if endpoint.schema_mode is not SchemaMode.MANUAL:
            # Auto-inferred registrations may lag behind payload drift;
            # only user-declared schemas are authoritative enough to
            # skip the union-by-name inference scan.
            return None
        from pyspark.sql.types import StringType, StructField

        from serverless_data_lake_spark.schema.types import to_struct_type
        from serverless_data_lake_spark.sources.bronze import METADATA_COLUMNS

        schema = to_struct_type(endpoint.columns)
        for meta in METADATA_COLUMNS:
            schema = schema.add(StructField(meta, StringType(), True))
        return schema


class QueryExecutionError(RuntimeError):
    """Engine-side failure with storage paths scrubbed."""


def _friendly_error(exc: Exception) -> str:
    """Strip filesystem/bucket paths from error text (reference:
    ``lambdas/query_api/main.py:186-207``)."""
    msg = str(exc).split("\n")[0]
    msg = _PATH_RE.sub("<path>", msg)
    if "TABLE_OR_VIEW_NOT_FOUND" in str(exc) or "PATH_NOT_FOUND" in str(exc):
        return f"Table not found or not accessible. ({msg[:200]})"
    return msg[:500]
