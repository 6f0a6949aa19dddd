"""The one path from SQL text to a DataFrame.

``QueryEngine.dataframe`` is the front end for serving
(``QueryEngine.query``), gold jobs (``GoldRunner``) and the ``Lake``
helpers, and gold save runs its gate, ``QueryEngine.parse``. Steps 1–3
read the query through the one SQL lexer (``dialect.mask_literals``).
Pipeline (mirrors the reference query API lifecycle,
``lambdas/query_api/main.py:210-237``):

1. ``validate_query``  — the text checks: not empty, 10k-char cap,
   SELECT/WITH first; drops trailing semicolons and comments;
2. ``rewrite_query``   — three-part name resolution (bronze refs get
   per-query temp views over the JSONL prefix);
3. ``transpile``       — DuckDB-dialect shims;
4. one parse           — Spark's ``parseQuery`` accepts one query and
   nothing else, ``LookupFunctions`` checks its calls against the
   session's function registry, and ``Dataset.ofRows`` analyzes that
   same tree, so Spark never parses the text a second time;
5. row cap             — ``limit(N + 1)`` and a ``truncated`` flag;
6. sanitized errors    — storage paths stripped from messages; what the
   gate refuses, and an analysis error that is the query's own fault
   (``_QUERY_FAULTS``), is a ``QueryValidationError`` (HTTP 400).

The engine hardens the session it serves before its first parse: the
reflective builtins and ``input_file_name`` are dropped from its
function registry, and ``spark.sql.runSQLOnFiles`` is off, so a path
such as ``text.`/etc/hostname``` names no table. After analysis, a
plan whose relations output the hidden ``_metadata`` column (file
paths) is refused too.

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
from functools import cached_property
from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField

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
from serverless_data_lake_spark.schema.types import SchemaMode, to_struct_type
from serverless_data_lake_spark.sources.bronze import METADATA_COLUMNS

_PATH_RE = re.compile(r"(s3a?://\S+|file:/\S+|/[\w./-]{2,})")
# Builtins no lake query may reach: the reflective calls run any static
# Java method on the driver, and input_file_name shows storage paths.
_DROPPED_FUNCTIONS = ("reflect", "java_method", "try_reflect", "input_file_name")
# Metadata key of a file relation's hidden ``_metadata`` column, whose
# fields hold each row's storage path.
_FILE_METADATA_KEY = "__file_source_metadata_col"
# Analysis errors for a name the session does not have: a function
# (DuckDB's read_*, glob, *_scan, or a dropped builtin) or a relation
# (a path, once runSQLOnFiles is off).
_OUTSIDE_THE_LAKE = (
    "UNRESOLVED_ROUTINE",
    "UNRESOLVABLE_TABLE_VALUED_FUNCTION",
    "TABLE_OR_VIEW_NOT_FOUND",
)
# Analysis errors that are the query's own fault: a column the tables
# lack, or an operator over the wrong types. They answer like the gate
# (HTTP 400); storage faults (PATH_NOT_FOUND) stay engine errors.
_QUERY_FAULTS = (
    "UNRESOLVED_COLUMN",
    "FIELD_NOT_FOUND",
    "AMBIGUOUS_REFERENCE",
    "DATATYPE_MISMATCH",
    "WRONG_NUM_ARGS",
    "MISSING_AGGREGATION",
    "MISSING_GROUP_BY",
)


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

    @cached_property
    def _session_gate(self):
        """Harden the session, once, before this engine parses its first
        query, so every session an engine serves is hardened however it
        was built: a name dropped from the function registry resolves
        under no spelling (case, backticks, ``builtin.``, hints,
        lambdas, ``WINDOW``), and with runSQLOnFiles off a
        ``format.`path``` relation is a missing table. Returns the
        session's parser, its function lookup and ``Dataset``."""
        jvm, state = self.spark._jvm, self.spark._jsparkSession.sessionState()
        ident = jvm.org.apache.spark.sql.catalyst.FunctionIdentifier
        for name in _DROPPED_FUNCTIONS:
            state.functionRegistry().dropFunction(ident.apply(name))
        self.spark.conf.set("spark.sql.runSQLOnFiles", "false")
        lookup = state.analyzer().LookupFunctions()
        return state.sqlParser(), lookup, jvm.org.apache.spark.sql.classic.Dataset

    # -- the gate (serving and gold save) --------------------------
    def parse(self, sql: str) -> tuple[str, Any]:
        """Steps 1–4 short of analysis; needs no table to exist.
        Returns the rewritten text and the parsed plan (a JVM
        ``LogicalPlan``); raises QueryValidationError."""
        rewritten = rewrite_query(validate_query(sql))
        return rewritten, self._parse(transpile(rewritten))

    def _parse(self, text: str):
        parser, lookup_functions, _ = self._session_gate
        try:
            plan = parser.parseQuery(text)
            lookup_functions.apply(plan)
        except AnalysisException as exc:  # ParseException is one too
            raise _refused(_friendly_error(exc)) from None
        return plan

    # -- plan-only entry (returns a DataFrame; no collect) ---------
    def dataframe(self, sql: str) -> DataFrame:
        """The gate, then bronze views, then the analyzed DataFrame.

        Bronze temp views created here live until the next query that
        touches the same endpoint refreshes them (they are metadata
        only — a view over a path — so leaving them registered does
        not pin data)."""
        rewritten, plan = self.parse(sql)
        for domain, layer, table in find_table_refs(sql):
            if layer == "bronze":
                self._register_bronze_view(domain, table)
        try:
            return self._analyze(plan)
        except AnalysisException as exc:
            # DuckDB's epoch_ms is overloaded by argument type; the
            # static rename picks the integer→timestamp direction.
            # When analysis rejects a TIMESTAMP argument, retry the
            # timestamp→bigint direction (unix_millis). See
            # dialect.reverse_epoch_ms.
            alt = is_epoch_ms_type_mismatch(exc) and reverse_epoch_ms(rewritten)
            if not alt:
                raise _query_fault(exc) from None
        try:
            return self._analyze(self._parse(transpile(alt)))
        except AnalysisException as exc:
            raise _query_fault(exc) from None

    def _analyze(self, plan) -> DataFrame:
        _, _, dataset = self._session_gate
        try:
            jdf = dataset.ofRows(self.spark._jsparkSession, plan)
        except AnalysisException as exc:
            if exc.getCondition() not in _OUTSIDE_THE_LAKE:
                raise
            raise _refused(_friendly_error(exc)) from None
        if _reads_file_metadata(jdf.queryExecution().analyzed()):
            raise _refused("the hidden _metadata column holds storage paths")
        return DataFrame(jdf, self.spark)

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
        if endpoint.schema_mode is not SchemaMode.MANUAL:
            # Auto-inferred registrations may lag behind payload drift;
            # only user-declared schemas are authoritative enough to
            # skip the union-by-name inference scan.
            return None
        schema = to_struct_type(endpoint.columns)
        for meta in METADATA_COLUMNS:
            schema = schema.add(StructField(meta, StringType(), True))
        return schema


class QueryExecutionError(RuntimeError):
    """Engine-side failure with storage paths scrubbed."""


def _friendly_error(exc: Exception) -> str:
    """Strip filesystem/bucket paths from error text (reference:
    ``lambdas/query_api/main.py:186-207``)."""
    msg = str(exc).strip().split("\n")[0]
    msg = _PATH_RE.sub("<path>", msg)
    if "TABLE_OR_VIEW_NOT_FOUND" in str(exc) or "PATH_NOT_FOUND" in str(exc):
        return f"Table not found or not accessible. ({msg[:200]})"
    return msg[:500]


def _reads_file_metadata(plan) -> bool:
    """True when a relation in the analyzed ``plan``, or in any of its
    subqueries, outputs the hidden ``_metadata`` column. Spark adds
    that column to a relation's output only when the query names it,
    in whatever clause, CTE or subquery."""
    subqueries = plan.subqueriesAll()
    for tree in [plan, *(subqueries.apply(i) for i in range(subqueries.size()))]:
        leaves = tree.collectLeaves()
        for i in range(leaves.size()):
            output = leaves.apply(i).output()
            for j in range(output.size()):
                if output.apply(j).metadata().contains(_FILE_METADATA_KEY):
                    return True
    return False


def _query_fault(exc: AnalysisException) -> Exception:
    """``exc`` as a ``QueryValidationError`` with its paths scrubbed
    when it is the query's own fault (``_QUERY_FAULTS``), else ``exc``
    itself."""
    if (exc.getCondition() or "").split(".")[0] in _QUERY_FAULTS:
        return QueryValidationError(_friendly_error(exc))
    return exc


def _refused(reason: str) -> QueryValidationError:
    return QueryValidationError(
        "Only a SELECT over lake tables and Spark's built-in functions "
        f"is allowed: {reason}"
    )
