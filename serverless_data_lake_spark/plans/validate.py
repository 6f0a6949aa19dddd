"""SELECT-only SQL gate.

Behavioral contract from the reference's query API
(``lambdas/query_api/main.py:19-77``): queries must start with
SELECT or WITH, must not contain DDL/DML/transaction/extension
statements, must not call direct file functions, and are capped at
10,000 characters. The gate is a pre-parse string check — Catalyst
never sees a rejected query. It reads the query through the one SQL
lexer (``dialect.mask_literals``): keywords inside strings and
comments don't trip it, each comment reads as a space, and a
backtick-quoted function name is checked like a bare one. A
``/*+ … */`` hint is scanned for calls but not for statement
keywords, so ``/*+ MERGE(t) */`` passes. Every front end
(``QueryEngine.dataframe``, which serving and gold jobs both use, and
``GoldJobConfig.validate``) runs it.
"""

from __future__ import annotations

import re

from serverless_data_lake_spark.plans.dialect import mask_literals

MAX_QUERY_LENGTH = 10_000

# Statement keywords that must not appear anywhere in a read-only
# query (word-bounded, case-insensitive).
_FORBIDDEN_STATEMENTS = (
    "insert",
    "update",
    "delete",
    "drop",
    "create",
    "alter",
    "truncate",
    "merge",
    "grant",
    "revoke",
    "attach",
    "detach",
    "install",
    "load",
    "set",
    "reset",
    "pragma",
    "call",
    "begin",
    "commit",
    "rollback",
    "vacuum",
    "analyze",
    "export",
    "import",
    "copy",
    "use",
    "refresh",
    "cache",
    "uncache",
    "msck",
)

# Direct file/table functions that would bypass the catalog layer.
_FORBIDDEN_FUNCTIONS = (
    "read_csv",
    "read_csv_auto",
    "read_parquet",
    "read_json",
    "read_json_auto",
    "read_json_objects",
    "read_ndjson",
    "read_ndjson_auto",
    "parquet_scan",
    "delta_scan",
    "iceberg_scan",
    "glob",
    "from_file",
    # Spark-specific escape hatches blocked for symmetry:
    "reflect",
    "java_method",
    "input_file_name",
)

_STMT_RE = re.compile(
    r"\b(" + "|".join(_FORBIDDEN_STATEMENTS) + r")\b", re.IGNORECASE
)
_FUNC_RE = re.compile(
    r"\b(" + "|".join(_FORBIDDEN_FUNCTIONS) + r")\s*\(", re.IGNORECASE
)


class QueryValidationError(ValueError):
    """Raised when a query fails the read-only gate."""


def validate_query(sql: str) -> str:
    """Validate and return the query; raise QueryValidationError
    otherwise. Returns the input unchanged on success."""
    if not sql or not sql.strip():
        raise QueryValidationError("Query is empty")
    if len(sql) > MAX_QUERY_LENGTH:
        raise QueryValidationError(
            f"Query exceeds maximum length of {MAX_QUERY_LENGTH} characters"
        )
    try:
        scrubbed, hints = mask_literals(sql, gate=True)
    except ValueError as err:
        raise QueryValidationError(str(err)) from None
    head = scrubbed.strip().split(None, 1)[0].lower() if scrubbed.strip() else ""
    if head not in ("select", "with"):
        raise QueryValidationError("Only SELECT and WITH queries are allowed")
    # Multiple statements: anything after a top-level semicolon.
    body = " ".join([scrubbed.strip().rstrip(";"), *hints])
    if ";" in body:
        raise QueryValidationError("Multiple statements are not allowed")
    # A hint's names (/*+ MERGE(t) */) are not statements; its calls are.
    m = _STMT_RE.search(scrubbed)
    if m:
        raise QueryValidationError(
            f"Statement keyword not allowed in read-only queries: {m.group(1).upper()}"
        )
    m = _FUNC_RE.search(body)
    if m:
        raise QueryValidationError(
            f"Direct file access function not allowed: {m.group(1)}"
        )
    return sql
