"""The text checks of the SELECT-only gate.

Behavioral contract from the reference's query API
(``lambdas/query_api/main.py:19-77``): one read-only SELECT or WITH
query of at most 10,000 characters, with no DDL/DML and no direct
file access. Each rule has one enforcer:

- here, on the text: empty, the length cap, the lexer's refusal of a
  ``\\x00``/``\\x01`` in code (``dialect.mask_literals``), and SELECT or
  WITH as the first code word; trailing semicolons and comments are
  dropped;
- one statement and no command: Spark's ``parseQuery``, whose grammar
  has no rule for anything but a query (``QueryEngine.parse``);
- no reflective call, no ``input_file_name`` and no path relation: the
  session the engine hardens, whose function registry lacks them and
  whose ``runSQLOnFiles`` is off (``QueryEngine._session_gate``).
"""

from __future__ import annotations

import re

from serverless_data_lake_spark.plans.dialect import mask_literals, unmask_literals

MAX_QUERY_LENGTH = 10_000

_HEAD_RE = re.compile("(?:\\s|\x01\\d+\x01)*(\\w*)")  # skips blanks and comments
# Trailing blanks, comments and semicolons, matched on the reversed
# masked text (a mask reads the same both ways round).
_REVERSED_TAIL_RE = re.compile("(?:[\\s;]|\x01\\d+\x01)*")


class QueryValidationError(ValueError):
    """Raised when a query fails the read-only gate."""


def validate_query(sql: str) -> str:
    """Apply the text checks; raise QueryValidationError on failure.
    Returns the query without its trailing semicolons and comments:
    Spark's query parser takes one query and no ``;``."""
    if not sql or not sql.strip():
        raise QueryValidationError("Query is empty")
    if len(sql) > MAX_QUERY_LENGTH:
        raise QueryValidationError(
            f"Query exceeds maximum length of {MAX_QUERY_LENGTH} characters"
        )
    try:
        masked, lits = mask_literals(sql)
    except ValueError as err:
        raise QueryValidationError(str(err)) from None
    if _HEAD_RE.match(masked).group(1).lower() not in ("select", "with"):
        raise QueryValidationError("Only SELECT and WITH queries are allowed")
    tail = _REVERSED_TAIL_RE.match(masked[::-1]).end()
    return unmask_literals(masked[: len(masked) - tail], lits)
