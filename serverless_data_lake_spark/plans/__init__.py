"""Query planning surface: validation gate, name resolution, dialect
shims, and the serving-layer entry point.

The only "optimizer" the reference implements is a regex table-name
rewrite (SURVEY §4); everything else is delegated to the SQL engine.
Here that division of labor is kept: the text checks, the name
rewrite and the dialect shims are string-level pre-passes; Spark's
parser then builds the one tree that is gated (one query, calls
looked up in the session's function registry) and run, and Catalyst
does all actual planning.
"""

from serverless_data_lake_spark.plans.dialect import transpile
from serverless_data_lake_spark.plans.query import QueryEngine, QueryResult
from serverless_data_lake_spark.plans.rewrite import rewrite_query
from serverless_data_lake_spark.plans.validate import (
    QueryValidationError,
    validate_query,
)

__all__ = [
    "QueryEngine",
    "QueryResult",
    "QueryValidationError",
    "rewrite_query",
    "transpile",
    "validate_query",
]
