"""Three-part table-name resolution.

User-facing names are ``domain.layer.table`` (layer ∈ bronze, silver,
gold). Contract from the reference (``lambdas/query_api/main.py:152-183``
and ``containers/dbt_runner/entrypoint.py:72-104``):

- ``domain.bronze.table``  → a recursive union-by-name JSONL scan of
  the bronze prefix for that endpoint;
- ``domain.silver.table``  → catalog table ``{domain}_silver.{table}``;
- ``domain.gold.table``    → catalog table ``{domain}_gold.{table}``.

In the Spark build silver/gold resolve to real catalog databases, and
bronze refs resolve to per-query temp views over
``spark.read.json(bronze_path, recursiveFileLookup=true)`` (Spark's
JSON reader unions schemas by name natively, matching
``union_by_name=true``). The rewrite itself stays a pre-parse string
pass over the lexer's masked text (``dialect.mask_literals``) —
faithful to the reference and requiring no catalog plugin.
"""

from __future__ import annotations

import re

from serverless_data_lake_spark.plans.dialect import (
    mask_literals,
    unmask_literals,
)

# A whole dotted name of exactly three parts: no ``x.`` before it and no
# ``.y`` after it, so a longer chain is left alone and a second pass
# finds nothing the first did not.
_THREE_PART_RE = re.compile(
    r"(?<![\w.])([A-Za-z_][A-Za-z0-9_]*)\.(bronze|silver|gold)"
    r"\.([A-Za-z_][A-Za-z0-9_]*)(?![\w.])",
    re.IGNORECASE,
)


def find_table_refs(sql: str) -> list[tuple[str, str, str]]:
    """All three-part refs in the query as (domain, layer, table),
    deduplicated, in order of first appearance. Strings and comments
    are masked first so ``'sales.silver.orders'``, or the same name
    in a comment, is neither registered nor rewritten."""
    masked, _ = mask_literals(sql)
    seen: list[tuple[str, str, str]] = []
    for m in _THREE_PART_RE.finditer(masked):
        ref = (m.group(1), m.group(2).lower(), m.group(3))
        if ref not in seen:
            seen.append(ref)
    return seen


def rewrite_query(sql: str) -> str:
    """Rewrite three-part names to engine-resolvable names.

    Bronze refs rewrite to the conventional temp-view name
    ``__bronze_{domain}_{table}``, which the caller registers.
    """

    def _sub(m: re.Match[str]) -> str:
        domain, layer, table = m.group(1), m.group(2).lower(), m.group(3)
        if layer == "bronze":
            return bronze_view_name(domain, table)
        return f"{domain}_{layer}.{table}"

    masked, lits = mask_literals(sql)
    return unmask_literals(_THREE_PART_RE.sub(_sub, masked), lits)


def bronze_view_name(domain: str, table: str) -> str:
    """Conventional temp-view name for a bronze endpoint scan."""
    return f"__bronze_{domain}_{table}"
