"""Lake layout configuration.

Mirrors the reference's storage contract (bronze prefix
``firehose-data/{domain}/{table}/`` and Glue databases
``{domain}_silver`` / ``{domain}_gold`` — see
``lambdas/serverless_ingestion/main.py:75-90`` and
``lambdas/serverless_processing_iceberg/main.py:110-146`` in the
reference) on any Hadoop-compatible filesystem: local paths in tests,
``s3a://`` in production. Only the path prefix changes.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class LakeConfig:
    """Filesystem layout + limits for one lake instance."""

    root: str
    # Reference: MAX_RESULT_ROWS (lambdas/query_api/main.py:19); its
    # MAX_QUERY_LENGTH lives with the query gate (plans/validate.py).
    max_result_rows: int = 10_000

    @property
    def bronze_root(self) -> str:
        return f"{self.root}/bronze/firehose-data"

    @property
    def warehouse_root(self) -> str:
        return f"{self.root}/warehouse"

    @property
    def registry_root(self) -> str:
        return f"{self.root}/schemas"

    def bronze_path(self, domain: str, table: str) -> str:
        return f"{self.bronze_root}/{domain}/{table}"

    def table_path(self, database: str, table: str) -> str:
        return f"{self.warehouse_root}/{database}/{table}"

    def database_name(self, domain: str, layer: str) -> str:
        """``(sales, silver) -> sales_silver`` — reference naming
        (lambdas/query_api/main.py:177-183)."""
        return f"{domain}_{layer}"
