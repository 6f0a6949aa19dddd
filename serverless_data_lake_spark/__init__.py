"""serverless_data_lake_spark — a PySpark-native lakehouse engine.

A from-scratch re-expression of the capabilities of the reference
``marcoaanogueira/serverless_data_lake`` (a serverless medallion
lakehouse whose SQL execution is delegated to DuckDB and whose
pipeline work is Polars/PyIceberg) as an idiomatic Apache Spark
engine:

- **Bronze**: JSONL append zone with injected metadata columns
  (``_insert_date``, ``_domain``, ``_endpoint``), recursive
  union-by-name scans.
- **Silver**: primary-key window-deduped tables maintained by MERGE
  semantics (bucket-partitioned copy-on-write parquet store;
  Iceberg/Delta pluggable), union-by-name schema evolution.
- **Gold**: SQL transform jobs with overwrite / append /
  upsert-by-(composite)-key write modes, cron-tag + dependency-DAG
  scheduling with frequency inheritance.
- **Query**: SELECT/WITH-only gate, three-part ``domain.layer.table``
  name rewrite, DuckDB-dialect shims, one parse by Spark's query
  parser, 10k row cap — all executed by Catalyst.
- **Scale extensions**: dedup family (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding-cosine), similarity search, text
  analysis, multimodal column plumbing.

Everything is DataFrame/SQL-first: Catalyst handles predicate
pushdown, column pruning, join strategy, and AQE; Python never sits
in the per-row hot path.
"""

__version__ = "0.1.0"

from serverless_data_lake_spark.config import LakeConfig
from serverless_data_lake_spark.session import get_spark

__all__ = ["LakeConfig", "get_spark", "__version__"]
