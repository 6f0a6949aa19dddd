"""SparkSession factory with scale-oriented defaults.

One long-lived session serves both the query path and the pipeline
path (the reference used a fresh DuckDB per request —
``lambdas/query_api/main.py:216-222`` — but a Spark build keeps the
JVM warm). The session is not stateless: bronze temp views stay
registered between queries, and each query over an endpoint
re-registers its view (see plans/query.py).

Read-only serving settings are not made here: a ``QueryEngine``
hardens its session before it parses its first query (drops the
reflective builtins and ``input_file_name``, turns
``spark.sql.runSQLOnFiles`` off), so every session an engine serves is
hardened, however it was built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "serverless_data_lake_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    Defaults are chosen for cluster-scale execution and are equally
    correct on ``local[*]``:

    - **AQE on**: runtime coalescing of shuffle partitions, skew-join
      splitting, and dynamic join-strategy demotion — the first line
      of defense against skewed keys at 100 TB.
    - **Arrow on**: any Pandas-UDF boundary is vectorized.
    - ``shuffle.partitions`` is a ceiling; AQE coalesces down, so a
      generous value costs little and protects huge shuffles.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect the advisory partition size when coalescing instead
        # of keeping one partition per core: small shuffles collapse
        # to few tasks (measured ~10% off the per-query floor on the
        # relational suite), and at scale reducers are sized by bytes
        # — the setting Spark's own tuning guide recommends.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "false",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # canChangeCachedPlanOutputPartitioning stays at its DEFAULT
        # (false). Turning it on was an r15 bench-scale win (~0.5-0.9 s
        # across the dedup family: AQE coalesced the 64 near-empty
        # tasks every consumer of a persisted intermediate inherited),
        # but it coalesces the cache by BYTES while the consumers of
        # those caches are compute-dense self-joins (candidate
        # verification over gram arrays, signature blocks) whose CPU
        # per byte is enormous: at sf1 the ranked-gram cache coalesced
        # to 1-2 partitions and ngram_jaccard_prefix went 13.3 s ->
        # 127.3 s (same session style, conf-only A/B,
        # docs/records/r15/ab_cachedplan_sf1.txt); simhash 10.6 ->
        # 12.8. A local-bench-only win that serializes the scale path
        # is exactly the trade this engine must not make (guide §2:
        # partition by the work, not a constant — and byte-based
        # advisory sizing cannot see join-side compute).
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus) * 2),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # JSON bronze files carry ISO-8601 strings; infer them as
        # timestamps so silver column types match the reference
        # (DuckDB read_json_auto also infers TIMESTAMP).
        .config("spark.sql.session.timeZone", "UTC")
        # Dynamic partition overwrite: MERGE fallback rewrites only
        # the hash buckets touched by a batch.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Spark's 10 MB broadcast threshold: 64 MB broadcast sf1 q5's lineitem.
        .config("spark.driver.memory", os.environ.get("SDLS_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
