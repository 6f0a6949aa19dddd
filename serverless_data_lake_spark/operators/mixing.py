"""Source/domain mixing controls — the per-origin half of corpus
curation: web-scale pipelines cap how much any one domain
contributes (Common Crawl is dominated by a few hosts), rebalance
source proportions toward a target mix, and report the mix for the
release audit.

All deterministic: caps keep the lowest (priority, id) rows,
rebalancing keeps md5-hash-selected rows (the
:mod:`operators.sampling` machinery), so every run — any cluster
size, any partitioning — selects the same documents.

Scale notes:

- ``cap_per_group`` is the skew trap of this family: a naive
  ``row_number`` over the group column serializes a hot domain's
  10⁸ rows through one window partition. The implementation is
  two-phase — partial top-N inside salted sub-buckets (bounded
  memory per task), then the final top-N over ≤ buckets × N
  survivors per group — the same partial/final shape as salted
  aggregation (:mod:`operators.skew`).
- ``rebalance_sources`` collects ONE COUNT ROW PER GROUP to the
  driver to solve the keep-rate fixed point (gated at
  ``REBALANCE_GROUP_CAP`` groups with an error past it — the same
  bounded-metadata scale the catalog keeps per file); the row
  selection itself is a distributed hash filter over a broadcast
  rate table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from serverless_data_lake_spark.operators.sampling import hash_unit


# ---------------------------------------------------------------------------
# Per-group caps
# ---------------------------------------------------------------------------
def cap_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    max_rows: int,
    priority_col: str | None = None,
    buckets: int = 64,
) -> DataFrame:
    """Keep at most ``max_rows`` rows per group — deterministic
    (ascending ``priority_col`` then ``id_col``; lowest win), skew-
    resilient (two-phase: top-N inside ``buckets`` salted sub-groups
    first, so no single window partition ever holds a hot domain's
    full row set)."""
    if max_rows < 1:
        raise ValueError("max_rows must be >= 1")
    order = (
        [F.col(priority_col).asc()] if priority_col else []
    ) + [F.col(id_col).asc()]
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(buckets))
    w1 = Window.partitionBy(F.col(group_col), salt).orderBy(*order)
    partial = (
        df.withColumn("__rn1", F.row_number().over(w1))
        .filter(F.col("__rn1") <= max_rows)
        .drop("__rn1")
    )
    w2 = Window.partitionBy(group_col).orderBy(*order)
    return (
        partial.withColumn("__rn2", F.row_number().over(w2))
        .filter(F.col("__rn2") <= max_rows)
        .drop("__rn2")
    )


# ---------------------------------------------------------------------------
# Source rebalancing
# ---------------------------------------------------------------------------
# One count row per origin group collected to the driver; 2 M groups
# ≈ 100 MB of (string, long) rows — the explicit ceiling, erroring
# past it rather than silently straining the driver.
REBALANCE_GROUP_CAP = 2_000_000
def source_mix_report(df: DataFrame, group_col: str) -> DataFrame:
    """(group, n, frac) — the release-audit mix table."""
    counts = df.groupBy(group_col).agg(F.count("*").alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    return counts.select(
        group_col,
        F.col("n").cast("bigint").alias("n"),
        (F.col("n") / total).alias("frac"),
    )


def rebalance_sources(
    df: DataFrame,
    group_col: str,
    id_col: str,
    max_frac: float,
    salt: str = "",
) -> DataFrame:
    """Downsample every group whose corpus share exceeds
    ``max_frac`` so no origin dominates the release.

    The keep-rate solves the joint constraint: groups at or under
    the cap keep everything; oversized groups shrink to exactly
    ``max_frac`` of the FINAL corpus size, found by a fixed point
    over the sorted group sizes (driver-side arithmetic over ONE row
    per group — the same metadata scale as a groupBy result; the
    row selection itself is a distributed hash filter, exactly
    reproducible like :func:`operators.sampling.deterministic_sample`).
    """
    if not 0.0 < max_frac <= 1.0:
        raise ValueError("max_frac must be in (0, 1]")
    counts = df.groupBy(group_col).agg(F.count("*").alias("__n"))
    n_groups = counts.count()
    if n_groups > REBALANCE_GROUP_CAP:
        raise ValueError(
            f"{n_groups} groups exceed REBALANCE_GROUP_CAP="
            f"{REBALANCE_GROUP_CAP}; pre-aggregate origins (e.g. cap "
            "per registrable domain first) or raise the cap knowingly"
        )
    rows = counts.collect()
    sizes = {r[group_col]: r["__n"] for r in rows}
    if not sizes:
        return df
    # Fixed point: capped groups contribute max_frac * T each, where
    # T = sum(min(n_g, cap_size)). Iterating T -> sum(min(n, fT))
    # from T = total converges GEOMETRICALLY (per-step slope =
    # #capped-groups x max_frac, < 1 at the solution), not in
    # O(#groups) steps — so iterate to tolerance. Driver-side scalar
    # arithmetic over the (gated) per-group counts.
    total = sum(sizes.values())
    t = float(total)
    for _ in range(10_000):
        cap_size = max_frac * t
        new_t = sum(min(n, cap_size) for n in sizes.values())
        if abs(new_t - t) < 1e-9:
            break
        t = new_t
    cap_size = max_frac * t
    rates = [
        (g, min(1.0, cap_size / n) if n else 1.0)
        for g, n in sizes.items()
    ]
    # The rate-table key mirrors df's own group-column type (group
    # ids need not be strings), and the join is null-safe: a NULL
    # source is a group like any other — an inner equi-join would
    # silently drop every null-source row (NULL never equals NULL).
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..localrel import local_df

    # LocalRelation, not createDataFrame(rows) (r15): the rate table
    # is a handful of rows, and the RDD form cost one Python-worker
    # task per default partition on every scan plus unknown-size join
    # planning; as a LocalTableScan it broadcasts driver-locally.
    rate_df = local_df(
        df.sparkSession,
        StructType(
            [
                StructField("__g", df.schema[group_col].dataType, True),
                StructField("__rate", DoubleType(), False),
            ]
        ),
        rates,
    )
    return (
        df.join(
            F.broadcast(rate_df),
            df[group_col].eqNullSafe(rate_df["__g"]),
            "left",
        )
        .filter(
            hash_unit(F.col(id_col), salt)
            < F.coalesce(F.col("__rate"), F.lit(1.0))
        )
        .drop("__g", "__rate")
    )
