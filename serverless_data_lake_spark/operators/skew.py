"""Skew mitigation: two-phase salted aggregation.

A shuffle keyed on a skewed column sends every row of the hot key to
one task — the straggler that dominates job wall-clock at 100 TB.
AQE's skew-join handles the sort-merge-join case by splitting
oversized partitions at runtime; aggregations with a hot group are
what it does not cover.

- :func:`salted_aggregate` — two-phase aggregation: partial
  aggregate on ``(keys, salt)`` (spreads the hot group), final
  aggregate on ``keys``. Works for algebraic aggregates (count /
  sum / min / max), which re-aggregate losslessly.

Salt values only route rows; results never depend on them, so the
pseudo-random assignment needs no coordination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__sdls_salt"
_COMBINE = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    salt: int = 16,
) -> DataFrame:
    """Two-phase grouped aggregation for skewed keys.

    ``aggs`` maps output column name → ``(fn, input_col)`` with
    ``fn ∈ {count, sum, min, max}`` (``input_col="*"`` for count).
    The partial aggregate runs on ``(keys, salt)`` — spreading a hot
    key over ``salt`` reducers — and the final phase re-aggregates
    partials per key (counts and sums re-sum, mins re-min, maxes
    re-max; algebraic aggregates combine losslessly). ``avg``
    callers pass sum + count and divide after.

    Note Spark's built-in hash aggregate already does map-side
    partial aggregation, which absorbs *moderate* skew; explicit
    salting pays off when the hot key's partials still overwhelm one
    reducer (extreme cardinality skew) or the partial phase is
    disabled by high-cardinality distinct-like columns.
    """
    bad = [fn for fn, _ in aggs.values() if fn not in _COMBINE]
    if bad:
        raise ValueError(
            f"non-algebraic aggregates {bad} cannot be salted; "
            f"use count/sum/min/max"
        )
    partials = [
        (
            F.count(F.lit(1)) if fn == "count" else getattr(F, fn)(col)
        ).alias(name)
        for name, (fn, col) in aggs.items()
    ]
    partial = df.withColumn(
        _SALT, (F.rand(42) * salt).cast("int")
    ).groupBy(*keys, _SALT).agg(*partials)
    finals = [
        _COMBINE[fn](name).alias(name) for name, (fn, _) in aggs.items()
    ]
    return partial.groupBy(*keys).agg(*finals)
