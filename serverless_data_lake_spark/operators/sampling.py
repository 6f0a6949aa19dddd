"""Deterministic sampling and dataset splitting.

Training pipelines need samples and train/val/test splits that are
**reproducible** (same rows on every run, any cluster size, any
partitioning) and **leakage-safe** (all rows of a group — document,
user, session — land on the same side). Random-number sampling
(``df.sample``) is neither: it depends on partition layout and seed
plumbing. These operators instead hash a stable key to a uniform
[0, 1) value — pure column arithmetic, embarrassingly parallel, no
shuffle, and exactly reproducible in any engine that has md5 (the
DuckDB oracles reproduce the selections bit-for-bit).

- :func:`hash_unit`            — md5-prefix → uniform [0, 1).
- :func:`deterministic_sample` — keep rows with unit(key) < rate.
- :func:`stratified_sample`    — per-group keep rates (upsample a
  scarce source, downsample a dominant one) with the same hash
  selection, so the per-group choices stay independent of the rate
  table.
- :func:`importance_sample`    — keep rows with probability
  proportional to a per-row weight column (capped at 1) — the
  acceptance step of DSIR-style importance resampling (Xie et al.
  2023): compose with two :mod:`operators.lm` models by setting
  weight = exp(target avg_logp − base avg_logp).
- :func:`assign_splits`        — named splits from cumulative rate
  bounds; key on a *group* column for leakage-safe splits.

The ``salt`` decorrelates different samples over the same keys
(sample for eval vs sample for inspection) — change the salt, get an
independent selection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DENOM = float(1 << 32)


def hash_unit(key: Column, salt: str = "") -> Column:
    """Uniform [0, 1) from a stable key: the first 8 hex chars of
    ``md5(salt || key)`` as an integer over 2^32. Deterministic
    across runs, partitionings, and engines."""
    h = F.md5(F.concat(F.lit(salt), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") / F.lit(_DENOM)


def deterministic_sample(
    df: DataFrame, key_col: str, rate: float, salt: str = ""
) -> DataFrame:
    """Keep ~``rate`` of rows, chosen by key hash — the same keys are
    kept on every run. Sampling a *group* key keeps groups intact."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    return df.filter(hash_unit(F.col(key_col), salt) < rate)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Keep ~``rates[group]`` of each group's rows (``default_rate``
    for unlisted groups) — the per-source mixing knob: upsample a
    scarce high-quality source, thin a dominant crawl. Selection is
    the same ``hash_unit(key)`` threshold as
    :func:`deterministic_sample`, so which keys survive in one group
    is independent of every other group's rate, and raising a
    group's rate only ADDS rows (nested samples — a 5% sample is a
    subset of the 20% one). Rates become an in-row CASE over the
    (bounded, literal) rate table: no join, no shuffle."""
    for g, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for group {g!r} not in [0, 1]: {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate not in [0, 1]: {default_rate}")
    rate = None
    for g, r in rates.items():
        cond = F.col(group_col) == F.lit(g)
        rate = F.when(cond, r) if rate is None else rate.when(cond, r)
    rate = (
        F.lit(float(default_rate))
        if rate is None
        else rate.otherwise(float(default_rate))
    )
    return df.filter(hash_unit(F.col(key_col), salt) < rate)


def importance_sample(
    df: DataFrame,
    key_col: str,
    weight: Column,
    scale: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Keep each row with probability ``min(1, scale * weight)`` —
    deterministic importance resampling: the hash threshold replaces
    the coin flip, so the selection is exactly reproducible and
    monotone in ``scale`` (doubling ``scale`` only adds rows). NULL
    weights drop (a row with no evidence cannot be importance-kept).

    The DSIR composition (Xie et al. 2023 — "Data Selection for
    Language Models via Importance Resampling"): train two
    :func:`operators.lm.train_bigram_lm` models, target-domain and
    general; score the corpus with both; pass
    ``weight = exp(avg_logp_target − avg_logp_general)`` (the hashed
    n-gram likelihood ratio) and tune ``scale`` to the budget."""
    if scale < 0.0:
        raise ValueError(f"scale must be >= 0, got {scale}")
    # least() SKIPS nulls (a null weight would silently become
    # p = 1.0); guard so null weights yield null p -> row dropped.
    p = F.when(
        weight.isNotNull(),
        F.least(F.lit(1.0), F.lit(float(scale)) * weight),
    )
    return df.filter(hash_unit(F.col(key_col), salt) < p)


def assign_splits(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float] | None = None,
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Add a ``split`` column assigning each row to a named split by
    cumulative hash-unit bounds (e.g. train [0, .8), val [.8, .9),
    test [.9, 1)). Keying on a group column (user, document) makes
    the split leakage-safe: every row of a group gets the same
    assignment. Weights must sum to 1 (±1e-9)."""
    splits = splits or {"train": 0.8, "val": 0.1, "test": 0.1}
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    u = hash_unit(F.col(key_col), salt)
    expr = None
    acc = 0.0
    names = list(splits.items())
    for name, w in names[:-1]:
        acc += w
        cond = u < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = names[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)

