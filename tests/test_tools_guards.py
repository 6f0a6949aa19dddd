"""Pins for the r14-ADVICE guard fixes (r15): scale_sweep
``--duck-skip`` operand/name validation, host_note ``settle_s``
numeric coercion, and the tdigest 6-dp quantizer's cross-engine
bit-identity.
"""

from __future__ import annotations

import math
import os
import sys
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))


def test_duck_skip_bare_flag_is_usage_error(monkeypatch, capsys):
    """r15 (r14 ADVICE): ``--duck-skip`` as the last argument used to
    raise an unhandled IndexError."""
    import scale_sweep

    monkeypatch.setattr(
        sys, "argv", ["scale_sweep.py", "/tmp/nope", "--duck-skip"]
    )
    assert scale_sweep.main() == 2
    assert "usage" in capsys.readouterr().err


def test_duck_skip_unknown_name_fails_fast(monkeypatch, capsys):
    """A typo'd skip name used to silently leave the quadratic oracle
    in the sweep — now a pre-Spark usage error naming the typo."""
    import scale_sweep

    monkeypatch.setattr(
        sys,
        "argv",
        [
            "scale_sweep.py",
            "/tmp/nope",
            "--duck-skip",
            "embedding_similarity_pairs,not_a_real_entry",
        ],
    )
    assert scale_sweep.main() == 2
    err = capsys.readouterr().err
    assert "not_a_real_entry" in err
    # the valid name is not blamed
    assert "embedding_similarity_pairs" not in err


def test_host_note_settle_is_numeric(monkeypatch):
    """r15 (r14 ADVICE): settle_s is stamped as a float like the load
    fields, not the raw env string; non-numeric values fall back to
    the string rather than crashing the bench."""
    sys.path.insert(0, str(REPO))
    import bench
    import duck_baseline

    monkeypatch.setenv("SDLS_SETTLE_S", "12.5")
    assert bench._host_note()["settle_s"] == 12.5
    assert duck_baseline._host_note()["settle_s"] == 12.5
    monkeypatch.setenv("SDLS_SETTLE_S", "until-quiet")
    assert bench._host_note()["settle_s"] == "until-quiet"
    assert duck_baseline._host_note()["settle_s"] == "until-quiet"


def test_sampled_scale_checks_pass_at_tiny_sf(spark):
    """r15 (r14 verdict ask #6): the quadratic-oracle entries'
    sampled at-scale checks — sliced brute-force cosine pairs and
    exhaustive-hamming-vs-pigeonhole simhash — return zero diffs on
    the driver testdata (where the slice modulus degrades to 1, i.e.
    the check equals the full oracle)."""
    import scale_sweep

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    diffs, rows, detail = scale_sweep._sampled_cosine_check(
        spark, con, sf_dir
    )
    assert diffs == [] and "slice" in detail
    diffs, rows, detail = scale_sweep._sampled_simhash_check(
        spark, con, sf_dir
    )
    assert diffs == [] and rows > 0


def test_tdigest_quantizer_bit_identical_across_engines(spark):
    """r15 (r14 ADVICE): the tdigest metric quantizer is
    floor(x*1e6 + 0.5)/1e6 on BOTH engines — multiply, add, floor,
    divide are exactly-specified IEEE-754 double ops, so identical
    inputs give bit-identical outputs; engine ROUND implementations
    (Spark BigDecimal HALF_UP vs DuckDB binary-scaled) could
    disagree at 6-dp half-way points. Probe a grid of adversarial
    near-half-way values (k + 5e-7 neighborhoods, price-scale
    magnitudes) and require exact equality."""
    from pyspark.sql import functions as F

    vals = []
    for base in (1.0, 37.2, 104949.5, 555285.16):
        for k in range(-3, 4):
            x = base + k * 1e-7 + 5e-7
            vals.append(x)
            vals.append(math.nextafter(x, math.inf))
            vals.append(math.nextafter(x, -math.inf))

    sdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, x double"
    )
    got_spark = {
        r["i"]: r["q"]
        for r in sdf.select(
            "i",
            (F.floor(F.col("x") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
            .alias("q"),
        ).collect()
    }
    con = duckdb.connect()
    rows = ", ".join(f"({i}, {v!r})" for i, v in enumerate(vals))
    got_duck = dict(
        con.sql(
            "SELECT i, FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) / 1e6 "
            f"FROM (VALUES {rows}) AS t(i, x)"
        ).fetchall()
    )
    for i, v in enumerate(vals):
        s, d = float(got_spark[i]), float(got_duck[i])
        assert s == d, f"x={v!r}: spark {s!r} != duck {d!r}"


def test_tdigest_quantizer_python_path_matches(spark):
    """r16: the sketch-gate hll/tdigest rows are assembled
    DRIVER-SIDE (concurrent subtree collects + LocalRelation), so
    the quantizer now runs as Python ``math.floor(x*1e6+0.5)/1e6``.
    Pin the Python path bit-identical to the Spark expression on the
    same adversarial near-half-way grid the cross-engine test uses —
    all three engines must agree exactly."""
    from pyspark.sql import functions as F

    vals = []
    for base in (1.0, 37.2, 104949.5, 555285.16):
        for k in range(-3, 4):
            x = base + k * 1e-7 + 5e-7
            vals.append(x)
            vals.append(math.nextafter(x, math.inf))
            vals.append(math.nextafter(x, -math.inf))
    sdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, x double"
    )
    got_spark = {
        r["i"]: r["q"]
        for r in sdf.select(
            "i",
            (F.floor(F.col("x") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
            .alias("q"),
        ).collect()
    }
    for i, v in enumerate(vals):
        py = math.floor(v * 1e6 + 0.5) / 1e6
        assert py == float(got_spark[i]), (
            f"x={v!r}: python {py!r} != spark {got_spark[i]!r}"
        )


def test_sketch_gate_driver_assembly_matches_catalyst(spark):
    """r16: the driver-assembled hll/tdigest gate rows must be
    BIT-IDENTICAL to the r15 Catalyst crossJoin+explode assembly —
    same aggregate subtree plans, same IEEE double arithmetic on
    the collected values. Recompute the reference with the old
    expressions over sf0.001 and hex-compare the doubles."""
    import struct
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from serverless_data_lake_spark import testdata

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        import pytest

        pytest.skip("sf0.001 testdata not present")
    got = {
        (r["gate"], r["key"]): r
        for r in entrymod.queries()["sketch_quality_gates"](
            spark, sf
        ).collect()
        if r["gate"] in ("hll", "tdigest")
    }
    orders = testdata.read(spark, sf, "orders")
    qs = [0.25, 0.5, 0.75, 0.9]
    arr = "array(" + ",".join(str(q) for q in qs) + ")"
    row = orders.agg(
        F.expr(f"percentile_approx(o_totalprice, {arr}, 10000)")
        .alias("__qa"),
        F.expr(f"percentile(o_totalprice, {arr})").alias("__qe"),
        (F.max("o_totalprice") - F.min("o_totalprice")).alias("__range"),
    )
    for c in entrymod._PROFILE_COLS:
        row = row.crossJoin(
            orders.agg(
                F.count_distinct(F.col(c)).alias(f"__e_{c}"),
                F.approx_count_distinct(c).alias(f"__a_{c}"),
            )
        )
    entries = []
    for c in entrymod._PROFILE_COLS:
        e, a = F.col(f"__e_{c}"), F.col(f"__a_{c}")
        entries.append(F.struct(
            F.lit("hll").alias("gate"), F.lit(c).alias("key"),
            e.cast("double").alias("metric"),
            (F.abs(a - e) <= F.lit(0.1) * e).alias("approx_ok"),
        ))
    for i, q in enumerate(qs):
        qa = F.element_at("__qa", i + 1)
        qe = F.element_at("__qe", i + 1)
        entries.append(F.struct(
            F.lit("tdigest").alias("gate"),
            F.lit(f"{q:.2f}").alias("key"),
            (F.floor(qe * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
            .alias("metric"),
            (F.abs(qa - qe) <= F.lit(0.01) * F.col("__range"))
            .alias("approx_ok"),
        ))
    ref_rows = row.select(
        F.explode(F.array(*entries)).alias("z")
    ).select("z.gate", "z.key", "z.metric", "z.approx_ok").collect()
    assert len(ref_rows) == len(got) == 7
    for r in ref_rows:
        g = got[(r["gate"], r["key"])]
        hex_ref = struct.pack("<d", r["metric"]).hex()
        hex_got = struct.pack("<d", g["metric"]).hex()
        assert hex_ref == hex_got, (r["gate"], r["key"],
                                    r["metric"], g["metric"])
        assert bool(r["approx_ok"]) == bool(g["approx_ok"])
