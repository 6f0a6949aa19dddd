"""Driver-style correctness check: run every queries() entry on Spark
and its oracle_sql() on DuckDB over the same parquet; compare row
count, column names, and (order-insensitively) values.

Usage: python tools/parity_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from serverless_data_lake_spark import testdata  # noqa: E402
from serverless_data_lake_spark.session import get_spark  # noqa: E402


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)


def rowset(cols, rows):
    """Canonicalize THE DRIVER'S WAY: a pandas DataFrame sorted by
    column name then ``sort_values`` over every column (which
    ``factorize``s object columns — unhashable cells like lists raise
    exactly as they do in the driver harness; CORRECTNESS_r07's red
    ``decontaminate_train`` row passed the old repr()-based canon
    here while erroring there). Values are then repr-canonicalized
    per cell for the equality diff.

    The factorize path only engages on MULTI-key sorts — a
    single-column result would take pandas' argsort path, where
    list cells may sort by comparison instead of raising — so a
    constant dummy key is appended to one-column results to force
    the lexsort/factorize path and keep the raise-parity guarantee
    uniform."""
    order = sorted(cols)
    pdf = pd.DataFrame(rows, columns=list(cols))[order]
    sort_keys = list(order)
    if len(sort_keys) == 1:
        pdf["__parity_dummy__"] = 0
        sort_keys.append("__parity_dummy__")
    pdf = pdf.sort_values(sort_keys, kind="mergesort").reset_index(drop=True)
    pdf = pdf[order]
    return [tuple(canon(v) for v in row) for row in pdf.itertuples(index=False)]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in testdata.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            spark_cols = sorted(df.columns)
            spark_rows = df.collect()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {str(exc).splitlines()[0][:200]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(spark_rows)} rows, cols={spark_cols}")
            continue
        try:
            cur = con.execute(oracles[name])
            duck_cols = sorted(d[0] for d in cur.description)
            duck_rows = cur.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {str(exc).splitlines()[0][:200]}")
            failures += 1
            continue
        ok = True
        if spark_cols != duck_cols:
            print(f"FAIL {name}: columns spark={spark_cols} duck={duck_cols}")
            ok = False
        if len(spark_rows) != len(duck_rows):
            print(f"FAIL {name}: rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
            ok = False
        if ok:
            s = rowset(df.columns, [[r[c] for c in df.columns] for r in spark_rows])
            d = rowset([x[0] for x in cur.description], duck_rows)
            if s != d:
                diffs = [(a, b) for a, b in zip(s, d) if a != b][:3]
                print(f"FAIL {name}: value mismatch; first diffs: {diffs}")
                ok = False
        if ok:
            print(f"OK   {name}: {len(spark_rows)} rows")
        else:
            failures += 1
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
