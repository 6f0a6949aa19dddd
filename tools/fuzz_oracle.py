"""Differential SQL fuzzing: random queries from a determinism-safe
grammar run on the engine (full validate→rewrite→transpile path) and
on DuckDB; results must match exactly.

The grammar stays inside the cross-engine deterministic subset the
oracle contract relies on (decimal-cast aggregates, unique ORDER BY
tiebreakers, BIGINT-cast counts) so any mismatch is an engine bug,
not a float artifact.

Usage: python tools/fuzz_oracle.py [n_queries] [seed] [sf_dir]
"""

from __future__ import annotations

import math
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from serverless_data_lake_spark.session import get_spark  # noqa: E402
from serverless_data_lake_spark.testdata import ensure_catalog  # noqa: E402

DIM_COLS = ["l_returnflag", "l_linestatus", "l_linenumber"]
NUM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
KEY_COLS = ["l_orderkey", "l_partkey", "l_suppkey"]


def gen_query(rng: random.Random) -> str:
    group_cols = rng.sample(DIM_COLS, rng.randint(1, len(DIM_COLS)))
    aggs = []
    for i in range(rng.randint(1, 3)):
        col = rng.choice(NUM_COLS)
        kind = rng.choice(["sum", "count", "min", "max", "countd"])
        if kind == "sum":
            aggs.append(
                f"CAST(SUM(CAST({col} AS DECIMAL(38,6))) AS DOUBLE) AS agg_{i}"
            )
        elif kind == "count":
            aggs.append(f"COUNT({col}) AS agg_{i}")
        elif kind == "countd":
            key = rng.choice(KEY_COLS)
            aggs.append(f"COUNT(DISTINCT {key}) AS agg_{i}")
        else:
            aggs.append(f"{kind.upper()}({col}) AS agg_{i}")
    preds = []
    if rng.random() < 0.8:
        key = rng.choice(KEY_COLS)
        op = rng.choice(["<", ">", "<=", ">=", "%2 ="])
        val = rng.randint(0, 5000) if "%" not in op else rng.randint(0, 1)
        preds.append(f"{key} {op} {val}")
    if rng.random() < 0.4:
        preds.append(f"{rng.choice(NUM_COLS)} > {rng.uniform(0, 10):.2f}")
    where = f"WHERE {' AND '.join(preds)}" if preds else ""
    having = ""
    if rng.random() < 0.3:
        having = f"HAVING COUNT(*) >= {rng.randint(1, 3)}"
    limit = f"LIMIT {rng.randint(5, 50)}" if rng.random() < 0.5 else ""
    cols = ", ".join(group_cols)
    order = ", ".join(group_cols)  # group cols are a unique key
    return (
        f"SELECT {cols}, {', '.join(aggs)}, COUNT(*) AS n "
        f"FROM tpch.silver.lineitem {where} "
        f"GROUP BY {cols} {having} ORDER BY {order} {limit}"
    )


def gen_dialect_query(rng: random.Random) -> str:
    """Queries written in the DuckDB spellings the transpiler shims
    (UNNEST lateral, * REPLACE, json_extract_string, ->> arrows,
    string_split/list_contains/array_length) — the engine transpiles,
    DuckDB runs the text natively, results must agree."""
    k = rng.randint(20, 400)
    variant = rng.randrange(6)
    if variant == 0:
        return (
            f"SELECT event_id, json_extract_string(props, '$.k') AS k "
            f"FROM tpch.silver.events WHERE event_id < {k} ORDER BY event_id"
        )
    if variant == 1:
        return (
            f"SELECT event_id, props ->> 'k' AS k, props ->> '$.k' AS k2 "
            f"FROM tpch.silver.events WHERE event_id < {k} ORDER BY event_id"
        )
    if variant == 2:
        return (
            "SELECT t.doc_id, COUNT(DISTINCT u.val) AS n "
            "FROM tpch.silver.documents t, "
            "UNNEST(string_split(lower(t.text), ' ')) AS u(val) "
            f"WHERE u.val <> '' AND t.doc_id < {k} "
            "GROUP BY t.doc_id ORDER BY t.doc_id"
        )
    if variant == 3:
        mult = rng.randint(2, 9)
        return (
            "SELECT o_orderkey, o_totalprice, o_orderpriority FROM ("
            f"SELECT * REPLACE (CAST(o_totalprice * {mult} AS DOUBLE) "
            "AS o_totalprice, lower(o_orderpriority) AS o_orderpriority) "
            f"FROM tpch.silver.orders) WHERE o_orderkey < {k * 10} "
            "ORDER BY o_orderkey"
        )
    if variant == 4:
        w = rng.choice(["data", "the", "spark", "query"])
        return (
            "SELECT doc_id, "
            "CAST(array_length(string_split(lower(text), ' ')) AS BIGINT) AS n, "
            f"list_contains(string_split(lower(text), ' '), '{w}') AS hit "
            f"FROM tpch.silver.documents WHERE doc_id < {k} ORDER BY doc_id"
        )
    return (
        f"SELECT event_id, epoch_ms(event_id * 86400000) AS day "
        f"FROM tpch.silver.events WHERE event_id < {k} ORDER BY event_id"
    )


def gen_window_query(rng: random.Random) -> str:
    """Window functions + QUALIFY in the deterministic subset: every
    window orders by a unique key (or unique composite) inside its
    partition, running sums fold in DECIMAL, ranks cast to BIGINT."""
    k = rng.randint(50, 2000)
    variant = rng.randrange(4)
    if variant == 0:
        j = rng.randint(1, 4)
        fn = rng.choice(["row_number", "rank", "dense_rank"])
        return (
            f"SELECT o_orderkey, o_custkey, "
            f"CAST({fn}() OVER (PARTITION BY o_custkey "
            f"ORDER BY o_orderkey) AS BIGINT) AS rn "
            f"FROM tpch.silver.orders WHERE o_orderkey < {k} "
            f"QUALIFY rn <= {j} ORDER BY o_orderkey"
        )
    if variant == 1:
        return (
            "SELECT o_orderkey, "
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER ("
            "PARTITION BY o_orderpriority ORDER BY o_orderkey "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "AS DOUBLE) AS running "
            f"FROM tpch.silver.orders WHERE o_orderkey < {k} "
            "ORDER BY o_orderkey"
        )
    if variant == 2:
        off = rng.randint(1, 3)
        fn = rng.choice(["lag", "lead"])
        return (
            f"SELECT o_orderkey, {fn}(o_orderkey, {off}) OVER ("
            "PARTITION BY o_orderpriority ORDER BY o_orderkey) AS nbr "
            f"FROM tpch.silver.orders WHERE o_orderkey < {k} "
            "ORDER BY o_orderkey"
        )
    # lineitem's (l_orderkey, l_linenumber) is NOT unique in the
    # synthetic data (fuzz-discovered), so ranks over it would tie
    # nondeterministically — full-partition aggregates are order-free
    # and duplicate input rows yield identical output rows.
    return (
        "SELECT l_orderkey, l_linenumber, "
        "CAST(COUNT(*) OVER (PARTITION BY l_linenumber) AS BIGINT) AS n_part, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) OVER ("
        "PARTITION BY l_linenumber) AS DOUBLE) AS qty_part "
        f"FROM tpch.silver.lineitem WHERE l_orderkey < {k} "
        "ORDER BY l_linenumber, l_orderkey"
    )


def gen_cte_query(rng: random.Random) -> str:
    """CTE + IN/NOT-IN (semi/anti) shapes over orders/lineitem."""
    k = rng.randint(100, 3000)
    neg = rng.choice(["", "NOT "])
    agg = rng.choice(["COUNT(*)", "COUNT(DISTINCT o_custkey)"])
    return (
        f"WITH picked AS (SELECT l_orderkey FROM tpch.silver.lineitem "
        f"WHERE l_quantity > {rng.randint(20, 45)}) "
        f"SELECT o_orderpriority, CAST({agg} AS BIGINT) AS n "
        f"FROM tpch.silver.orders WHERE o_orderkey < {k} "
        f"AND o_orderkey {neg}IN (SELECT l_orderkey FROM picked) "
        f"GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )


def canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
    rng = random.Random(seed)

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    engine = ensure_catalog(spark, sf_dir)

    con = duckdb.connect()
    for t in ("lineitem", "orders", "events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = 0
    for i in range(n):
        draw = rng.random()
        if draw < 0.2:
            q = gen_window_query(rng)
        elif draw < 0.35:
            q = gen_cte_query(rng)
        elif draw < 0.6:
            q = gen_dialect_query(rng)
        else:
            q = gen_query(rng)
        sdf = engine.dataframe(q)
        srows = [
            tuple(canon(r[c]) for c in sdf.columns) for r in sdf.collect()
        ]
        cur = con.execute(q.replace("tpch.silver.", ""))
        drows = [tuple(canon(v) for v in row) for row in cur.fetchall()]
        if srows != drows:
            failures += 1
            print(f"MISMATCH #{i}: {q}")
            print(f"  spark={srows[:2]} duck={drows[:2]}")
        elif i % 10 == 0:
            print(f"ok #{i}: {len(srows)} rows :: {q[:100]}")
    print(f"\n{n} queries, {failures} mismatches")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
