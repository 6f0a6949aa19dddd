"""DuckDB baseline for the bench comparison.

Runs every ``oracle_sql()`` text on DuckDB over the same parquet the
Spark bench reads (default sf0.1), best-of-N (default 2, matching
bench.py), and prints one JSON line::

    {"metric": "duckdb_oracle_seconds", "value": N, "unit": "sec",
     "queries": {...}, "sf": ..., "reps": N, "threads": N}

Purpose: the reference publishes no numbers, so the judged baseline
is DuckDB executing the oracle texts on the same box. Measuring it
in the same session/methodology as bench.py (best-of-N, identical
files) keeps the Spark-vs-baseline ratio an apples-to-apples number
instead of depending on who measured the oracle side and when.

Caveats on interpretation (same as VERDICT r4): gate-style oracles
(`ann_topk_gates`, `sketch_quality_gates`, `simhash_hamming_histogram`)
are literal SELECTs that do none of the work, and the similarity
oracles compute exact answers without the LSH machinery — per-query
ratios against those overstate or understate honestly-incomparable
work. The headline comparison is the matched-entry total.

Usage: python tools/duck_baseline.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from bench import _host_note  # noqa: E402
from serverless_data_lake_spark import testdata  # noqa: E402


def main() -> None:
    host_note = _host_note()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    threads = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in testdata.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    oracles = entrymod.oracle_sql()

    # Publish/consume parity with bench.py (r9): a publisher
    # (named in some entry's ``consumes``) materializes its result
    # into a temp table inside its own measured step, and a consumer,
    # whose oracle embeds the publisher's oracle as a subquery, reads
    # the table instead of recomputing it. Tables drop at the rep
    # boundary, where the Spark side clears its caches — so neither
    # engine's headline double-charges (or skips) the shared work.
    publishers = {p for e in entrymod.ENTRIES for p in e.consumes}
    consumes = {e.name: e.consumes for e in entrymod.ENTRIES}
    published: set[str] = set()

    def run(name: str, sql: str) -> None:
        for pub in consumes[name]:
            if pub in published:
                sql = sql.replace(
                    f"({oracles[pub]})", f"(SELECT * FROM __published_{pub})", 1
                )
        if name in publishers:
            con.execute(
                f"CREATE OR REPLACE TEMP TABLE __published_{name} AS {sql}"
            )
            published.add(name)
            sql = f"SELECT * FROM __published_{name}"
        con.execute(sql).fetchall()

    def drop_published() -> None:
        for pub in published:
            con.execute(f"DROP TABLE IF EXISTS __published_{pub}")
        published.clear()

    draws: dict[str, list[float]] = {name: [] for name in oracles}
    # Warmup pass (parity with bench.py's unmeasured warmup): page
    # cache + DuckDB's own readers warm before the measured reps.
    for name, sql in oracles.items():
        try:
            run(name, sql)
        except Exception as exc:  # noqa: BLE001
            print(f"WARMUP FAILED {name}: {exc!r}", file=sys.stderr)
    drop_published()
    for _ in range(reps):
        for name, sql in oracles.items():
            started = time.time()
            run(name, sql)
            draws[name].append(time.time() - started)
        drop_published()
    timings = {name: round(min(ts), 3) for name, ts in draws.items()}
    print(
        json.dumps(
            {
                "metric": "duckdb_oracle_seconds",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "reps": reps,
                "threads": threads,
                "agg": "best_of_reps",
                "host_note": {
                    **host_note,
                    "end_load_1m": round(os.getloadavg()[0], 2),
                },
            }
        )
    )


if __name__ == "__main__":
    main()
