"""Scale-consistency sweep: Spark vs DuckDB at sizes past the driver
testdata, comparing ENGINE-SIDE aggregates instead of collected rows.

``tools/parity_check.py`` (the driver-style gate) collects both
result sets into Python and compares canonicalized values — exact,
but O(result size) in the Python interpreter, which stops being
viable when entries return millions of rows (an sf1
``window_top3_orders`` result is ~450 k rows; value-level parity at
that size ground for >30 min in round 6). This tool keeps the
comparison *distributed*: each side reduces its own result to

- row count,
- per numeric column: SUM (compared with relative tolerance — the
  two engines sum doubles in different orders) and COUNT,
- per string/bool column: COUNT of non-nulls and COUNT DISTINCT,

so only a handful of scalars cross into Python regardless of scale.
A wrong join fanout, a lost filter, a broadcast-threshold bug or an
overflow at 10× data moves at least one aggregate; only an
exactly-compensating value swap inside one column could slip
through — and the sf0.01 driver gate still does exact value-hash
parity every round.

Usage::

    python tools/gen_scale_data.py 1.0 /tmp/sdls_scale/sf1
    python tools/scale_sweep.py /tmp/sdls_scale/sf1 [query ...]

Prints one line per entry (status, rows, per-engine seconds) and a
JSON summary tail; exit code = number of failures.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
import bench  # noqa: E402
from serverless_data_lake_spark import testdata  # noqa: E402

REL_TOL = 1e-6  # double sums: engines reduce in different orders

NUMERIC = {"byte", "short", "integer", "long", "float", "double"}

# Entries whose "oracle" is a pinned literal measured at sf0.01 (the
# determinism-gate pattern): meaningful only at the driver's
# correctness scale. At any other scale the sweep runs the Spark side
# alone (rows-only), exactly like bench does.
PINNED_SF001_GATES = {
    "simhash_hamming_histogram",
    "multimodal_features",
    "semantic_dedup_gate",
}


# ---------------------------------------------------------------------------
# Sampled at-scale value checks (r15, r14 verdict ask #6): entries
# whose full oracle text is quadratic in the corpus (all-pairs
# cosine; all-pairs hamming) used to land as ``rows_only`` at every
# sweep scale — no engine-side value check past sf0.1. Each check
# here value-compares a DETERMINISTIC id-hash slice instead, at
# ~1/m² of the quadratic oracle cost, and the sweep records the
# result as ``sampled_ok`` (or counts a failure on mismatch).
# ---------------------------------------------------------------------------
def _sampled_cosine_check(spark, con, sf_dir):
    """``embedding_similarity_pairs``: the cosine threshold is a
    PAIRWISE predicate, so the entry's pair set restricted to ids in
    a slice is exactly the pair set OF the sliced corpus — the full
    Spark kernel's output filtered to in-slice pairs must match a
    brute-force DuckDB oracle over the sliced inputs, value for
    value. The slice modulus is sized so the oracle join stays near
    the sf0.1 full-oracle cost (~3000 rows → ~4.5 M candidate
    pairs) at ANY sweep scale."""
    from pyspark.sql import functions as F

    n = con.sql("SELECT count(*) FROM embeddings").fetchone()[0]
    m = max(1, round(n / 3000))
    df = entrymod.queries()["embedding_similarity_pairs"](
        spark, sf_dir
    ).where((F.col("id_a") % m == 0) & (F.col("id_b") % m == 0))
    s = spark_summary(df)
    dot = (
        "list_sum(list_transform(list_zip(a.embedding, b.embedding),"
        " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    na = (
        "sqrt(list_sum(list_transform(a.embedding,"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    nb = na.replace("a.embedding", "b.embedding")
    sql = f"""
      WITH e AS (SELECT * FROM embeddings WHERE vec_id % {m} = 0)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {dot} / ({na} * {nb}) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE {dot} / ({na} * {nb}) >= 0.3"""
    d = duck_summary(con, sql)
    return compare(s, d), s["__rows"], f"slice vec_id%{m}==0"


def _sampled_simhash_check(spark, con, sf_dir):
    """``simhash_*``: near-dup pairs on a sliced corpus, Spark's
    pigeonhole blocking vs a brute-force all-pairs hamming join in
    DuckDB over the SAME Spark-computed signatures. The signature
    math is shared between the sides by design (DuckDB has no
    xxhash64; the math is sf0.01-literal-pinned and unit-tested on
    planted corpora) — what this check exercises independently is
    the CANDIDATE GENERATION: a pigeonhole/banding bug that drops
    pairs at scale shows up against the exhaustive join. The ≤4-row
    histogram is compared EXACTLY (sorted rows), not via summaries —
    summary sums could mask swapped counts between distances."""
    from pyspark.sql import functions as F

    from serverless_data_lake_spark.operators.dedup import (
        simhash_near_duplicates,
        simhash_signatures,
    )

    n = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    m = max(1, round(n / 10000))
    docs = testdata.read(spark, sf_dir, "documents").where(
        F.col("doc_id") % m == 0
    )
    sigs = simhash_signatures(docs, "doc_id", "text").persist()
    try:
        pairs = simhash_near_duplicates(
            docs, "doc_id", "text", max_hamming=3, signatures=sigs
        )
        hist = pairs.groupBy("hamming").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs")
        )
        s_rows = sorted(
            (int(r["hamming"]), int(r["n_pairs"]))
            for r in hist.collect()
        )
        con.register("__sdls_simhash_sigs", sigs.toPandas())
        d_rows = sorted(
            (int(h), int(c))
            for h, c in con.sql(
                """
          SELECT hamming, count(*) FROM (
            SELECT bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM __sdls_simhash_sigs a
            JOIN __sdls_simhash_sigs b ON a.doc_id < b.doc_id)
          WHERE hamming <= 3 GROUP BY hamming"""
            ).fetchall()
        )
    finally:
        sigs.unpersist()
    diffs = (
        []
        if s_rows == d_rows
        else [f"hamming histogram: spark {s_rows} vs duck {d_rows}"]
    )
    return diffs, sum(c for _h, c in s_rows), (
        f"slice doc_id%{m}==0, exhaustive join over shared signatures"
    )


SAMPLED_CHECKS = {
    "embedding_similarity_pairs": _sampled_cosine_check,
    "simhash_hamming_histogram": _sampled_simhash_check,
}

#: Conf-hazard tripwire entries (r16, r15 verdict #8 — the 9cc8eab
#: lesson mechanized): the three dedup-family entries that
#: serialized ~10x at sf1 under the r15 cached-plan-coalescing conf.
#: Every sweep record carries their spark-only seconds by default,
#: whether or not they were selected, so a future conf change that
#: re-serializes compute-dense self-join consumers is visible in the
#: record without anyone remembering to ask. SDLS_NO_TRIPWIRE=1
#: skips (e.g. quick single-entry triage runs).
TRIPWIRE = (
    "ngram_jaccard_prefix",
    "ngram_jaccard_pairs",
    "simhash_hamming_histogram",
)


def spark_summary(df) -> dict:
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for f in df.schema.fields:
        t = f.dataType.typeName()
        c = f.name
        if t in NUMERIC or t.startswith("decimal"):
            aggs.append(F.sum(F.col(c).cast("double")).alias(f"sum::{c}"))
            aggs.append(F.count(c).alias(f"cnt::{c}"))
        elif t in ("string", "boolean", "date", "timestamp",
                   "timestamp_ntz"):
            aggs.append(F.count(c).alias(f"cnt::{c}"))
            aggs.append(
                F.countDistinct(F.col(c).cast("string")).alias(f"nd::{c}")
            )
        # arrays/structs/binary: covered by the row count only.
    row = df.agg(*aggs).collect()[0].asDict()
    return {k: row[k] for k in row}


def duck_summary(con, sql: str) -> dict:
    rel = con.sql(f"SELECT * FROM ({sql})")
    cols = list(zip(rel.columns, [str(t).lower() for t in rel.types]))
    parts = ["count(*) AS __rows"]
    for c, t in cols:
        qc = f'"{c}"'
        if any(k in t for k in ("[]", "list", "struct", "map", "blob")):
            # arrays/structs/binary: covered by the row count only —
            # MUST be checked before the numeric branch ("bigint[]"
            # contains "int" and would be summed, which DuckDB
            # cannot cast).
            continue
        if any(
            k in t
            for k in ("int", "float", "double", "decimal", "hugeint")
        ):
            parts.append(f"sum(CAST({qc} AS DOUBLE)) AS \"sum::{c}\"")
            parts.append(f"count({qc}) AS \"cnt::{c}\"")
        elif any(k in t for k in ("varchar", "bool", "date", "timestamp")):
            parts.append(f"count({qc}) AS \"cnt::{c}\"")
            parts.append(
                f"count(DISTINCT CAST({qc} AS VARCHAR)) AS \"nd::{c}\""
            )
    q = f"SELECT {', '.join(parts)} FROM ({sql})"
    cur = con.sql(q)
    return dict(zip(cur.columns, cur.fetchone()))


def compare(s: dict, d: dict) -> list[str]:
    diffs = []
    for k in sorted(set(s) | set(d)):
        sv, dv = s.get(k), d.get(k)
        if k not in s or k not in d:
            diffs.append(f"{k}: only one side ({sv!r} / {dv!r})")
            continue
        if sv is None and dv is None:
            continue
        if isinstance(sv, float) or isinstance(dv, float):
            sv_f = float(sv or 0.0)
            dv_f = float(dv or 0.0)
            if math.isnan(sv_f) and math.isnan(dv_f):
                continue
            scale = max(abs(sv_f), abs(dv_f), 1.0)
            if abs(sv_f - dv_f) > REL_TOL * scale:
                diffs.append(f"{k}: {sv_f} vs {dv_f}")
        elif sv != dv:
            diffs.append(f"{k}: {sv!r} vs {dv!r}")
    return diffs


def main() -> int:
    argv = sys.argv[1:]
    # --duck-skip a,b,c (r14): run the NAMED entries rows-only while
    # the rest of the registry still gets the oracle compare — for
    # full-registry sweeps at sf5/sf10 where a handful of oracle
    # texts are quadratic in DuckDB (all-pairs cosine, the
    # inverted-index pair join) and would grind for hours. The
    # skipped names land in the record as "rows_only" so the JSON
    # discloses exactly which keys were checked.
    duck_skip: set[str] = set()
    if "--duck-skip" in argv:
        i = argv.index("--duck-skip")
        if i + 1 >= len(argv):
            # r15 (r14 ADVICE): a bare trailing flag used to raise an
            # unhandled IndexError
            print("usage: --duck-skip name[,name...]", file=sys.stderr)
            return 2
        duck_skip = {s for s in argv[i + 1].split(",") if s}
        argv = argv[:i] + argv[i + 2:]
    args = [a for a in argv if a != "--spark-only"]
    # --spark-only: skip the DuckDB side entirely (rows + timing
    # record only) — for scales where the oracle SQL would grind for
    # hours while the question is "does the SPARK plan hold up".
    spark_only = "--spark-only" in argv
    sf_dir = args[0] if args else "/tmp/sdls_scale/sf1"
    only = set(args[1:])
    # r15 (r14 ADVICE): a typo'd skip name used to silently leave the
    # quadratic oracle in the sweep — fail fast, before Spark starts.
    unknown = duck_skip - set(entrymod.queries())
    if unknown:
        print(
            "--duck-skip names not in the entry registry: "
            + ", ".join(sorted(unknown)),
            file=sys.stderr,
        )
        return 2
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # bench.py's session (r16, r15 verdict #1): with the 128m/4m
    # scan-split defaults the small single-file tables (documents
    # 6 MB) scanned on 1-2 tasks while bench sittings ran the same
    # entries on 6+, so sweep seconds were not comparable.
    spark = bench.session(
        "sdls-scale-sweep", master=f"local[{cpus}]", shuffle_partitions=cpus
    )

    con = duckdb.connect()
    for t in testdata.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    # Warm-up outside the timed loop (r16, r15 verdict #1): the r15
    # sf1 record read q1_pricing_summary at 25.6 s — the FIRST timed
    # entry absorbed the one-time nanocache build, catalog
    # registration, JVM/codegen and Python-worker cold starts; warm,
    # the same entry reads 2.2 s (OPTIMIZATION_r16.md). It warms the
    # SAME action the timed loop runs (the summary wrapper agg, not a
    # bare noop write): that wrapper plan carries its own
    # scale-independent codegen, measured ~2 s inside q1's timed
    # region when only the bare entry was warmed.
    tripwire_on = not os.environ.get("SDLS_NO_TRIPWIRE")
    bench.warm_up(
        spark,
        sf_dir,
        [
            n
            for n in qs
            if not only or n in only or (tripwire_on and n in TRIPWIRE)
        ],
        action=spark_summary,
    )

    failures, report = 0, {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            s = spark_summary(df)
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark: {str(exc).splitlines()[0][:160]}",
                  flush=True)
            failures += 1
            report[name] = {"status": "spark_error"}
            continue
        t_spark = time.time() - t0
        pinned = (
            name in PINNED_SF001_GATES
            and os.path.basename(sf_dir.rstrip("/")) != "sf0.01"
        )
        if spark_only or name in duck_skip or name not in oracles or pinned:
            check = None if spark_only else SAMPLED_CHECKS.get(name)
            if check is None:
                print(
                    f"rows-only {name}: {s['__rows']} rows "
                    f"(spark {t_spark:.2f}s)",
                    flush=True,
                )
                report[name] = {
                    "status": "rows_only",
                    "rows": s["__rows"],
                    "spark_s": round(t_spark, 2),
                }
                continue
            # r15 (r14 verdict ask #6): quadratic-oracle entries get a
            # sampled value check instead of rows-only (skipped under
            # --spark-only, where no DuckDB work runs at all).
            t0 = time.time()
            try:
                diffs, srows, detail = check(spark, con, sf_dir)
            except Exception as exc:  # noqa: BLE001
                print(
                    f"FAIL {name}: sampled check: "
                    f"{str(exc).splitlines()[0][:160]}",
                    flush=True,
                )
                failures += 1
                report[name] = {"status": "sampled_error"}
                continue
            t_check = time.time() - t0
            status = "sampled_ok" if not diffs else "SAMPLED_MISMATCH"
            if diffs:
                failures += 1
            print(
                f"{status} {name}: {s['__rows']} rows "
                f"(spark {t_spark:.2f}s; {detail}: {srows} sampled "
                f"rows checked in {t_check:.2f}s)"
                + ("" if not diffs else f" :: {'; '.join(diffs[:4])}"),
                flush=True,
            )
            report[name] = {
                "status": status,
                "rows": s["__rows"],
                "spark_s": round(t_spark, 2),
                "sampled_rows": srows,
                "sampled_s": round(t_check, 2),
                "sampled_slice": detail,
            }
            continue
        t0 = time.time()
        try:
            d = duck_summary(con, oracles[name])
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb: {str(exc).splitlines()[0][:160]}",
                  flush=True)
            failures += 1
            report[name] = {"status": "duckdb_error"}
            continue
        t_duck = time.time() - t0
        diffs = compare(s, d)
        status = "ok" if not diffs else "MISMATCH"
        if diffs:
            failures += 1
        print(
            f"{status} {name}: {s['__rows']} rows "
            f"(spark {t_spark:.2f}s, duckdb {t_duck:.2f}s)"
            + ("" if not diffs else f" :: {'; '.join(diffs[:4])}"),
            flush=True,
        )
        report[name] = {
            "status": status,
            "rows": s["__rows"],
            "spark_s": round(t_spark, 2),
            "duckdb_s": round(t_duck, 2),
        }
    # Tripwire readings (see TRIPWIRE above): reuse the main loop's
    # number when the entry was selected; otherwise run it
    # spark-only (noop sink) so every record carries the trio.
    trip: dict[str, object] = {}
    if tripwire_on:
        for name in TRIPWIRE:
            rec = report.get(name)
            if rec and "spark_s" in rec:
                trip[name] = rec["spark_s"]
                continue
            try:
                draws, constr = bench.time_entries(spark, sf_dir, [name], 1)
                trip[name] = round(draws[name][0] + constr[name][0], 2)
            except Exception as exc:  # noqa: BLE001
                trip[name] = (
                    f"error: {str(exc).splitlines()[0][:80]}"
                )
                failures += 1
            print(
                f"tripwire {name}: {trip[name]}s (spark-only)",
                flush=True,
            )
    print(json.dumps({"sf_dir": sf_dir, "failures": failures,
                      "entries": report,
                      "jaccard_tripwire": trip}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
