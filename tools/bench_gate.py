"""Per-entry bench regression gate — run BEFORE committing any
change that touches a bench entry's plan.

Times the named entries through bench.py's runner (bench session
conf, warm-up, interleaved noop reps with rep-boundary cache clears,
best of N, construct folded in only for ``eager_construct`` entries —
the accounting the recorded figures use) and compares each against
the last recorded sitting (the newest ``BENCH_r*.json`` with a parsed
``queries`` dict, or ``--baseline <file>``). An entry fails the gate
when it is more than ``--factor`` (default 3×) slower than its
recorded value — the ``repetition_stats`` class of regression (r6:
0.35 s → 11–18 s while still passing its oracle) that a correctness
check cannot catch.

This host carries ±30% sitting noise (see docs/bench.md), so the
gate is deliberately coarse: 3× catches plan-shape accidents
(re-evaluated UDF chains, lost exchange reuse, global windows), not
percent-level drift — use a full paired bench for that. Check
``uptime`` first; hypervisor steal inflates Spark far more than the
gate's slack.

Usage:
    python tools/bench_gate.py [--factor 3] [--baseline FILE]
        [--sf-dir DIR] entry [entry ...]

Exit code 1 when any entry fails (or is missing from the baseline —
new entries should be recorded with a full bench run first).

A consumer's publisher (``Entry.consumes``) is run ahead of it, as in
the recorded sitting, so the consumer does not recompute the
publisher's work inside its own measured time.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def latest_baseline(repo_root: str) -> tuple[str, dict[str, float]]:
    """Newest BENCH_r*.json whose parsed record carries queries."""
    best: tuple[int, str, dict] | None = None
    for path in glob.glob(os.path.join(repo_root, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            rec = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        queries = (rec.get("parsed") or {}).get("queries") or rec.get(
            "queries"
        )
        if not queries:
            continue
        rnd = int(m.group(1))
        if best is None or rnd > best[0]:
            best = (rnd, path, queries)
    if best is None:
        raise SystemExit("no parseable BENCH_r*.json baseline found")
    return best[1], {k: float(v) for k, v in best[2].items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("entries", nargs="+")
    ap.add_argument("--factor", type=float, default=3.0)
    ap.add_argument("--baseline")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if args.baseline:
        base_path = args.baseline
        rec = json.load(open(base_path))
        baseline = {
            k: float(v)
            for k, v in (
                (rec.get("parsed") or {}).get("queries")
                or rec.get("queries")
                or rec
            ).items()
        }
    else:
        base_path, baseline = latest_baseline(repo_root)

    order = bench.run_order(args.entries)
    for pub in sorted(set(order) - set(args.entries)):
        print(
            f"note: running publisher {pub} ahead of its consumer "
            "(recorded baseline assumes its persisted result is "
            "cached in-rep)"
        )
    spark = bench.session(app_name="sdls-bench-gate")
    bench.warm_up(spark, args.sf_dir, order)
    now = bench.fold(*bench.time_entries(spark, args.sf_dir, order, args.reps))

    failures = 0
    for name in args.entries:
        ref = baseline.get(name)
        if ref is None:
            print(f"FAIL {name}: no baseline in {os.path.basename(base_path)}")
            failures += 1
            continue
        ratio = now[name] / ref if ref > 0 else float("inf")
        status = "OK  " if ratio <= args.factor else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{status} {name}: {now[name]:.3f}s vs recorded {ref:.3f}s "
            f"({ratio:.1f}x, gate {args.factor:.1f}x)"
        )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
