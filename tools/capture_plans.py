"""Capture ``explain("formatted")`` for bench entries (r15
optimization round): one file per entry under ``plans/r15/``.

Usage:
    python tools/capture_plans.py <suffix> [sf_dir] [entry ...]

``suffix`` is appended to each filename (``<entry>_<suffix>.txt`` —
the round's deliverable uses ``before`` and ``after``). Defaults to
every bench entry at /root/testdata/sf0.1.
Plans come from bench.py's session, so scans show its split sizing.

The formatted plan is the ANALYZED physical plan BEFORE execution
(AdaptiveSparkPlan isFinalPlan=false where AQE applies); it shows
exchange count, join strategy, PushedFilters/ReadSchema and
Python-eval nodes — the shape evidence the optimization notes cite.
Entries whose construction does eager work (streams, merges, memos)
still return one final DataFrame; that plan is what is captured.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
import bench


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:] or bench.BENCH_QUERIES
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", os.environ.get("SDLS_PLANS_ROUND", "r16"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = bench.session(app_name="sdls-capture-plans")
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"== {name} @ {sf_dir} ==\n")
            fh.write(buf.getvalue())
        print(f"wrote {path}", flush=True)
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
