"""Medallion-lakehouse benchmark: drives the public API of one Lake in
one process on ``local[nproc]``, checks every output, and prints the
figures of one workload. Run from the repository root::

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
calls into each layer and prints the per-layer metrics instead. The
last line of standard output is the JSON result; the lines before it
are a readable table and a ``detail`` JSON line with every figure the
workload yields. Exits 1 on any correctness mismatch."""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

import common
from layers import LAYERS, UNITS

WORKLOADS = {
    "cdc_upsert": ("cdc_upsert", "CdcUpsert"),
    "serve_mix": ("serve_mix", "ServeMix"),
    "curation_release": ("curation_release", "CurationRelease"),
}
SETUP_REPS = 3


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    load_start, steal_start = common.load1(), common.steal_s()
    sys.path.insert(0, common.ROOT)
    try:
        importlib.import_module("serverless_data_lake_spark.engine")
    except ImportError as exc:
        print(f"perfbench: cannot import the engine package: {exc}", file=sys.stderr)
        return 2
    from spans import Tracer

    work = common.fresh_dir(os.path.join(
        common.WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}"))
    common.pin_environment(work)
    module, cls = WORKLOADS[args.workload]
    workload = getattr(importlib.import_module(module), cls)(args.seed)
    spark, session_s = common.start_spark(work)
    try:
        setups, prev = [], None
        for i in range(SETUP_REPS):
            root = common.fresh_dir(os.path.join(work, f"lake{i}"))
            setups.append(workload.setup(spark, root))
            if prev:
                shutil.rmtree(prev, ignore_errors=True)
            prev = root
        t_setup = time.perf_counter()
        tracer = Tracer(spark, bool(args.trace))
        out = workload.measure(spark, tracer, args.seconds)
        rss = common.peak_rss_mb(spark)
        t_measure = time.perf_counter()
    finally:
        common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: session {session_s:.1f} s, setups "
          f"{', '.join(f'{o + p:.1f}' for o, p in setups)} s, measure and check "
          f"{t_measure - t_setup:.1f} s, stop {time.perf_counter() - t_measure:.1f} s",
          file=sys.stderr)
    if len(out.op_ms) <= 20:
        print(f"perfbench: op ms {[round(x) for x in out.op_ms]}", file=sys.stderr)

    open_s = common.median([o for o, _p in setups])
    preload_s = common.median([p for _o, p in setups])
    setup_s = session_s + common.median([o + p for o, p in setups])
    op_ms_p50 = common.median(out.op_ms)
    e2e = {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_op": (out.cpu_s * 1e3 / out.cpu_ops, "ms"),
    }
    detail = {
        **e2e,
        "op_ms_p50": (op_ms_p50, "ms"),
        "ops_per_s": (len(out.op_ms) / out.wall, "1/s"),
        "peak_rss_mb": (rss, "MB"),
        "ops": (len(out.op_ms), "count"),
        "failed_ops_ratio": (out.failed / max(1, out.attempted), "ratio"),
        **out.detail,
    }
    for name, (value, unit) in detail.items():
        print(f"{args.workload:<17} {name:<34} {value:>14.4f} {unit}")
    for e in out.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print("detail " + json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": common.host_stamp(load_start, steal_start),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in detail.items()},
        **out.notes,
        "errors": out.errors,
    }))
    if args.trace:
        layers = {
            "session.start_s": session_s,
            "lake.open_s": open_s,
            "preload_s": preload_s,
            "trace.op_ms_p50": op_ms_p50,
            "trace.cpu_ms_per_op": e2e["cpu_ms_per_op"][0],
            **out.layers,
        }
        unknown = set(layers) - set(UNITS)
        if unknown:
            raise KeyError(f"per-layer metrics missing from layers.py: {unknown}")
        metrics = {name: (layers.get(name, 0.0), unit) for name, unit, _w, _m in LAYERS}
    else:
        metrics = e2e
    common.emit(out.correct, out.attempted, out.failed, metrics)
    return 0 if out.correct else 1


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"perfbench: finished in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
