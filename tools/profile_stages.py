"""Per-stage timeline profiler (r15): for each selected entry, run it
once through bench.py's runner (bench session conf and warm-up, one
noop rep) under a job group and print its Spark job count, then every
completed stage's wall window, executor run/CPU time, task count and
shuffle bytes — the same evidence format as
docs/records/r14/prof_substr_stages.txt. Reads the in-process
AppStatusStore and status tracker through py4j (the session runs
with the UI/REST server disabled).

Usage:
    python tools/profile_stages.py [sf_dir] [entry ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _stage_rows(spark, min_submit_ms: int):
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    # Spark 4 signature: stageList(statuses, details, withSummaries,
    # unsortedQuantiles, taskStatus); empty statuses = all stages.
    jvm = sc._jvm
    gw = sc._gateway
    it = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    ).iterator()
    while it.hasNext():
        s = it.next()
        sub = s.submissionTime()
        if not sub.isDefined():
            continue
        t_sub = sub.get().getTime()
        if t_sub < min_submit_ms:
            continue
        comp = s.completionTime()
        t_comp = comp.get().getTime() if comp.isDefined() else None
        out.append(
            {
                "id": s.stageId(),
                "submit": t_sub,
                "complete": t_comp,
                "tasks": s.numCompleteTasks(),
                "exec_ms": s.executorRunTime(),
                "cpu_ms": s.executorCpuTime() / 1e6,
                "sr_mb": s.shuffleReadBytes() / 1e6,
                "sw_mb": s.shuffleWriteBytes() / 1e6,
            }
        )
    return sorted(out, key=lambda r: r["id"])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or ["exact_substring_dedup"]
    spark = bench.session(app_name="sdls-profile-stages")
    bench.warm_up(spark, sf_dir, names)
    sc = spark.sparkContext
    for name in names:
        t0_ms = int(time.time() * 1000)
        group = f"profile_{name}"
        sc.setJobGroup(group, name)
        draws, constr = bench.time_entries(spark, sf_dir, [name], 1)
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        rows = _stage_rows(spark, t0_ms)
        active = [r for r in rows if r["tasks"] > 0]
        skipped = [r["id"] for r in rows if r["tasks"] == 0]
        print(
            f"== {name}: wall {draws[name][0]:.2f} s "
            f"(construct {constr[name][0]:.2f} s), {jobs} jobs, "
            f"{len(active)} active stages "
            f"({len(rows)} total, {sum(r['tasks'] for r in active)} tasks)",
            flush=True,
        )
        for r in active:
            # a stage with no completionTime is still running (or a
            # zombie) — say so instead of printing a 0.00 end window
            # (r16, r15 ADVICE)
            end = (
                f"{r['complete'] / 1000.0 - t0_ms / 1000.0:6.2f}"
                if r["complete"]
                else "..running"
            )
            start = r["submit"] / 1000.0 - t0_ms / 1000.0
            print(
                f" {r['id']:4d} t={start:6.2f}..{end} "
                f"exec={r['exec_ms']:6.0f}ms cpu={r['cpu_ms']:6.0f}ms "
                f"tasks={r['tasks']:4d} shuffleR={r['sr_mb']:5.1f}MB "
                f"shuffleW={r['sw_mb']:5.1f}MB",
                flush=True,
            )
        if skipped:
            print(f" skipped (exchange reuse / no tasks): {skipped}", flush=True)


if __name__ == "__main__":
    main()
