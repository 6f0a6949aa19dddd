"""Shared plumbing for the lakehouse benchmark: process environment,
Spark session lifetime, HTTP client, statistics and host stamps.

Everything a run writes goes under ``.bench_work/`` in the directory
the benchmark is started from (the checkout root)."""

from __future__ import annotations

import http.client
import json
import os
import shutil
import statistics
import sys
import time
import urllib.parse

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(os.getcwd(), ".bench_work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load1() -> float:
    return os.getloadavg()[0]


def pin_environment(work: str) -> None:
    """Pin the engine to this host's cores and keep every scratch
    file inside ``work``. Must run before pyspark starts the JVM."""
    cpus = str(nproc())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_MASTER"] = f"local[{cpus}]"
    os.environ["SDLS_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    # Every JVM (launcher and driver): no perf-data file in /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python UDF workers import the package by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )


def start_spark(work: str):
    """``get_spark`` with the benchmark's scratch locations. Returns
    the session and the seconds it took to start."""
    from serverless_data_lake_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # Keep every job and stage of a run in the status store so
            # the traced run can attribute all of them.
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    return (_vm_hwm_kb(jvm_pid(spark)) + _vm_hwm_kb("self")) / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every descendant: the driver JVM and the Python
    workers it forks."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        parent[int(pid)] = int(fields[1])
        ticks[int(pid)] = sum(int(f) for f in fields[11:15])
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        tree.add(p)
        frontier += [c for c, pp in parent.items() if pp == p and c not in tree]
    return sum(ticks.get(p, 0) for p in tree) / tick


def steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests, summed
    over this host's CPUs (``steal`` in /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) of regular files under ``path`` whose names end
    with ``suffix`` and do not start with ``_`` or ``.``."""
    n = size = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


# ----------------------------------------------------------------------
# HTTP
# ----------------------------------------------------------------------
class Client:
    """Blocking client for one LakeServer. One instance per thread."""

    def __init__(self, port: int) -> None:
        self.port = port

    def _call(self, method: str, path: str, body: dict | None = None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            data = None if body is None else json.dumps(body).encode()
            headers = {"Content-Type": "application/json"} if data else {}
            conn.request(method, path, body=data, headers=headers)
            resp = conn.getresponse()
            raw = resp.read()
            return resp.status, raw
        finally:
            conn.close()

    def push(self, domain: str, table: str, records: list[dict]):
        status, raw = self._call(
            "POST", f"/ingest/{domain}/{table}/batch", {"records": records}
        )
        return status, json.loads(raw)

    def process(self, domain: str, table: str):
        status, raw = self._call("POST", f"/process/{domain}/{table}")
        return status, json.loads(raw)

    def query(self, sql: str):
        """Returns (status, raw body bytes)."""
        q = urllib.parse.urlencode({"sql": sql})
        return self._call("GET", f"/consumption/query?{q}")


# ----------------------------------------------------------------------
# Statistics and output
# ----------------------------------------------------------------------
def pct(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(p / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def host_stamp(load_start: float, steal_start: float) -> dict:
    import duckdb
    import pyspark

    return {
        "cores": nproc(),
        "load1_start": load_start,
        "load1_end": load1(),
        "steal_s": steal_s() - steal_start,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
    }


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The result line: the last line of standard output."""
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {
                    k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )
