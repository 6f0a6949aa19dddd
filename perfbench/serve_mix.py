"""serve_mix: three HTTP clients in a closed loop on
``GET /consumption/query``, no writes while measured. The seeded mix
covers point lookups, key-range aggregates, a silver-silver top-k
join, gold reads, bronze scans, one capped query (more than
``max_result_rows`` rows, so ``truncated``) and a DuckDB-dialect
(QUALIFY) query. Every template is checked against DuckDB on the
same rows before the clock starts; every measured response must then
match its checked one byte for byte (the capped one by count and
flag)."""

from __future__ import annotations

import datetime
import json
import math
import random
import threading
import time
import zlib
from collections import defaultdict

import duckdb
import pandas as pd

import gen
from cdc_upsert import EXPECTED_GOLD
from common import Client, median, pct, tree_cpu_s
from layers import QUERY_CLASSES
from outcome import Outcome

ORDERS = 30_000
CLIENTS = 3
# Rounds per client: unmeasured, then the fixed work the CPU figure
# covers. The JIT keeps warming for many rounds, so a figure over a
# fixed time would vary with how far the host's speed lets it get.
WARMUP_ROUNDS = 1
CPU_ROUNDS = 2
EVENT_OBJECTS = 24
EVENTS_PER_OBJECT = 100
WEIGHTS = {"point": 6, "range_agg": 3, "join": 2, "gold": 3,
           "bronze": 2, "capped": 1, "dialect": 3}  # queries per round
_PLANS = ("plans.validate_query", "plans.rewrite_query", "plans.transpile")


def templates(seed: int) -> dict[str, list[str]]:
    rng = random.Random(f"{seed}:templates")
    def day(lo: int, hi: int) -> str:
        return (gen.DAY0 + datetime.timedelta(days=rng.randrange(lo, hi))).isoformat()

    out: dict[str, list[str]] = {}
    out["point"] = [
        "SELECT o_orderkey, o_custkey, o_status, o_totalprice, o_orderdate "
        f"FROM sales.silver.orders WHERE o_orderkey = {rng.randrange(ORDERS)}"
        for _ in range(3)
    ]
    out["range_agg"] = []
    for _ in range(2):
        a = rng.randrange(ORDERS - 3000)
        out["range_agg"].append(
            "SELECT o_status, count(*) AS n, sum(o_totalprice) AS revenue "
            f"FROM sales.silver.orders WHERE o_orderkey BETWEEN {a} AND {a + 2500} "
            "GROUP BY o_status ORDER BY o_status")
    out["join"] = [
        "SELECT c.c_mktsegment, count(*) AS n, sum(o.o_totalprice) AS revenue "
        "FROM sales.silver.orders o JOIN sales.silver.customer c "
        f"ON o.o_custkey = c.c_custkey WHERE o.o_orderdate >= DATE '{day(590, 610)}' "
        "GROUP BY c.c_mktsegment ORDER BY revenue DESC LIMIT 3"
        for _ in range(2)
    ]
    d = day(0, gen.N_DAYS - 30)
    out["gold"] = [
        "SELECT day, orders, revenue FROM sales.gold.daily_revenue "
        f"WHERE day BETWEEN DATE '{d}' AND DATE '{d}' + INTERVAL 30 DAY ORDER BY day",
        "SELECT yr, orders, revenue FROM sales.gold.report ORDER BY yr",
    ]
    out["bronze"] = [
        "SELECT event_type, count(*) AS n, sum(value) AS total "
        f"FROM sales.bronze.events WHERE user_id < {rng.randrange(200, 2000)} "
        "GROUP BY event_type ORDER BY event_type"
        for _ in range(2)
    ]
    out["capped"] = [
        "SELECT o_orderkey, o_totalprice FROM sales.silver.orders "
        f"WHERE o_orderkey >= {rng.randrange(ORDERS // 2)}"
    ]
    out["dialect"] = [
        "SELECT o_custkey, o_orderkey, o_totalprice FROM sales.silver.orders "
        f"WHERE o_custkey <= {rng.randrange(20, 200)} QUALIFY row_number() OVER "
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1 "
        "ORDER BY o_custkey"
        for _ in range(2)
    ]
    return out


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (a is not None and b is not None
                and math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6))
    return a == b


class ServeMix:
    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.orders = pd.DataFrame(gen.orders(seed, ORDERS))
        self.orders["o_orderdate"] = pd.to_datetime(self.orders["o_orderdate"]).dt.date
        self.customers = pd.DataFrame(gen.customers(seed))
        self.events = gen.events(seed, EVENT_OBJECTS, EVENTS_PER_OBJECT)
        self.templates = templates(seed)
        self.gold = self._gold()
        self.lake = None

    def _gold(self) -> dict[str, pd.DataFrame]:
        """The gold tables, computed by DuckDB. The gold pipeline is
        timed in cdc_upsert; here gold is only read."""
        con = duckdb.connect()
        try:
            con.register("expected", self.orders)
            out = {name: con.execute(sql).df() for name, (sql, _k) in EXPECTED_GOLD.items()}
        finally:
            con.close()
        out["daily_revenue"]["day"] = out["daily_revenue"]["day"].dt.date
        return out

    def setup(self, spark, root: str) -> tuple[float, float]:
        from serverless_data_lake_spark.config import LakeConfig
        from serverless_data_lake_spark.engine import Lake
        from serverless_data_lake_spark.schema.types import EndpointSchema

        t0 = time.perf_counter()
        self.lake = lake = Lake(spark, LakeConfig(root=root))
        t1 = time.perf_counter()
        lake.store.create_or_replace(
            "sales_silver", "orders", spark.createDataFrame(self.orders), ["o_orderkey"])
        lake.store.create_or_replace(
            "sales_silver", "customer", spark.createDataFrame(self.customers), ["c_custkey"])
        lake.create_endpoint(EndpointSchema.from_dict({
            "domain": "sales", "name": "events",
            "columns": [
                {"name": "event_id", "type": "bigint", "primary_key": True},
                {"name": "user_id", "type": "bigint"},
                {"name": "event_type", "type": "string"},
                {"name": "value", "type": "double"},
            ],
        }))
        for batch in self.events:
            lake.ingest_batch("sales", "events", batch)
        for name, frame in self.gold.items():
            lake.store.create_or_replace("sales_gold", name, spark.createDataFrame(frame))
        return t1 - t0, time.perf_counter() - t1

    # ------------------------------------------------------------------
    def _expected(self) -> dict[str, list[tuple]]:
        con = duckdb.connect()
        try:
            con.register("sales_silver_orders", self.orders)
            con.register("sales_silver_customer", self.customers)
            con.register("sales_bronze_events", pd.DataFrame(
                [e for batch in self.events for e in batch]))
            for name, frame in self.gold.items():
                con.register(f"sales_gold_{name}", frame)
            out = {}
            for cls, sqls in self.templates.items():
                if cls == "capped":
                    continue
                for sql in sqls:
                    duck = sql.replace("sales.silver.", "sales_silver_").replace(
                        "sales.gold.", "sales_gold_").replace("sales.bronze.", "sales_bronze_")
                    out[sql] = con.execute(duck).fetchall()
            return out
        finally:
            con.close()

    def _verify(self, cls: str, sql: str, body: dict, expected) -> str | None:
        rows = body["rows"]
        if cls == "capped":
            lo = int(sql.rsplit(">=", 1)[1])
            keys = {r["o_orderkey"] for r in rows}
            if not body["truncated"] or body["row_count"] != 10_000 or len(keys) != 10_000:
                return f"capped: truncated={body['truncated']} rows={body['row_count']}"
            if min(keys) < lo or max(keys) >= ORDERS:
                return "capped: rows outside the filtered key range"
            return None
        want = expected[sql]
        got = [tuple(r[c] for c in body["columns"]) for r in rows]
        want = [tuple(v.isoformat() if hasattr(v, "isoformat") else v for v in row)
                for row in want]
        if body["truncated"] or len(got) != len(want) or not all(
            _same(a, b) for g, w in zip(got, want) for a, b in zip(g, w)
        ):
            return f"{cls}: {sql[:60]}... got {got[:2]}, want {want[:2]}"
        return None

    def _trace(self, tracer, klass: dict[str, str]) -> None:
        import serverless_data_lake_spark.plans.query as query_mod

        lake = self.lake

        def sql_attr(rec, args):
            rec["attrs"]["sql"] = args[0]

        tracer.wrap(lake, "query", "serving.lake_query",
                    group=lambda sql: f"query.{klass.get(sql, 'other')}", around=sql_attr)
        tracer.wrap(lake.queries, "query", "query.query")
        tracer.wrap(lake.queries, "dataframe", "query.dataframe")
        for name in _PLANS:
            fn = name.split(".", 1)[1]
            tracer.wrap(query_mod, fn, name)

    def measure(self, spark, tracer, seconds: float) -> Outcome:
        from serverless_data_lake_spark.serving.api import LakeServer

        out = Outcome()
        expected = self._expected()
        klass = {sql: cls for cls, sqls in self.templates.items() for sql in sqls}
        server = LakeServer(self.lake)
        port = server.start()
        reference: dict[str, int] = {}
        try:
            for sql, cls in klass.items():  # unmeasured pass, checked
                status, raw = Client(port).query(sql)
                body = json.loads(raw)
                out.attempted += 1
                if status != 200:
                    out.fail(f"{cls}: HTTP {status}: {body.get('error')}")
                    continue
                err = self._verify(cls, sql, body, expected)
                if err:
                    out.mismatch(err)
                reference[sql] = zlib.crc32(raw)
            # Unmeasured closed-loop warm-up, so code generation and
            # JIT settle before the clock starts.
            self._clients(port, 0.0, WARMUP_ROUNDS, reference, out)
            self._trace(tracer, klass)
            cpu0, t_start = tree_cpu_s(), time.perf_counter()

            def rounds_done():
                out.cpu_s = tree_cpu_s() - cpu0
                out.cpu_ops = CLIENTS * CPU_ROUNDS * sum(WEIGHTS.values())

            records = self._clients(port, seconds, CPU_ROUNDS, reference, out,
                                    rounds_done)
            out.wall = time.perf_counter() - t_start
        finally:
            server.stop()
            tracer.restore()
        ok = [r for r in records if r[4]]
        out.op_ms = [(r[3] - r[2]) * 1e3 for r in ok]
        by_class = defaultdict(list)
        for r in ok:
            by_class[r[0]].append((r[3] - r[2]) * 1e3)
        out.detail.update(
            query_ms_p50=(median(out.op_ms), "ms"),
            query_ms_p90=(pct(out.op_ms, 90), "ms"),
            query_ms_p95=(pct(out.op_ms, 95), "ms"),
            query_samples=(len(out.op_ms), "count"),
            queries_per_s=(len(ok) / out.wall, "q/s"),
            clients=(CLIENTS, "count"),
        )
        for cls in QUERY_CLASSES:
            out.detail[f"{cls}_ms_p50"] = (median(by_class[cls]), "ms")
        if tracer.enabled:
            self._layers(tracer, out, ok, by_class)
        return out

    def _clients(self, port, seconds, rounds, reference, out,
                 rounds_done=None) -> list[tuple]:
        """Each client runs ``rounds`` whole rounds, waits for the
        others to finish theirs (``rounds_done`` then runs once), and
        goes on until ``seconds`` have passed."""
        records: list[tuple] = []
        lock = threading.Lock()
        deadline = time.perf_counter() + seconds
        barrier = threading.Barrier(CLIENTS, action=rounds_done)
        threads = [
            threading.Thread(target=self._client, args=(
                port, i, deadline, rounds, barrier, reference, records, lock, out))
            for i in range(CLIENTS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return records

    def _client(self, port, i, deadline, rounds, barrier, reference, records,
                lock, out):
        """Closed loop over rounds: each round runs every class as often
        as its weight, in a seeded order, so each run measures the same
        blend."""
        rng = random.Random(f"{self.seed}:client:{i}")
        round_ = [c for c, w in WEIGHTS.items() for _ in range(w)]
        client = Client(port)
        mine, queue, started = [], [], 0
        while True:
            if not queue:
                if started == rounds:
                    barrier.wait(timeout=60)
                started += 1
                queue = rng.sample(round_, len(round_))
            if started > rounds and time.perf_counter() >= deadline:
                break
            cls = queue.pop()
            sql = rng.choice(self.templates[cls])
            t0 = time.perf_counter()
            status, raw = client.query(sql)
            t1 = time.perf_counter()
            good = status == 200
            with lock:
                out.attempted += 1
                if not good:
                    out.fail(f"{cls}: HTTP {status}: {raw[:200]!r}")
                elif cls == "capped":
                    body = json.loads(raw)
                    if not body["truncated"] or body["row_count"] != 10_000:
                        out.mismatch("capped: measured response not truncated")
                elif zlib.crc32(raw) != reference.get(sql):
                    out.mismatch(f"{cls}: measured response differs: {sql[:60]}")
            mine.append((cls, sql, t0, t1, good))
        with lock:
            records.extend(mine)

    def _layers(self, tracer, out, ok, by_class) -> None:
        kids = tracer.children()
        roots = tracer.named("serving.lake_query")

        def dur(s):
            return (s["end"] - s["start"]) * 1e3

        def plans_under(span):
            total, stack = 0.0, list(kids[span["id"]])
            while stack:
                s = stack.pop()
                if s["name"] in _PLANS:
                    total += dur(s)
                else:
                    stack.extend(kids[s["id"]])
            return total

        frontend, plan, collect = [], [], []
        for root in roots:
            frontend.append(plans_under(root))
            for q in (k for k in kids[root["id"]] if k["name"] == "query.query"):
                own_plans = sum(dur(k) for k in kids[q["id"]] if k["name"] in _PLANS)
                for df in (k for k in kids[q["id"]] if k["name"] == "query.dataframe"):
                    plan.append(dur(df) - plans_under(df))
                    collect.append(dur(q) - dur(df) - own_plans)
        # Pair each HTTP request with the Lake.query call it contained.
        by_sql = defaultdict(list)
        for s in roots:
            by_sql[s["attrs"]["sql"]].append(s)
        overhead = []
        for cls, sql, t0, t1, _good in ok:
            for s in by_sql[sql]:
                if t0 <= s["start"] and s["end"] <= t1:
                    overhead.append((t1 - t0) * 1e3 - dur(s))
                    by_sql[sql].remove(s)
                    break
        L = out.layers
        L["serving.http_overhead_ms_p50"] = median(overhead)
        L["plans.frontend_ms_p50"] = median(frontend)
        L["query.plan_ms_p50"] = median(plan)
        L["query.collect_ms_p50"] = median(collect)
        L["query.collect_ms_p95"] = pct(collect, 95) if collect else 0.0
        groups = tracer.spark_by_group()
        for cls in QUERY_CLASSES:
            n = max(1, len(by_class[cls]))
            g = groups.get(f"query.{cls}", {})
            L[f"query.{cls}.latency_ms_p50"] = median(by_class[cls])
            for k in ("jobs", "tasks", "cpu_ms", "shuffle_bytes"):
                L[f"query.{cls}.{k}"] = g.get(k, 0) / n
