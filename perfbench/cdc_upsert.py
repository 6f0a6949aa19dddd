"""cdc_upsert: one producer in a closed loop over HTTP. Each cycle
pushes a few batches to ``/ingest/sales/orders/batch`` and calls
``/process/sales/orders``; the operation is that whole cycle, so its
latency is the silver freshness of the cycle. Serving is idle. After
the measured phase the gold DAG runs twice (create, then upsert) and
silver and gold are checked against a DuckDB replay of every push."""

from __future__ import annotations

import os
import time

import duckdb
import pandas as pd

import gen
from common import Client, dir_bytes, median, pct, tree_cpu_s
from outcome import Outcome

PRELOAD = 20_000
BATCHES = 4
BATCH_SIZE = 500
WARMUP_CYCLES = 1
# The CPU figure covers the first CPU_CYCLES measured cycles, which
# every run completes: the JIT is still warming over them, so a figure
# over however many cycles fit in the run would vary with the host's
# speed rather than with the code.
CPU_CYCLES = 3

COLUMNS = ("o_orderkey", "o_custkey", "o_status", "o_totalprice",
           "o_orderdate", "o_channel")


def endpoint_schema():
    from serverless_data_lake_spark.schema.types import EndpointSchema

    return EndpointSchema.from_dict({
        "domain": "sales",
        "name": "orders",
        "strict_validation": True,
        "columns": [
            {"name": "o_orderkey", "type": "bigint", "required": True,
             "primary_key": True},
            {"name": "o_custkey", "type": "bigint"},
            {"name": "o_status", "type": "string"},
            {"name": "o_totalprice", "type": "double"},
            {"name": "o_orderdate", "type": "date"},
        ],
    })


def gold_jobs():
    """A two-level DAG: upsert revenue by day, then overwrite a
    yearly report that depends on it."""
    from serverless_data_lake_spark.schema.registry import GoldJobConfig

    return [
        GoldJobConfig(
            domain="sales", name="daily_revenue",
            query="SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS orders, "
                  "sum(o_totalprice) AS revenue FROM sales.silver.orders "
                  "GROUP BY CAST(o_orderdate AS DATE)",
            write_mode="append", unique_key=["day"], cron_schedule="day",
        ),
        GoldJobConfig(
            domain="sales", name="report",
            query="SELECT year(day) AS yr, sum(orders) AS orders, "
                  "sum(revenue) AS revenue FROM sales.gold.daily_revenue "
                  "GROUP BY year(day)",
            write_mode="overwrite", schedule_type="dependency",
            dependencies=["daily_revenue"],
        ),
    ]


EXPECTED_GOLD = {
    "daily_revenue": (
        "SELECT o_orderdate AS day, count(*) AS orders, "
        "sum(o_totalprice) AS revenue FROM expected GROUP BY 1", "day"),
    "report": (
        "SELECT year(o_orderdate) AS yr, count(*) AS orders, "
        "sum(o_totalprice) AS revenue FROM expected GROUP BY 1", "yr"),
}


class CdcUpsert:
    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.preload = gen.orders(seed, PRELOAD)
        # Typed as process_silver infers them from JSON (the date
        # becomes a timestamp), so later merges keep the schema.
        self.frame = pd.DataFrame(self.preload)
        self.frame["o_orderdate"] = pd.to_datetime(self.frame["o_orderdate"])
        self.lake = None

    def setup(self, spark, root: str) -> tuple[float, float]:
        from serverless_data_lake_spark.config import LakeConfig
        from serverless_data_lake_spark.engine import Lake

        t0 = time.perf_counter()
        self.lake = Lake(spark, LakeConfig(root=root))
        t1 = time.perf_counter()
        self.lake.create_endpoint(endpoint_schema())
        # A bulk load in key order: files cover disjoint key ranges, so
        # the merge's zone maps can skip the ones no update touches.
        self.lake.store.create_or_replace(
            "sales_silver", "orders", spark.createDataFrame(self.frame), ["o_orderkey"])
        for job in gold_jobs():
            self.lake.create_gold_job(job)
        return t1 - t0, time.perf_counter() - t1

    # ------------------------------------------------------------------
    def _trace(self, tracer) -> None:
        import serverless_data_lake_spark.sources.bronze as bronze_mod

        lake = self.lake
        store = lake.store
        tracer.wrap(lake.bronze, "ingest_batch", "bronze.ingest_batch")
        tracer.wrap(bronze_mod, "validate_batch", "bronze.validate_batch")
        tracer.wrap(lake.silver.bronze, "list_objects", "bronze.list_objects")
        tracer.wrap(lake.silver, "process_endpoint", "silver.process_endpoint",
                    group="silver")

        def files_around(rec, args):
            loc = lake.config.table_path(args[0], args[1])
            before = _data_files(loc)

            def done(rec):
                after = _data_files(loc)
                rec["attrs"].update(
                    table=f"{args[0]}.{args[1]}",
                    rewritten=len(before.keys() - after.keys()),
                    untouched=len(before.keys() & after.keys()),
                    new_bytes=sum(after[f] for f in after.keys() - before.keys()),
                )
            return done

        tracer.wrap(store, "merge", "catalog.merge", around=files_around)
        tracer.wrap(store, "delete_insert", "catalog.delete_insert")
        tracer.wrap(store, "create_or_replace", "catalog.create_or_replace")
        tracer.wrap(lake.gold, "run_job", "gold.run_job", group="gold",
                    around=lambda rec, args: rec["attrs"].update(job=args[0].name))

    def measure(self, spark, tracer, seconds: float) -> Outcome:
        from serverless_data_lake_spark.serving.api import LakeServer

        lake = self.lake
        out = Outcome()
        # The new column lands in the unmeasured cycle, so the measured
        # cycles all do the same work.
        stream = gen.CdcStream(self.seed, PRELOAD, BATCHES, BATCH_SIZE,
                               new_column_cycle=0)
        server = LakeServer(lake)
        client = Client(server.start())
        bronze_dir = lake.config.bronze_path("sales", "orders")
        try:
            # Unmeasured: the first MERGE into the table and the schema
            # change.
            cycles = [self._cycle(client, stream.next_cycle(), out, [])
                      for _ in range(WARMUP_CYCLES)]
            self._trace(tracer)
            _, bronze0 = dir_bytes(bronze_dir)
            ingest_ms: list[float] = []
            cpu0, t_start = tree_cpu_s(), time.perf_counter()
            while (len(out.op_ms) < CPU_CYCLES
                   or time.perf_counter() - t_start < seconds):
                t0 = time.perf_counter()
                cyc = self._cycle(client, stream.next_cycle(), out, ingest_ms)
                out.op_ms.append((time.perf_counter() - t0) * 1e3)
                cycles.append(cyc)
                if len(out.op_ms) == CPU_CYCLES:
                    out.cpu_s, out.cpu_ops = tree_cpu_s() - cpu0, CPU_CYCLES
            out.wall = time.perf_counter() - t_start
            objects, bronze1 = dir_bytes(bronze_dir)
            gold_t0 = time.perf_counter()
            for _ in range(2):  # create, then upsert
                lake.run_gold_by_tag("day")
            gold_end = time.perf_counter()
        finally:
            server.stop()
            tracer.restore()

        timed = cycles[WARMUP_CYCLES:]
        silver_loc = lake.config.table_path("sales_silver", "orders")
        n_files, silver_bytes = dir_bytes(silver_loc, ".parquet")
        self._check(lake, cycles, out)
        out.detail.update(
            ingest_ms_p50=(median(ingest_ms), "ms"),
            ingest_ms_p90=(pct(ingest_ms, 90), "ms"),
            ingest_samples=(len(ingest_ms), "count"),
            rows_per_s=(sum(c["rows_in"] for c in timed) / out.wall, "rows/s"),
            silver_fresh_s_p50=(median([c["fresh_s"] for c in timed]), "s"),
            cycles=(len(timed), "count"),
            gold_fresh_s=(gold_end - cycles[-1]["acked"], "s"),
            gold_dag_s=((gold_end - gold_t0) / 2, "s"),
            silver_bytes_per_row=(silver_bytes / stream.next_key, "B"),
        )
        if tracer.enabled:
            self._layers(tracer, out, timed, bronze1 - bronze0, objects, n_files)
        return out

    def _cycle(self, client, batches, out, ingest_ms) -> dict:
        """Push every batch, then process; verify each response."""
        acked = None
        for b in batches:
            t0 = time.perf_counter()
            status, body = client.push("sales", "orders", b["records"])
            t1 = time.perf_counter()
            acked = acked or t1
            ingest_ms.append((t1 - t0) * 1e3)
            out.attempted += 1
            want = (207, len(b["valid"]), b["bad"])
            got = (status, body.get("accepted"), body.get("failed"))
            if got != want:
                out.fail(f"push: got {got}, want {want}: {body.get('error')}")
        status, body = client.process("sales", "orders")
        fresh_s = time.perf_counter() - acked
        out.attempted += 1
        n_in = sum(len(b["valid"]) for b in batches)
        n_keys = len({r["o_orderkey"] for b in batches for r in b["valid"]})
        want = (200, n_in, n_keys, "merge")
        got = (status, body.get("rows_in"), body.get("rows_written"), body.get("mode"))
        if got != want:
            out.fail(f"process: got {got}, want {want}: {body.get('error')}")
        return {"batches": batches, "acked": acked, "fresh_s": fresh_s,
                "rows_in": n_in, "rows_written": n_keys}

    # ------------------------------------------------------------------
    def _check(self, lake, cycles, out: Outcome) -> None:
        """Silver and gold end state against a DuckDB replay."""
        rows = [dict(r, __c=-1) for r in self.preload]
        for c, cyc in enumerate(cycles):
            rows += [dict(r, __c=c) for b in cyc["batches"] for r in b["valid"]]
        frame = pd.DataFrame(rows, columns=[*COLUMNS, "__c"])
        con = duckdb.connect()
        try:
            con.register("pushed", frame)
            con.execute(
                "CREATE TABLE expected AS SELECT o_orderkey::BIGINT AS o_orderkey, "
                "o_custkey::BIGINT AS o_custkey, o_status::VARCHAR AS o_status, "
                "o_totalprice::DOUBLE AS o_totalprice, "
                "o_orderdate::DATE AS o_orderdate, o_channel::VARCHAR AS o_channel "
                "FROM pushed QUALIFY row_number() OVER "
                "(PARTITION BY o_orderkey ORDER BY __c DESC) = 1"
            )
            loc = lake.config.table_path("sales_silver", "orders")
            con.execute(
                "CREATE TABLE actual AS SELECT o_orderkey::BIGINT AS o_orderkey, "
                "o_custkey::BIGINT AS o_custkey, o_status::VARCHAR AS o_status, "
                "o_totalprice::DOUBLE AS o_totalprice, "
                "CAST(o_orderdate AS DATE) AS o_orderdate, "
                "o_channel::VARCHAR AS o_channel "
                f"FROM read_parquet('{loc}/*.parquet', union_by_name = true)"
            )
            n_exp, n_act = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                            for t in ("expected", "actual"))
            diff = con.execute(
                "SELECT count(*) FROM ((SELECT * FROM expected EXCEPT ALL "
                "SELECT * FROM actual) UNION ALL (SELECT * FROM actual "
                "EXCEPT ALL SELECT * FROM expected))"
            ).fetchone()[0]
            if n_exp != n_act or diff:
                out.mismatch(f"silver: {n_act} rows vs {n_exp} replayed, {diff} differ")
            for name, (sql, key) in EXPECTED_GOLD.items():
                gloc = lake.config.table_path("sales_gold", name)
                got = con.execute(
                    f"SELECT a.{key}, a.orders, a.revenue, e.orders, e.revenue "
                    f"FROM ({sql}) e FULL JOIN (SELECT CAST({key} AS "
                    f"{'DATE' if key == 'day' else 'BIGINT'}) AS {key}, orders, revenue "
                    f"FROM read_parquet('{gloc}/**/*.parquet')) a USING ({key}) "
                    "WHERE a.orders IS DISTINCT FROM e.orders "
                    "OR abs(a.revenue - e.revenue) > 1e-6 * abs(e.revenue) + 1e-6 "
                    "OR a.revenue IS NULL OR e.revenue IS NULL"
                ).fetchall()
                if got:
                    out.mismatch(f"gold {name}: {len(got)} rows differ, e.g. {got[0]}")
        finally:
            con.close()

    def _layers(self, tracer, out, timed, bronze_bytes, objects, n_files) -> None:
        n = max(1, len(timed))
        silver = tracer.spark_by_group().get("silver", {})
        merges = [s for s in tracer.named("catalog.merge")
                  if s["attrs"].get("table") == "sales_silver.orders"]
        listings = tracer.ms("bronze.list_objects")
        gold = {}
        for s in tracer.named("gold.run_job"):
            gold.setdefault(s["attrs"]["job"], []).append(s["end"] - s["start"])
        L = out.layers
        L["bronze.ingest_ms_p50"] = median(tracer.ms("bronze.ingest_batch"))
        L["bronze.validate_ms_p50"] = median(tracer.ms("bronze.validate_batch"))
        L["bronze.records_rejected"] = sum(b["bad"] for c in timed for b in c["batches"])
        L["bronze.bytes_written"] = bronze_bytes
        L["bronze.list_objects_ms_first"] = listings[0] if listings else 0.0
        L["bronze.list_objects_ms_last"] = listings[-1] if listings else 0.0
        L["bronze.objects_listed_last"] = objects
        L["silver.process_s_p50"] = median(tracer.ms("silver.process_endpoint")) / 1e3
        L["silver.jobs"] = silver.get("jobs", 0) / n
        L["silver.tasks"] = silver.get("tasks", 0) / n
        L["silver.cpu_ms"] = silver.get("cpu_ms", 0.0) / n
        L["silver.dedup_ratio"] = (sum(c["rows_written"] for c in timed)
                                   / max(1, sum(c["rows_in"] for c in timed)))
        L["catalog.merge_s_p50"] = median([s["end"] - s["start"] for s in merges])
        m = max(1, len(merges))
        L["catalog.files_rewritten_per_merge"] = sum(s["attrs"]["rewritten"] for s in merges) / m
        L["catalog.files_untouched_per_merge"] = sum(s["attrs"]["untouched"] for s in merges) / m
        L["catalog.write_amp"] = sum(s["attrs"]["new_bytes"] for s in merges) / max(1, bronze_bytes)
        L["catalog.files_total"] = n_files
        L["catalog.delete_insert_s_p50"] = median(tracer.ms("catalog.delete_insert")) / 1e3
        L["catalog.create_or_replace_s_p50"] = median(tracer.ms("catalog.create_or_replace")) / 1e3
        for job in ("daily_revenue", "report"):
            L[f"gold.{job}.job_s_p50"] = median(gold.get(job, []))


def _data_files(location: str) -> dict[str, int]:
    if not os.path.isdir(location):
        return {}
    return {
        f: os.path.getsize(os.path.join(location, f))
        for f in os.listdir(location)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    }
