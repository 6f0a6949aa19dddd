"""HTTP facade + chart heuristic (reference docs/api-reference.md
routes and chat_api/tools.py:94-128)."""

from __future__ import annotations

import datetime as dt
import json
import urllib.error
import urllib.request
from urllib.parse import quote

import pytest
from test_validate import BYPASSES, METADATA_LEAKS, SPOOFS

from serverless_data_lake_spark.serving import LakeServer
from serverless_data_lake_spark.serving.chart import suggest_chart


class TestChart:
    def test_needs_two_rows(self):
        assert suggest_chart([{"a": 1}]) is None

    def test_needs_numeric(self):
        assert suggest_chart([{"a": "x"}, {"a": "y"}]) is None

    def test_bar_default(self):
        spec = suggest_chart(
            [{"seg": "A", "n": 1}, {"seg": "B", "n": 2}], "counts by segment"
        )
        assert spec["type"] == "bar"
        assert spec["x"] == "seg" and spec["y"] == ["n"]

    def test_line_for_dates(self):
        spec = suggest_chart(
            [{"day": dt.date(2024, 1, 1), "v": 1.0},
             {"day": dt.date(2024, 1, 2), "v": 2.0}],
            "revenue over time",
        )
        assert spec["type"] == "line"
        assert spec["data"][0]["day"] == "2024-01-01"

    def test_pie_for_share(self):
        spec = suggest_chart(
            [{"seg": "A", "n": 1, "m": 5}, {"seg": "B", "n": 2, "m": 6}],
            "what is the share of each segment?",
        )
        assert spec["type"] == "pie"
        assert spec["y"] == ["n"]  # single series for pie

    def test_caps_50_points(self):
        rows = [{"k": str(i), "v": i} for i in range(100)]
        assert len(suggest_chart(rows, "")["data"]) == 50

    def test_max_three_series(self):
        rows = [{"k": "a", "m1": 1, "m2": 2, "m3": 3, "m4": 4}] * 2
        assert suggest_chart(rows, "")["y"] == ["m1", "m2", "m3"]


@pytest.fixture()
def server(lake):
    lake.ingest_batch("sales", "orders", [
        {"order_id": 1, "customer_id": 1, "total_amount": 10.0,
         "created_at": "2024-01-01T00:00:00Z"},
        {"order_id": 2, "customer_id": 2, "total_amount": 20.0,
         "created_at": "2024-01-02T00:00:00Z"},
    ])
    lake.process_silver("sales", "orders")
    srv = LakeServer(lake)
    port = srv.start()
    yield f"http://127.0.0.1:{port}"
    srv.stop()


def _get(url):
    with urllib.request.urlopen(url) as resp:
        return resp.status, json.loads(resp.read())


def _post(url, payload):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


class TestHttpApi:
    def test_query_roundtrip(self, server):
        sql = quote("SELECT order_id, total_amount FROM sales.silver.orders ORDER BY order_id")
        status, body = _get(f"{server}/consumption/query?sql={sql}")
        assert status == 200
        assert body["row_count"] == 2
        assert body["rows"][0]["total_amount"] == 10.0
        assert body["truncated"] is False

    @pytest.mark.parametrize(
        "sql, reason",
        [
            ("DROP TABLE x", "SELECT"),
            *((q, "reflect") for q in BYPASSES),
            *((q, "string literal") for q in SPOOFS),
            ("SELECT try_reflect('java.lang.System','getProperty','user.home') AS h",
             "try_reflect"),
            ("SELECT * FROM text.`/etc/hostname`", "not found"),
            *((q.format(t="sales.silver.orders"), "_metadata")
              for q in METADATA_LEAKS),
        ],
    )
    def test_query_validation_400(self, server, sql, reason):
        try:
            _get(f"{server}/consumption/query?sql={quote(sql)}")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as err:
            assert err.code == 400
            assert reason in json.loads(err.read())["error"]

    @pytest.mark.parametrize(
        "sql, code, condition",
        [
            ("SELECT nope FROM {t}", 400, "UNRESOLVED_COLUMN"),
            ("SELECT s.nope FROM (SELECT named_struct('a', 1) AS s)", 400,
             "FIELD_NOT_FOUND"),
            ("SELECT order_id FROM {t} a JOIN {t} b ON true", 400,
             "AMBIGUOUS_REFERENCE"),
            ("SELECT order_id + array(1) AS x FROM {t}", 400,
             "DATATYPE_MISMATCH"),
            ("SELECT abs(1, 2) AS x", 400, "WRONG_NUM_ARGS"),
            ("SELECT order_id FROM {t} GROUP BY total_amount", 400,
             "MISSING_AGGREGATION"),
            ("SELECT sum(order_id), total_amount FROM {t}", 400,
             "MISSING_GROUP_BY"),
            # A storage fault, not the query's: an endpoint with no
            # bronze objects.
            ("SELECT * FROM sales.bronze.nothing_ingested", 500,
             "PATH_NOT_FOUND"),
        ],
    )
    def test_analysis_error_status(self, lake, server, sql, code, condition):
        """An analysis error that is the query's own fault answers 400
        like the gate; a storage fault stays 500. Both scrub paths."""
        sql = sql.format(t="sales.silver.orders")
        with pytest.raises(urllib.error.HTTPError) as err:
            _get(f"{server}/consumption/query?sql={quote(sql)}")
        assert err.value.code == code
        msg = json.loads(err.value.read())["error"]
        assert condition in msg and lake.config.root not in msg

    def test_tables_listing(self, server):
        status, body = _get(f"{server}/consumption/tables")
        names = {(t["domain"], t["layer"], t["table"]) for t in body["tables"]}
        assert ("sales", "silver", "orders") in names

    def test_ingest_and_process(self, server):
        status, body = _post(f"{server}/ingest/sales/orders", {
            "order_id": 3, "customer_id": 3, "total_amount": 30.0,
            "created_at": "2024-01-03T00:00:00Z",
        })
        assert status == 200 and body["accepted"] == 1
        status, body = _post(f"{server}/process/sales/orders", {})
        assert status == 200
        sql = quote("SELECT COUNT(*) AS n FROM sales.silver.orders")
        _, body = _get(f"{server}/consumption/query?sql={sql}")
        assert body["rows"][0]["n"] == 3

    def test_gold_job_lifecycle(self, server):
        status, body = _post(f"{server}/transform/jobs", {
            "domain": "sales", "name": "rev",
            "query": ("SELECT CAST(created_at AS DATE) AS day, "
                      "CAST(SUM(CAST(total_amount AS DECIMAL(38,4))) AS DOUBLE) AS revenue "
                      "FROM sales.silver.orders GROUP BY 1"),
            "write_mode": "overwrite",
        })
        assert status == 201
        status, body = _post(f"{server}/transform/jobs/sales/rev/run", {})
        assert status == 200 and body["rows"] == 2
        status, body = _get(f"{server}/transform/jobs/sales/rev/status")
        assert status == 200 and body["status"] == "SUCCEEDED"

    def test_chart_in_query_response(self, server):
        sql = quote(
            "SELECT CAST(created_at AS DATE) AS day, "
            "CAST(SUM(CAST(total_amount AS DECIMAL(38,4))) AS DOUBLE) AS revenue "
            "FROM sales.silver.orders GROUP BY 1 ORDER BY 1"
        )
        _, body = _get(f"{server}/consumption/query?sql={sql}")
        assert body["chart"]["type"] == "line"
        assert body["chart"]["x"] == "day"

    def test_unknown_route_404(self, server):
        try:
            _get(f"{server}/nope")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as err:
            assert err.code == 404


class TestStatusAndListing:
    def test_failed_job_records_status(self, lake):
        from serverless_data_lake_spark.schema.registry import GoldJobConfig
        import pytest as _pytest

        lake.create_gold_job(GoldJobConfig(
            domain="sales", name="broken",
            query="SELECT * FROM sales.silver.does_not_exist",
        ))
        with _pytest.raises(Exception):
            lake.run_gold("sales", "broken")
        status = lake.registry.get_execution_status("sales", "broken")
        assert status["status"] == "FAILED"
        assert "does_not_exist" in status["error"]

    def test_bronze_endpoint_in_listing_before_silver(self, lake):
        from serverless_data_lake_spark.schema.types import (
            ColumnDef, DataType, EndpointSchema,
        )

        lake.create_endpoint(EndpointSchema(
            domain="new", name="fresh",
            columns=[ColumnDef("id", DataType.INTEGER, primary_key=True)],
        ))
        tables = lake.list_tables()
        bronze = [t for t in tables
                  if t["layer"] == "bronze" and t["table"] == "fresh"]
        assert bronze and bronze[0]["columns"][0]["name"] == "id"


class TestAuth:
    """x-api-key gate (reference authorizer/main.py:41-59): with a key
    configured, requests without/with-wrong key get 401; the right key
    passes. Unset key = open (reference local default)."""

    @pytest.fixture()
    def auth_server(self, lake):
        srv = LakeServer(lake, api_key="sekret")
        port = srv.start()
        yield f"http://127.0.0.1:{port}"
        srv.stop()

    def _get_raw(self, url, headers=None):
        req = urllib.request.Request(url, headers=headers or {})
        try:
            with urllib.request.urlopen(req) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as exc:
            return exc.code, json.loads(exc.read())

    def test_missing_key_401(self, auth_server):
        status, body = self._get_raw(f"{auth_server}/consumption/tables")
        assert status == 401 and body["error"] == "unauthorized"

    def test_wrong_key_401(self, auth_server):
        status, _ = self._get_raw(
            f"{auth_server}/consumption/tables", {"x-api-key": "nope"}
        )
        assert status == 401

    def test_right_key_ok(self, auth_server):
        status, body = self._get_raw(
            f"{auth_server}/consumption/tables", {"x-api-key": "sekret"}
        )
        assert status == 200 and "tables" in body

    def test_post_requires_key(self, auth_server):
        req = urllib.request.Request(
            f"{auth_server}/process/sales/orders", data=b"{}",
            headers={"Content-Type": "application/json"}, method="POST",
        )
        try:
            with urllib.request.urlopen(req) as resp:
                status = resp.status
        except urllib.error.HTTPError as exc:
            status = exc.code
        assert status == 401


class TestProfileEndpoint:
    def test_profile_route(self, server):
        status, body = _get(
            f"{server}/consumption/profile/sales/silver/orders"
        )
        assert status == 200
        prof = {p["column"]: p for p in body["profile"]}
        assert prof["order_id"]["n_rows"] == 2
        assert prof["order_id"]["n_distinct"] == 2
        assert prof["order_id"]["n_nulls"] == 0
        assert prof["order_id"]["min_value"] == "1"

    def test_profile_approx_mode(self, server):
        status, body = _get(
            f"{server}/consumption/profile/sales/silver/orders?approx=true"
        )
        assert status == 200
        prof = {p["column"]: p for p in body["profile"]}
        # HLL on 2 rows is exact.
        assert prof["order_id"]["n_distinct"] == 2
