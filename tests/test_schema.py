"""Schema system anchors: inference (tests/test_endpoints.py),
validation coercions (tests/test_ingestion.py:242+), registry
versioning (tests/test_schema_registry.py)."""

from __future__ import annotations

import pytest

from serverless_data_lake_spark.schema.inference import (
    detect_primary_key,
    infer_schema_from_payload,
    infer_type_from_value,
    to_snake_case,
)
from serverless_data_lake_spark.schema.registry import GoldJobConfig, SchemaRegistry
from serverless_data_lake_spark.schema.types import ColumnDef, DataType, EndpointSchema
from serverless_data_lake_spark.schema.validation import (
    ValidationError,
    validate_batch,
    validate_record,
)


class TestInference:
    @pytest.mark.parametrize(
        ("value", "expected"),
        [
            (True, DataType.BOOLEAN),  # bool BEFORE int
            (False, DataType.BOOLEAN),
            (42, DataType.INTEGER),
            (3.14, DataType.FLOAT),
            (["a"], DataType.ARRAY),
            ({"k": 1}, DataType.JSON),
            ("2024-01-15T10:30:00Z", DataType.TIMESTAMP),
            ("2024-01-15 10:30:00", DataType.TIMESTAMP),
            ("2024-01-15", DataType.DATE),
            ("hello", DataType.STRING),
            (None, DataType.STRING),
            ("2024-13-99", DataType.DATE),  # pattern-only, like the reference
        ],
    )
    def test_type_inference(self, value, expected):
        assert infer_type_from_value(value) is expected

    @pytest.mark.parametrize(
        ("raw", "snake"),
        [
            ("orderId", "order_id"),
            ("totalAmount", "total_amount"),
            ("HTTPResponse", "http_response"),
            ("already_snake", "already_snake"),
            ("with-dash and space", "with_dash_and_space"),
            ("weird!!chars", "weirdchars"),
            ("9lives", "_9lives"),
        ],
    )
    def test_snake_case(self, raw, snake):
        assert to_snake_case(raw) == snake

    def test_payload_inference_f3(self):
        """FIXTURES.md F3 payload."""
        schema = infer_schema_from_payload(
            "d", "e",
            {"orderId": "abc123", "totalAmount": 99.90, "quantity": 5,
             "isPaid": True, "createdAt": "2024-01-15T10:30:00Z",
             "tags": ["a", "b"], "meta": {"k": "v"}, "note": None},
        )
        cols = {c.name: c for c in schema.columns}
        assert cols["order_id"].type is DataType.STRING
        assert cols["total_amount"].type is DataType.FLOAT
        assert cols["quantity"].type is DataType.INTEGER
        assert cols["is_paid"].type is DataType.BOOLEAN
        assert cols["created_at"].type is DataType.TIMESTAMP
        assert cols["tags"].type is DataType.ARRAY
        assert cols["meta"].type is DataType.JSON
        assert cols["note"].type is DataType.STRING
        assert cols["note"].required is False
        assert not any(c.primary_key for c in schema.columns)  # no id/uuid/key

    def test_pk_heuristics(self):
        recs = [{"id": 1, "x": "a"}, {"id": 2, "x": "a"}]
        assert detect_primary_key(recs) == "id"
        recs = [{"post_id": 1, "n": "a"}, {"post_id": 2, "n": "b"}]
        assert detect_primary_key(recs, "posts") == "post_id"
        recs = [{"name": "luke", "h": 1}, {"name": "leia", "h": 2}]
        assert detect_primary_key(recs) == "name"
        recs = [{"id": 1}, {"id": 1}]  # not unique
        assert detect_primary_key(recs) is None


COLS = [
    ColumnDef("order_id", DataType.INTEGER, required=True, primary_key=True),
    ColumnDef("total_amount", DataType.DECIMAL, required=True),
    ColumnDef("is_paid", DataType.BOOLEAN),
    ColumnDef("created_at", DataType.TIMESTAMP),
    ColumnDef("tags", DataType.ARRAY),
    ColumnDef("meta", DataType.JSON),
]


class TestValidation:
    def test_coercions(self):
        rec = validate_record(
            {"order_id": "7", "total_amount": "9.5", "is_paid": "true",
             "created_at": "2024-01-15T10:30:00Z", "tags": [1], "meta": {}},
            COLS, strict=True,
        )
        assert rec["order_id"] == 7
        assert rec["total_amount"] == 9.5
        assert rec["is_paid"] is True

    def test_missing_required_strict(self):
        with pytest.raises(ValidationError, match="total_amount"):
            validate_record({"order_id": 1}, COLS, strict=True)

    def test_non_strict_passes_original(self):
        rec = {"order_id": "not-an-int", "total_amount": 1.0}
        out = validate_record(rec, COLS, strict=False)
        assert out == rec  # original, not coerced

    def test_bool_not_int(self):
        with pytest.raises(ValidationError):
            validate_record({"order_id": True, "total_amount": 1.0}, COLS, strict=True)

    def test_bad_timestamp(self):
        with pytest.raises(ValidationError, match="created_at"):
            validate_record(
                {"order_id": 1, "total_amount": 1.0, "created_at": "nope"},
                COLS, strict=True,
            )

    def test_batch_partial_failure(self):
        recs = [
            {"order_id": 1, "total_amount": 1.0},
            {"order_id": "bad"},
            {"order_id": 3, "total_amount": 3.0},
        ]
        accepted, failures = validate_batch(recs, COLS, strict=True)
        assert [r["order_id"] for r in accepted] == [1, 3]
        assert failures[0]["index"] == 1
        # non-strict: failing record passes through
        accepted, failures = validate_batch(recs, COLS, strict=False)
        assert len(accepted) == 3 and len(failures) == 1


class TestRegistry:
    def test_versioning(self, tmp_path):
        reg = SchemaRegistry(str(tmp_path))
        s = EndpointSchema(domain="sales", name="orders", columns=COLS)
        assert reg.register(s) == 1
        assert reg.register(s) == 2
        assert reg.list_versions("sales", "orders") == [1, 2]
        assert reg.get("sales", "orders").name == "orders"
        assert reg.get("sales", "orders", version=1) is not None
        assert reg.get("nope", "orders") is None

    def test_silver_idempotent(self, tmp_path):
        reg = SchemaRegistry(str(tmp_path))
        s = EndpointSchema(domain="sales", name="orders", columns=COLS)
        v1 = reg.register_silver(s)
        v2 = reg.register_silver(s)
        assert v1 == v2 == 1
        s2 = EndpointSchema(
            domain="sales", name="orders",
            columns=COLS + [ColumnDef("extra", DataType.STRING)],
        )
        assert reg.register_silver(s2) == 2

    def test_gold_jobs(self, tmp_path):
        reg = SchemaRegistry(str(tmp_path))
        job = GoldJobConfig(domain="sales", name="rev", query="SELECT 1",
                            write_mode="append", unique_key=["day"])
        reg.save_gold_job("sales", job)
        got = reg.get_gold_job("sales", "rev")
        assert got.unique_key == ["day"]
        assert [j.name for j in reg.list_gold_jobs()] == ["rev"]

    def test_unique_key_string_normalized(self):
        job = GoldJobConfig.from_dict(
            {"domain": "d", "name": "n", "query": "q", "unique_key": "day"}
        )
        assert job.unique_key == ["day"]

    def test_endpoint_listing(self, tmp_path):
        reg = SchemaRegistry(str(tmp_path))
        reg.register(EndpointSchema(domain="a", name="t1", columns=COLS))
        reg.register(EndpointSchema(domain="b", name="t2", columns=COLS))
        assert reg.list_endpoints() == [("a", "t1"), ("b", "t2")]
