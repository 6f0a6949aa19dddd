"""Property-based tests (hypothesis): the string-handling layers must
be total functions — never crash, never let a write statement
through, never produce invalid identifiers."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from serverless_data_lake_spark.config import LakeConfig
from serverless_data_lake_spark.plans.dialect import transpile
from serverless_data_lake_spark.plans.query import QueryEngine
from serverless_data_lake_spark.plans.rewrite import rewrite_query
from serverless_data_lake_spark.plans.validate import QueryValidationError
from serverless_data_lake_spark.schema.inference import (
    infer_type_from_value,
    to_snake_case,
)
from serverless_data_lake_spark.sources.rest import detect_data_path, extract_path

_IDENT_RE = re.compile(r"^[a-z_][a-z0-9_]*$")

sql_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=300
)
# Printable text that can open no string, identifier or comment and end
# no statement: after it, an appended statement is always code.
code_text = st.text(
    alphabet=st.characters(
        min_codepoint=32, max_codepoint=126,
        exclude_characters="-/'\"`\\;",
    ),
    max_size=300,
)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    return QueryEngine(spark, LakeConfig(root=str(tmp_path_factory.mktemp("lake"))))


class TestValidatorTotality:
    """The engine's gate (text checks, then Spark's parser and function
    lookup): a text-only check would pass ``SELECT 1; DROP TABLE t``."""

    @given(sql=st.one_of(sql_text, sql_text.map("SELECT {}".format)))
    @settings(max_examples=300, deadline=None)
    def test_never_crashes(self, engine, sql):
        try:
            engine.parse(sql)
        except QueryValidationError:
            pass  # rejection is fine; crashing is not

    @given(body=code_text)
    @settings(max_examples=300, deadline=None)
    def test_write_statements_never_pass(self, engine, body):
        """``SELECT`` + text that cannot hide what follows, then a
        write statement: the write is code whatever the draw, so the
        gate refuses the whole text."""
        for stmt in ("DROP TABLE t", "INSERT INTO t VALUES (1)"):
            with pytest.raises(QueryValidationError):
                engine.parse(f"SELECT {body}; {stmt}")

    @given(kw=st.sampled_from([
        "DELETE", "DROP", "INSERT", "UPDATE", "CREATE", "MERGE", "COPY",
    ]), tail=sql_text)
    @settings(max_examples=100, deadline=None)
    def test_keyword_anywhere_rejected(self, engine, kw, tail):
        # A bare write keyword followed by arbitrary text never passes.
        try:
            engine.parse(f"{kw} {tail}")
            raise AssertionError("write keyword passed the gate")
        except QueryValidationError:
            pass


# Dotted names of 4-6 parts, where a three-part rewrite must leave the
# chain whole: a.silver.b.gold.c once became a_silver.b.gold.c, and a
# second pass then rewrote b.gold.c.
dotted_chain = st.lists(
    st.sampled_from(["a", "b", "sales", "silver", "gold", "bronze"]),
    min_size=4, max_size=6,
).map(lambda parts: "SELECT * FROM " + ".".join(parts))


class TestRewriteTotality:
    @given(st.one_of(sql_text, dotted_chain))
    @settings(max_examples=300, deadline=None)
    def test_rewrite_never_crashes_and_is_idempotent(self, sql):
        once = rewrite_query(sql)
        assert rewrite_query(once) == once  # no three-part refs remain

    @given(sql_text)
    @settings(max_examples=300, deadline=None)
    def test_transpile_never_crashes(self, sql):
        transpile(sql)


class TestSnakeCase:
    @given(st.text(max_size=60))
    @settings(max_examples=300, deadline=None)
    def test_always_valid_identifier(self, name):
        out = to_snake_case(name)
        assert _IDENT_RE.match(out), out

    @given(st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122),
                   min_size=1, max_size=30))
    @settings(max_examples=200, deadline=None)
    def test_idempotent_on_lower(self, name):
        assert to_snake_case(to_snake_case(name)) == to_snake_case(name)


json_values = st.recursive(
    st.none() | st.booleans() | st.integers() | st.floats(allow_nan=False)
    | st.text(max_size=20),
    lambda children: st.lists(children, max_size=4)
    | st.dictionaries(st.text(max_size=8), children, max_size=4),
    max_leaves=10,
)


class TestInferenceTotality:
    @given(json_values)
    @settings(max_examples=300, deadline=None)
    def test_every_json_value_infers(self, value):
        infer_type_from_value(value)  # must never raise


class TestDataPathTotality:
    @given(json_values)
    @settings(max_examples=300, deadline=None)
    def test_detect_never_crashes(self, body):
        path = detect_data_path(body)
        if path is not None:
            assert extract_path(body, path) is not None


class TestDifferentialFuzz:
    def test_random_queries_match_duckdb(self, spark):
        """Differential check: random grammar-generated queries through
        the full engine path must match DuckDB exactly (small count
        here; tools/fuzz_oracle.py runs the big sweep)."""
        import random

        import duckdb

        from serverless_data_lake_spark.testdata import ensure_catalog
        from tools.fuzz_oracle import canon, gen_query

        sf_dir = "/root/testdata/sf0.001"
        engine = ensure_catalog(spark, sf_dir)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'"
        )
        rng = random.Random(7)
        for _ in range(10):
            q = gen_query(rng)
            sdf = engine.dataframe(q)
            srows = [tuple(canon(r[c]) for c in sdf.columns)
                     for r in sdf.collect()]
            cur = con.execute(q.replace("tpch.silver.", ""))
            drows = [tuple(canon(v) for v in row) for row in cur.fetchall()]
            assert srows == drows, q


class TestSamplingProperties:
    """Pure-Python invariants of the hash-unit sampling math (no
    Spark session needed — the column expression mirrors this
    arithmetic; cross-engine equality is covered by the driver
    oracles)."""

    @given(st.integers(min_value=0, max_value=2**62), st.text(max_size=8))
    @settings(max_examples=300, deadline=None)
    def test_hash_unit_range_and_determinism(self, key, salt):
        import hashlib

        h = hashlib.md5(f"{salt}{key}".encode()).hexdigest()
        unit = int(h[:8], 16) / float(1 << 32)
        assert 0.0 <= unit < 1.0
        h2 = hashlib.md5(f"{salt}{key}".encode()).hexdigest()
        assert int(h2[:8], 16) / float(1 << 32) == unit

    @given(
        st.lists(
            st.integers(min_value=0, max_value=10**9),
            min_size=50,
            max_size=200,
            unique=True,
        )
    )
    @settings(max_examples=50, deadline=None)
    def test_split_bounds_partition_every_key(self, keys):
        import hashlib

        bounds = [("train", 0.8), ("val", 0.9), ("test", 1.0)]
        seen = set()
        for k in keys:
            u = int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) / float(
                1 << 32
            )
            name = next(n for n, b in bounds if u < b or b == 1.0)
            seen.add(name)
            assert name in {"train", "val", "test"}
        # Every key lands somewhere; with ≥50 keys train is hit.
        assert "train" in seen


class TestChunkMath:
    """Chunk-window arithmetic invariants (mirrors chunk_documents)."""

    @given(
        st.integers(min_value=0, max_value=500),
        st.integers(min_value=2, max_value=64),
        st.integers(min_value=0, max_value=32),
    )
    @settings(max_examples=300, deadline=None)
    def test_chunks_cover_every_token(self, n_tokens, chunk, overlap):
        import math

        if overlap >= chunk:
            return
        step = chunk - overlap
        k = max(1, math.ceil((n_tokens - overlap) / step))
        covered = set()
        for i in range(k):
            covered.update(range(i * step, min(i * step + chunk, n_tokens)))
        assert covered == set(range(n_tokens))
        # No chunk starts beyond the data (except the single chunk of
        # an empty doc).
        if n_tokens:
            assert (k - 1) * step < n_tokens
