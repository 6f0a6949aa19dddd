"""Name-rewrite and dialect-shim unit anchors (ports of the
reference's rewrite tests, tests/test_dbt_runner.py:36-150 and
tests/test_consumption.py:57-67)."""

from __future__ import annotations

import random
import re

from py4j.java_gateway import get_field

from serverless_data_lake_spark.plans.dialect import mask_literals, transpile
from serverless_data_lake_spark.plans.rewrite import (
    bronze_view_name,
    find_table_refs,
    rewrite_query,
)


class TestRewrite:
    def test_silver(self):
        assert (
            rewrite_query("SELECT * FROM sales.silver.orders")
            == "SELECT * FROM sales_silver.orders"
        )

    def test_gold(self):
        assert (
            rewrite_query("SELECT * FROM sales.gold.daily_revenue")
            == "SELECT * FROM sales_gold.daily_revenue"
        )

    def test_bronze_becomes_view(self):
        assert (
            rewrite_query("SELECT * FROM sales.bronze.orders")
            == f"SELECT * FROM {bronze_view_name('sales', 'orders')}"
        )

    def test_multiple_tables_with_aliases(self):
        sql = (
            "SELECT a.id, b.name FROM sales.silver.orders a "
            "JOIN sales.silver.customers b ON a.cust_id = b.id"
        )
        out = rewrite_query(sql)
        assert "sales_silver.orders a" in out
        assert "sales_silver.customers b" in out

    def test_different_domains(self):
        sql = (
            "SELECT * FROM sales.silver.orders o "
            "JOIN marketing.gold.campaigns c ON 1=1"
        )
        out = rewrite_query(sql)
        assert "sales_silver.orders" in out
        assert "marketing_gold.campaigns" in out

    def test_mixed_layers_union(self):
        sql = (
            "SELECT id FROM sales.silver.orders "
            "UNION SELECT id FROM sales.gold.summary"
        )
        out = rewrite_query(sql)
        assert "sales_silver.orders" in out and "sales_gold.summary" in out

    def test_no_rewrite_for_other_patterns(self):
        for sql in (
            "SELECT * FROM plain_table WHERE x = 1",
            "SELECT a.b.c.d FROM t",  # 4-part: inner 3 don't match layer
            "SELECT * FROM db.schema.table",  # layer not in bronze/silver/gold
            "SELECT * FROM a.silver.b.gold.c",  # a longer chain stays whole
            "SELECT * FROM cat.sales.silver.orders",
        ):
            assert rewrite_query(sql) == sql

    def test_find_refs_dedup_ordered(self):
        sql = (
            "SELECT * FROM sales.silver.orders o, sales.silver.orders o2, "
            "hr.bronze.people p"
        )
        assert find_table_refs(sql) == [
            ("sales", "silver", "orders"),
            ("hr", "bronze", "people"),
        ]

    def test_case_insensitive_layer(self):
        assert (
            rewrite_query("SELECT * FROM Sales.SILVER.Orders")
            == "SELECT * FROM Sales_silver.Orders"
        )


class TestDialect:
    def test_epoch_ms(self):
        assert transpile("SELECT epoch_ms(x) FROM t") == (
            "SELECT timestamp_millis(x) FROM t"
        )

    def test_to_timestamp_epoch_seconds(self):
        assert transpile("SELECT to_timestamp(x) FROM t") == (
            "SELECT timestamp_seconds(x) FROM t"
        )

    def test_list_contains(self):
        assert transpile("SELECT list_contains(arr, 'v') FROM t") == (
            "SELECT array_contains(arr, 'v') FROM t"
        )

    def test_array_length(self):
        assert transpile("SELECT array_length(arr) FROM t") == (
            "SELECT size(arr) FROM t"
        )

    def test_string_split(self):
        assert transpile("SELECT string_split(s, ',') FROM t") == (
            "SELECT split(s, ',') FROM t"
        )

    def test_exclude(self):
        assert transpile("SELECT * EXCLUDE (a, b) FROM t") == (
            "SELECT * EXCEPT (a, b) FROM t"
        )

    def test_rename_is_word_bounded(self):
        # "epoch_ms" inside an identifier must not rewrite.
        assert transpile("SELECT my_epoch_ms_col FROM t") == (
            "SELECT my_epoch_ms_col FROM t"
        )

    def test_rename_not_inside_literal_names(self):
        assert "timestamp_millis(" in transpile("SELECT EPOCH_MS(c) FROM t")

    def test_qualify_simple(self, spark):
        df = spark.sql(
            transpile(
                "SELECT id FROM (SELECT explode(sequence(1, 5)) AS id) "
                "QUALIFY row_number() OVER (ORDER BY id DESC) <= 2"
            )
        )
        assert sorted(r.id for r in df.collect()) == [4, 5]
        assert df.columns == ["id"]

    def test_qualify_with_tail(self, spark):
        df = spark.sql(
            transpile(
                "SELECT id, id % 2 AS par FROM (SELECT explode(sequence(1, 6)) AS id) "
                "QUALIFY row_number() OVER (PARTITION BY id % 2 ORDER BY id) = 1 "
                "ORDER BY id LIMIT 1"
            )
        )
        rows = df.collect()
        assert len(rows) == 1 and rows[0].id == 1


class TestLiteralMasking:
    """Regex rewrites must never mutate string literals (r1 advice:
    'epoch(x)' and 'sales.silver.orders' inside literals were
    silently rewritten)."""

    def test_rename_skips_literals(self):
        out = transpile("SELECT 'epoch(x)' AS lit, epoch(ts) AS e FROM t")
        assert "'epoch(x)'" in out and "unix_timestamp(ts)" in out

    def test_three_part_skips_literals(self):
        out = rewrite_query("SELECT 'a.silver.b' AS lit FROM sales.silver.orders")
        assert "'a.silver.b'" in out and "sales_silver.orders" in out

    def test_find_refs_skips_literals(self):
        assert find_table_refs("SELECT 'a.bronze.b' FROM x.silver.y") == [
            ("x", "silver", "y")
        ]

    def test_escaped_quotes_preserved(self):
        sql = "SELECT 'it''s epoch_ms(1)' AS lit FROM t"
        assert transpile(sql) == sql

    def test_quote_in_comment_hides_nothing(self):
        sql = (
            "SELECT o_orderkey, epoch_ms(ts) AS t -- don't double count\n"
            "FROM sales.silver.orders"
        )
        assert find_table_refs(sql) == [("sales", "silver", "orders")]
        assert transpile(rewrite_query(sql)) == (
            "SELECT o_orderkey, timestamp_millis(ts) AS t -- don't double count\n"
            "FROM sales_silver.orders"
        )

    def test_backslash_escape_ends_no_literal(self):
        sql = "SELECT 'it\\'s' AS a, o_orderkey FROM sales.silver.orders"
        assert find_table_refs(sql) == [("sales", "silver", "orders")]
        assert rewrite_query(sql) == (
            "SELECT 'it\\'s' AS a, o_orderkey FROM sales_silver.orders"
        )

    def test_double_quoted_string_untouched(self):
        sql = 'SELECT "sales.silver.orders" AS label, "epoch(x)" AS e'
        assert find_table_refs(sql) == []
        assert transpile(rewrite_query(sql)) == sql

    def test_ref_in_comment_neither_found_nor_rewritten(self):
        sql = (
            "SELECT 1 AS x /* was sales.silver.orders /* nested */ "
            "sales.gold.old */ -- see sales.bronze.events\nFROM t"
        )
        assert find_table_refs(sql) == []
        assert transpile(rewrite_query(sql)) == sql

    def test_hint_text_reaches_spark(self):
        sql = "SELECT /*+ BROADCAST(o) */ o.a FROM sales.silver.orders o"
        assert transpile(rewrite_query(sql)) == (
            "SELECT /*+ BROADCAST(o) */ o.a FROM sales_silver.orders o"
        )


class TestLexerMatchesSpark:
    """``mask_literals`` against Spark's own lexer (``SqlBaseLexer``)
    on seeded soup of the characters that start or end a token: every
    string, comment and backtick identifier must span the same text.
    Inputs Spark cannot lex (an unclosed token) are skipped; Spark
    rejects them before any plan runs."""

    PIECES = [
        "'", '"', "`", "\\", "--", "/*", "*/", "/*+", "\n", "\\\n", "\r",
        "\r\n", "r'", 'r"', "R'", "''", '""', "``", "\\'", '\\"', "a", "x",
        "_r", "1", " ", "*", "/", "-", "+", "(", ",",
    ]

    @staticmethod
    def _spark_masked(jvm, sql):
        """``sql`` masked the way ``mask_literals`` masks it, from the
        tokens Spark's lexer produces; None when Spark cannot lex it."""
        parser = jvm.org.apache.spark.sql.catalyst.parser
        lexer = parser.SqlBaseLexer(parser.UpperCaseCharStream(
            jvm.org.antlr.v4.runtime.CharStreams.fromString(sql)))
        lexer.removeErrorListeners()
        vocab = lexer.getVocabulary()
        out, n = [], 0
        for tok in lexer.getAllTokens():
            kind = vocab.getSymbolicName(tok.getType())
            text = sql[tok.getStartIndex() : tok.getStopIndex() + 1]
            if kind == "UNRECOGNIZED":
                return None
            if kind in ("STRING_LITERAL", "DOUBLEQUOTED_STRING"):
                text = f"\x00{n}\x00"
                n += 1
            elif kind in ("SIMPLE_COMMENT", "BRACKETED_COMMENT"):
                # Spark's line comment also holds its newline, which
                # mask_literals leaves in the text.
                m = re.fullmatch(r"(--(?:\\\n|[^\r\n])*)(\r?\n?)", text)
                text = f"\x01{n}\x01" + (m.group(2) if m else "")
                n += 1
            out.append(text)
        if get_field(lexer, "has_unclosed_bracketed_comment"):
            return None
        return "".join(out)

    def test_same_spans_as_spark(self, spark):
        rng = random.Random(0)
        checked = 0
        for _ in range(800):
            sql = "".join(rng.choice(self.PIECES) for _ in range(rng.randint(1, 12)))
            want = self._spark_masked(spark._jvm, sql)
            if want is not None:
                checked += 1
                assert mask_literals(sql)[0] == want, sql
        assert checked > 150


class TestDuckDBShims:
    def test_json_extract_string(self):
        assert transpile("SELECT json_extract_string(p, '$.k') FROM t") == (
            "SELECT get_json_object(p, '$.k') FROM t"
        )

    def test_unnest_lateral_comma(self):
        out = transpile(
            "SELECT t.id, u.val FROM my_table t, UNNEST(t.arr) AS u(val)"
        )
        assert "LATERAL VIEW explode(t.arr) u AS val" in out
        assert "UNNEST" not in out.upper() or "explode" in out

    def test_unnest_lateral_cross_join(self):
        out = transpile(
            "SELECT t.id, u.val FROM t CROSS JOIN "
            "UNNEST(string_split(t.s, ',')) AS u(val) WHERE u.val <> ''"
        )
        assert "LATERAL VIEW explode(split(t.s, ',')) u AS val" in out
        assert "WHERE u.val <> ''" in out

    def test_unnest_select_position(self, spark):
        rows = spark.sql(
            transpile("SELECT unnest(array(1, 2, 3)) AS x")
        ).collect()
        assert sorted(r.x for r in rows) == [1, 2, 3]

    def test_unnest_lateral_runs(self, spark):
        rows = spark.sql(
            transpile(
                "SELECT t.id, u.val FROM (SELECT 1 AS id, array('a','b') AS arr) t, "
                "UNNEST(t.arr) AS u(val)"
            )
        ).collect()
        assert sorted((r.id, r.val) for r in rows) == [(1, "a"), (1, "b")]

    def test_from_json_array_descriptor(self):
        out = transpile("SELECT from_json(c, '[\"VARCHAR\"]') FROM t")
        assert "'array<string>'" in out

    def test_from_json_struct_descriptor(self):
        out = transpile(
            'SELECT from_json(j, \'{"k": "INTEGER", "v": "VARCHAR"}\').k FROM t'
        )
        assert "'struct<k:int,v:string>'" in out

    def test_from_json_spark_ddl_untouched(self):
        sql = "SELECT from_json(props, 'k INT').k FROM events"
        assert transpile(sql) == sql

    def test_from_json_nested_descriptor(self):
        out = transpile('SELECT from_json(j, \'{"xs": ["DOUBLE"]}\') FROM t')
        assert "'struct<xs:array<double>>'" in out

    def test_star_replace_single(self, spark):
        rows = spark.sql(
            transpile(
                "SELECT * REPLACE (x * 2 AS x) FROM (SELECT 3 AS x, 'a' AS y)"
            )
        ).collect()
        assert rows[0].x == 6 and rows[0].y == "a"

    def test_star_replace_multi(self, spark):
        rows = spark.sql(
            transpile(
                "SELECT * REPLACE (x + 1 AS x, upper(y) AS y) "
                "FROM (SELECT 1 AS x, 'a' AS y, 9 AS z)"
            )
        ).collect()
        assert (rows[0].x, rows[0].y, rows[0].z) == (2, "A", 9)

    def test_replace_keyword_in_function_untouched(self):
        # replace(...) the string function must survive.
        sql = "SELECT replace(s, 'a', 'b') FROM t"
        assert transpile(sql) == sql

    def test_arrow_key(self):
        assert transpile("SELECT props ->> 'k' FROM t") == (
            "SELECT get_json_object(props, '$.k') FROM t"
        )

    def test_arrow_jsonpath_and_qualified(self):
        assert transpile("SELECT t.props->>'$.a.b' FROM e t") == (
            "SELECT get_json_object(t.props, '$.a.b') FROM e t"
        )

    def test_arrow_paren_lhs(self):
        out = transpile("SELECT (x) ->> 'k' FROM t")
        assert out == "SELECT get_json_object((x), '$.k') FROM t"

    def test_arrow_inside_literal_untouched(self):
        sql = "SELECT 'a ->> ''k'' b' AS lit FROM t"
        assert transpile(sql) == sql

    def test_arrow_runs(self, spark):
        rows = spark.sql(
            transpile("""SELECT '{"k": 7}' ->> 'k' AS k""")
        ).collect()
        assert rows[0].k == "7"


class TestEpochMsOverload:
    """DuckDB ``epoch_ms`` is overloaded by argument type; the engine
    statically picks bigint→timestamp and retries timestamp→bigint on
    analysis failure (dialect.reverse_epoch_ms + QueryEngine)."""

    def test_bigint_direction_unchanged(self):
        assert transpile("SELECT epoch_ms(1700000000000) AS t") == (
            "SELECT timestamp_millis(1700000000000) AS t"
        )

    def test_reverse_flips_only_epoch_ms(self):
        from serverless_data_lake_spark.plans.dialect import reverse_epoch_ms

        out = reverse_epoch_ms(
            "SELECT epoch_ms(ts) AS ms, timestamp_millis(n) AS t, "
            "'epoch_ms(1)' AS lit FROM t"
        )
        assert "unix_millis(ts)" in out
        assert "timestamp_millis(n)" in out  # user-written call untouched
        assert "'epoch_ms(1)'" in out  # literal untouched
        assert reverse_epoch_ms("SELECT x FROM t") is None

    def test_timestamp_direction_via_engine(self, spark, tmp_path):
        import duckdb

        from serverless_data_lake_spark.config import LakeConfig
        from serverless_data_lake_spark.plans.query import QueryEngine

        eng = QueryEngine(spark, LakeConfig(root=str(tmp_path)))
        df = eng.dataframe(
            "SELECT epoch_ms(TIMESTAMP '2026-01-02 03:04:05.678') AS ms"
        )
        want = duckdb.sql(
            "SELECT epoch_ms(TIMESTAMP '2026-01-02 03:04:05.678') AS ms"
        ).fetchone()[0]
        assert df.collect()[0].ms == want

    def test_both_directions_still_usable_separately(self, spark, tmp_path):
        from serverless_data_lake_spark.config import LakeConfig
        from serverless_data_lake_spark.plans.query import QueryEngine

        eng = QueryEngine(spark, LakeConfig(root=str(tmp_path)))
        ts = eng.dataframe("SELECT epoch_ms(86400000) AS t").collect()[0].t
        assert ts.year == 1970 and ts.day == 2


class TestQualifyNested:
    def test_qualify_inside_cte(self, spark):
        from serverless_data_lake_spark.plans.dialect import transpile

        q = (
            "WITH ranked AS ("
            "  SELECT id, id % 3 AS grp FROM (SELECT explode(sequence(1, 9)) AS id)"
            "  QUALIFY row_number() OVER (PARTITION BY id % 3 ORDER BY id) = 1"
            ") SELECT grp, id FROM ranked ORDER BY grp"
        )
        rows = spark.sql(transpile(q)).collect()
        assert [(r.grp, r.id) for r in rows] == [(0, 3), (1, 1), (2, 2)]
