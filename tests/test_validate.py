"""SQL-gate cases (ports the reference's ~20 security cases,
tests/test_consumption.py:278-367), run through the engine's gate:
the text checks, then Spark's parser, function registry and analyzer
in the session the engine hardened."""

from __future__ import annotations

import pytest

from serverless_data_lake_spark.config import LakeConfig
from serverless_data_lake_spark.plans.query import QueryEngine
from serverless_data_lake_spark.plans.validate import (
    QueryValidationError,
    validate_query,
)


#: A catalog table over parquet files, as every lake table is.
FILES = "gate_files"


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("lake")
    spark.range(3).write.parquet(str(root / "files"))
    spark.sql(f"DROP TABLE IF EXISTS {FILES}")
    spark.sql(
        f"CREATE TABLE {FILES} USING parquet LOCATION '{root / 'files'}'"
    )
    return QueryEngine(spark, LakeConfig(root=str(root)))


ALLOWED = [
    "SELECT 1",
    "select * from sales.silver.orders",
    "WITH x AS (SELECT 1 AS a) SELECT * FROM x",
    "SELECT 'DROP TABLE users' AS s",  # keyword inside a literal
    "SELECT /* delete nothing */ 1",  # keyword inside a comment
    "SELECT a FROM t WHERE note = 'please truncate this'",
    "SELECT 1;",  # trailing semicolon ok
    "SELECT created_at FROM t",  # 'create' substring of identifier
    "  \n SELECT 1",
    "/* lead */ SELECT 1",
    "SELECT 1 AS `it's`",  # a quote inside an identifier opens no string
    "SELECT 'a--b' AS s",  # a comment marker inside a literal
    'SELECT "x" AS s',  # double quotes are a string in Spark
    "SELECT 1 /* a /* b */ c */",  # comments nest
    "SELECT /*+ MERGE(t) */ * FROM t",  # a hint name is not a statement
    "SELECT '\x00' AS s /* \x01 */",  # only code may not hold them
    "SELECT 1 AS set",  # a statement keyword is a name here
    "SELECT o.use FROM t o",
    "SELECT a FROM t QUALIFY row_number() OVER (ORDER BY a) = 1;",  # ; dropped first
]

_REFLECT = "reflect('java.lang.System','getProperty','user.name')"

# Each passed the gate while a second scanner disagreed with Spark's
# lexer about where a string or comment ends, and Spark then ran the
# call the gate never saw.
BYPASSES = [
    f"SELECT '--' AS a, {_REFLECT}",
    f"SELECT '/*' AS a, {_REFLECT}, '*/' AS b",
    f'SELECT "--" AS a, {_REFLECT}',
    f"SELECT 'x\\'' AS a, {_REFLECT}",  # backslash escape
    "SELECT `reflect`('java.lang.System','getProperty','user.name')",
    f"SELECT 1 AS a /* /* */ ' */ , {_REFLECT} -- '",  # nested comment
    f"SELECT /*+ FOO('*/') */ {_REFLECT} AS a -- '",  # a hint is code
    f"SELECT 1 AS a -- \\\n'\n, {_REFLECT} -- '",  # continued comment
]

_REFLECT_DQ = 'reflect("java.lang.System","getProperty","user.name")'

# A NUL or \x01 outside a string would read as one of the lexer's
# placeholders, and the rewrite would splice a string's text there as
# code: after r it reads as a raw string, in backticks it ends the name.
SPOOFS = [
    f"SELECT '\\' , {_REFLECT_DQ} , ' AS a, r\x000\x00 AS b --'",
    f"SELECT '\\' , {_REFLECT_DQ} , ' AS a, r\x010\x01 AS b --'",
    f"SELECT '` , {_REFLECT_DQ} AS c, 1 AS `' AS a, 1 AS `\x000\x00`",
]

# Each reads the hidden _metadata column of a file relation ``{t}``,
# whose fields hold every row's storage path.
METADATA_LEAKS = [
    "SELECT _metadata.file_path FROM {t}",
    "SELECT t._metadata FROM {t} t",
    "SELECT 1 AS a FROM {t} WHERE _metadata.file_name LIKE '%'",
    "WITH c AS (SELECT _metadata.file_path AS p FROM {t}) SELECT * FROM c",
    "SELECT (SELECT max(_metadata.file_path) FROM {t}) AS p",
    "SELECT 1 AS a WHERE EXISTS (SELECT _metadata FROM {t})",
    "SELECT 1 AS a WHERE 'x' IN (SELECT _metadata.file_path FROM {t})",
]

BLOCKED = [
    "DROP TABLE t",
    "INSERT INTO t VALUES (1)",
    "UPDATE t SET a = 1",
    "DELETE FROM t",
    "CREATE TABLE t (a INT)",
    "ALTER TABLE t ADD COLUMN b INT",
    "TRUNCATE TABLE t",
    "MERGE INTO t USING s ON 1=1 WHEN MATCHED THEN DELETE",
    "GRANT ALL ON t TO x",
    "ATTACH 'db' AS other",
    "INSTALL httpfs",
    "LOAD httpfs",
    "SET memory_limit='1GB'",
    "PRAGMA show_tables",
    "CALL something()",
    "BEGIN TRANSACTION",
    "COPY t TO 'out.csv'",
    "EXPORT DATABASE 'dir'",
    "VACUUM",
    "SELECT * FROM read_csv('f.csv')",
    "SELECT * FROM read_parquet('f.parquet')",
    "SELECT * FROM read_json_auto('f.json')",
    "SELECT * FROM delta_scan('s3://b/t')",
    "SELECT * FROM iceberg_scan('s3://b/t')",
    "SELECT glob('*')",
    "SELECT 1; DROP TABLE t",
    "SELECT 1; SELECT 2",
    "",
    "   ",
    *BYPASSES,
    *SPOOFS,
    f"SELECT r'\\' AS a, {_REFLECT}",  # a raw string ends at its quote
    f"SELECT /*+ FOO */*, {_REFLECT} AS a FROM (SELECT 1 AS x) -- */",
    f"SELECT /*+ REPARTITION({_REFLECT}) */ 1",  # a hint's calls are checked
    "SELECT reflect/**/('java.lang.System','getProperty','user.name')",
    "SELECT try_reflect('java.lang.System','getProperty','user.home') AS h",
    "SELECT java_method('java.lang.System','getProperty','user.name')",
    f"WITH c AS (SELECT {_REFLECT} AS u) SELECT * FROM c",
    f"SELECT * FROM (SELECT {_REFLECT} AS u)",
    f"SELECT sum(1) OVER w FROM range(2) WINDOW w AS (PARTITION BY {_REFLECT})",
    f"SELECT transform(array(1), x -> {_REFLECT})",
    "SELECT * FROM text.`/etc/hostname`",
    "SELECT * FROM parquet.`/tmp`",
    "SELECT input_file_name()",
    *(q.format(t=FILES) for q in METADATA_LEAKS),
]


@pytest.mark.parametrize("sql", ALLOWED)
def test_allowed(engine, sql):
    engine.parse(sql)


@pytest.mark.parametrize("sql", BLOCKED)
def test_blocked(engine, sql):
    with pytest.raises(QueryValidationError):
        engine.dataframe(sql)


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT * FROM {t}",
        "SELECT count(*) AS n FROM {t}",
        "SELECT a.id FROM {t} a JOIN {t} b ON a.id = b.id",
        "SELECT id FROM {t} WHERE id IN (SELECT id FROM {t})",
    ],
)
def test_file_relations_pass_without_metadata(engine, sql):
    assert engine.dataframe(sql.format(t=FILES)).count() >= 1


def test_length_cap():
    with pytest.raises(QueryValidationError, match="maximum length"):
        validate_query("SELECT 1 " + " " * 10_000)


def test_select_star_exclude_is_not_a_blocked_statement(engine):
    # EXCEPT-like star modifiers pass through to the dialect layer.
    engine.parse("SELECT * EXCLUDE (a) FROM sales.silver.t")


def test_no_alias_of_a_dropped_function_resolves(engine, spark):
    """Spark may add an alias for a dropped builtin's class; it would
    resolve in the engine's session until the engine drops it too."""
    dropped = ("CallMethodViaReflection", "TryReflect", "InputFileName")

    def named(session):
        return sorted(
            f.name for f in session.catalog.listFunctions()
            if (f.className or "").rsplit(".", 1)[-1] in dropped
        )

    # A session no engine serves still has all four.
    assert named(spark.newSession()) == [
        "input_file_name", "java_method", "reflect", "try_reflect",
    ]
    engine.parse("SELECT 1")  # the engine hardens its session first
    assert named(spark) == []
