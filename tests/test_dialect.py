"""String literals read back the same value on both engines.

Spark processes backslash escapes inside '…' literals and DuckDB keeps
them raw, so a value from outside the program — a virtual-attribute
rule constant, an ad-rule match value — is only compared identically on
the engine and the oracle when every literal goes through its dialect's
``lit``. These cases mix backslashes and quotes, the characters the two
literal grammars treat differently."""

from __future__ import annotations

import duckdb
import pytest

from zg_etl_spark.functions.expr_compiler import ExprCompiler
from zg_etl_spark.functions.match_json import match_predicate
from zg_etl_spark.operators.domain import DUCK, SPARK

VALUES = ["a\\d", "tab\\t", "x\\'y", "it's"]


def _both(spark, spark_sql: str, duck_sql: str, v: str):
    """Evaluate one expression per engine over a one-row relation whose
    column ``x`` holds ``v`` (bound as data, never as a literal)."""
    s = spark.createDataFrame([(v,)], "x STRING").selectExpr(
        f"{spark_sql} AS r").first().r
    d = duckdb.execute(f"SELECT {duck_sql} AS r FROM (SELECT $1 AS x)",
                       [v]).fetchone()[0]
    return s, d


@pytest.mark.parametrize("v", VALUES)
def test_lit_reads_back(spark, v):
    assert _both(spark, SPARK.lit(v), DUCK.lit(v), v) == (v, v)


@pytest.mark.parametrize("v", VALUES)
def test_rule_constant_reads_back(spark, v):
    rule = "'" + v.replace("'", "''") + "'"  # the rule language's quoting
    c = ExprCompiler()
    assert _both(spark, c.to_spark_sql(rule), c.to_duckdb_sql(rule), v) == (v, v)


@pytest.mark.parametrize("v", VALUES)
def test_match_json_equal_reads_back(spark, v):
    mj = {"type": 1, "operator": "equal", "values": [v]}
    got = _both(spark, match_predicate(SPARK, mj, "x"),
                match_predicate(DUCK, mj, "x"), v)
    assert got == (True, True)


@pytest.mark.parametrize("v,want", [("2024-08-01T06:30:00+5", None),
                                    ("2024-08-01T06:30:00.5", "2024-08-01 06:30")])
def test_rule_regex_reaches_spark_intact(spark, v, want):
    # the compiler's own ISO fractional-seconds gate holds a `\.`: read as
    # "any char", '…:00+5' passed Spark's gate and parsed as an offset
    # timestamp, while DuckDB (like Java's ISO_LOCAL_DATE_TIME) rejects it
    rule = "date_format(x, 'yyyy-MM-dd HH:mm')"
    c = ExprCompiler()
    assert _both(spark, c.to_spark_sql(rule), c.to_duckdb_sql(rule), v) == (want, want)
