"""Expression-engine conformance corpus (SURVEY.md §5.3).

Each expression from the reference's documented function surface is compiled
by BOTH emitters and evaluated in Spark and DuckDB over the same row of
weakly-typed (stringly) fields; results must agree. Edge semantics covered:
1-based substring, sec-vs-ms heuristic at 1e10, divide scale-10, CASE
without ELSE → NULL, aggregate rejection, dotted-path field stripping.
"""

from __future__ import annotations

import duckdb
import pytest

from zg_etl_spark.functions.expr_compiler import (
    ExprCompiler,
    ExpressionError,
    parse,
)

FIELDS = {
    "price": "1500.5",
    "qty": "3",
    "name_s": "Alice",
    "status": "ok",
    "ct_s": "1722470400",        # 2024-08-01 00:00:00 UTC (seconds)
    "ct_ms": "1722470400123",    # same instant, millis (> 1e10 heuristic)
    "json_s": '{"a":{"b":[10,20]}}',
    "maybe_null": None,
    # a trailing line terminator: Long.parseLong and every
    # DateTimeFormatter parse reject it, so each is NULL on both engines
    "epoch_nl": "123\n",
    "dt_nl": "2024-08-10 10:00:00\n",
}


def _resolver(name: str, hint: str) -> str:
    if name not in FIELDS:
        raise AssertionError(f"unknown field {name}")
    if hint == "number":
        return f"try_cast({name} AS DOUBLE)"
    return name


COMPILER = ExprCompiler(spark_field_resolver=_resolver, duck_field_resolver=_resolver)

CORPUS = [
    # arithmetic + precedence
    ("price + qty", 1503.5),
    ("price - qty", 1497.5),
    ("price * qty", 4501.5),
    ("price / qty", 500.1666666667),
    ("qty % 2", 1.0),
    ("-price + 1", -1499.5),
    ("1 + 2 * 3 - 4 / 8", 6.5),
    # comparisons (numeric-coercing) + logic
    ("price > 1000", True),
    ("qty <= 3", True),
    ("price = 1500.5", True),
    ("status = 'ok'", True),
    ("status != 'ko'", True),
    ("price > 1000 AND qty < 10", True),
    ("price < 1000 OR qty = 3", True),
    ("NOT price < 1000", True),
    # the toBigDecimal boundary (:324-347, :682-694): null and
    # trim-empty strings are ZERO — a missing field COMPARES as 0 and
    # ADDS as 0; it never makes the result unknown
    ("maybe_null < 1", True),
    ("maybe_null > 0 OR status = 'ok'", True),
    ("maybe_null + 5", 5.0),
    ("'' + 1", 1.0),
    ("'  ' * 7", 0.0),
    ("abs(maybe_null)", 0.0),
    ("round(maybe_null, 2)", 0.0),
    ("maybe_null / 2", 0.0),
    # …but a null/zero DIVISOR still throws (divideNumbers :302-311)
    ("2 / maybe_null", None),
    ("qty % maybe_null", None),
    # boolean ops are Java truthiness over eagerly-evaluated operands
    # (:107-113, :216-222): non-TRUE (null, strings, numbers) is plain
    # false, not(them) is TRUE — while a THROW in either operand aborts
    # the row even when SQL's 3-valued logic would decide
    ("maybe_null AND price > 0", False),
    ("NOT maybe_null", True),
    ("NOT status", True),
    ("price < 0 AND name_s > 1", None),   # false AND throw → errData
    ("price > 0 OR name_s > 1", None),    # true OR throw → errData
    # isEqual stays null-safe for legitimate nulls, but a throwy
    # operand's NULL preempts (upper(null) NPEs before isEqual runs)
    ("maybe_null = maybe_null", True),
    ("upper(maybe_null) = 'X'", None),
    ("coalesce(upper(maybe_null), 'x')", None),
    ("coalesce(maybe_null, 'x')", "x"),
    # CASE
    ("CASE WHEN price > 1000 THEN 'high' ELSE 'low' END", "high"),
    ("CASE WHEN price < 10 THEN 'a' WHEN qty = 3 THEN 'b' ELSE 'c' END", "b"),
    ("CASE WHEN price < 10 THEN 'a' END", None),
    # strings (substring is 1-based)
    ("upper(name_s)", "ALICE"),
    ("lower(name_s)", "alice"),
    ("length(name_s)", 5),
    ("concat(name_s, '-', status)", "Alice-ok"),
    ("substring(name_s, 2)", "lice"),
    ("substring(name_s, 2, 3)", "lic"),
    ("upper(concat(substring(name_s, 1, 1), status))", "AOK"),
    # dates: sec vs ms heuristic at 1e10
    ("date_format(ct_s, 'yyyy-MM-dd')", "2024-08-01"),
    ("date_format(ct_ms, 'yyyy-MM-dd HH:mm:ss')", "2024-08-01 00:00:00"),
    # date_format's inline formatter list (:487-501) has NO LocalDate
    # fallback: a date-only string throws (errData → NULL) — unlike
    # date_diff, whose parseDateTimeString (:588-622) does fall back
    ("date_format('2024-08-10', 'yyyyMMdd')", None),
    ("date_format('2024-08-10 06:30:00', 'yyyyMMdd')", "20240810"),
    ("from_unixtime(ct_s)", "2024-08-01 00:00:00"),
    ("from_unixtime(ct_ms, 'yyyyMMdd')", "20240801"),
    ("datediff('2024-08-10', '2024-08-01')", 9),
    ("datediff('2024-08-10', ct_s)", 9),
    # ordered comparisons are date-aware ONLY when one side is a datetime
    # OBJECT — now()/1-arg from_unixtime results (compareDates :115-142 +
    # extractDateTime :171-186, which returns null for String). Two
    # date-LOOKING strings fall to compareNumbers, whose BigDecimal
    # throws (errData row → NULL here) — these pin the faithful gate:
    ("'2024-08-10' > '2024-08-02'", None),
    ("'2024/8/2 0:0:0' < '2024-08-10'", None),
    ("'2024/8/2' < '2024-08-10'", None),
    ("'2024-8-2' < '2024-08-10'", None),
    ("'2024-08-01 06:30:00' >= '2024-08-01'", None),
    ("date_format(ct_s, 'yyyy-MM-dd') >= '2024-08-01'", None),
    # a THROWING condition aborts the row (ConditionNode :729-749 runs
    # conditions lazily, but a throw propagates) — it does NOT fall
    # through to ELSE the way a merely-false/null condition does
    ("CASE WHEN '2024-08-10' > '2024-08-02' THEN 'later' ELSE 'not' END", None),
    ("CASE WHEN price > '999999' THEN 'big' ELSE 'small' END", "small"),
    # the date branch the reference DOES take: a DateTimeResult from
    # 1-arg from_unixtime vs a parseable datetime string — chronological
    # in both directions, NULL against an unparseable string. The
    # compare's parse is OperationNode's OWN parseDateTimeString
    # (:144-168, no LocalDate fallback) so even strict-ISO DATE-ONLY
    # strings don't parse here — while date_diff (:407-428 → :588-622)
    # happily takes '2024-08-01' (corpus rows above)
    ("from_unixtime(ct_s) >= '2024-08-01'", None),
    ("from_unixtime(ct_s) < '2024-12-31 00:00:00'", True),
    ("'2024-07-31 23:59:59' < from_unixtime(ct_s)", True),
    ("from_unixtime(ct_s) > '2024/8/1'", None),
    ("from_unixtime(ct_s) > 'abc'", None),
    # dataType:"date" constants (parseConstantValue :834-835) — a
    # LocalDateTime OBJECT: chronological compares, isEqual's
    # LocalDateTime branch (now() qualifies; from_unixtime's
    # DateTimeResult does NOT — it falls to toString equality, where
    # the ISO-'T' and 'y-M-d H:m:s' renderings can never match), Java
    # toString in string contexts (seconds dropped when zero),
    # toBigDecimal throw in arithmetic
    ("TIMESTAMP '2024-08-01T06:30:00' > '2024-08-01 00:00:00'", True),
    ("TIMESTAMP '2024-08-01T00:00:00' < from_unixtime(ct_s)", False),
    ("TIMESTAMP '2024-08-01T06:30:00' = TIMESTAMP '2024-08-01T06:30'", True),
    ("from_unixtime(ct_s) = TIMESTAMP '2024-08-01T00:00:00'", False),
    ("upper(TIMESTAMP '2024-08-01T06:30:00')", "2024-08-01T06:30"),
    ("concat(TIMESTAMP '2024-08-01T06:30:15', '!')", "2024-08-01T06:30:15!"),
    ("TIMESTAMP '2024-08-01T06:30:00' + 1", None),
    ("now() = now()", True),
    # now() in VALUE contexts renders Java's LocalDateTime.toString
    # (ISO 'T' form): the 5th char is the date dash, and equality with
    # a non-matching string is toString-FALSE, never a numeric-epoch
    # compare (isEqual falls through, :230-265)
    ("substring(now(), 5, 1)", "-"),
    ("now() = 'never'", False),
    # a datetime OBJECT flows through an exhaustive CASE (ConditionNode
    # returns the branch value as-is) and still takes the date branch;
    # the throwing-condition arm still aborts
    ("CASE WHEN price > 0 THEN from_unixtime(ct_s) "
     "ELSE now() END < '2024-08-01 06:30:00'", True),
    ("CASE WHEN name_s > 1 THEN from_unixtime(ct_s) "
     "ELSE now() END < '2024-08-01 06:30:00'", None),
    # non-date strings fall back to NUMERIC (never string ordering)
    ("price > '1000'", True),
    # math
    ("abs(0 - price)", 1500.5),
    ("round(price / 7, 2)", 214.36),
    ("round(price / 7)", 214.0),
    ("ceil(price / 1000)", 2),
    ("floor(price / 1000)", 1),
    # div-by-0 → NULL in BOTH engines (reference throws per-row and routes
    # the row to errData; NULL-and-continue is the batch rendering — and
    # Spark 4 ANSI `/` would otherwise abort the whole job on one bad row)
    ("price / 0", None),
    ("price / (qty - 3)", None),
    # null handling
    ("coalesce(maybe_null, 'dflt')", "dflt"),
    ("nullif(status, 'ok')", None),
    ("nullif(status, 'other')", "ok"),
    # json path with array index
    ("get_json_string(json_s, '$.a.b[0]')", "10"),
    ("get_json_string(json_s, '$.a.b[1]')", "20"),
    # dotted path keeps last segment
    ("events.props.price * 2", 3001.0),
    # the epoch and datetime gates are whole-string: java.util.regex '$'
    # also matches before a final line terminator, \z does not
    ("date_format(epoch_nl, 'yyyy-MM-dd HH:mm:ss')", None),
    ("date_format(dt_nl, 'yyyy-MM-dd HH:mm:ss')", None),
]


def _duck_row_sql() -> str:
    cols = []
    for k, v in FIELDS.items():
        cols.append(f"NULL AS {k}" if v is None else f"'{v}' AS {k}")
    return "SELECT " + ", ".join(cols)


@pytest.fixture(scope="module")
def spark_row(spark):
    sql_cols = []
    for k, v in FIELDS.items():
        sql_cols.append(
            f"CAST(NULL AS STRING) AS {k}" if v is None else f"'{v}' AS {k}"
        )
    df = spark.sql("SELECT " + ", ".join(sql_cols))
    df.createOrReplaceTempView("expr_row")
    return df


@pytest.mark.parametrize("sql,expected", CORPUS, ids=[c[0][:40] for c in CORPUS])
def test_conformance(spark, spark_row, sql, expected):
    s_frag = COMPILER.to_spark_sql(sql)
    d_frag = COMPILER.to_duckdb_sql(sql)

    s_val = spark.sql(f"SELECT {s_frag} AS v FROM expr_row").collect()[0][0]
    d_val = duckdb.sql(f"SELECT {d_frag} AS v FROM ({_duck_row_sql()})").fetchone()[0]

    for engine, val in (("spark", s_val), ("duck", d_val)):
        if expected is None:
            assert val is None, f"{engine}: {val!r} != None ({sql})"
        elif isinstance(expected, bool):
            assert bool(val) == expected, f"{engine}: {val!r} ({sql})"
        elif isinstance(expected, (int, float)):
            assert val == pytest.approx(expected, abs=1e-9), f"{engine}: {val!r} ({sql})"
        else:
            assert val == expected, f"{engine}: {val!r} ({sql})"

    # cross-engine agreement (same normalization)
    if isinstance(expected, float):
        assert float(s_val) == pytest.approx(float(d_val), abs=1e-9)
    else:
        assert (s_val is None) == (d_val is None)


def test_aggregates_rejected():
    for agg in ["SUM(price)", "avg(qty)", "COUNT(price)", "max(price)", "MEDIAN(qty)"]:
        with pytest.raises(ExpressionError):
            parse(agg)


def test_parse_errors():
    for bad in ["price +", "CASE price END", "unknownfn(1)", "(price", "1 ~~ 2"]:
        with pytest.raises(ExpressionError):
            parse(bad)


def test_sql_function_name_surface_matches_converter():
    """SqlToJsonExpressionConverter upper-cases the function name before
    its FUNCTION_MAP lookup (:457,479), so SQL names are case-insensitive
    and the map's aliases apply — verified against the live converter
    compiled from the reference (round 9): LEN/SUBSTR/CURRENT_TIMESTAMP/
    DATEDIFF work in any case; `date_diff` (the JSON AST node name) is
    NOT in the map and is rejected with 不支持的函数: DATE_DIFF."""
    from zg_etl_spark.functions.expr_compiler import Func

    assert parse("LEN(f)") == parse("len(f)") == parse("length(f)")
    assert parse("SUBSTR(f, 1, 2)") == parse("substring(f, 1, 2)")
    assert parse("CURRENT_TIMESTAMP()") == parse("now()")
    assert parse("DATEDIFF(f, g)") == parse("datediff(f, g)")
    assert isinstance(parse("DateDiff(f, g)"), Func)  # mixed case OK
    assert parse("datediff(f, g)").name == "date_diff"  # AST keeps JSON name
    assert parse("Upper(f)").name == "upper"
    with pytest.raises(ExpressionError):
        parse("date_diff(f, g)")


def test_bad_timestamp_literal_fails_at_parse():
    """LocalDateTime.parse throws inside parseConstantValue (:834-835) —
    registration time, not evaluation time: date-only, space-separated,
    unpadded, and calendar-invalid literals are all rejected."""
    for bad in ["TIMESTAMP '2024-08-01'", "TIMESTAMP '2024-08-01 06:30:00'",
                "TIMESTAMP '2024-8-1T06:30'", "TIMESTAMP '2024-02-30T00:00'",
                "TIMESTAMP 'abc'"]:
        with pytest.raises(ExpressionError):
            parse(bad)
    # and 'timestamp' NOT followed by a string literal stays a field
    from zg_etl_spark.functions.expr_compiler import Field, Op
    ast = parse("timestamp > 5")
    assert isinstance(ast, Op) and isinstance(ast.left, Field)
    assert ast.left.name == "timestamp"


def test_va_resolver_opens_custom_bag():
    """Virtual-attribute field space is the ENVELOPE FIELDS plus the whole
    custom bag (VirtualAttributeExpressionEvaluator.java:38-75), not a
    closed set: any "_"-prefixed key resolves to its bag expression,
    string-typed, with TRY_CAST coercion in numeric contexts."""
    import pytest

    from zg_etl_spark.operators.domain import DUCK, SPARK
    from zg_etl_spark.plans.pipeline import _va_frag, _va_resolver_for

    r = _va_resolver_for(SPARK)
    assert "CASE WHEN value > 10" in r("_band", "string")
    assert r("_vbucket", "number").startswith("TRY_CAST")
    assert r("k", "number") == "k"          # envelope fields stay columns
    with pytest.raises(ValueError):
        r("not_a_field", "any")
    for d in (SPARK, DUCK):                  # both dialects compile bag rules
        frag = _va_frag(d, "CASE WHEN _vbucket > 3 THEN 'deep' ELSE 'shallow' END")
        assert "TRY_CAST" in frag and "'deep'" in frag


def test_reference_demo_expressions_parse():
    """The reference's own embedded demo expressions
    (VirtualAttributeManager.java:121-204) — CJK identifiers, dotted
    table-prefix stripping (last segment wins,
    SqlToJsonExpressionConverter.java:531-541), CJK date-format literals,
    nested from_unixtime in CONCAT and CASE comparisons — must parse to
    the expected shapes."""
    from zg_etl_spark.functions.expr_compiler import Case, Field, Func, Op, parse

    ast = parse("NOT b_user_event_attr_42.信用卡额度>50000")
    assert ast.op == "not" and ast.left.op == ">"
    assert ast.left.left == Field(name="信用卡额度")  # prefix stripped

    ast = parse(
        "DATE_FORMAT(from_unixtime(b_user_event_attr_42.分期时间),"
        "'yyyy-MM-dd HH:mm:ss')"
    )
    assert ast.name == "date_format" and ast.args[0].args[0].name == "分期时间"

    ast = parse("from_unixtime(event.timestamp_ms, 'yyyy年MM月dd日 HH时mm分ss秒')")
    assert ast.args[1].value == "yyyy年MM月dd日 HH时mm分ss秒"

    ast = parse(
        "CONCAT('日期: ', from_unixtime(event.timestamp, 'yyyy-MM-dd'), "
        "' 时间: ', from_unixtime(event.timestamp, 'HH:mm:ss'))"
    )
    assert isinstance(ast, Func) and len(ast.args) == 4

    ast = parse(
        "CASE WHEN from_unixtime(event.timestamp) > from_unixtime(1672531200) "
        "THEN '新记录' ELSE '旧记录' END"
    )
    assert isinstance(ast, Case) and isinstance(ast.whens[0][0], Op)
