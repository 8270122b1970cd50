"""match_json predicate compiler conformance (functions/match_json.py).

Independent oracle: the direct Python port of OperatorUtil.compareValue
in tests/javaport_matchjson.py (written from the Java, JVM-fixture-
verified cell-by-cell in test_kw_jvm_fixture.py mode 'cv', no code
shared with the compiler), evaluated over a value × rule grid and
compared against the compiled SQL on BOTH dialects."""

from __future__ import annotations

import re

import duckdb
import pytest

from javaport_matchjson import Abstain, JavaThrow, ref_compare_java
from zg_etl_spark.functions.match_json import match_predicate
from zg_etl_spark.operators.domain import DUCK, SPARK

NOW_MS = 1706000000000  # deterministic "now" for relative date rules


def ref_compare(v: str, mj: dict) -> bool:
    """The engine-level truth: the independent JVM-fixture-verified port
    (tests/javaport_matchjson.py — unicodedata digits, own SMART date
    model, no code shared with the compiler), with the documented
    collapses applied: escaping Java exceptions (poison configs that
    would kill the reference job) evaluate FALSE engine-side, and the
    fuzz generator's re.escape'd regexp targets are literal matches even
    when the conservative cross-engine portability gate abstains."""
    try:
        return ref_compare_java(v, mj, NOW_MS)
    except JavaThrow:
        return False
    except Abstain:
        hit = re.search(mj["values"][0], v) is not None
        return hit if mj["operator"] == "regexp" else not hit


RULES = [
    {"type": 1, "operator": "equal", "values": ["hi"]},
    {"type": 1, "operator": "not equal", "values": ["hi"]},
    {"type": 1, "operator": "regexp", "values": ["ick$"]},
    {"type": 1, "operator": "not regexp", "values": ["^cl"]},
    {"type": 1, "operator": "contains", "values": ["l"]},
    {"type": 1, "operator": "not contains", "values": ["l"]},
    {"type": 1, "operator": "begin with", "values": ["cl"]},
    {"type": 1, "operator": "not begin with", "values": ["cl"]},
    {"type": 1, "operator": "end with", "values": ["ck"]},
    {"type": 1, "operator": "not end with", "values": ["ck"]},
    {"type": 1, "operator": "is not null", "values": ["x"]},
    {"type": 1, "operator": "is null", "values": ["x"]},
    {"type": 1, "operator": "bogus", "values": ["x"]},
    {"type": 2, "operator": "gt", "values": ["5"]},
    {"type": 2, "operator": "lt", "values": ["5"]},
    {"type": 2, "operator": "ge", "values": ["5"]},
    {"type": 2, "operator": "le", "values": ["5"]},
    {"type": 2, "operator": "equal", "values": ["5"]},
    {"type": 2, "operator": "not equal", "values": ["5"]},
    {"type": 2, "operator": "gt", "values": ["junk"]},
    {"type": 2, "operator": "is null", "values": ["5"]},
    {"type": 3, "operator": "relative", "values": ["30"]},
    {"type": 3, "operator": "absolute",
     "values": ["2024-01-01", "2024-01-20"]},
    {"type": 1, "operator": "is null", "values": []},
    {"type": 1, "operator": "is not null", "values": []},
    {"type": 1, "operator": "equal", "values": []},
]

VALUES = [
    "", "null", "NULL", "hi", "lo", "click", "purchase", "5", "05",
    "-3", "500", "3.5", "abc", "+7", "1704070000", "1700000000",
    # Long.parseLong grammar edges: whitespace, underscores, and 64-bit
    # overflow all reject in Java (and in the compiled TRY_CAST gate)
    # where a naive Python int() would accept
    " 5", "1_0", "99999999999999999999", "-99999999999999999999",
    "9223372036854775807", "9223372036854775808",
    # a trailing line terminator: Java's regex '$' matches before it, so
    # the numeric/date gate must be anchored with \z to reject these
    "5\n", "1704070000\n",
]


@pytest.mark.parametrize("dialect,runner", [("spark", None), ("duck", None)])
def test_match_json_conformance(spark, dialect, runner):
    d = SPARK if dialect == "spark" else DUCK
    con = duckdb.connect() if dialect == "duck" else None
    for v in VALUES:
        lit = "'" + v.replace("'", "''") + "'"
        exprs = [
            match_predicate(d, mj, lit, now_ms=str(NOW_MS)) for mj in RULES
        ]
        sql = "SELECT " + ", ".join(
            f"{e} AS c{i}" for i, e in enumerate(exprs)
        )
        row = (
            spark.sql(sql).collect()[0]
            if dialect == "spark"
            else con.execute(sql).fetchone()
        )
        for i, mj in enumerate(RULES):
            want = ref_compare(v, mj)
            got = bool(row[i]) if row[i] is not None else False
            assert got is want, (
                f"{dialect}: value {v!r} rule {mj} -> {got}, want {want}"
            )


_FUZZ_ATOMS = ["", "null", "NULL", "Null", "0", "5", "05", "-5", "+5",
               " 5", "5 ", "1_0", "3.5", "-0", "00", "abc", "hi",
               "äöü", "中文", "a'b", "a%b", "a_b", "a.b*", "[x]", "(y)",
               "9223372036854775807", "9223372036854775808",
               "-9223372036854775808", "-9223372036854775809",
               "99999999999999999999", "1704070000", "-1704070000",
               "9223372036854776", "9223372036854775"]
_FUZZ_STR_OPS = ["equal", "not equal", "contains", "not contains",
                 "begin with", "not begin with", "end with", "not end with",
                 "regexp", "not regexp", "is null", "is not null", "bogus"]
_FUZZ_NUM_OPS = ["gt", "lt", "ge", "le", "equal", "not equal", "is null"]


def _gen_cases(rng, n: int):
    """Random (value, match_json rule) cases over the full operator/type
    space — whitespace, signs, underscores, unicode, overflow-scale
    numerics, regex metacharacters (targets escaped for the regexp ops:
    an invalid pattern throws in Java AND in both engines, so arbitrary
    patterns are outside the modeled domain)."""
    cases = []
    for _ in range(n):
        v = rng.choice(_FUZZ_ATOMS)
        t = rng.choice([1, 1, 2, 2, 3])
        if t == 1:
            op = rng.choice(_FUZZ_STR_OPS)
            target = rng.choice(_FUZZ_ATOMS)
            if "regexp" in op:
                target = re.escape(target) or "^$"
            mj = {"type": 1, "operator": op, "values": [target]}
        elif t == 2:
            mj = {"type": 2, "operator": rng.choice(_FUZZ_NUM_OPS),
                  "values": [rng.choice(_FUZZ_ATOMS)]}
        else:
            op = rng.choice(["relative", "absolute"])
            mj = {"type": 3, "operator": op,
                  "values": (
                      [rng.choice(["30", " 30", "30 ", "1_0", "-5",
                                   "2147483647", "2147483648", "junk"])]
                      if op == "relative"
                      else ["2024-01-01", "2024-01-20"])}
        if rng.random() < 0.08:
            mj["values"] = []
        cases.append((v, mj))
    return cases


def test_match_json_fuzz_corpus():
    """Pinned-seed randomized corpus (regression armor) batched into one
    SELECT and compared against the Java-faithful port."""
    import random

    cases = _gen_cases(random.Random(20260815), 240)

    exprs, wants = [], []
    for v, mj in cases:
        lit = "'" + v.replace("'", "''") + "'"
        exprs.append(match_predicate(DUCK, mj, lit, now_ms=str(NOW_MS)))
        wants.append(ref_compare(v, mj))
    con = duckdb.connect()
    sql = "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    row = con.execute(sql).fetchone()
    for i, ((v, mj), want) in enumerate(zip(cases, wants)):
        got = bool(row[i]) if row[i] is not None else False
        assert got is want, (i, v, mj, got, want)


def test_match_json_fresh_seed_sweep(spark):
    """Per-round FRESH-SEED sweep, BOTH dialects (the pinned corpus's
    randomized leg only ran DuckDB; the Spark leg only ran the fixed
    VALUES grid). Same ritual as tests/test_deep_sweep.py: the seed
    rotates with BUILD_ROUND, a divergence gets fixed or documented and
    its case pinned into the fixed corpus — the round-6 dirty-input fuzz
    of this compiler caught two real bugs (unguarded epoch*1000 wrap,
    lenient int() vs Long.parseLong), which is the case for fresh seeds."""
    import random

    from zg_etl_spark.buildinfo import BUILD_ROUND

    seed = 73_110_000 + BUILD_ROUND
    cases = _gen_cases(random.Random(seed), 400)
    wants = [ref_compare(v, mj) for v, mj in cases]

    for d, name in ((DUCK, "duck"), (SPARK, "spark")):
        exprs = []
        for v, mj in cases:
            lit = "'" + v.replace("'", "''") + "'"
            exprs.append(match_predicate(d, mj, lit, now_ms=str(NOW_MS)))
        sql = "SELECT " + ", ".join(
            f"({e}) AS c{i}" for i, e in enumerate(exprs)
        )
        row = (
            duckdb.connect().execute(sql).fetchone()
            if name == "duck"
            else tuple(spark.sql(sql).collect()[0])
        )
        bad = [
            (i, cases[i][0], cases[i][1], row[i], want)
            for i, want in enumerate(wants)
            if (bool(row[i]) if row[i] is not None else False) is not want
        ]
        assert not bad, (
            f"round-{BUILD_ROUND} match_json sweep (seed {seed}, {name}): "
            f"{len(bad)} divergences, first 5: {bad[:5]}"
        )
