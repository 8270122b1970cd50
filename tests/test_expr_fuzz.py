"""Dirty-input fuzz for the expression compiler (V1/V2) — the match_json
treatment applied to functions/expr_compiler.py.

Three legs:

1. ENGINE ≡ ENGINE: every (expression template × dirty value pair) must
   agree across the Spark and DuckDB renderings, tri-state (NULL / value),
   with numeric and NaN/Inf rendering normalization. All cells evaluate
   in ONE query per engine.
2. ENGINE ≡ REFERENCE PORT: a literal Python port of the evaluator's
   semantic kernels (VirtualAttributeExpressionEvaluator.java — the
   date-aware ordered compare :115-142, parseDateTimeString's EFFECTIVE
   accepted set :588-622, the Long.parseLong epoch gate :512-517, the
   strict >1e10 sec/ms heuristic :526-535, scale-10 HALF_UP divide
   :302-311). Where the reference returns a representable value, both
   engines must produce it; where it THROWS (errData row), the engines
   must produce the DOCUMENTED rendering — NULL, or the try_cast-lenient
   numeric value for the documented leniency classes (whitespace /
   scientific / decimal strings the reference's parseLong rejects).
3. SEEDED RANDOM TREES over the dirty alphabet, engine ≡ engine.

Alphabet is closed as documented in the compiler docstring: ASCII
digits, 4-digit years, BMP text, substring starts ≥ 1.
"""

from __future__ import annotations

import math
import random
import re
from datetime import datetime, timedelta, timezone
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

from zg_etl_spark.functions.expr_compiler import ExprCompiler

# ---------------------------------------------------------------------------
# dirty alphabet
# ---------------------------------------------------------------------------
DIRTY = [
    None,
    "",
    " ",
    "abc",
    "0",
    "-1",
    "007",
    "+42",
    "-0",
    " 42 ",
    "3.5",
    "1e5",
    "0x10",
    "NaN",
    "Infinity",
    "-Infinity",
    "1722470400",            # 2024-08-01 UTC, seconds
    "9999999999",            # just under the 1e10 boundary → seconds
    "10000000000",           # exactly 1e10 → seconds (strict >)
    "10000000001",           # just over → millis
    "253402300799",          # >1e10 → millis (1978)
    "253402300799999",       # 9999-12-31 23:59:59.999 as millis
    "253402300800000",       # one ms past year 9999 → NULL
    "-62135596800",          # 0001-01-01 as seconds
    "-62135596801",          # one s before year 1 → NULL
    "999999999999999999",    # 18 digits, far past year 9999 → NULL
    "9223372036854775807",   # Long.MAX — parses in Java, unrepresentable here
    "99999999999999999999",  # 20 digits — Long.parseLong overflows (throw)
    "2024-08-10",
    "2024-8-1",              # unpadded date-only: NOT a date (ref quirk)
    "2024/8/1",              # slash date-only: NOT a date (ref quirk)
    "2024-8-1 3:4:5",
    "2024/8/1 3:4:5",
    "2024-08-10 23:59:59",
    "2024-08-10T05:30",
    "2024-08-10T05:30:15",
    "2024-08-15T10:15:30.5",        # iso_frac: .5 s, µs-exact
    "2024-08-15T10:15:30.123456",   # iso_frac: full µs resolution
    "2024-08-15T10:15:30.1234567",  # 7-digit nanos: parses, sub-µs tail
    "2024-08-15T10:15:30.1230000",  # 7-digit ZERO tail: exactly .123
    "2024/8/1 24:0:0",              # SMART hour-24, slash-unpadded
    "2023-02-29 10:00:00",          # SMART day clamp → Feb 28 (JVM-pinned)
    "2024-02-29",            # valid leap day
    "2023-02-29",            # invalid leap day
    "2024-02-31",
    "2024-13-01",
    "2024-00-10",
    "2024-08-10 24:00:00",   # SMART hour-24 → 2024-08-11T00:00 (JVM-pinned)
    "9999-12-31 23:59:59",
    "0001-01-01",
    '{"a": "x"}',
    '{"a": 3, "b": {"c": [1, 2]}}',
    "not json",
    "[1, 2]",
    '{"a": null}',                          # NullNode value ≠ missing key
    '{"a": true, "b": ["s", {"d": 2.50}]}',  # bool render + 2.50→2.5
    '{"a": {"b": [10, 20, 30]}}',           # nested array indexing
]

TEMPLATES = [
    "f < g",
    "f <= g",
    "f > g",
    "f >= g",
    "f = g",
    "f != g",
    "f / g",
    "f % g",
    "f + g",
    "round(f / g, 2)",
    "date_format(f, 'yyyy-MM-dd HH:mm:ss')",
    "from_unixtime(f)",
    "datediff(f, g)",
    "length(f)",
    "upper(f)",
    "substring(f, 2, 3)",
    "coalesce(nullif(f, ''), 'empty')",
    "CASE WHEN f < g THEN 'lt' WHEN f >= g THEN 'ge' END",
    "get_json_string(f, '$.a')",
    "get_json_string(f, '$.b.c[1]')",
    "get_json_string(f, '$.a.b[1]')",
    "get_json_string(f, '$.b[1].d')",
    "get_json_string(f, '$')",           # bare $: VERBATIM passthrough
    "get_json_string(f, '$.a.b[-1]')",   # negative idx: compile-time NULL
    "upper(get_json_string(f, '$.b'))",
    "length(get_json_string(f, '$.a'))",
    "nullif(f, g)",
    "coalesce(f, g, 'none')",
    "coalesce(nullif(f, g), nullif(g, f), 'tied')",
    "now() < f",
    "from_unixtime(f) >= g",
    "(f < g) AND (f != g)",
    "(f >= g) OR (f = g)",
    "NOT (f > g)",
    "abs(f)",
]

# the fixed clock the now() templates compare against (reference: a real
# LocalDateTime.now(); pinned here so the port leg is deterministic)
NOW_SQL = "TIMESTAMP '2024-08-15 12:00:00'"
NOW_DT = datetime(2024, 8, 15, 12, 0, 0, tzinfo=timezone.utc)


def _resolver(name: str, hint: str) -> str:
    if hint == "number":
        return f"try_cast({name} AS DOUBLE)"
    return name


COMPILER = ExprCompiler(spark_field_resolver=_resolver,
                        duck_field_resolver=_resolver,
                        now_literal=NOW_SQL)


# ---------------------------------------------------------------------------
# reference port — the Java semantics, literally
# ---------------------------------------------------------------------------
THROW = object()          # reference raised → errData row
OUT_OF_WINDOW = object()  # representable in Java, not in int64-µs engines

_LONG_RE = re.compile(r"[+-]?[0-9]+$")
_BIGDEC_RE = re.compile(r"[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$")
# TRY_CAST(x AS DOUBLE) grammar shared by both engines: trimmed, and the
# special nan/inf names (leniency the reference's BigDecimal lacks)
_TRYCAST_SPECIAL = {"nan": math.nan, "inf": math.inf, "infinity": math.inf,
                    "+inf": math.inf, "+infinity": math.inf,
                    "-inf": -math.inf, "-infinity": -math.inf}


def ref_parse_long(s: str):
    """Long.parseLong: strict int grammar + int64 range, else THROW."""
    if not _LONG_RE.fullmatch(s):
        return THROW
    v = int(s)
    return v if -(2**63) <= v < 2**63 else THROW


def ref_big_decimal(s: str):
    """new BigDecimal(String): strict (no whitespace), exact."""
    if not _BIGDEC_RE.fullmatch(s):
        return THROW
    return Decimal(s)


def ref_op_num(v):
    """The toBigDecimal boundary (:324-347, :682-694): null → ZERO,
    trim-empty string → ZERO, else strict BigDecimal / THROW. This is
    the coercion compareNumbers / arithmetic / abs-round-ceil-floor
    apply — NOT isEqual, whose isNumeric gate rejects empties."""
    if v is None:
        return Decimal(0)
    if v.strip() == "":
        return Decimal(0)
    return ref_big_decimal(v)


def engine_num(v):
    """The engines' rendering of the same boundary: NULL/'' → 0.0, else
    TRY_CAST double space (the documented lenient superset)."""
    if v is None or v.strip() == "":
        return 0.0
    return try_cast_double(v)


def _lenient(v) -> bool:
    """Cells where the engines' documented leniency departs from
    BigDecimal: try_cast accepts (whitespace-padded, nan/inf names)
    where the reference throws, or the value exceeds the documented
    2^53 double-precision bound."""
    en = engine_num(v)
    if en is None:
        return False
    if math.isnan(en) or math.isinf(en) or abs(en) >= 2**53:
        return True
    return ref_op_num(v) is THROW


def engine_num_cmp(fa: float, fb: float) -> int:
    """Both engines' ORDER semantics for doubles: NaN equals NaN and
    sorts greater than everything else (non-IEEE, shared by Spark SQL
    and DuckDB comparisons)."""
    na, nb = math.isnan(fa), math.isnan(fb)
    if na and nb:
        return 0
    if na:
        return 1
    if nb:
        return -1
    return (fa > fb) - (fa < fb)


def try_cast_double(s):
    """Both engines' TRY_CAST(VARCHAR AS DOUBLE): trim, plain/scientific
    decimals, nan/inf names; None on anything else."""
    if s is None:
        return None
    t = s.strip()
    if t.lower() in _TRYCAST_SPECIAL:
        return _TRYCAST_SPECIAL[t.lower()]
    if _BIGDEC_RE.fullmatch(t):
        return float(t)
    return None


def ref_epoch_to_dt(v: int):
    """The sec/ms heuristic (:526-535) + the engines' documented
    years-0001-9999 window."""
    ms = v if v > 10_000_000_000 else v * 1000
    if not -62_135_596_800_000 <= ms <= 253_402_300_799_999:
        return OUT_OF_WINDOW
    return datetime(1970, 1, 1, tzinfo=timezone.utc) + timedelta(
        milliseconds=ms)


_DT_FORMS = [
    # (regex, field order) — the evaluator's EFFECTIVE set: with-time
    # forms take 1-2 digit fields; date-only survives ONLY as strict ISO
    # SMART-resolver hour 24 (live-JVM-verified): exactly 24:00:00 →
    # next-day midnight; must precede the generic with-time rows
    (re.compile(r"(\d{4})-(\d{1,2})-(\d{1,2}) 24:0{1,2}:0{1,2}$"), -3),
    (re.compile(r"(\d{4})/(\d{1,2})/(\d{1,2}) 24:0{1,2}:0{1,2}$"), -3),
    (re.compile(r"(\d{4})-(\d{1,2})-(\d{1,2}) (\d{1,2}):(\d{1,2}):(\d{1,2})$"), 6),
    (re.compile(r"(\d{4})/(\d{1,2})/(\d{1,2}) (\d{1,2}):(\d{1,2}):(\d{1,2})$"), 6),
    (re.compile(r"(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})$"), 6),
    (re.compile(r"(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2})$"), 5),
    # ISO fractional seconds, 1-9 digits (ISO_LOCAL_DATE_TIME allows
    # nanos); digits 7-9 truncate to the engines' µs — a NONZERO sub-µs
    # tail makes REF-fidelity comparisons engine-undecidable
    # (submicro="raise" call sites get SubMicroTail → Fragile)
    (re.compile(r"(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})"
                r"\.(\d{1,9})$"), 7),
    (re.compile(r"(\d{4})-(\d{2})-(\d{2})$"), 3),
]


class SubMicroTail(Exception):
    """An iso_frac value with a NONZERO 7th-9th fraction digit reached a
    REF-fidelity comparison: Java keeps nanos, the engines truncate to
    µs, so a chronological verdict may differ — the documented sub-µs
    deviation (callers translate to Fragile/skip)."""


def ref_parse_datetime(s: str, with_date_only: bool = True,
                       submicro: str = "truncate"):
    """parseDateTimeString's effective accepted set → aware-UTC datetime
    (the engines are TZ-naive-in-UTC) or None. ``with_date_only=False``
    is OperationNode's own copy (:144-168, compareDates' mixed branch):
    no LocalDate fallback, so strict-ISO date-only fails there too.
    ``submicro="raise"`` raises SubMicroTail for nonzero 7th-9th
    fraction digits (REF comparison contexts); the default truncates —
    exactly what both engines' parses do."""
    forms = _DT_FORMS if with_date_only else _DT_FORMS[:-1]
    for rx, nfields in forms:
        m = rx.match(s)
        if m:
            micros = 0
            if nfields == -3:  # SMART hour-24 → next-day midnight
                base = _smart_date(*[int(x) for x in m.groups()[:3]])
                return None if base is None else base + timedelta(days=1)
            if nfields == 7:  # iso_frac: decimal fraction → µs (+tail)
                frac = m.groups()[6]
                if len(frac) > 6 and any(c != "0" for c in frac[6:]) \
                        and submicro == "raise":
                    raise SubMicroTail(s)
                micros = int(frac[:6].ljust(6, "0"))
                nfields = 6
            parts = [int(x) for x in m.groups()[:nfields]]
            parts += [0] * (6 - len(parts))
            if nfields == 6 and " " in s:
                # the ofPattern SMART bodies (dash/slash with-time):
                # minute/second/hour strict, day CLAMPED to the month
                # ('2023-02-29 10:00:00' → Feb 28; live-JVM-verified)
                if not (parts[3] <= 23 and parts[4] <= 59
                        and parts[5] <= 59):
                    return None
                base = _smart_date(*parts[:3])
                if base is None:
                    return None
                return base.replace(hour=parts[3], minute=parts[4],
                                    second=parts[5])
            try:
                return datetime(*parts, micros, tzinfo=timezone.utc)
            except ValueError:
                return None  # calendar-invalid → next formats also fail
    return None


def _smart_date(y, mo, dd):
    """ResolverStyle.SMART date resolution: month 1-12 and day 1-31
    strict, then the day clamps to the month's last valid day."""
    if not (1 <= mo <= 12 and 1 <= dd <= 31):
        return None
    import calendar

    dd = min(dd, calendar.monthrange(y, mo)[1]) if y >= 1 else dd
    try:
        return datetime(y, mo, dd, tzinfo=timezone.utc)
    except ValueError:
        return None


def ref_compare(a, b):
    """compareDates (:115-142) for two STRING/null operands:
    extractDateTime (:171-186) returns null for String, so the date
    branch NEVER fires between strings — both sides go straight to the
    toBigDecimal numeric compare (null/'' are ZERO there), THROW on
    anything non-numeric (date-looking included)."""
    xa, xb = ref_op_num(a), ref_op_num(b)
    if xa is THROW or xb is THROW:
        return THROW
    return (xa > xb) - (xa < xb)


def ref_is_equal(a, b):
    """isEqual (:230-265): NULL-SAFE (both null → True, one null →
    False) and NUMERIC-FIRST (both BigDecimal-parseable → numeric
    equality), else string equality. != is its plain negation."""
    if a is None and b is None:
        return True
    if a is None or b is None:
        return False
    xa, xb = ref_big_decimal(a), ref_big_decimal(b)
    if xa is not THROW and xb is not THROW:
        return xa == xb
    return a == b


def ref_divide(a, b):
    """divideNumbers (:302-311): scale 10, HALF_UP behind the
    toBigDecimal boundary (null/'' dividends are ZERO, a null/'' divisor
    is the /0 throw); non-numerics THROW."""
    xa, xb = ref_op_num(a), ref_op_num(b)
    if xa is THROW or xb is THROW or xb == 0:
        return THROW
    import decimal

    with decimal.localcontext() as ctx:
        ctx.prec = 80  # BigDecimal divide(…, 10, HALF_UP) is exact
        return (xa / xb).quantize(Decimal("1e-10"), rounding=ROUND_HALF_UP)


def ref_ts_from_any(s: str):
    """date_format's value coercion: Long.parseLong FIRST (:457-466),
    else date_format's OWN inline formatter list (:487-501 — NO
    LocalDate fallback, date-only strings throw); THROW when neither.
    (Only date_diff's parse, :588-622, accepts strict-ISO date-only.)"""
    v = ref_parse_long(s) if _LONG_RE.fullmatch(s) else THROW
    if v is not THROW:
        return ref_epoch_to_dt(v)
    dt = ref_parse_datetime(s, with_date_only=False)
    return dt if dt is not None else THROW


# ---------------------------------------------------------------------------
# harness: all cells in one query per engine
# ---------------------------------------------------------------------------
def _pairs():
    rng = random.Random(20260815)
    vals = [v for v in DIRTY]
    out = []
    # full diagonal + a seeded sample of the cross product (the full
    # 44² × 18 cells would be ~35k per engine; 1/3 sample keeps the
    # one-query evaluation under a few seconds while seeds make any
    # failure reproducible)
    for i, a in enumerate(vals):
        for j, b in enumerate(vals):
            if i == j or rng.random() < 0.34:
                out.append((a, b))
    return out


@pytest.fixture(scope="module")
def cells(spark):
    pairs = _pairs()
    s_cols, d_cols = [], []
    for t, tpl in enumerate(TEMPLATES):
        s_cols.append(f"CAST(({COMPILER.to_spark_sql(tpl)}) AS STRING) AS c{t}")
        d_cols.append(f"CAST(({COMPILER.to_duckdb_sql(tpl)}) AS VARCHAR) AS c{t}")

    sdf = spark.createDataFrame(pairs, "f string, g string")
    sdf.createOrReplaceTempView("fuzz_rows")
    s_rows = spark.sql(
        "SELECT f, g, " + ", ".join(s_cols) + " FROM fuzz_rows"
    ).collect()

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE fuzz_rows (f VARCHAR, g VARCHAR)")
    con.executemany("INSERT INTO fuzz_rows VALUES (?, ?)", pairs)
    d_rows = con.execute(
        "SELECT f, g, " + ", ".join(d_cols) + " FROM fuzz_rows"
    ).fetchall()

    s_map = {(r[0], r[1]): tuple(r[2:]) for r in s_rows}
    d_map = {(r[0], r[1]): tuple(r[2:]) for r in d_rows}
    assert set(s_map) == set(d_map) and len(s_map) == len(pairs)
    return pairs, s_map, d_map


def _norm_eq(a: str | None, b: str | None) -> bool:
    if a is None or b is None:
        return a is b
    if a == b:
        return True
    try:
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb or abs(fa - fb) <= 1e-9 * max(abs(fa), abs(fb))
    except (ValueError, OverflowError):
        pass
    # timestamp renderings: trailing fractional zeros
    return a.rstrip("0").rstrip(".") == b.rstrip("0").rstrip(".")


def test_engines_agree_on_dirty_cells(cells):
    pairs, s_map, d_map = cells
    bad = []
    for pair in pairs:
        for t, tpl in enumerate(TEMPLATES):
            s, d = s_map[pair][t], d_map[pair][t]
            if not _norm_eq(s, d):
                bad.append((tpl, pair, s, d))
    assert not bad, f"{len(bad)} cross-engine divergences, first 5: {bad[:5]}"


def test_ordered_compare_matches_reference(cells):
    """Leg 2, compare kernel: wherever the reference compareDates yields
    a verdict, the engines must yield the same one — except the two
    documented leniency classes (try_cast-lenient numerics the
    BigDecimal path would reject, and double-precision loss past 2^53,
    where BigDecimal compares exactly)."""
    pairs, s_map, _ = cells
    op_idx = {"<": 0, "<=": 1, ">": 2, ">=": 3}
    evals = {"<": lambda c: c < 0, "<=": lambda c: c <= 0,
             ">": lambda c: c > 0, ">=": lambda c: c >= 0}
    checked = 0
    for a, b in pairs:
        cmp = ref_compare(a, b)
        for op, idx in op_idx.items():
            got = s_map[(a, b)][idx]
            if cmp is THROW:
                # documented rendering: NULL — unless the engines'
                # lenient numeric coercion yields a number for both
                fa, fb = engine_num(a), engine_num(b)
                if fa is not None and fb is not None:
                    want = str(evals[op](engine_num_cmp(fa, fb))).lower()
                    assert got == want, (op, a, b, got)
                else:
                    assert got is None, (op, a, b, got)
                continue
            # precision deviation: BigDecimal is exact past 2^53
            fa, fb = engine_num(a), engine_num(b)
            if (fa is None or fb is None
                    or abs(fa) >= 2**53 or abs(fb) >= 2**53):
                continue
            want = str(evals[op](cmp)).lower()
            assert got == want, (op, a, b, got, cmp)
            checked += 1
    assert checked > 300, f"port coverage too thin: {checked}"


def test_equality_matches_reference(cells):
    """Leg 2, equality kernel: engines must carry isEqual's null-safe
    numeric-first contract — including null = null → TRUE and
    '007' = '7' → TRUE — except the documented leniency class (values
    the engines' try_cast numeric grammar accepts but BigDecimal
    rejects) and the documented 2^53 double-precision bound."""
    pairs, s_map, _ = cells
    eq_idx = TEMPLATES.index("f = g")
    ne_idx = TEMPLATES.index("f != g")
    checked = 0
    for a, b in pairs:
        want = ref_is_equal(a, b)
        if a is not None and b is not None:
            fa, fb = try_cast_double(a), try_cast_double(b)
            lenient = (
                (fa is not None and ref_big_decimal(a) is THROW)
                or (fb is not None and ref_big_decimal(b) is THROW)
                or (fa is not None and abs(fa) >= 2**53)
                or (fb is not None and abs(fb) >= 2**53)
            )
            if lenient:
                continue  # engine≡engine leg still covers these cells
        got_eq = s_map[(a, b)][eq_idx]
        got_ne = s_map[(a, b)][ne_idx]
        assert got_eq == str(want).lower(), ("=", a, b, got_eq, want)
        assert got_ne == str(not want).lower(), ("!=", a, b, got_ne, want)
        checked += 1
    assert checked > 300, f"port coverage too thin: {checked}"


def test_divide_matches_reference(cells):
    """Leg 2, divide kernel: scale-10 HALF_UP where the reference
    divides; NULL where it throws on /0 (documented rendering); the
    lenient-numeric class divides in double space."""
    pairs, s_map, _ = cells
    div_idx = TEMPLATES.index("f / g")
    checked = 0
    for a, b in pairs:
        got = s_map[(a, b)][div_idx]
        want = ref_divide(a, b)
        if want is THROW:
            fa, fb = engine_num(a), engine_num(b)
            if fa is None or fb is None:
                assert got is None, (a, b, got)
            elif fb == 0 or math.isnan(fb) or math.isinf(fb) \
                    or math.isnan(fa) or math.isinf(fa):
                continue  # lenient specials: engine≡engine leg covers them
            else:
                assert got is not None, (a, b, got)
            continue
        if math.isinf(float(want)) or abs(want) > 1e300:
            continue
        assert got is not None and abs(float(got) - float(want)) <= max(
            1e-9, 1e-9 * abs(float(want))), (a, b, got, want)
        checked += 1
    assert checked > 100, f"port coverage too thin: {checked}"


def test_ts_coercion_matches_reference(cells):
    """Leg 2, epoch kernel: date_format(f, 'yyyy-MM-dd HH:mm:ss') must
    render exactly the reference's LocalDateTime (UTC pinning is the
    engine's documented ZoneId choice) wherever the reference returns
    one inside years 0001-9999; NULL where it throws or the epoch falls
    outside the engine window (documented deviation)."""
    pairs, s_map, _ = cells
    fmt_idx = TEMPLATES.index("date_format(f, 'yyyy-MM-dd HH:mm:ss')")
    seen = set()
    checked = 0
    for a, _b in pairs:
        if a is None or a in seen:
            continue
        seen.add(a)
        got = s_map[(a, _b)][fmt_idx]
        want = ref_ts_from_any(a)
        if want is THROW or want is OUT_OF_WINDOW:
            assert got is None, (a, got, want)
        else:
            # %Y does not zero-pad years < 1000 on glibc — format the
            # year explicitly so 0001-01-01 round-trips
            ref_str = f"{want.year:04d}-" + want.strftime("%m-%d %H:%M:%S")
            assert got == ref_str, (a, got, ref_str)
            checked += 1
    assert checked >= 12, f"port coverage too thin: {checked}"


def test_now_compare_matches_reference(cells):
    """Leg 2, the date branch the reference DOES take: a datetime object
    (now()) on one side, the other side parsed via OperationNode's OWN
    parseDateTimeString (:144-168 — NO LocalDate fallback, date-only
    strings fail) — chronological where it parses, NULL where the
    reference's compareNumbers would throw on the LocalDateTime."""
    pairs, s_map, _ = cells
    idx = TEMPLATES.index("now() < f")
    seen = set()
    checked = 0
    for a, _b in pairs:
        if a in seen:
            continue
        seen.add(a)
        got = s_map[(a, _b)][idx]
        dt = (ref_parse_datetime(a, with_date_only=False)
              if a is not None else None)
        if dt is None:
            assert got is None, (a, got)
        else:
            assert got == str(NOW_DT < dt).lower(), (a, got, dt)
            checked += 1
    # the alphabet has 6 with-time datetimes that survive :144's
    # fallback-less parse (date-only forms are numeric-branch here)
    assert checked >= 6, f"port coverage too thin: {checked}"


def test_bool_ops_match_reference(cells):
    """Leg 2, the and/or/not kernels (:216-222): Java truthiness over
    EAGERLY-evaluated operands — a throw in either comparison aborts the
    row even where SQL 3-valued logic would decide (FALSE AND throw,
    TRUE OR throw are both errData); otherwise plain two-valued
    booleans, never unknown."""
    pairs, s_map, _ = cells
    and_idx = TEMPLATES.index("(f < g) AND (f != g)")
    or_idx = TEMPLATES.index("(f >= g) OR (f = g)")
    not_idx = TEMPLATES.index("NOT (f > g)")
    checked = 0
    for a, b in pairs:
        if _lenient(a) or _lenient(b):
            continue  # engine≡engine leg covers the lenient class
        got_and = s_map[(a, b)][and_idx]
        got_or = s_map[(a, b)][or_idx]
        got_not = s_map[(a, b)][not_idx]
        cmp = ref_compare(a, b)
        if cmp is THROW:
            assert got_and is None, (a, b, got_and)
            assert got_or is None, (a, b, got_or)
            assert got_not is None, (a, b, got_not)
            continue
        eqv = ref_is_equal(a, b)
        # documented 2^53 equality-precision bound
        fa, fb = engine_num(a), engine_num(b)
        if ((fa is not None and fb is not None) and (fa == fb) != eqv):
            continue
        assert got_and == str(cmp < 0 and not eqv).lower(), (a, b, got_and)
        assert got_or == str(cmp >= 0 or eqv).lower(), (a, b, got_or)
        assert got_not == str(not cmp > 0).lower(), (a, b, got_not)
        checked += 1
    assert checked > 100, f"port coverage too thin: {checked}"


def test_case_throw_matches_reference(cells):
    """Leg 2, ConditionNode (:729-749): lazy conditions fire on
    Boolean.TRUE.equals, but a THROWING condition aborts the row — it
    never falls through to a later WHEN or the implicit NULL default."""
    pairs, s_map, _ = cells
    idx = TEMPLATES.index("CASE WHEN f < g THEN 'lt' WHEN f >= g THEN 'ge' END")
    checked = 0
    for a, b in pairs:
        if _lenient(a) or _lenient(b):
            continue
        got = s_map[(a, b)][idx]
        cmp = ref_compare(a, b)
        if cmp is THROW:
            assert got is None, (a, b, got)
        else:
            assert got == ("lt" if cmp < 0 else "ge"), (a, b, got, cmp)
            checked += 1
    assert checked > 80, f"port coverage too thin: {checked}"


def test_numeric_zero_coercion_matches_reference(cells):
    """Leg 2, the toBigDecimal boundary in arithmetic and abs
    (:324-347, :547-556, :682-694): null and trim-empty are ZERO — a
    missing field ADDS as 0 — while non-numerics still throw."""
    pairs, s_map, _ = cells
    add_idx = TEMPLATES.index("f + g")
    mod_idx = TEMPLATES.index("f % g")
    abs_idx = TEMPLATES.index("abs(f)")
    checked = 0
    for a, b in pairs:
        if _lenient(a) or _lenient(b):
            continue
        xa, xb = ref_op_num(a), ref_op_num(b)
        got_add = s_map[(a, b)][add_idx]
        got_mod = s_map[(a, b)][mod_idx]
        got_abs = s_map[(a, b)][abs_idx]
        if xa is THROW:
            assert got_add is None and got_abs is None, (a, b)
        else:
            assert got_abs is not None and \
                abs(float(got_abs) - abs(float(xa))) <= 1e-9, (a, got_abs)
        if xa is THROW or xb is THROW:
            assert got_add is None and got_mod is None, (a, b)
            continue
        assert got_add is not None and \
            abs(float(got_add) - float(xa + xb)) <= max(
                1e-9, 1e-9 * abs(float(xa + xb))), (a, b, got_add)
        if xb == 0:
            # BigDecimal.remainder by ZERO throws (:313-318) — including
            # the null/'' divisor that zero-coercion produces
            assert got_mod is None, (a, b, got_mod)
        else:
            # truncated remainder, sign of the dividend
            want = float(xa - (xa / xb).to_integral_value(
                rounding="ROUND_DOWN") * xb)
            assert got_mod is not None and \
                abs(float(got_mod) - want) <= 1e-9, (a, b, got_mod, want)
        checked += 1
    assert checked > 100, f"port coverage too thin: {checked}"


def ref_substring(s, start: int, length: int):
    """String.substring bounds (:384-393): begin may equal the length
    (yields ''), beyond it THROWS; end = min(begin+length, len) and an
    end before begin THROWS; a null receiver NPEs on toString."""
    if s is None:
        return THROW
    b = start - 1
    if b < 0 or b > len(s):
        return THROW
    e = min(b + length, len(s))
    if e < b:
        return THROW
    return s[b:e]


def test_substring_matches_reference(cells):
    pairs, s_map, _ = cells
    idx = TEMPLATES.index("substring(f, 2, 3)")
    seen = set()
    checked = 0
    for a, _b in pairs:
        if a in seen:
            continue
        seen.add(a)
        got = s_map[(a, _b)][idx]
        want = ref_substring(a, 2, 3)
        if want is THROW:
            assert got is None, (a, got)
        else:
            assert got == want, (a, got, want)
            checked += 1
    assert checked > 20, f"port coverage too thin: {checked}"


def test_documented_trycast_underscore_divergence(spark):
    """DISCOVERED by this fuzz and documented rather than papered over:
    DuckDB's TRY_CAST numeric grammar accepts underscore digit
    separators ('1_0' → 10.0) where Spark yields NULL — a divergence in
    the engines themselves, below the compiler. The dirty alphabet and
    the fixture corpus exclude underscored numerics; this pin keeps the
    difference visible and fails if either engine changes grammar."""
    s = spark.sql("SELECT try_cast('1_0' AS DOUBLE)").collect()[0][0]
    d = duckdb.sql("SELECT TRY_CAST('1_0' AS DOUBLE)").fetchone()[0]
    assert s is None, s
    assert d == 10.0, d


def test_documented_json_trailing_garbage_divergence(spark):
    """DISCOVERED by the round-9 JSON extension and documented rather
    than papered over: Jackson's default readTree — used by BOTH the
    reference (extractJsonPathAsString :638, FAIL_ON_TRAILING_TOKENS
    off) and Spark's get_json_object — reads the FIRST complete JSON
    value and ignores trailing content, so '{"a": "x"}abc' extracts
    'x'; DuckDB's json_valid gate rejects the whole document. A
    divergence in the engines themselves, below the compiler. The
    closed alphabet therefore treats JSON documents as whole values:
    the tree generators feed get_json_string from FIELD leaves only
    (never concat/substring compositions that could mint a valid
    prefix + garbage). This pin keeps the difference visible and fails
    if either engine changes behavior."""
    dirty = '{"a": "x"}abc'
    s = spark.sql(
        f"SELECT get_json_object('{dirty}', '$.a')").collect()[0][0]
    d = duckdb.sql(
        f"SELECT CASE WHEN json_valid('{dirty}') THEN "
        f"json_extract_string('{dirty}', '$.a') END").fetchone()[0]
    assert s == "x", s      # Spark ≡ reference (Jackson leniency)
    assert d is None, d     # DuckDB: strict whole-document validation


def test_iso_fractional_seconds(spark):
    """ISO_LOCAL_DATE_TIME's fractional seconds (:156, :479, :600):
    1-9 digits parse through the iso_frac form, exactly as
    ISO_LOCAL_DATE_TIME accepts (live-JVM-verified; regex-gated native
    ISO TRY_CAST — '.5' is 500,000 µs in both engines, NOT the 5 µs
    DuckDB's %f strptime would read). Digits 7-9 (Java nanos) truncate
    to the engines' int64-µs at parse: value contexts (date_format at
    second granularity) are exact; REF-fidelity comparisons of a
    NONZERO sub-µs tail are the documented sub-µs deviation
    (SubMicroTail → Fragile in the ports). Pins both directions plus
    the compare path (the parsed fraction must survive into the chrono
    compare against a datetime object)."""
    cases = [
        # (f value, date_format result, now()>f — NOW is 12:00:00)
        ("2024-08-15T10:15:30.5", "2024-08-15 10:15:30", "true"),
        ("2024-08-15T10:15:30.123456", "2024-08-15 10:15:30", "true"),
        ("2024-08-15T10:15:30.1234567", "2024-08-15 10:15:30", "true"),
        ("2024-08-15T10:15:30.123456789", "2024-08-15 10:15:30", "true"),
        ("2024-08-15T10:15:30.1234567890", None, None),  # >9 digits: NULL
        ("2024-08-15T10:15:30", "2024-08-15 10:15:30", "true"),
    ]
    # the reference side: java.time reads '.5' as half a second
    assert datetime.fromisoformat(cases[0][0]).microsecond == 500_000
    tpls = ["date_format(f, 'yyyy-MM-dd HH:mm:ss')", "now() > f"]
    rows = [(f, None) for f, _, _ in cases]
    sdf = spark.createDataFrame(rows, "f string, g string")
    sdf.createOrReplaceTempView("iso_frac_rows")
    s_cols = ", ".join(
        f"CAST(({COMPILER.to_spark_sql(t)}) AS STRING)" for t in tpls)
    s_map = {r[0]: (r[1], r[2]) for r in spark.sql(
        f"SELECT f, {s_cols} FROM iso_frac_rows").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE iso_frac_rows(f VARCHAR, g VARCHAR)")
    con.executemany("INSERT INTO iso_frac_rows VALUES (?, ?)", rows)
    d_cols = ", ".join(
        f"CAST(({COMPILER.to_duckdb_sql(t)}) AS VARCHAR)" for t in tpls)
    d_map = {r[0]: (r[1], r[2]) for r in con.execute(
        f"SELECT f, {d_cols} FROM iso_frac_rows").fetchall()}
    for f, fmt_want, cmp_want in cases:
        assert s_map[f] == d_map[f] == (fmt_want, cmp_want), (
            f, s_map[f], d_map[f])
    # sub-second precision is really carried: 11:59:59.5 < NOW < a
    # whole-second 12:00:00 tie — the strict > must see the fraction
    probe = [("2024-08-15T11:59:59.5", None), ("2024-08-15T12:00:00", None)]
    spark.createDataFrame(probe, "f string, g string") \
        .createOrReplaceTempView("iso_frac_rows")
    got = {r[0]: r[1] for r in spark.sql(
        "SELECT f, CAST((" + COMPILER.to_spark_sql("now() > f")
        + ") AS STRING) FROM iso_frac_rows").collect()}
    assert got["2024-08-15T11:59:59.5"] == "true"
    assert got["2024-08-15T12:00:00"] == "false"


def test_smart_year_zero_is_null(spark):
    """The dash/slash/hour-24 bodies are ofPattern("yyyy…") parses under
    ResolverStyle.SMART, whose era-based ``yyyy`` rejects year-of-era 0
    (live-JVM-verified), so a year-0000 string is no datetime there and
    date_format/date_diff throw → NULL on both engines, as the port
    says. Strict ISO bodies keep year 0 (ISO_LOCAL_DATE_TIME uses the
    proleptic year); the year-1 controls prove the forms still parse."""
    year0 = ["0000-1-4 8:11:23", "0000/1/4 8:11:23", "0000-1-4 24:00:00"]
    year1 = {"0001-1-4 8:11:23": "0001-01-04 08:11:23",
             "0001/1/4 8:11:23": "0001-01-04 08:11:23",
             "0001-1-4 24:00:00": "0001-01-05 00:00:00"}
    for f in year0:
        assert ref_parse_datetime(f) is None, f
    tpls = ["date_format(f, 'yyyy-MM-dd HH:mm:ss')",
            "DATEDIFF(f, '2024-01-01 00:00:00')"]
    rows = [(f, None) for f in year0 + list(year1)]
    spark.createDataFrame(rows, "f string, g string") \
        .createOrReplaceTempView("year0_rows")
    s_cols = ", ".join(
        f"CAST(({COMPILER.to_spark_sql(t)}) AS STRING)" for t in tpls)
    s_map = {r[0]: (r[1], r[2]) for r in spark.sql(
        f"SELECT f, {s_cols} FROM year0_rows").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE year0_rows(f VARCHAR, g VARCHAR)")
    con.executemany("INSERT INTO year0_rows VALUES (?, ?)", rows)
    d_cols = ", ".join(
        f"CAST(({COMPILER.to_duckdb_sql(t)}) AS VARCHAR)" for t in tpls)
    d_map = {r[0]: (r[1], r[2]) for r in con.execute(
        f"SELECT f, {d_cols} FROM year0_rows").fetchall()}
    for f in year0:
        assert s_map[f] == d_map[f] == (None, None), (f, s_map[f], d_map[f])
    for f, want in year1.items():
        assert s_map[f][0] == d_map[f][0] == want, (f, s_map[f], d_map[f])
        assert s_map[f][1] == d_map[f][1] is not None, (f, s_map[f], d_map[f])


def test_sec_ms_boundary_is_strict():
    """The 1e10 boundary is a strict > in the reference (:526): exactly
    10000000000 is SECONDS (year 2286), one more is millis (1970)."""
    lo = ref_epoch_to_dt(10_000_000_000)
    hi = ref_epoch_to_dt(10_000_000_001)
    assert lo.year == 2286 and hi.year == 1970


# ---------------------------------------------------------------------------
# leg 3: seeded random trees over the dirty alphabet
# ---------------------------------------------------------------------------
# type-tracked generation: arithmetic takes only number-typed subtrees,
# comparisons yield booleans consumed only by CASE/NOT — the grammar real
# rules use (a boolean fed to `*` is a rule-author error that fails fast
# at registration in Spark's ANSI analyzer)
def _gen_num(rng: random.Random, depth: int) -> str:
    # constant leaves stay numeric-parseable: string constants reach
    # ANSI arithmetic un-try_cast (rule-author constants fail fast at
    # registration by design); the dirty VALUES flow through f/g, whose
    # resolver try_casts
    if depth <= 0:
        return rng.choice(["f", "g", "42", "3.5", "7"])
    a = _gen_num(rng, depth - 1)
    b = _gen_num(rng, depth - 1)
    pick = rng.random()
    if pick < 0.40:
        return f"({a} {rng.choice(['+', '-', '*', '/', '%'])} {b})"
    if pick < 0.55:
        return f"round({a} / 7, {rng.randrange(0, 4)})"
    if pick < 0.70:
        return f"abs({a} - {b})"
    if pick < 0.85:
        return f"length(concat({_gen_str(rng, depth - 1)}, 'x'))"
    return f"CASE WHEN {_gen_bool(rng, depth - 1)} THEN {a} END"


# the closed JSON-path pool: '$'-prefixed, non-negative indices (the
# compile-time-normalized grammar both engines and the reference share)
_JSON_PATHS = ["$.a", "$.b", "$.b.c[0]", "$.b.c[1]", "$.b.c[5]",
               "$.missing", "$.a.b[0]", "$.a.b[2]", "$.b[1].d", "$[0]"]


def _gen_str(rng: random.Random, depth: int) -> str:
    if depth <= 0:
        return rng.choice(["f", "g", "'7'", "'2024-08-10'"])
    a = _gen_str(rng, depth - 1)
    pick = rng.random()
    if pick < 0.25:
        return f"upper({a})"
    if pick < 0.5:
        return f"substring(concat({a}, {_gen_str(rng, depth - 1)}), "\
               f"{rng.randrange(1, 4)}, 5)"
    if pick < 0.65:
        # json input is a FIELD leaf only: a composed string (concat,
        # substring of a concat) can mint valid-prefix-plus-trailing-
        # garbage JSON, where the engines genuinely diverge (documented,
        # test_documented_json_trailing_garbage_divergence)
        return (f"get_json_string({rng.choice(['f', 'g'])}, "
                f"'{rng.choice(_JSON_PATHS)}')")
    if pick < 0.8:
        return f"nullif({a}, {_gen_str(rng, depth - 1)})"
    return f"coalesce(nullif({a}, ''), {_gen_str(rng, depth - 1)}, 'empty')"


def _gen_bool(rng: random.Random, depth: int) -> str:
    if depth <= 0 or rng.random() < 0.5:
        if rng.random() < 0.5:
            return (f"{_gen_num(rng, 0)} "
                    f"{rng.choice(['<', '<=', '>', '>=', '=', '!='])} "
                    f"{_gen_num(rng, 0)}")
        return (f"{_gen_str(rng, 0)} {rng.choice(['=', '!='])} "
                f"{_gen_str(rng, 0)}")
    a = _gen_bool(rng, depth - 1)
    b = _gen_bool(rng, depth - 1)
    return rng.choice([f"({a} AND {b})", f"({a} OR {b})", f"NOT {a}"])


def _gen(rng: random.Random, depth: int) -> str:
    pick = rng.random()
    if pick < 0.5:
        return _gen_num(rng, depth)
    if pick < 0.75:
        return _gen_str(rng, depth)
    return f"CASE WHEN {_gen_bool(rng, depth)} THEN 'y' ELSE 'n' END"


N_RANDOM = 150


def test_random_trees_agree_on_dirty_rows(spark):
    rng = random.Random(20260815)
    exprs = [_gen(rng, rng.randrange(1, 4)) for _ in range(N_RANDOM)]
    # a dirty-row sample: every value class represented
    rows = [(a, b) for a, b in zip(DIRTY, DIRTY[7:] + DIRTY[:7])]

    s_cols = [f"CAST(({COMPILER.to_spark_sql(e)}) AS STRING) AS c{i}"
              for i, e in enumerate(exprs)]
    d_cols = [f"CAST(({COMPILER.to_duckdb_sql(e)}) AS VARCHAR) AS c{i}"
              for i, e in enumerate(exprs)]

    spark.createDataFrame(rows, "f string, g string") \
        .createOrReplaceTempView("fuzz_rand_rows")
    s_rows = spark.sql(
        "SELECT f, g, " + ", ".join(s_cols) + " FROM fuzz_rand_rows"
    ).collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE fuzz_rand_rows (f VARCHAR, g VARCHAR)")
    con.executemany("INSERT INTO fuzz_rand_rows VALUES (?, ?)", rows)
    d_rows = con.execute(
        "SELECT f, g, " + ", ".join(d_cols) + " FROM fuzz_rand_rows"
    ).fetchall()

    s_map = {(r[0], r[1]): tuple(r[2:]) for r in s_rows}
    d_map = {(r[0], r[1]): tuple(r[2:]) for r in d_rows}
    bad = []
    for key in s_map:
        for i, e in enumerate(exprs):
            if not _norm_eq(s_map[key][i], d_map[key][i]):
                bad.append((e, key, s_map[key][i], d_map[key][i]))
    assert not bad, f"{len(bad)} divergences, first 5: {bad[:5]}"
