"""Ground-truth layer for the keyword/UA/URL-decode models: the
reference's SearchKeywordParser.parse, ToolUtil.uaAnalysis, and both
UrlDecoder entry points, compiled unmodified and executed on this
container's JDK (generator: tests/tools/gen_refkw_fixture.py), results
committed as tests/data/refkw_jvm_fixture.jsonl.gz. The Python models —
the part-walk + decodeMultiCharset + cleanKeyword composite, the
uaAnalysis port (incl. Java's literal-'null' unmatched-group
rendering), and the java_url_decode-based decoders — must reproduce
every cell. This empirically seals the round-9 line-reading fixes
(URL-order param walk, empty-value stop, '+'→' ', strict %-patterns,
U+FFFD byte replacement, the Opera 'null')."""

from __future__ import annotations

import gzip
import json
import os
import re
from datetime import date, timedelta

import pytest

# JVM-fixture sweep over the reference keyword decoder: run with
# --runslow when search_keywords or its fixtures change
pytestmark = pytest.mark.slow

from zg_etl_spark.functions.search_keywords import (
    ENGINES,
    decode_multi_charset,
    url_decode_utf8,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "data",
                       "refkw_jvm_fixture.jsonl.gz")


def _py_kw(u):
    """SearchKeywordParser.parse: engine by pattern (our deterministic
    list order — single-match inputs only in the corpus; the reference's
    HashMap order is JVM-undefined for multi-match), keyword = first
    URL-ordered part whose name is in the param set (may be ''), then
    decodeMultiCharset + cleanKeyword."""
    eng = None
    for e2, pat, _ in ENGINES:
        if re.search(pat, u, re.IGNORECASE):
            eng = e2
            break
    if eng is None:
        return "unknown|"
    params = dict((e2, ps) for e2, _, ps in ENGINES)[eng]
    q = u.find("?")
    kw = None
    if q != -1:
        for part in u[q + 1:].split("&"):
            i = part.find("=")
            if i == -1:
                continue
            if any(part[:i].lower() == p.lower() for p in params):
                kw = part[i + 1:]
                break
    if not kw:
        return f"{eng}|"
    kw = decode_multi_charset(kw)
    kw = kw.strip()
    kw = re.sub(r'^"|"$', "", kw)
    kw = re.sub(r"^'|'$", "", kw)
    return f"{eng}|{kw}"


def _py_ua(ua):
    if ua is None:
        return ":"
    if "Android" in ua:
        m = re.search(r"linux;.*(android).([\w.,/\-]+)", ua, re.I)
    else:
        m = re.search(r"(ip[honead]+)(?:.*os.([\w.,/\-]+).like|;\sopera)",
                      ua, re.I)
    name, ver = "", ""
    if m:
        name = m.group(1)
        if m.group(2) is None:
            ver = "null"  # Java string concat of the unmatched group
        else:
            ver = re.sub(r"[^a-zA-Z0-9 ]", ".", m.group(2))
    return f"{name}:{ver}"


SEP1, SEP2 = chr(1), chr(2)


def _java_split_eq(kv):
    """String.split("=") with Java's trailing-empty drop."""
    parts = kv.split("=")
    while parts and parts[-1] == "":
        parts.pop()
    return parts


def _py_um(url):
    """Exact port of ToolUtil.urlParseToMap (:101-135): URLDecoder FIRST
    (malformed % → empty map), split on '?' keeping ONLY fields[1] (a
    second '?' truncates), '&'-split parts needing '=', key/value from a
    plain split('=') — the value is the segment between the first and
    second '=' — map.put last-duplicate-wins. Rendered sorted for the
    fixture compare."""
    from zg_etl_spark.functions.search_keywords import java_url_decode

    try:
        decoded = java_url_decode(url, "utf-8")
    except Exception:
        return {}
    mp = {}
    if "?" in decoded:
        fields = decoded.split("?")
        if len(fields) > 1:
            key_values = fields[1]
            parts = (key_values.split("&") if "&" in key_values
                     else ([key_values] if "=" in key_values else []))
            for kv in parts:
                if "=" not in kv:
                    continue
                arr = _java_split_eq(kv)
                if not arr:
                    # a bare '='/'==' part splits to an EMPTY array:
                    # keyValueArr[0] throws inside the reference's try
                    # and the catch returns a NEW map (ToolUtil.java:
                    # 131-134) — the WHOLE result is empty, the part is
                    # not just skipped (round-10 um mega-sweep find)
                    return {}
                mp[arr[0]] = arr[1] if len(arr) > 1 else ""
    return mp


def _py_dt(v):
    """Exact port of ToolUtil.dateUsStrToTimestamp (:45-70): length>17
    dispatches seconds-vs-minutes "yyyy-MM-dd'T'HH:mm[:ss]'Z'" — an
    ofPattern, so ResolverStyle.SMART applies (day clamps to the month,
    exactly 24:00[:00] is next-day midnight); failure → 0."""
    import calendar

    if v is None or v.strip() == "":
        return 0
    if len(v) > 17:
        m = re.fullmatch(
            r"(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})Z", v)
    else:
        m = re.fullmatch(r"(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2})Z", v)
    if not m:
        return 0
    y, mo, dd, h, mi, *rest = [int(x) for x in m.groups()] + [0]
    ss = rest[0] if len(m.groups()) == 6 else 0
    if not (1 <= y <= 9999 and 1 <= mo <= 12 and 1 <= dd <= 31):
        # year 0000: SMART's era-based 'yyyy' rejects year-of-era 0
        # (JVM-pinned → 0)
        return 0
    dd = min(dd, calendar.monthrange(y, mo)[1])
    if not ((h == 24 and mi == 0 and ss == 0)
            or (h <= 23 and mi <= 59 and ss <= 59)):
        return 0
    # ordinal arithmetic, not datetime(): hour 24 on 9999-12-31 rolls
    # into year 10000, which Java represents and datetime cannot
    from datetime import date
    days = date(y, mo, dd).toordinal() - date(1970, 1, 1).toordinal()
    return (((days * 24 + h) * 60 + mi) * 60 + ss) * 1000


def _py_dp(v):
    """DevicePropertyParser.parse rendered at the fixture contract:
    brand U+0001 model in, 7 fields U+0002-joined out, U+0000 = null.
    The port itself (incl. the HashMap-order contains-scan) lives with
    the p45 oracle in test_independent_oracles."""
    from test_independent_oracles import py_device_parse

    b, m = v.split("\x01")
    t = py_device_parse(None if b == "\x00" else b,
                        None if m == "\x00" else m)
    return "\x02".join("\x00" if x is None else str(x) for x in t)


# ---------------------------------------------------------------------------
# Mode 'ea' — EventAttrTransfer kernels (the G8 sanitizers, the time-
# bucket builders, the st/se rewrite), exact Python ports verified
# against the reference methods executed on this JDK (reflection, UTC
# pin). EventAttrTransfer.java:497-534 (sanitizers), :360-365 (st/se),
# :367-396 (time buckets / tz gate / year-week).
# ---------------------------------------------------------------------------
_NV = "\\N"


def _ea_nul(x):
    return None if x == "\x00" else x


def _ea_null_or_empty(x):
    # isNullOrEmpty (:494-496): null, empty, or the EXACT '\N' sentinel
    return x is None or x == "" or x == _NV


def _java_trim(s):
    """String.trim: strips every char <= U+0020 from both ends (NOT just
    space, and NOT U+00A0/U+3000 — fixture-pinned)."""
    i, j = 0, len(s)
    while i < j and s[i] <= " ":
        i += 1
    while j > i and s[j - 1] <= " ":
        j -= 1
    return s[i:j]


def _java_ensure_length(x, ml):
    """:497-502. Replace [\\t\\n\\r"\\\\\\u0000] with spaces, Java-trim,
    truncate by UTF-16 UNITS (an astral char counts 2; truncation may
    strand a lone surrogate — fixture-pinned on the '\\U0001F389'*129
    cells)."""
    if _ea_null_or_empty(x):
        return _NV
    x = re.sub('[\t\n\r"\\\\\x00]', " ", x)
    x = _java_trim(x)
    u = x.encode("utf-16-be", "surrogatepass")
    if len(u) // 2 > ml:
        x = u[: 2 * ml].decode("utf-16-be", "surrogatepass")
    return x


def _java_ensure_int_length(x):
    """:509-513: digits-only full match ([0-9] is ASCII — fullwidth and
    Arabic-Indic digits REJECT), length <= 6, plus the literal 'null'
    sentinel."""
    if _ea_null_or_empty(x) or x == "null":
        return _NV
    if len(x.encode("utf-16-be", "surrogatepass")) // 2 > 6 or \
            not re.fullmatch("[0-9]*", x):
        return _NV
    return x


def _java_parse_int(x):
    """Integer.parseInt radix 10: optional sign then >=1 decimal digits
    (Character.digit is Unicode-aware, hence \\d), int32 range."""
    if not re.fullmatch(r"[+-]?\d+", x):
        raise ValueError(x)
    v = int(x)
    if not -2**31 <= v <= 2**31 - 1:
        raise ValueError(x)
    return v


def _java_ensure_int_range(x, mn, mx):
    """:516-523: parse failure or out-of-range -> '0'; in-range returns
    the ORIGINAL string verbatim ('007' stays '007', '+5' stays '+5' —
    fixture-pinned; the engine's duration column is numeric at the
    source so the verbatim channel has no SQL counterpart)."""
    if _ea_null_or_empty(x):
        return "0"
    try:
        v = _java_parse_int(x)
    except ValueError:
        return "0"
    return x if mn <= v <= mx else "0"


def _java_ip_to_long(x):
    """:525-534: split('\\\\.') drops TRAILING empties ('1.2.3.4.' still
    parses), exactly 4 parts, and each parseInt result is OR-folded
    UNVALIDATED — 256 overlaps the next octet, negatives sign-extend
    across the whole long ('1.2.3.-4' -> -4). 64-bit wrap modeled
    explicitly."""
    if _ea_null_or_empty(x):
        return None
    parts = x.split(".")
    while parts and parts[-1] == "":
        parts.pop()
    if len(parts) != 4:
        return None
    r = 0
    for p in parts:
        try:
            v = _java_parse_int(p)
        except ValueError:
            return None
        r = ((r << 8) | (v & 0xFFFFFFFFFFFFFFFF)) & 0xFFFFFFFFFFFFFFFF
    return r - 2**64 if r >= 2**63 else r


# GregorianCalendar is a HYBRID calendar: proleptic Julian before the
# 1582-10-15 cutover — datetime/Spark/DuckDB are proleptic GREGORIAN, so
# SQL time buckets are exact only post-cutover (isExpiredTime gates every
# reference row to a recent window, so the divergence is unreachable;
# the port models it anyway and the fixture pins it).
_CUTOVER_DAY = -12219292800000 // 86400000


def _cal_ymd(day_number):
    if day_number >= _CUTOVER_DAY:
        d = date(1970, 1, 1) + timedelta(days=day_number)
        return d.year, d.month, d.day
    # Julian civil-from-days (JDN of 1970-01-01 = 2440588)
    c = day_number + 2440588 + 32082
    dd = (4 * c + 3) // 1461
    e = c - (1461 * dd) // 4
    m = (5 * e + 2) // 153
    return (dd - 4800 + m // 10, m + 3 - 12 * (m // 10),
            e - (153 * m + 2) // 5 + 1)


def _java_time_components(ct):
    """getTimeComponents (:374-386) under the UTC pin: day = yyyyMMdd,
    hour = HOUR_OF_DAY %02d, mill = MILLISECOND %03d. divmod IS
    Calendar's floor semantics (ct=-1 -> 23h/999ms, where SQL's % would
    give -1 — the engine uses floor-mod for begin_time_id)."""
    sec, ms = divmod(ct, 1000)
    days, rem = divmod(sec, 86400)
    y, mo, dd = _cal_ymd(days)
    return f"{y:04d}{mo:02d}{dd:02d}", f"{rem // 3600:02d}", f"{ms:03d}"


def _java_ts_to_date_string(ct, tz):
    """timestampToDateString (:367-372): null ct/tz -> \\N, |tz| beyond
    48h -> \\N; tz is VALIDATED, never applied — the format still runs in
    the default (pinned-UTC) zone."""
    if ct is None or tz is None or abs(tz) > 48 * 3600 * 1000:
        return _NV
    sec, _ = divmod(ct, 1000)
    days, rem = divmod(sec, 86400)
    y, mo, dd = _cal_ymd(days)
    return (f"{y:04d}-{mo:02d}-{dd:02d} "
            f"{rem // 3600:02d}:{rem % 3600 // 60:02d}:{rem % 60:02d}")


def _java_lenient_parse_ms(s):
    """SimpleDateFormat('yyyy-MM-dd HH:mm:ss').parse with the default
    LENIENT Calendar: every field free-ranges and rolls (month 13 ->
    next January, hour 99 -> days later — fixture-pinned
    '2023-13-45 99:99:99' -> week 202407)."""
    m = re.fullmatch(r"(\d+)-(\d+)-(\d+) (\d+):(\d+):(\d+)", s)
    if not m:
        raise ValueError(s)
    y, mo, dd, h, mi, ss = (int(g) for g in m.groups())
    y += (mo - 1) // 12
    mo = (mo - 1) % 12 + 1
    days = (date(y, mo, 1).toordinal() - date(1970, 1, 1).toordinal()
            + dd - 1)
    return ((days * 24 + h) * 3600 + mi * 60 + ss) * 1000


def _java_year_week(s):
    """getYearWeek (:388-396): lenient parse, minus ONE day, then
    SimpleDateFormat('YYYYww') — Sunday-start / minimalDays=1 week
    rules, the same _java_yw pin p34 uses."""
    try:
        ms = _java_lenient_parse_ms(s)
    except ValueError:
        return _NV
    d = date(1970, 1, 1) + timedelta(days=ms // 1000 // 86400 - 1)
    start = d - timedelta(days=(d.weekday() + 1) % 7)
    week_year = (start + timedelta(days=6)).year
    jan1 = date(week_year, 1, 1)
    week1_start = jan1 - timedelta(days=(jan1.weekday() + 1) % 7)
    return f"{week_year:04d}{(start - week1_start).days // 7 + 1:02d}"


def _py_ea(v):
    a = v.split("\x01")
    op = a[0]
    if op == "el":
        return _java_ensure_length(_ea_nul(a[2]), int(a[1]))
    if op == "ei":
        return _java_ensure_int_length(_ea_nul(a[1]))
    if op == "en":
        x = _ea_nul(a[1])
        return _NV if x == "-1" else _java_ensure_int_length(x)
    if op == "er":
        return _java_ensure_int_range(_ea_nul(a[3]), int(a[1]), int(a[2]))
    if op == "il":
        r = _java_ip_to_long(_ea_nul(a[1]))
        return None if r is None else str(r)
    if op == "em":
        # getEventNameFromMap: getStringValue renders a MISSING key as
        # the '\N' sentinel, and only the exact strings '-1'/'-2' rewrite
        zg = _NV if a[1] == "\x00" else a[1]
        return ("st" if zg == "-1" else "se" if zg == "-2"
                else (_NV if a[2] == "\x00" else a[2]))
    if op == "tc":
        return "\x02".join(_java_time_components(int(a[1])))
    if op == "ts":
        return _java_ts_to_date_string(
            None if a[1] == "\x00" else int(a[1]),
            None if a[2] == "\x00" else int(a[2]))
    if op == "gy":
        return _java_year_week(a[1])
    raise AssertionError(f"unknown ea op {op}")


def _load_ea_cells():
    with gzip.open(FIXTURE, "rt", encoding="utf-8") as fh:
        fh.readline()
        return [(v, r) for m, v, r in (json.loads(l) for l in fh)
                if m == "ea"]


def _sql_hostile(s):
    """Values no SQL engine leg can transport: NUL bytes and (lone)
    surrogates don't survive VARCHAR/Arrow. These cells stay pinned by
    the Python port above."""
    return any(c == "\x00" or 0xD800 <= ord(c) <= 0xDFFF for c in s)


def _el_utf16_bites(x, ml):
    """The DOCUMENTED clean() deviation: Java truncates by UTF-16 units,
    SQL substring by codepoints — only differs when the cleaned string
    exceeds maxlen in UTF-16 units AND contains an astral char."""
    if _ea_null_or_empty(x):
        return False
    x = re.sub('[\t\n\r"\\\\\x00]', " ", x)
    x = _java_trim(x)
    return (len(x.encode("utf-16-be", "surrogatepass")) // 2 > ml
            and any(ord(c) > 0xFFFF for c in x))


def _ea_sql_plan(cells):
    """Group the fixture cells the ENGINE templates cover into
    (kind, key) -> [(input, expected-jvm)] with the documented carve-outs
    applied; returns the groups plus how many cells were excluded."""
    groups: dict = {}
    excluded = 0
    for v, jvm in cells:
        a = v.split("\x01")
        op = a[0]
        if op == "el":
            ml, x = int(a[1]), _ea_nul(a[2])
            if x is not None and (_sql_hostile(x)
                                  or _el_utf16_bites(x, ml)):
                excluded += 1
                continue
            groups.setdefault(("el", ml), []).append((x, jvm))
        elif op in ("ei", "en"):
            x = _ea_nul(a[1])
            if x is not None and _sql_hostile(x):
                excluded += 1
                continue
            groups.setdefault((op, None), []).append((x, jvm))
        elif op == "tc":
            ct = int(a[1])
            if ct // 1000 // 86400 < _CUTOVER_DAY:
                excluded += 1   # hybrid-calendar carve-out (gated away)
                continue
            groups.setdefault(("tc", None), []).append((ct, jvm))
        elif op == "gy":
            # engine domain: canonical well-formed realtime only (the
            # engine derives it from ct; lenient-roll cells pin the
            # Python port)
            m = re.fullmatch(
                r"(\d{4})-(\d{2})-(\d{2}) (\d{2}):(\d{2}):(\d{2})", a[1])
            if not m:
                excluded += 1
                continue
            y, mo, dd, h, mi, ss = (int(g) for g in m.groups())
            try:
                date(y, mo, dd)
            except ValueError:
                excluded += 1
                continue
            if h > 23 or mi > 59 or ss > 59:
                excluded += 1
                continue
            groups.setdefault(("gy", None), []).append(
                (date(y, mo, dd) - timedelta(days=1), jvm))
    return groups, excluded


def test_ea_sql_templates_match_jvm_fixture_duckdb():
    """The DUCK renderings of the engine kernels (clean / int_len / net,
    the begin_day_id/begin_time_id composites, yw_java) must reproduce
    the JVM fixture on every cell inside their documented domain — this
    pins the SQL the oracles actually run, not just the Python port."""
    import duckdb

    from zg_etl_spark.operators.domain import DUCK

    groups, excluded = _ea_sql_plan(_load_ea_cells())
    covered = sum(len(r) for r in groups.values())
    # carve-outs are mostly the NUL/surrogate soup cells that cannot
    # transit VARCHAR/Arrow — the Python port still pins every one
    assert covered > 450 and excluded < covered / 2, (covered, excluded)
    con = duckdb.connect()
    bad = []
    for (kind, key), rows in sorted(groups.items(),
                                    key=lambda kv: str(kv[0])):
        if kind == "el":
            expr, caster = DUCK.clean("v", key), str
        elif kind == "ei":
            expr, caster = DUCK.int_len("v"), str
        elif kind == "en":
            expr, caster = DUCK.net("v"), str
        elif kind == "tc":
            ts = DUCK.ts("v")
            expr = (f"{DUCK.fmt(ts, 'yyyyMMdd')} || chr(2) || "
                    f"{DUCK.fmt(ts, 'HH')} || chr(2) || "
                    f"lpad(CAST((v % 1000 + 1000) % 1000 AS VARCHAR),"
                    f" 3, '0')")
            caster = str
        else:  # gy
            expr = f"CAST({DUCK.yw_java('v')} AS VARCHAR)"
            caster = lambda jvm: str(int(jvm))  # noqa: E731
        con.execute("DROP TABLE IF EXISTS t")
        typ = ("VARCHAR" if kind in ("el", "ei", "en")
               else "BIGINT" if kind == "tc" else "DATE")
        con.execute(f"CREATE TABLE t (i INT, v {typ})")
        con.executemany("INSERT INTO t VALUES (?, ?)",
                        [(i, x) for i, (x, _) in enumerate(rows)])
        got = dict(con.execute(
            f"SELECT i, {expr} FROM t ORDER BY i").fetchall())
        for i, (x, jvm) in enumerate(rows):
            want = None if jvm == _NV else caster(jvm)
            if got[i] != want:
                bad.append((kind, key, x, jvm, got[i]))
    assert not bad, f"{len(bad)} SQL divergences, first 5: {bad[:5]}"


def test_ea_sql_templates_match_jvm_fixture_spark(spark):
    """Same leg through the SPARK dialect renderings — the exact
    expressions the wide-table spine executes."""
    from pyspark.sql.types import (DateType, LongType, StringType,
                                   StructField, StructType)

    from zg_etl_spark.operators.domain import SPARK

    groups, excluded = _ea_sql_plan(_load_ea_cells())
    covered = sum(len(r) for r in groups.values())
    # carve-outs are mostly the NUL/surrogate soup cells that cannot
    # transit VARCHAR/Arrow — the Python port still pins every one
    assert covered > 450 and excluded < covered / 2, (covered, excluded)
    bad = []
    for (kind, key), rows in sorted(groups.items(),
                                    key=lambda kv: str(kv[0])):
        if kind == "el":
            expr, caster = SPARK.clean("v", key), str
        elif kind == "ei":
            expr, caster = SPARK.int_len("v"), str
        elif kind == "en":
            expr, caster = SPARK.net("v"), str
        elif kind == "tc":
            ts = SPARK.ts("v")
            expr = (f"concat({SPARK.fmt(ts, 'yyyyMMdd')}, char(2), "
                    f"{SPARK.fmt(ts, 'HH')}, char(2), "
                    f"lpad(CAST((v % 1000 + 1000) % 1000 AS STRING),"
                    f" 3, '0'))")
            caster = str
        else:  # gy
            expr = f"CAST({SPARK.yw_java('v')} AS STRING)"
            caster = lambda jvm: str(int(jvm))  # noqa: E731
        typ = (StringType() if kind in ("el", "ei", "en")
               else LongType() if kind == "tc" else DateType())
        df = spark.createDataFrame(
            [(i, x) for i, (x, _) in enumerate(rows)],
            StructType([StructField("i", LongType()),
                        StructField("v", typ)]))
        df.createOrReplaceTempView("ea_cells")
        got = {r.i: r.o for r in spark.sql(
            f"SELECT i, {expr} AS o FROM ea_cells").collect()}
        for i, (x, jvm) in enumerate(rows):
            want = None if jvm == _NV else caster(jvm)
            if got[i] != want:
                bad.append((kind, key, x, jvm, got[i]))
    assert not bad, f"{len(bad)} SQL divergences, first 5: {bad[:5]}"


def _dt_cells():
    with gzip.open(FIXTURE, "rt", encoding="utf-8") as fh:
        fh.readline()
        cells = [json.loads(l) for l in fh]
    return [(v, int(jvm)) for m, v, jvm in cells if m == "dt"]


def _dt_sql(d):
    """p51's clickDate lane (plans/pipeline._p51) over column v, with
    ToolUtil's failure value 0 in place of NULL."""
    return (f"COALESCE(CASE WHEN length(v) > 17 "
            f"THEN {d.utc_str_ms('v', True)} "
            f"ELSE {d.utc_str_ms('v', False)} END, 0)")


def test_dt_sql_matches_jvm_fixture_duckdb():
    """The DUCK rendering of utc_str_ms — the SQL p51's oracle runs —
    reproduces ToolUtil.dateUsStrToTimestamp on every 'dt' cell,
    including the year-0000 cells SMART's era-based yyyy rejects."""
    import duckdb

    from zg_etl_spark.dialect import DUCK

    cells = _dt_cells()
    assert len(cells) == 30, len(cells)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, v) for i, (v, _) in enumerate(cells)])
    got = dict(con.execute(f"SELECT i, {_dt_sql(DUCK)} FROM t").fetchall())
    bad = [(v, jvm, got[i]) for i, (v, jvm) in enumerate(cells)
           if got[i] != jvm]
    assert not bad, f"{len(bad)} SQL divergences: {bad}"


def test_dt_sql_matches_jvm_fixture_spark(spark):
    """Same leg through the SPARK rendering — the expression p51 runs."""
    from zg_etl_spark.dialect import SPARK

    cells = _dt_cells()
    assert len(cells) == 30, len(cells)
    spark.createDataFrame([(i, v) for i, (v, _) in enumerate(cells)],
                          "i long, v string") \
        .createOrReplaceTempView("dt_cells")
    got = {r.i: r.o for r in spark.sql(
        f"SELECT i, {_dt_sql(SPARK)} AS o FROM dt_cells").collect()}
    bad = [(v, jvm, got[i]) for i, (v, jvm) in enumerate(cells)
           if got[i] != jvm]
    assert not bad, f"{len(bad)} SQL divergences: {bad}"


def test_python_models_reproduce_kw_jvm_fixture():
    from zg_etl_spark.functions.search_keywords import ref_utm_term_from_ref

    with gzip.open(FIXTURE, "rt", encoding="utf-8") as fh:
        header = json.loads(fh.readline())
        cells = [json.loads(l) for l in fh]
    assert len(cells) == header["n_cells"]
    counts = {"kw": 0, "ua": 0, "dm": 0, "du": 0, "um": 0, "dt": 0,
              "ut": 0, "dp": 0, "ea": 0}
    bad = []
    for m, v, jvm in cells:
        if m == "cv":
            continue  # dedicated legs below (port + both SQL dialects)
        if m == "kw":
            want = _py_kw(v)
        elif m == "ea":
            want = _py_ea(v)
            want = " NULL" if want is None else want
        elif m == "ua":
            want = _py_ua(v)
        elif m == "um":
            mp = _py_um(v)
            want = SEP1.join(f"{k}{SEP2}{mp[k]}" for k in sorted(mp))
        elif m == "dt":
            want = str(_py_dt(v))
        elif m == "ut":
            # getUtmTermFromRef: the java.net.URI host/query subset port
            want = ref_utm_term_from_ref(v)
        elif m == "dp":
            want = _py_dp(v)
        elif m == "dm":
            want = decode_multi_charset(v)
            want = " NULL" if want is None else want
        else:
            want = url_decode_utf8(v)
            want = " NULL" if want is None else want
        counts[m] += 1
        if want != jvm:
            bad.append((m, v, jvm, want))
    assert counts["ut"] > 400 and counts["dp"] > 250, counts
    assert counts["ea"] > 800, counts
    assert not bad, f"{len(bad)} divergences, first 5: {bad[:5]}"
    assert counts["kw"] >= 400 and counts["ua"] >= 200, counts


# Mode 'cv' — OperatorUtil.compareValue, the p43/p50 match_json
# comparator (pipeline util/OperatorUtil.java:133-335). Round 11: the
# fixture retired most of the fastjson2 boundary (SURVEY.md §5.3) by
# compiling the reference class against identity-typed JSON stubs and
# the real commons-lang3. Ground-truth finds it pinned: Long.parseLong
# accepts ANY Unicode Nd digit ('١٢' == 12), LocalDate's SMART resolver
# clamps day 29-31 into the month ('2023-02-30' → Feb 28), and the
# relative-day window arithmetic wraps in Java int space at
# |day| >= 24856 — all previously mismodeled by BOTH Python ports.

def _load_cv_cells():
    with gzip.open(FIXTURE, "rt", encoding="utf-8") as fh:
        fh.readline()
        return [(v, r) for m, v, r in (json.loads(l) for l in fh)
                if m == "cv"]


def _cv_parse(v):
    """Decode a cv cell into (value, match_json-dict)."""
    a = v.split("\x01")
    val = None if a[0] == "\x00" else a[0]
    mj = {}
    if a[1] != "\x04":
        mj["type"] = int(a[1])
    if a[2] != "\x04":
        mj["operator"] = None if a[2] == "\x00" else a[2]
    if a[3] != "\x04":
        mj["values"] = [] if a[3] == "\x00" else a[3].split("\x02")
    return val, mj


def _cv_now_ms():
    """Real clock — every relative-date cell in the corpus uses
    timestamps DECADES from any plausible replay date (gen_refkw_fixture
    cv_corpus docstring), so the recorded JVM truth is now-invariant."""
    import time

    return int(time.time() * 1000)


def test_cv_python_port_reproduces_jvm_fixture():
    """The independent Python port (tests/javaport_matchjson.py) must
    reproduce every cell INCLUDING the exception channels — Java's
    throws are part of the pinned surface (THROW:<SimpleName>)."""
    from javaport_matchjson import Abstain, JavaThrow, ref_compare_java

    now_ms = _cv_now_ms()
    cells = _load_cv_cells()
    assert len(cells) > 900, len(cells)
    bad, abstained, throws = [], 0, 0
    for v, jvm in cells:
        val, mj = _cv_parse(v)
        try:
            want = str(ref_compare_java(val, mj, now_ms)).lower()
        except JavaThrow as e:
            want = "THROW:" + e.kind
            throws += 1
        except Abstain:
            abstained += 1  # non-portable Java regex: SQL Spark leg pins
            continue
        if want != jvm:
            bad.append((v.split("\x01"), jvm, want))
    assert throws >= 15, throws  # the NPE/date/pattern/index channels
    assert abstained < 40, abstained
    assert not bad, f"{len(bad)} divergences, first 5: {bad[:5]}"


def _cv_sql_plan(cells, re2_only):
    """Cells the SQL compiler covers, grouped by identical rule:
    (rule-key) -> (mj, [(value, expected)]). Excluded (returned count):
    THROW cells (a poison config kills the reference job — the compiler
    collapses them to FALSE by documented design, asserted separately),
    null/omitted-key shapes the compiler is never handed (the pipeline
    always passes a parsed rule with type/operator/values), and — for
    the RE2 leg only — regexp outside the RE2∩Java family."""
    from javaport_matchjson import re2_portable

    groups, excluded = {}, 0
    for v, jvm in cells:
        val, mj = _cv_parse(v)
        op = mj.get("operator")
        vals = mj.get("values")
        if (jvm.startswith("THROW") or val is None or op is None
                or vals is None or "type" not in mj):
            excluded += 1
            continue
        if (re2_only and mj["type"] == 1 and op in ("regexp", "not regexp")
                and vals and not re2_portable(str(vals[0]))):
            excluded += 1
            continue
        key = (mj["type"], op, tuple(vals))
        groups.setdefault(key, (mj, []))[1].append((val, jvm))
    return groups, excluded


def test_cv_sql_templates_match_jvm_fixture_duckdb():
    """match_predicate's DUCK rendering must reproduce the JVM on every
    cell in its documented domain — this pins the SQL the p43/p50
    oracles actually run (Nd-digit translate, the int-wrap window, the
    SMART date model), not just the Python port."""
    import duckdb

    from zg_etl_spark.functions.match_json import match_predicate
    from zg_etl_spark.operators.domain import DUCK

    now_ms = _cv_now_ms()
    groups, excluded = _cv_sql_plan(_load_cv_cells(), re2_only=True)
    covered = sum(len(r) for _, r in groups.values())
    assert covered > 700 and excluded < covered / 4, (covered, excluded)
    con = duckdb.connect()
    bad = []
    for key in sorted(groups, key=str):
        mj, rows = groups[key]
        pred = match_predicate(DUCK, mj, "v", now_ms=str(now_ms))
        con.execute("DROP TABLE IF EXISTS t")
        con.execute("CREATE TABLE t (i INT, v VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)",
                        [(i, x) for i, (x, _) in enumerate(rows)])
        got = dict(con.execute(
            f"SELECT i, CASE WHEN {pred} THEN 'true' ELSE 'false' END "
            f"FROM t ORDER BY i").fetchall())
        for i, (x, jvm) in enumerate(rows):
            if got[i] != jvm:
                bad.append((key, x, jvm, got[i]))
    assert not bad, f"{len(bad)} SQL divergences, first 5: {bad[:5]}"


def test_cv_sql_templates_match_jvm_fixture_spark(spark):
    """Same leg through the SPARK dialect — no regexp gate needed
    beyond validity: Spark rlike IS java.util.regex, so the Java-only
    constructs (\\p{L}, \\Q..\\E, possessive, lookahead) are pinned
    here natively."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from zg_etl_spark.functions.match_json import match_predicate
    from zg_etl_spark.operators.domain import SPARK

    now_ms = _cv_now_ms()
    groups, excluded = _cv_sql_plan(_load_cv_cells(), re2_only=False)
    covered = sum(len(r) for _, r in groups.values())
    assert covered > 750 and excluded < covered / 4, (covered, excluded)
    rows_all, preds = [], []
    for gid, key in enumerate(sorted(groups, key=str)):
        mj, rows = groups[key]
        preds.append((gid, match_predicate(SPARK, mj, "v",
                                           now_ms=str(now_ms))))
        rows_all.extend((gid, i, x, jvm)
                        for i, (x, jvm) in enumerate(rows))
    df = spark.createDataFrame(
        [(g, i, x) for g, i, x, _ in rows_all],
        StructType([StructField("g", LongType()),
                    StructField("i", LongType()),
                    StructField("v", StringType())]))
    df.createOrReplaceTempView("cv_cells")
    bad = []
    # chunked CASE over rule ids: one scan per ~80 rules
    chunk = 80
    got = {}
    for lo in range(0, len(preds), chunk):
        sub = preds[lo:lo + chunk]
        case = ("CASE g " + " ".join(
            f"WHEN {g} THEN (CASE WHEN {p} THEN 'true' ELSE 'false' END)"
            for g, p in sub) + " END")
        gids = ", ".join(str(g) for g, _ in sub)
        for r in spark.sql(
                f"SELECT g, i, {case} AS o FROM cv_cells "
                f"WHERE g IN ({gids})").collect():
            got[(r.g, r.i)] = r.o
    for g, i, x, jvm in rows_all:
        if got.get((g, i)) != jvm:
            bad.append((g, x, jvm, got.get((g, i))))
    assert not bad, f"{len(bad)} SQL divergences, first 5: {bad[:5]}"


def test_cv_throw_cells_collapse_to_false_in_sql():
    """The documented mapping for poison configs: every THROW cell that
    the compiler can be handed at all (parsed rule present) compiles to
    a predicate that evaluates — without erroring — to FALSE on both
    dialects, matching _date_pred's docstring. Two THROW families stay
    out of scope: NPE shapes from missing type/operator/values (the
    pipeline hands the compiler parsed rules only), and
    PatternSyntaxException cells — an invalid regex errors LOUDLY at
    eval time in both engines, which is the faithful analogue of the
    reference's job-killing throw, not a silent FALSE."""
    import duckdb

    from zg_etl_spark.functions.match_json import match_predicate
    from zg_etl_spark.operators.domain import DUCK

    now_ms = _cv_now_ms()
    con = duckdb.connect()
    checked = 0
    for v, jvm in _load_cv_cells():
        if not jvm.startswith("THROW"):
            continue
        if jvm == "THROW:PatternSyntaxException":
            continue  # errs loudly engine-side — see docstring
        val, mj = _cv_parse(v)
        op, vals = mj.get("operator"), mj.get("values")
        if val is None or op is None or vals is None or "type" not in mj:
            continue  # unreachable shapes for the compiler
        pred = match_predicate(DUCK, mj, "v", now_ms=str(now_ms))
        r = con.execute(
            f"SELECT CASE WHEN {pred} THEN 'true' ELSE 'false' END "
            f"FROM (SELECT ? AS v)", [val]).fetchone()[0]
        assert r == "false", (v.split("\x01"), jvm, r)
        checked += 1
    assert checked >= 8, checked
