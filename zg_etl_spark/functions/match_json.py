"""ads_link_event `match_json` property predicates, compiled to SQL.

The reference gates ad-conversion send-back on a per-rule property
predicate: `AdvConvertEventFlatMapFunction.java:228-236` parses the
rule's match_json `{label, type, operator, values}` and evaluates it
against the conversion row's property bag via
`OperatorUtil.compareProValue` (pipeline `util/OperatorUtil.java:22-98`,
eventProp category: bag key `_label` else `$label`). This module
compiles the same document to a dual-dialect SQL boolean so the check
runs engine-side (codegen CASE/compare — no per-row interpreter).

Semantics mirrored from `OperatorUtil.java`:

- The tested value is `String.valueOf(bag entry)` — an absent key is
  `''`, a null entry the literal string `'null'` (callers model absence
  vs null when building `value_expr`; SQL NULL here = the null entry).
- Non-empty value + non-empty values list → the typed compare
  (`compareValue` :133-160): type 1 string (`compareStringValue`
  :170-216, usePatternMatch=true ⇒ regexp is Matcher.find — UNanchored),
  type 2 numeric (`compareNumericValue` :221-258: Long.parseLong both
  sides — Character.digit's REAL accept set, i.e. any Unicode Nd digit,
  replayed from the JDK-dumped table in java_digits.py; any parse
  failure or null-ish value → false), type 3 date (`compareDateValue`
  :263-291: value is epoch SECONDS via the same parseLong; `relative` =
  within the last N days of now where N runs through Java's
  int-wrapping `day*24*60*60` chain (overflows at |day| >= 24856);
  `absolute` = between the two yyyy-MM-dd dates' UTC+8 midnights, end
  midnight INclusive, parsed with the SMART resolver — day 29-31 clamps
  to month end, month/day range errors THROW in the reference (poison
  config, job-killing) and compile to FALSE here. All pinned by JVM
  fixture mode 'cv' (round 11).
- Empty value (or empty values list) → `handleNullValue` (:296-308):
  only `is null` / `is not null` decide, everything else false.
- Quirk kept faithfully: a literal `'null'` value is NON-empty, so it
  takes the typed branch — `is null` on it is FALSE (no such case in
  compareStringValue), `is not null` TRUE.
"""

from __future__ import annotations

import re
from zg_etl_spark.functions.java_digits import (
    DIGITS,
    TRANSLATE_SRC,
    TRANSLATE_DST,
)

# After Nd→ASCII translation (Long.parseLong accepts ANY Unicode
# decimal digit via Character.digit — JVM fixture mode 'cv', round 11 —
# so the SQL side first translate()s the JDK-dumped BMP digit table;
# an untranslated char, including a supplementary-plane digit that
# parseLong sees as two surrogates, fails this gate = Java's throw).
# \A..\z, not ^..$: in Spark's java.util.regex a bare '$' also matches
# before a trailing line terminator, so '123\n' would pass the gate that
# parseLong (and DuckDB's RE2) rejects
_LONG_RE = r"\A[+-]?[0-9]+\z"

_NUM_OPS = {
    "gt": ">",
    "lt": "<",
    "ge": ">=",
    "le": "<=",
    "equal": "=",
    "not equal": "<>",
}


def java_parse_long(s: str, bits: int = 64) -> int:
    """Long.parseLong(s, 10) exactly (Integer.parseInt with bits=32):
    optional ASCII '+'/'-', then 1+ chars that Character.digit(c, 10)
    accepts — ANY Unicode Nd digit, per the JDK-dumped table in
    java_digits.py — iterated as UTF-16 chars, so a supplementary-plane
    digit (a surrogate pair to Java) throws. Range-checked at 2^63
    (2^31). Raises ValueError on Java's NumberFormatException."""
    if not s:
        raise ValueError(s)
    neg, i = False, 0
    if s[0] < "0":  # the only chars below '0' Java accepts are signs
        if s[0] == "-":
            neg = True
        elif s[0] != "+":
            raise ValueError(s)
        if len(s) == 1:
            raise ValueError(s)
        i = 1
    n = 0
    lim = 2 ** (bits - 1)
    for c in s[i:]:
        cp = ord(c)
        d = DIGITS.get(cp, -1) if cp <= 0xFFFF else -1
        if d < 0:
            raise ValueError(s)
        n = n * 10 + d
        if n > (lim if neg else lim - 1):
            raise ValueError(s)
    return -n if neg else n


def _i32(x: int) -> int:
    """Java int arithmetic wrap."""
    return (x + 2**31) % 2**32 - 2**31


def _nd_translate(d, v: str) -> str:
    """SQL: the value with every BMP Unicode decimal digit folded to
    ASCII via the JDK's own Character.digit table — the pre-pass that
    lets TRY_CAST/_LONG_RE reproduce parseLong's real accept set."""
    return (f"translate({v}, {d.lit(TRANSLATE_SRC)}, "
            f"{d.lit(TRANSLATE_DST)})")


# LocalDate.toEpochDay's proleptic-Gregorian day count (public
# algorithm, java.time.LocalDate) — datetime can't represent the >9999
# years "+12345-01-01" parses to
def _epoch_day(y: int, mo: int, dd: int) -> int:
    total = 365 * y + (y + 3) // 4 - (y + 99) // 100 + (y + 399) // 400
    total += (367 * mo - 362) // 12 + (dd - 1)
    if mo > 2:
        leap = y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)
        total -= 1 if leap else 2
    return total - 719528


def _java_local_date_ms(s: str) -> int:
    """LocalDate.parse(s, ofPattern('yyyy-MM-dd')).atStartOfDay(+08:00)
    in epoch ms, with the formatter's DEFAULT SMART resolver (JVM
    fixture mode 'cv', round 11): day-of-month 29-31 CLAMPS to the
    month's last day ('2023-02-30' is Feb 28, not an error); month 0/13+
    and day 0/32+ throw; digits are ASCII-only (DecimalStyle.STANDARD);
    an unsigned year is exactly 4 digits, '+' years take 5-19 digits
    (SignStyle.EXCEEDS_PAD), '-' years fail YEAR_OF_ERA's 1..999999999
    range. Raises ValueError on Java's DateTimeParseException."""
    m = re.fullmatch(r"(\+?[0-9]{4,19}|-[0-9]{4,19})-([0-9]{2})-([0-9]{2})",
                     s)
    if not m:
        raise ValueError(s)
    ys = m.group(1)
    if ys[0] == "-":
        raise ValueError(s)  # year-of-era < 1
    if ys[0] == "+":
        if len(ys) <= 5:  # sign only when exceeding the pad width
            raise ValueError(s)
        y = int(ys[1:])
    else:
        if len(ys) != 4:
            raise ValueError(s)
        y = int(ys)
    mo, dd = int(m.group(2)), int(m.group(3))
    if not (1 <= y <= 999_999_999 and 1 <= mo <= 12 and 1 <= dd <= 31):
        raise ValueError(s)
    leap = y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)
    last = [31, 29 if leap else 28, 31, 30, 31, 30,
            31, 31, 30, 31, 30, 31][mo - 1]
    if dd > last:
        dd = last  # SMART resolution clamps 29-31 into the month
    return _epoch_day(y, mo, dd) * 86_400_000 - 8 * 3_600_000


def value_str(d, expr: str) -> str:
    """String.valueOf of a (nullable) bag entry: SQL NULL → 'null'."""
    return f"CASE WHEN {expr} IS NULL THEN 'null' ELSE {expr} END"


def _string_pred(d, v: str, op: str, t: str) -> str:
    lit = d.lit(t)
    if op == "equal":
        return f"{v} = {lit}"
    if op == "not equal":
        return f"{v} <> {lit}"
    if op == "regexp":
        return d.rlike(v, t)
    if op == "not regexp":
        return f"NOT {d.rlike(v, t)}"
    if op == "contains":
        return f"instr({v}, {lit}) > 0"
    if op == "not contains":
        return f"instr({v}, {lit}) = 0"
    if op == "begin with":
        return f"left({v}, {len(t)}) = {lit}"
    if op == "not begin with":
        return f"left({v}, {len(t)}) <> {lit}"
    if op == "end with":
        return f"right({v}, {len(t)}) = {lit}"
    if op == "not end with":
        return f"right({v}, {len(t)}) <> {lit}"
    if op == "is not null":
        return "TRUE"  # reached only on the non-empty branch
    return "FALSE"  # compareStringValue default


def _numeric_pred(d, v: str, op: str, t: str) -> str:
    sym = _NUM_OPS.get(op)
    if sym is None:
        return "FALSE"
    # compile-time target through the same Java grammar (Unicode Nd
    # digits INCLUDED — '١٣' is a valid Java target, fixture mode 'cv')
    try:
        target = java_parse_long(t)
    except ValueError:
        return "FALSE"  # NumberFormatException (or null-ish gate) → false
    tv = _nd_translate(d, v)
    digits = d.rlike(tv, _LONG_RE)
    nv = f"CASE WHEN {digits} THEN TRY_CAST({tv} AS BIGINT) END"
    # the translate+gate also rejects '' / 'null' / supplementary-plane
    # digits — exactly isNullOrNullString + the parseLong failure path
    return f"COALESCE({nv} {sym} {target}, FALSE)"


def _date_pred(d, v: str, op: str, values: list[str], now_ms: str) -> str:
    # The reference's `Long.parseLong(v) * 1000` WRAPS silently when the
    # seconds value exceeds Long.MAX/1000 (~year 292M); SQL engines
    # instead raise on BIGINT overflow, so the multiply is gated to the
    # wrap-free range and out-of-range garbage compares FALSE. That
    # matches the Java outcome for positive overflow (wraps negative →
    # below any window); a negative seconds value whose wrap lands
    # INSIDE the window is the one contrived input where the reference
    # would say true and we say false — documented deviation.
    tv = _nd_translate(d, v)
    digits = d.rlike(tv, _LONG_RE)
    sec = f"TRY_CAST({tv} AS BIGINT)"
    in_range = (f"{digits} AND {sec} BETWEEN -9223372036854775 "
                f"AND 9223372036854775")
    ts = f"(CASE WHEN {in_range} THEN {sec} END * 1000)"
    if op == "relative":
        # Integer.parseInt's real grammar for the day count (Unicode Nd
        # digits accepted, 32-bit overflow throws → false) ...
        if not values:
            return "FALSE"
        try:
            day = java_parse_long(values[0], bits=32)
        except ValueError:
            return "FALSE"
        # ... and the reference's window arithmetic WRAPS: `day * 24 *
        # 60 * 60` runs in Java int space before the `* 1000L`
        # promotion, so the chain overflows at |day| >= 24856 (~68
        # years) — a 100000-day rule is really ~578 days, a 36500-day
        # one a threshold 36 YEARS IN THE FUTURE. Pinned by 'cv' cells
        # (day 24855 true / 24856 false on the same 2023 timestamp).
        w = _i32(_i32(_i32(day * 24) * 60) * 60)
        return f"COALESCE({ts} >= {now_ms} - ({w * 1000}), FALSE)"
    if op == "absolute":
        try:
            lo_ms = _java_local_date_ms(values[0])
            hi_ms = _java_local_date_ms(values[1])  # end MIDNIGHT, inclusive
        except (ValueError, IndexError):
            # Java actually THROWS DateTimeParseException here (and
            # IndexOutOfBounds on a 1-element values) — uncaught, it
            # kills the reference job, so such a rule cannot exist in
            # steady state. The engine collapses the poison config to
            # FALSE; the JVM fixture records these cells as THROW and
            # the conformance legs assert this documented mapping.
            return "FALSE"
        return f"COALESCE({ts} >= {lo_ms} AND {ts} <= {hi_ms}, FALSE)"
    return "FALSE"


def match_predicate(d, mj: dict, value_expr: str, now_ms: str = "0") -> str:
    """Compile one match_json doc against the SQL string expression of
    the label-resolved property value. `value_expr` must already be
    String.valueOf-shaped (never SQL NULL: absent key `''`, null entry
    `'null'` — see `value_str`). `now_ms` is the deterministic "now" for
    `relative` date rules (the reference uses System.currentTimeMillis —
    callers pass the spine's now_ref)."""
    v = f"({value_expr})"
    values = [str(x) for x in mj.get("values", [])]
    op = mj.get("operator", "")
    nullish = f"({v} = '' OR lower({v}) = 'null')"
    if not values:
        # values empty → handleNullValue for EVERY v (the 'null'-string
        # case-insensitive check included)
        if op == "is null":
            return nullish
        if op == "is not null":
            return f"(NOT {nullish})"
        return "FALSE"
    t = mj.get("type", 1)
    if t == 1:
        typed = _string_pred(d, v, op, values[0])
    elif t == 2:
        typed = _numeric_pred(d, v, op, values[0])
    elif t == 3:
        typed = _date_pred(d, v, op, values, now_ms)
    else:
        typed = "FALSE"
    # empty value falls to handleNullValue with v='' (is-empty is then
    # statically known): only is null / is not null decide
    null_pred = "TRUE" if op == "is null" else "FALSE"
    return f"(CASE WHEN {v} <> '' THEN {typed} ELSE {null_pred} END)"
