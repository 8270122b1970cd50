"""The one SQL dialect: every place Spark SQL (the engine) and DuckDB SQL
(the correctness oracle) spell a construct differently.

Each pipeline stage, LLM-lane query and compiled rule is ONE template
rendered twice — with ``SPARK`` for the engine and ``DUCK`` for the oracle
— so the two renderings cannot drift, and oracle parity stays an
equivalence proof. A template never tests which engine it renders for to
pick a spelling; it asks its dialect. (Templates that deliberately give
the engine a rewrite of the oracle's original form still branch on
``d.name``.) The virtual-attribute rule compiler
(functions/expr_compiler.py) is one emitter over these hooks too.

String literals go through ``lit`` only: Spark processes backslash
escapes inside ``'…'`` while DuckDB keeps them raw, so a value from
outside the program (a rule constant, an ad-rule value) reads back the
same string on both engines only when rendered per dialect.

Pure Python — no Spark import — so the SQL generators in ``functions/``
use it without loading the pipeline.
"""

from __future__ import annotations

import re

_JAVA_TO_STRF = [
    ("yyyy", "%Y"),
    ("MM", "%m"),
    ("dd", "%d"),
    ("HH", "%H"),
    ("mm", "%M"),
    ("ss", "%S"),
]


def java_fmt_to_strftime(fmt: str) -> str:
    """A Java DateTimeFormatter pattern in strftime spelling: the
    _JAVA_TO_STRF letter runs map to their directives, a quoted run
    ('T') stays literal ('' is a quote), and a literal % doubles."""
    out = []
    # re.split with one group alternates unquoted text, quoted run
    for i, part in enumerate(re.split(r"'((?:[^']|'')*)'", fmt)):
        part = part.replace("%", "%%")
        if i % 2:
            out.append(part.replace("''", "'") if part else "'")
            continue
        for j, (java, _) in enumerate(_JAVA_TO_STRF):
            part = part.replace(java, f"\x00{j}\x00")
        for j, (_, strf) in enumerate(_JAVA_TO_STRF):
            part = part.replace(f"\x00{j}\x00", strf)
        out.append(part)
    return "".join(out)


class Dialect:
    """The hooks templates render through. The LLM lanes' array and text
    helpers (``split``, ``lmap``, ``explode``, ``h64``, …), ``byte_len``
    and the ``arg_min``/``arg_max`` names exist on the two engines only."""

    name = "base"
    strtype = "STRING"

    def event_ms(self) -> str:
        """events.ts -> epoch millis. The source parquet stores
        TIMESTAMP(NANOS): Spark reads it as a nanos BIGINT (with
        spark.sql.legacy.parquet.nanosAsLong), DuckDB as a µs timestamp —
        both floor to identical millis."""
        raise NotImplementedError

    def ts(self, ms: str) -> str:          # epoch millis -> naive timestamp
        raise NotImplementedError

    def json_str(self, col: str, path: str) -> str:
        raise NotImplementedError

    def idiv(self, a: str, b: str) -> str:
        raise NotImplementedError

    def fmt(self, ts_expr: str, java_fmt: str) -> str:
        raise NotImplementedError

    def date_sub(self, d: str, n: int) -> str:
        raise NotImplementedError

    def yw_java(self, d: str) -> str:
        """SimpleDateFormat("YYYYww") — the wide table's yw bucket
        (EventAttrTransfer.java:56,246,385-396) — under the deployment
        JVM's default-locale calendar week rules. CLDR gives zh_CN and
        en_US (the plausible deployment locales) Sunday-START weeks with
        minimalDaysInFirstWeek=1: week 1 of week-year Y is the week
        CONTAINING Jan 1 of Y, so late-December days of a week that
        touches Jan 1 already belong to (Y+1)*100+1 — NOT ISO-8601
        (Monday start, 4-day rule), which differs on every Sunday date
        among others. Derivation: S = the Sunday on-or-before d; the
        week-year is the year of S+6 (the week's Saturday — it exceeds
        year(S) exactly when the week contains Jan 1); ww counts weeks
        from the week containing that year's Jan 1. Pinned against a
        Python port of the Calendar rules in
        tests/test_independent_oracles.py. (A ROOT/C-locale JVM would
        use Monday-start/min-1 instead — a deployment pin like the
        session timezone, documented here.)"""
        raise NotImplementedError

    def s(self, x: str) -> str:
        return f"CAST({x} AS {self.strtype})"

    # --- G8 sanitizers (transfer/EventAttrTransfer.java:497-534) ---------
    def _bad_chars(self) -> str:
        """SQL string literal whose runtime value is TAB NL CR " \\ —
        the character class ensureLength strips (reference also strips
        \\u0000, unrepresentable in a SQL literal; noted, not needed for
        parquet-borne strings)."""
        raise NotImplementedError

    def _nv_lit(self) -> str:
        """SQL literal for the reference's two-char NULL sentinel
        backslash-N (NULL_VALUE, EventAttrTransfer.java:32)."""
        raise NotImplementedError

    def java_trim(self, x: str) -> str:
        """String.trim semantics: strip EVERY char <= U+0020 from both
        ends, not just the space SQL trim() removes (JVM fixture mode
        'ea': '\\x1fa' trims to 'a', U+3000/NBSP stay). U+0000 never
        reaches the trim — ensureLength's replaceAll already mapped it
        to a space."""
        raise NotImplementedError

    def clean(self, x: str, maxlen: int) -> str:
        """ensureLength (EventAttrTransfer.java:497-502, JVM-pinned by
        fixture mode 'ea'): NULL for null/empty/the exact '\\N' sentinel
        (isNullOrEmpty checks NULL_VALUE.equals too), strip
        [\\t\\n\\r"\\\\\\u0000] to spaces, Java-trim, truncate.
        Documented deviation: Java truncates by UTF-16 units, SQL
        substring by codepoints — differs only when a string LONGER than
        maxlen contains non-BMP chars (the fixture test carves those
        cells out of the SQL leg and pins them on the Python port)."""
        return (
            f"CASE WHEN {x} IS NULL OR {x} = '' OR {x} = {self._nv_lit()} "
            f"THEN NULL "
            f"ELSE substring({self.java_trim(f'translate({x}, {self._bad_chars()}, {chr(39)}     {chr(39)})')}, 1, {maxlen}) END"
        )

    def is_digits(self, x: str) -> str:
        raise NotImplementedError

    def int_len(self, x: str) -> str:
        """ensureIntLength(…, 256): digits-only, ≤6 chars, else NULL."""
        return (
            f"CASE WHEN {x} IS NULL OR {x} = '' OR {x} = 'null' "
            f"OR length({x}) > 6 OR NOT {self.is_digits(x)} THEN NULL ELSE {x} END"
        )

    def net(self, x: str) -> str:
        """ensureNetwork: '-1' -> NULL, else ensureIntLength."""
        return f"CASE WHEN {x} = '-1' THEN NULL ELSE {self.int_len(x)} END"

    def lit(self, value: str) -> str:
        """Render a string (given as its runtime character sequence — a
        regex, a rule constant, any value) as a SQL string literal that
        reads back exactly that string on this engine."""
        raise NotImplementedError

    def rlike(self, x: str, pattern: str) -> str:
        raise NotImplementedError

    def re_replace_all(self, x: str, pattern: str, repl: str) -> str:
        """Replace EVERY match of pattern — Spark's regexp_replace is
        global by default, DuckDB's needs the 'g' option."""
        raise NotImplementedError

    def json_str_key(self, col: str, key: str) -> str:
        """JSON string value for a key that needs quoting in the path
        (dashes etc.) — the engines quote path segments differently."""
        raise NotImplementedError

    def last_ignore_nulls(self, x: str, over: str) -> str:
        """last_value(x) with IGNORE NULLS — the engines put the clause
        in different places."""
        raise NotImplementedError

    def utc_str_ms(self, x: str, seconds: bool) -> str:
        """ToolUtil.dateUsStrToTimestamp's UTC parse (ToolUtil.java:
        45-70): "yyyy-MM-dd'T'HH:mm[:ss]'Z'" → epoch ms, NULL on parse
        failure (the caller maps failure to 0). The formatter is an
        ofPattern, so ``smart_ts`` resolves it; the session TZ is pinned
        UTC, so a naive parse IS the UTC instant."""
        tail = ":([0-9]{2})" if seconds else ""
        rx = (f"^([0-9]{{4}})-([0-9]{{2}})-([0-9]{{2}})"
              f"T([0-9]{{2}}):([0-9]{{2}}){tail}Z$")
        return self._ts_ms(f"CASE WHEN {self.rlike(x, rx)} "
                           f"THEN {self.smart_ts(x, rx, seconds)} END")

    def smart_ts(self, x: str, rx: str, seconds: bool = True) -> str:
        """The TIMESTAMP an ofPattern("yyyy…") parse resolves to under
        the default ResolverStyle.SMART, for an ``x`` already known to
        match ``rx`` (anchored; groups year, month, day, hour, minute
        and, with ``seconds``, second). Live-JVM-verified: the era-based
        ``yyyy`` rejects year-of-era 0; month 1-12, day 1-31 and
        minute/second 0-59 are strict, but an in-range day CLAMPS to the
        month's last valid day ('2023-02-29' → Feb 28, '2023-04-31' →
        Apr 30), and exactly 24:00[:00] resolves to next-day midnight
        (composing with the clamp: '2023-02-29 24:00:00' → 2023-03-01).
        Dialect-neutral component SQL: the engines' own pattern parses
        are strict and would NULL the clamp/hour-24 values Java accepts.
        Shared by utc_str_ms and the rule compiler's dash/slash forms."""
        def g(i: int) -> str:
            return (f"CAST(regexp_extract({x}, {self.lit(rx)}, {i})"
                    f" AS INT)")

        y, mo, dd, h, mi = g(1), g(2), g(3), g(4), g(5)
        ss = g(6) if seconds else "0"
        clamp = f"LEAST({dd}, day(last_day(make_date({y}, {mo}, 1))))"
        ok_date = (f"({y} >= 1 AND {mo} BETWEEN 1 AND 12 "
                   f"AND {dd} BETWEEN 1 AND 31)")
        ok_time = f"({h} <= 23 AND {mi} <= 59 AND {ss} <= 59)"
        h24 = f"({h} = 24 AND {mi} = 0 AND {ss} = 0)"
        nxt = self.date_sub(f"make_date({y}, {mo}, {clamp})", -1)
        return (f"CASE WHEN NOT {ok_date} THEN NULL "
                f"WHEN {ok_time} THEN make_timestamp({y}, {mo}, {clamp}, "
                f"{h}, {mi}, {ss}) "
                f"WHEN {h24} THEN CAST({nxt} AS TIMESTAMP) END")

    def _ts_ms(self, ts: str) -> str:
        """Whole-second naive TIMESTAMP expr → epoch millis BIGINT."""
        raise NotImplementedError

    # --- the rule compiler's hooks (functions/expr_compiler.py) ----------
    def now(self) -> str:
        raise NotImplementedError

    def safe_div(self, a: str, b: str) -> str:
        """DOUBLE division yielding NULL on a zero divisor."""
        raise NotImplementedError

    def safe_mod(self, a: str, b: str) -> str:
        """DOUBLE remainder yielding NULL on a zero divisor."""
        raise NotImplementedError

    def trunc_to_long(self, x: str) -> str:
        """DOUBLE → BIGINT truncated toward zero, like Java's
        Number.longValue() (the caller range-gates the operand)."""
        raise NotImplementedError

    def epoch_us(self, ts: str) -> str:
        """Naive TIMESTAMP → epoch microseconds BIGINT."""
        raise NotImplementedError

    def try_ts(self, x: str, java_fmt: str) -> str:
        """Strict parse of a string by a Java pattern; NULL on failure."""
        raise NotImplementedError

    def backref(self, i: int) -> str:
        """Capture-group reference in a re_replace_all replacement."""
        raise NotImplementedError

    def arr(self, x: str) -> str:
        """One-element array literal."""
        raise NotImplementedError

    def json_doc_str(self, col: str, path: str) -> str:
        """json_str over any string: NULL, not an error, when the
        document is not valid JSON."""
        return self.json_str(col, path)


class SparkDialect(Dialect):
    name = "spark"
    strtype = "STRING"
    arg_min, arg_max = "MIN_BY", "MAX_BY"

    def event_ms(self):
        return "(ts DIV 1000000)"

    def ts(self, ms):
        return f"timestamp_millis({ms})"

    def json_str(self, col, path):
        return f"get_json_object({col}, {self.lit(path)})"

    def idiv(self, a, b):
        return f"({a} DIV {b})"

    def fmt(self, ts_expr, java_fmt):
        return f"date_format({ts_expr}, {self.lit(java_fmt)})"

    def date_sub(self, d, n):
        return f"date_sub({d}, {n})"

    def yw_java(self, d):
        s = f"date_sub({d}, dayofweek({d}) - 1)"  # dayofweek: 1=Sun
        wy = f"year(date_add({s}, 6))"
        jan1 = f"make_date({wy}, 1, 1)"
        w1 = f"date_sub({jan1}, dayofweek({jan1}) - 1)"
        return f"({wy} * 100 + (datediff({s}, {w1}) DIV 7) + 1)"

    def _bad_chars(self):
        # Spark processes backslash escapes in '…' literals: \t\n\r stay
        # escapes, \\\\ -> one backslash at runtime
        return "'\\t\\n\\r\"\\\\'"

    def _nv_lit(self):
        return "'\\\\N'"

    def java_trim(self, x):
        ctl = "'" + "".join(f"\\u{i:04x}" for i in range(1, 0x21)) + "'"
        return f"btrim({x}, {ctl})"

    def is_digits(self, x):
        # \A..\z, not ^..$: Spark RLIKE is java.util.regex, where a bare
        # '$' also matches BEFORE a trailing line terminator — '12\n'
        # would pass the digits gate the reference's matches("[0-9]*")
        # rejects (found by the round-11 'ea' JVM fixture Spark leg)
        return f"{x} RLIKE '\\\\A[0-9]+\\\\z'"

    def lit(self, value):
        # Spark '…' literals process backslash escapes: double them so the
        # runtime string keeps its \. etc.; quotes escape as \'
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"

    def rlike(self, x, pattern):
        return f"{x} RLIKE {self.lit(pattern)}"

    def re_replace_all(self, x, pattern, repl):
        return f"regexp_replace({x}, {self.lit(pattern)}, '{repl}')"

    def json_str_key(self, col, key):
        # Spark path: $['key'] — rendered inside a "…" literal so the
        # path's own single quotes need no escaping
        return f'get_json_object({col}, "$[\'{key}\']")'

    def last_ignore_nulls(self, x, over):
        return f"last_value({x}) IGNORE NULLS OVER {over}"

    def _ts_ms(self, ts):
        return f"CAST(to_unix_timestamp({ts}) AS BIGINT) * 1000"

    def now(self):
        return "current_timestamp()"

    def safe_div(self, a, b):
        # ANSI-safe: Spark 4 defaults spark.sql.ansi.enabled=true, where
        # bare `/` raises DIVIDE_BY_ZERO
        return f"try_divide({a}, {b})"

    def safe_mod(self, a, b):
        return f"try_mod({a}, {b})"

    def trunc_to_long(self, x):
        # the ANSI double→BIGINT cast truncates toward zero
        return f"CAST({x} AS BIGINT)"

    def epoch_us(self, ts):
        return f"unix_micros({ts})"

    def try_ts(self, x, java_fmt):
        return f"try_to_timestamp({x}, {self.lit(java_fmt)})"

    def backref(self, i):
        return f"${i}"

    def arr(self, x):
        return f"array({x})"

    def byte_len(self, x):
        return f"length(encode({x}, 'UTF-8'))"

    # --- arrays and text (the LLM lanes) ---------------------------------
    def split(self, col):
        return f"split({col}, ' ')"

    def alen(self, arr):
        return f"size({arr})"

    def lmap(self, arr, var, body):
        return f"transform({arr}, {var} -> {body})"

    def lfilter(self, arr, var, body):
        return f"filter({arr}, {var} -> {body})"

    def lmin(self, arr):
        return f"array_min({arr})"

    def fold_sum(self, arr):
        return f"aggregate({arr}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)"

    def fold(self, arr, init, body):
        return f"aggregate({arr}, {init}, (acc, x) -> {body})"

    def seq(self, lo, hi_incl):
        return f"sequence({lo}, {hi_incl})"

    def seq_step(self, lo, hi_incl, step):
        return f"sequence({lo}, {hi_incl}, {step})"

    def slice_join(self, arr, start_var, n):
        return f"concat_ws(' ', slice({arr}, {start_var}, {n}))"

    def vslice(self, arr, start, n):
        return f"slice({arr}, {start}, {n})"

    def strpos(self, s, sub):
        return f"instr({s}, {sub})"

    def explode(self, arr_expr, alias):
        return f"LATERAL VIEW explode({arr_expr}) _t AS {alias}"

    def explode_ne(self, arr_expr, alias):
        # OUTER explode for arrays a preceding WHERE proves non-empty:
        # the non-outer Generate infers `size(arr)>0 AND isnotnull(arr)`,
        # and that predicate pushes below the parallelizing repartition,
        # re-evaluating the whole array-build chain (3×) on the source's
        # few native partitions (BASELINE.md plan-finding 2). The OUTER
        # form infers nothing; with non-emptiness guaranteed the rows are
        # identical.
        return f"LATERAL VIEW OUTER explode({arr_expr}) _t AS {alias}"

    def dvec(self, col):
        return f"CAST({col} AS ARRAY<DOUBLE>)"

    def zip_mul(self, a, b):
        return f"zip_with({a}, {b}, (x, y) -> x * y)"

    def idx(self, arr, i):
        return f"element_at({arr}, {i})"

    def re_count(self, col, pattern):
        return f"size(regexp_extract_all({col}, {self.lit(pattern)}, 0))"

    def h64(self, x):
        # engine-local 64-bit hash: ONLY for internal join keys, never for
        # values the oracle compares (algorithms differ across engines)
        return f"xxhash64({x})"

    def adistinct(self, arr):
        return f"array_distinct({arr})"


class DuckDialect(Dialect):
    name = "duckdb"
    strtype = "VARCHAR"
    arg_min, arg_max = "ARG_MIN", "ARG_MAX"

    def event_ms(self):
        return "epoch_ms(ts)"

    def ts(self, ms):
        return f"epoch_ms(CAST({ms} AS BIGINT))"

    def json_str(self, col, path):
        return f"json_extract_string({col}, {self.lit(path)})"

    def idiv(self, a, b):
        return f"({a} // {b})"

    def fmt(self, ts_expr, java_fmt):
        return f"strftime({ts_expr}, {self.lit(java_fmt_to_strftime(java_fmt))})"

    def date_sub(self, d, n):
        return f"({d} - {n})"

    def yw_java(self, d):
        s = f"({d} - CAST(dayofweek({d}) AS INTEGER))"  # dayofweek: 0=Sun
        wy = f"year(({s} + 6))"
        jan1 = f"make_date({wy}, 1, 1)"
        w1 = f"({jan1} - CAST(dayofweek({jan1}) AS INTEGER))"
        return f"({wy} * 100 + (datediff('day', {w1}, {s}) // 7) + 1)"

    def _bad_chars(self):
        # DuckDB '…' literals are raw: embed the control chars directly
        return "'\t\n\r\"\\'"

    def _nv_lit(self):
        return "'\\N'"

    def java_trim(self, x):
        ctl = "E'" + "".join(f"\\x{i:02x}" for i in range(1, 0x21)) + "'"
        return f"trim({x}, {ctl})"

    def is_digits(self, x):
        return f"regexp_matches({x}, '^[0-9]+$')"

    def lit(self, value):
        # DuckDB '…' literals are raw except '' for a quote
        return "'" + value.replace("'", "''") + "'"

    def rlike(self, x, pattern):
        return f"regexp_matches({x}, {self.lit(pattern)})"

    def re_replace_all(self, x, pattern, repl):
        return f"regexp_replace({x}, {self.lit(pattern)}, '{repl}', 'g')"

    def json_str_key(self, col, key):
        # DuckDB path: $."key" (double quotes are fine inside a '…'
        # literal; they'd be identifiers only outside one)
        return f'json_extract_string({col}, \'$."{key}"\')'

    def last_ignore_nulls(self, x, over):
        return f"last_value({x} IGNORE NULLS) OVER {over}"

    def _ts_ms(self, ts):
        return f"epoch_ms({ts})"

    def now(self):
        return "now()"

    def safe_div(self, a, b):
        return f"({a} / {b})"  # double division yields NULL on /0

    def safe_mod(self, a, b):
        return f"({a} % {b})"  # double mod yields NULL on %0

    def trunc_to_long(self, x):
        # the double→BIGINT cast ROUNDS; trunc() first
        return f"CAST(trunc({x}) AS BIGINT)"

    def epoch_us(self, ts):
        return f"epoch_us({ts})"

    def try_ts(self, x, java_fmt):
        # one pattern per call: the format-LIST overload of try_strptime
        # returns TIMESTAMP WITH TIME ZONE (naive everywhere else)
        return (f"try_strptime({x}, "
                f"{self.lit(java_fmt_to_strftime(java_fmt))})")

    def backref(self, i):
        return f"\\{i}"

    def arr(self, x):
        return f"[{x}]"

    def json_doc_str(self, col, path):
        # json_extract_string THROWS on malformed JSON where Spark's
        # get_json_object returns NULL
        return f"(CASE WHEN json_valid({col}) THEN {self.json_str(col, path)} END)"

    def byte_len(self, x):
        return f"octet_length(encode({x}))"

    # --- arrays and text (the LLM lanes) ---------------------------------
    def split(self, col):
        return f"string_split({col}, ' ')"

    def alen(self, arr):
        return f"len({arr})"

    def lmap(self, arr, var, body):
        return f"list_transform({arr}, {var} -> {body})"

    def lfilter(self, arr, var, body):
        return f"list_filter({arr}, {var} -> {body})"

    def lmin(self, arr):
        return f"list_min({arr})"

    def fold_sum(self, arr):
        return self.fold(arr, "CAST(0 AS DOUBLE)", "acc + x")

    def fold(self, arr, init, body):
        return f"list_reduce(list_prepend({init}, {arr}), (acc, x) -> {body})"

    def seq(self, lo, hi_incl):
        return f"range({lo}, ({hi_incl}) + 1)"

    def seq_step(self, lo, hi_incl, step):
        return f"range({lo}, ({hi_incl}) + 1, {step})"

    def slice_join(self, arr, start_var, n):
        return f"array_to_string({arr}[{start_var}:{start_var}+{n - 1}], ' ')"

    def vslice(self, arr, start, n):
        return f"({arr})[{start}:({start}) + {n - 1}]"

    def strpos(self, s, sub):
        return f"strpos({s}, {sub})"

    def explode(self, arr_expr, alias):
        return f", UNNEST({arr_expr}) AS _t({alias})"

    # UNNEST already emits zero rows for empty/NULL lists; with the
    # non-empty guarantee the Spark OUTER form matches it row-for-row
    explode_ne = explode

    def dvec(self, col):
        return f"CAST({col} AS DOUBLE[])"

    def zip_mul(self, a, b):
        return f"list_transform(list_zip({a}, {b}), p -> p[1] * p[2])"

    def idx(self, arr, i):
        return f"{arr}[{i}]"

    def re_count(self, col, pattern):
        return f"len(regexp_extract_all({col}, {self.lit(pattern)}))"

    def h64(self, x):
        return f"hash({x})"

    def adistinct(self, arr):
        return f"list_distinct({arr})"


SPARK = SparkDialect()
DUCK = DuckDialect()
