"""Virtual-attribute expression compiler.

The reference embeds a SQL scalar-expression engine (its only user-facing
query language): a recursive-descent parser producing a JSON AST
(`operator/id/virtualAttribute/SqlToJsonExpressionConverter.java:127-594`)
interpreted per row (`VirtualAttributeExpressionEvaluator.java`). Grammar
precedence (SqlToJsonExpressionConverter.java:303-416):

    OR > AND > NOT > (= != <>) > (< <= > >=) > (+ -) > (* / %) > unary- >
    primary (literal | identifier | function(args) | CASE WHEN | parens)

plus: `'…'`/`"…"` strings, unicode + `$` identifiers, dotted paths keep the
LAST segment (`:531-541`), aggregates rejected (`:98-122,459-462`).

Function set (VirtualAttributeExpressionEvaluator.java:372-581): upper lower
length concat substring now date_diff date_format from_unixtime abs round
ceil floor coalesce nullif get_json_string.

Spark-first design: instead of the reference's per-row interpreter, we
compile the AST ONCE into engine SQL evaluated by Catalyst codegen — and
into DuckDB SQL for the correctness oracle. One parser and one emitter,
rendered through the project's one SQL dialect (zg_etl_spark/dialect.py)
with ``SPARK`` for the engine and ``DUCK`` for the oracle; the oracle of a
virtual-attribute query is generated, never hand-written twice.

Documented semantics preserved:
- division carries scale 10, HALF_UP (`:302-311`) → round(a/b, 10);
- substring is 1-based (`:386-392`), as in both target dialects;
- from_unixtime / date_format use the sec-vs-ms heuristic: value > 1e10 is
  millis (`:449-456`, strict Long comparison) — emitted via
  timestamp_millis/epoch_ms so both engines stay timezone-naive (UTC);
- the STRING epoch path is gated on Long.parseLong's grammar
  (`^[+-]?\\d+$`, `:515-517`): decimals, whitespace, and scientific
  notation are NOT epochs (the reference throws; we fall through to the
  datetime-string parse and then NULL);
- a NUMERIC epoch is truncated toward zero like `Number.longValue()`
  (`:512`) — emitted as trunc() before the BIGINT cast because DuckDB's
  double→BIGINT cast ROUNDS while Spark's truncates;
- the datetime-string formats are the evaluator's effective set: the
  date-only patterns in its formatter lists always fail
  `LocalDateTime.parse` (no time fields), so only strict ISO
  `yyyy-MM-dd` survives via the `LocalDate.parse` fallback
  (`:613-620`) — unpadded (`2024-8-1`) and slash (`2024/8/1`)
  DATE-ONLY strings are NOT datetimes (they fall through to the numeric
  branch, as in compareDates `:139-141`); with-time forms accept 1-2
  digit fields. Each format is regex-gated so both engines accept the
  identical string set;
- the rule AST's 4th constant type, `dataType: "date"`
  (`parseConstantValue` :834-835), is spelled `TIMESTAMP '<iso>'` here:
  a LocalDateTime OBJECT that compares chronologically, equals other
  LocalDateTime objects via isEqual's first branch (now() qualifies,
  DateTimeResult does NOT), renders Java's `toString()` (ISO 'T' form,
  seconds dropped when zero) in string contexts, and throws in
  toBigDecimal; a malformed literal fails at parse = rule registration,
  like the reference's `LocalDateTime.parse`;
- ordered comparisons are date-aware ONLY when a side is a datetime
  OBJECT — `now()`, a date constant, or 1-arg `from_unixtime` results
  (`extractDateTime`
  `:171-186` returns null for String) — with the other side parsed via
  OperationNode's OWN `parseDateTimeString` (`:144-168`), which lacks
  FunctionNode's `LocalDate` fallback: in the compare's mixed branch
  even strict-ISO DATE-ONLY strings do not parse (with-time forms
  only), while `date_diff`/`date_format` arguments do accept
  `yyyy-MM-dd`. TWO STRINGS always compare numerically, so
  `'2024-08-10' > '2024-08-02'` is NULL (the reference's BigDecimal
  throws → errData), and equality remains string-based for dates;
- the toBigDecimal boundary treats null and trim-empty strings as ZERO
  (`:324-347`, `:682-694`): a missing field COMPARES as 0 and ADDS as 0
  — `k > 50` with no k is FALSE, not unknown — while unparseable
  strings still throw (→ NULL here);
- boolean operators use Java truthiness over EAGERLY-evaluated operands
  (`:107-113`, `:216-222`): non-TRUE values (null, strings, numbers)
  are plain false and `not` of them is TRUE, but a THROW in either
  operand aborts the row even where SQL's 3-valued logic would decide
  (`FALSE AND throw` is errData, `TRUE OR throw` is errData) — emitted
  as explicit NULL-preempting guards around the operand fragments,
  with compile-time knowledge (`_node_throwy`) of whether a fragment's
  runtime NULL is a legitimate value or a rendered throw;
- NULL semantics elsewhere are SQL (reference throws on div-by-0,
  unparseable epochs/dates, numeric overflow — routing the row to
  errData; we yield NULL — documented divergence, the batch engine
  must not abort a 100 TB job on one bad row).

Documented deviations (pinned by tests/test_expr_fuzz.py):
- epochs outside calendar years 0001-9999 → NULL (the reference's
  LocalDateTime happily represents year 292278994; int64-microsecond
  engines cannot — and the unguarded *1000 would overflow the ANSI
  BIGINT cast and abort the job);
- numeric coercion outside the epoch path stays try_cast-lenient
  (whitespace, decimals, scientific accepted where the reference's
  BigDecimal/parseLong would throw → errData; value-instead-of-error
  is the batch rendering of a per-row error sink);
- closed datetime alphabet: 4-digit ASCII years (Java's `yyyy` also
  parses 5+-digit years and unicode digits; the fixture corpus and the
  fuzz alphabet never mint them), and fractional ISO seconds up to
  MICROSECOND resolution — ISO_LOCAL_DATE_TIME accepts 1-9 fractional
  digits (`:156`, `:479`, `:600`); 1-6 parse exactly (iso_frac,
  regex-gated native ISO TRY_CAST in both dialects), 7-9 digits carry
  nanos an int64-µs engine cannot hold and fall to the numeric path
  (NULL), like the year window. Fractional TIMESTAMP rule CONSTANTS
  stay a registration error (_parse_ldt_literal — ldt_render has no
  fraction form). Pinned by test_iso_fractional_seconds;
- JSON documents are WHOLE values: Jackson's default readTree (the
  reference, :638) and Spark's get_json_object read the first complete
  JSON value and ignore trailing content ('{"a":"x"}abc' extracts),
  DuckDB's json_valid gate rejects it — an engine-level divergence, so
  rules must not feed get_json_string concatenation-composed documents
  (pinned by test_documented_json_trailing_garbage_divergence);
- remainders of dividends beyond 2^53 are NULL: the double carries no
  unit resolution there, so the remainder would amplify a one-ulp
  upstream difference into its own full scale — the two engines
  disagree with each other AND with BigDecimal's exact value (the
  reference computes it exactly; a value we cannot reproduce is
  rendered NULL, like the epoch window);
- CASE value branches must stay FAMILY-homogeneous (all-numeric,
  all-string, or all-datetime): the reference carries Object values so a
  rule could mix a raw field with date_diff's number in one CASE, but
  SQL engines type CASE statically — DuckDB rejects a VARCHAR/BIGINT
  branch mix at bind time (registration fails loudly, never silently
  wrong) where Spark would coerce. Every reference-shipped rule is
  homogeneous; a mixed rule is expressible by forcing the family
  (`x * 1`, `concat(x, '')`);
  throws, `:384-391`) and the two SQL dialects disagree there (Spark
  treats 0 as 1, DuckDB shifts the window) — rules must use 1-based
  positive starts, as every reference-shipped rule does; length() is
  SQL codepoint length (Java's is UTF-16 code units — differs only
  beyond the BMP, which the closed alphabet never mints);
- date_diff counts FULL 24-hour periods truncated toward zero
  (`ChronoUnit.DAYS.between` on LocalDateTime, `:440`) — faithful —
  but its ARGUMENT forms are harmonized with date_format's (epoch
  heuristic + datetime strings): the reference's own date_diff is
  internally inconsistent (String args must be datetimes and throw on
  epoch digits `:407-410`; Number args are ALWAYS millis with no >1e10
  heuristic `:413-415`), an asymmetry that only exists because its
  property bag distinguishes JSON number from string — our stringly
  wide model cannot, so both functions share ts_from_any. The same
  typing choice makes from_unixtime's epoch coercion try_cast-numeric:
  a decimal epoch ('3.5') is Number.longValue-truncated like the
  reference's JSON-number case, where its JSON-string case would throw
  in Long.parseLong;
- CASE and coalesce/nullif results stay legitimate-null
  (`_node_throwy`): a NULL they RETURN zero-coerces/falsy-coerces like
  the reference's null. The other meaning of NULL — a throw INSIDE them
  — travels on a separate compile-time sentinel channel
  (`_throw_guards`): value-funcs re-expose their eagerly-evaluated
  params' guards, and CASE emits a lazy guard expression that replays
  its condition chain (NULL on a condition throw or the FIRED branch's
  throw, never an unfired branch's), so `CASE WHEN k > 0 THEN 1/0 END
  + 5` is errData-NULL when the branch fires and 5 when it doesn't —
  exactly the reference;
- boolean positions assume boolean-typed operands (comparisons, rule
  constants): the reference's Boolean is only minted by its own
  operators, and a raw FIELD in a boolean slot (always falsy in Java —
  the bag is stringly) is outside the shipped rule grammar.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

from zg_etl_spark.dialect import DUCK, SPARK, Dialect

AGGREGATES = {
    "sum",
    "avg",
    "count",
    "max",
    "min",
    "group_concat",
    "stddev",
    "variance",
    "median",
}

KEYWORDS = {"case", "when", "then", "else", "end", "and", "or", "not", "null", "true", "false"}

FUNCTIONS = {
    "upper",
    "lower",
    "length",
    "concat",
    "substring",
    "now",
    "date_diff",
    "date_format",
    "from_unixtime",
    "abs",
    "round",
    "ceil",
    "floor",
    "coalesce",
    "nullif",
    "get_json_string",
}

# SqlToJsonExpressionConverter's FUNCTION_MAP aliases (:50-96): the SQL
# surface names that map onto a different canonical (JSON-AST) function
# name. Lookup is effectively case-insensitive (the converter upper-cases
# first, :457).
SQL_FUNC_ALIASES = {
    "len": "length",
    "substr": "substring",
    "current_timestamp": "now",
    "datediff": "date_diff",
}


class ExpressionError(ValueError):
    pass


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------
@dataclass
class Node:
    pass


@dataclass
class Field(Node):
    name: str  # last dotted segment, as in the reference


@dataclass
class Const(Node):
    value: object  # str | float | int | bool | None


@dataclass
class Op(Node):
    op: str
    left: Node
    right: Node | None = None  # None for unary minus / NOT


@dataclass
class Func(Node):
    name: str
    args: list[Node] = dc_field(default_factory=list)


@dataclass
class Case(Node):
    whens: list[tuple[Node, Node]] = dc_field(default_factory=list)
    default: Node | None = None


@dataclass
class TsConst(Node):
    """The rule AST's 4th constant type: ``dataType: "date"`` becomes a
    LocalDateTime OBJECT (`parseConstantValue` :834-835,
    ``LocalDateTime.parse`` — strict ISO, 'T' separator, optional
    seconds; anything else throws AT PARSE TIME, i.e. rule
    registration). Spelled ``TIMESTAMP '<iso>'`` in this SQL grammar.
    As an object it compares chronologically (extractDateTime :171-177),
    equals other LocalDateTimes via isEqual's first branch (:230-232),
    throws in toBigDecimal (:332-335), and renders Java's
    ``LocalDateTime.toString()`` in string contexts — ISO with 'T',
    seconds omitted when zero."""

    value: object  # datetime.datetime (naive)

    def java_str(self) -> str:
        v = self.value
        base = f"{v.year:04d}-{v.month:02d}-{v.day:02d}T{v.hour:02d}:{v.minute:02d}"
        return base if v.second == 0 else f"{base}:{v.second:02d}"

    def sql_ts(self) -> str:
        v = self.value
        return (f"TIMESTAMP '{v.year:04d}-{v.month:02d}-{v.day:02d} "
                f"{v.hour:02d}:{v.minute:02d}:{v.second:02d}'")


# ---------------------------------------------------------------------------
# Lexer
# ---------------------------------------------------------------------------
_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<num>\d+(?:\.\d+)?)
  | (?P<str>'(?:[^']|'')*'|"(?:[^"]|"")*")
  | (?P<op><=|>=|!=|<>|=|<|>|\+|-|\*|/|%|\(|\)|,)
  | (?P<ident>[^\s<>=!+\-*/%(),'"]+)
    """,
    re.VERBOSE,
)


def tokenize(sql: str) -> list[tuple[str, str]]:
    tokens: list[tuple[str, str]] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            raise ExpressionError(f"cannot tokenize at {sql[pos:pos + 20]!r}")
        pos = m.end()
        kind = m.lastgroup
        text = m.group()
        if kind == "ws":
            continue
        if kind == "ident":
            low = text.lower()
            if low in KEYWORDS:
                tokens.append(("kw", low))
                continue
        tokens.append((kind, text))
    return tokens


# ---------------------------------------------------------------------------
# Parser (recursive descent, reference precedence)
# ---------------------------------------------------------------------------
class Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> tuple[str, str]:
        t = self.peek()
        if t is None:
            raise ExpressionError("unexpected end of expression")
        self.i += 1
        return t

    def accept(self, kind: str, text: str | None = None) -> bool:
        t = self.peek()
        if t and t[0] == kind and (text is None or t[1].lower() == text):
            self.i += 1
            return True
        return False

    def expect(self, kind: str, text: str | None = None) -> tuple[str, str]:
        t = self.peek()
        if not t or t[0] != kind or (text is not None and t[1].lower() != text):
            raise ExpressionError(f"expected {text or kind}, got {t}")
        self.i += 1
        return t

    def parse(self) -> Node:
        node = self.or_expr()
        if self.peek() is not None:
            raise ExpressionError(f"trailing tokens: {self.toks[self.i:]}")
        return node

    def or_expr(self) -> Node:
        node = self.and_expr()
        while self.accept("kw", "or"):
            node = Op("or", node, self.and_expr())
        return node

    def and_expr(self) -> Node:
        node = self.not_expr()
        while self.accept("kw", "and"):
            node = Op("and", node, self.not_expr())
        return node

    def not_expr(self) -> Node:
        if self.accept("kw", "not"):
            return Op("not", self.not_expr())
        return self.equality()

    def equality(self) -> Node:
        node = self.relational()
        while True:
            t = self.peek()
            if t and t[0] == "op" and t[1] in ("=", "!=", "<>"):
                self.next()
                op = "=" if t[1] == "=" else "!="
                node = Op(op, node, self.relational())
            else:
                return node

    def relational(self) -> Node:
        node = self.additive()
        while True:
            t = self.peek()
            if t and t[0] == "op" and t[1] in ("<", "<=", ">", ">="):
                self.next()
                node = Op(t[1], node, self.additive())
            else:
                return node

    def additive(self) -> Node:
        node = self.multiplicative()
        while True:
            t = self.peek()
            if t and t[0] == "op" and t[1] in ("+", "-"):
                self.next()
                node = Op(t[1], node, self.multiplicative())
            else:
                return node

    def multiplicative(self) -> Node:
        node = self.unary()
        while True:
            t = self.peek()
            if t and t[0] == "op" and t[1] in ("*", "/", "%"):
                self.next()
                node = Op(t[1], node, self.unary())
            else:
                return node

    def unary(self) -> Node:
        if self.accept("op", "-"):
            return Op("neg", self.unary())
        return self.primary()

    def primary(self) -> Node:
        t = self.peek()
        if t is None:
            raise ExpressionError("unexpected end of expression")
        kind, text = t
        if kind == "num":
            self.next()
            return Const(float(text) if "." in text else int(text))
        if kind == "str":
            self.next()
            quote = text[0]
            return Const(text[1:-1].replace(quote * 2, quote))
        if kind == "kw":
            if text == "null":
                self.next()
                return Const(None)
            if text in ("true", "false"):
                self.next()
                return Const(text == "true")
            if text == "case":
                return self.case_expr()
            raise ExpressionError(f"unexpected keyword {text}")
        if kind == "op" and text == "(":
            self.next()
            node = self.or_expr()
            self.expect("op", ")")
            return node
        if kind == "ident":
            self.next()
            low = text.lower()
            nxt = self.peek()
            if low == "timestamp" and nxt and nxt[0] == "str":
                self.next()
                quote = nxt[1][0]
                raw = nxt[1][1:-1].replace(quote * 2, quote)
                return TsConst(_parse_ldt_literal(raw))
            if nxt and nxt[0] == "op" and nxt[1] == "(":
                if low in AGGREGATES:
                    # SqlToJsonExpressionConverter.java:98-122 — aggregates banned
                    raise ExpressionError(f"aggregate function not allowed: {text}")
                # the converter upper-cases the name before its map lookup
                # (:457,479), so SQL function names are case-INSENSITIVE and
                # the map's aliases apply: LEN→length, SUBSTR→substring,
                # CURRENT_TIMESTAMP→now, DATEDIFF→date_diff (:50-96). The
                # JSON-AST name `date_diff` itself is NOT in the map —
                # "date_diff(...)" in SQL is rejected by the reference
                # (不支持的函数: DATE_DIFF), only DATEDIFF reaches the
                # evaluator's date_diff node; verified against the live
                # converter (tests/test_expr_compiler.py pins it).
                if low == "date_diff":
                    raise ExpressionError(
                        "unknown function: date_diff (the reference SQL "
                        "grammar spells it DATEDIFF; date_diff is the JSON "
                        "AST node name)")
                low = SQL_FUNC_ALIASES.get(low, low)
                if low not in FUNCTIONS:
                    raise ExpressionError(f"unknown function: {text}")
                self.next()
                args: list[Node] = []
                if not self.accept("op", ")"):
                    args.append(self.or_expr())
                    while self.accept("op", ","):
                        args.append(self.or_expr())
                    self.expect("op", ")")
                return Func(low, args)
            # dotted path keeps the last segment (reference :531-541)
            return Field(text.split(".")[-1])
        raise ExpressionError(f"unexpected token {t}")


def _parse_ldt_literal(raw: str):
    """LocalDateTime.parse's ISO_LOCAL_DATE_TIME: 'T' separator, 2-digit
    fields, optional :ss — anything else throws at rule registration
    (parseConstantValue :834-835 raises during parseExpression)."""
    from datetime import datetime

    if not re.fullmatch(
            r"[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}(:[0-9]{2})?",
            raw):
        raise ExpressionError(f"bad TIMESTAMP literal: {raw!r}")
    try:
        return datetime.fromisoformat(raw)
    except ValueError as e:
        raise ExpressionError(f"bad TIMESTAMP literal: {raw!r}") from e


def parse(sql: str) -> Node:
    return Parser(tokenize(sql)).parse()


def returns_boolean(node: Node) -> bool:
    """True when the expression's root yields a boolean — the case the
    reference's convertValue maps to 1/0 before writing back into the
    property bag (VirtualPropertyOperator.java:231-268)."""
    return isinstance(node, Op) and node.op in (
        "=", "!=", "<", "<=", ">", ">=", "and", "or", "not",
    )


# ---------------------------------------------------------------------------
# Emitter: AST -> SQL string for one dialect, with type-context hints so
# weakly-typed (stringly) fields get coerced at use sites, exactly like the
# reference's dynamic coercion (numeric-first equality, BigDecimal math).
# ---------------------------------------------------------------------------
class Emitter:
    """AST → SQL for one dialect ``d``: every engine-specific spelling is
    a ``d`` hook. ``field_resolver(name, hint)`` maps an identifier to a
    SQL fragment; hint ∈ {'any','number','string','timestamp'}. String
    literals — rule constants included — render through ``d.lit``."""

    def __init__(self, d: Dialect, field_resolver=None,
                 now_literal: str | None = None):
        self.d = d
        self.resolve = field_resolver or (lambda name, hint: name)
        self.now_literal = now_literal
        # nesting depth of bind_one's lambda variables
        self._bind_depth = 0

    # --- coercions ----------------------------------------------------------
    def cast_num(self, frag: str) -> str:
        return f"CAST({frag} AS DOUBLE)"

    def try_num(self, frag: str) -> str:
        """Force an operand into double space WITHOUT the abort-on-bad
        semantics of a plain ANSI cast: string-typed operands reach
        arithmetic through paths the hint system cannot see (a CASE
        branch yielding a raw field, a string constant), and Spark's
        implicit ANSI cast would abort the job on one dirty row where
        the reference's BigDecimal throw routes that row to errData —
        NULL-and-continue is the documented batch rendering. Identical
        spelling works in both dialects."""
        return f"TRY_CAST({frag} AS DOUBLE)"

    # functions whose reference result can be a LEGITIMATE null
    # (coalesce all-null :559-564, nullif match :566-568, get_json_string
    # miss / null-or-empty text :572-584); every other function either
    # returns a value or THROWS (upper(null) NPEs :374-376, unparseable
    # dates throw :441-501, BigDecimal throws :547-556)
    _VALUE_FUNCS = frozenset({"coalesce", "nullif", "get_json_string"})
    # number-returning nodes: their fragments are numeric-typed and a
    # runtime NULL can only mean a reference throw
    _NUMERIC_FUNCS = frozenset({"length", "abs", "round", "ceil", "floor",
                                "date_diff"})

    def _node_throwy(self, node: "Node") -> bool:
        """True when a runtime NULL of this node's fragment can only mean
        the reference THREW evaluating it (errData row), never a
        legitimate null value. Fields (missing key, :52-62), constants,
        CASE (no-match, :749), and the _VALUE_FUNCS produce legitimate
        nulls; comparisons, boolean ops, arithmetic, and the remaining
        functions throw instead of returning null. The reference
        evaluates ALL operands/params BEFORE applying an operator
        (OperationNode :107-113, FunctionNode :362-367), so a throw in
        any operand aborts the whole expression — which is why throwy
        NULLs must preempt value logic in every composite emission."""
        if isinstance(node, (Const, Field, Case, TsConst)):
            return False
        if isinstance(node, Func) and node.name in self._VALUE_FUNCS:
            return False
        return True

    def _throw_guards(self, node: "Node") -> list[str]:
        """SQL fragments whose runtime NULL ⟺ the reference threw while
        evaluating this node — the sentinel channel that keeps a throwy
        NULL from laundering into a legitimate one through value layers.
        A throwy node guards itself. A value-func (coalesce/nullif/
        get_json_string) evaluates its params EAGERLY (:362-367), so its
        guards are its params' guards, recursively. A CASE evaluates
        lazily (:729-749), so its guard replays the condition chain:
        NULL on a throwy condition's throw, then the FIRED branch
        value's own guards, TRUE everywhere else — unfired branches
        never leak into the guard, exactly like the reference never
        evaluates them. Common rule CASEs (no throwy parts) prune to no
        guard at all."""
        if isinstance(node, TsConst):
            return []  # a parsed literal: never null, never throws
        if self._node_throwy(node):
            return [self.emit(node, "any")]
        if isinstance(node, Func) and node.name in self._VALUE_FUNCS:
            return [g for a in node.args for g in self._throw_guards(a)]
        if isinstance(node, Case):
            arms = []
            plain = True
            for cond, val in node.whens:
                c, throwy = self.bool_operand(cond)
                if throwy:
                    arms.append(f"WHEN ({c}) IS NULL THEN NULL")
                    plain = False
                veil = self._guard_expr(val)
                if veil != "TRUE":
                    plain = False
                arms.append(f"WHEN {c} THEN {veil}")
            default = (self._guard_expr(node.default)
                       if node.default is not None else "TRUE")
            if default != "TRUE":
                plain = False
            if plain:
                return []
            return [f"(CASE {' '.join(arms)} ELSE {default} END)"]
        return []

    def _guard_expr(self, node: "Node") -> str:
        """TRUE when this node's reference evaluation returns, NULL when
        it throws — the scalar form of _throw_guards."""
        gs = self._throw_guards(node)
        if not gs:
            return "TRUE"
        conds = " OR ".join(f"({g}) IS NULL" for g in gs)
        return f"(CASE WHEN {conds} THEN NULL ELSE TRUE END)"

    def num_operand(self, node: "Node") -> str:
        """A toBigDecimal boundary (OperationNode :324-347, FunctionNode
        :682-694): null → ZERO, trim-empty string → ZERO, datetime
        object → throw, anything else → BigDecimal (rendered in the
        engines' documented try_cast-lenient double space). Whether a
        runtime NULL/'' is a legitimate value or a throw is compile-time
        knowledge (_node_throwy), so the zero-coercion only fires where
        the reference could actually see a null/empty value."""
        if isinstance(node, Const):
            v = node.value
            if v is None:
                return "CAST(0.0 AS DOUBLE)"
            if isinstance(v, bool):
                # new BigDecimal("true"/"false") throws → errData
                return "CAST(NULL AS DOUBLE)"
            if isinstance(v, (int, float)):
                return f"CAST({v!r} AS DOUBLE)"
            if v.strip() == "":
                return "CAST(0.0 AS DOUBLE)"
            return self.try_num(self.d.lit(v))
        if self._ts_operand(node) is not None:
            # LocalDateTime / DateTimeResult in numeric space → throw
            return "CAST(NULL AS DOUBLE)"
        if isinstance(node, Op):
            if node.op in ("+", "-", "*", "/", "%", "neg"):
                # numeric-typed; NULL is a propagated throw
                return self.try_num(self.emit(node, "number"))
            # boolean-valued op: a Boolean reaches the default
            # toBigDecimal branch → new BigDecimal("true") throws; an
            # operand throw also throws — NULL unconditionally
            return "CAST(NULL AS DOUBLE)"
        if isinstance(node, Func) and node.name in self._NUMERIC_FUNCS:
            return self.try_num(self.emit(node, "number"))
        s = self.cast_str(self.emit(node, "string"))
        if self._node_throwy(node):
            # string-returning function: '' is a value (→ ZERO), NULL is
            # a throw (upper(null) NPEs before toBigDecimal ever runs)
            return (f"(CASE WHEN {s} IS NULL THEN CAST(NULL AS DOUBLE)"
                    f" WHEN trim({s}) = '' THEN CAST(0.0 AS DOUBLE)"
                    f" ELSE {self.try_num(s)} END)")
        # legitimate-null node (field / CASE / value-func): null and
        # trim-empty are both ZERO — but a throw inside a value-func's
        # eager params still preempts (the guards see through the layer)
        pre = " ".join(f"WHEN ({g}) IS NULL THEN CAST(NULL AS DOUBLE)"
                       for g in self._throw_guards(node))
        return (f"(CASE {pre} WHEN {s} IS NULL OR trim({s}) = ''"
                f" THEN CAST(0.0 AS DOUBLE)"
                f" ELSE {self.try_num(s)} END)")

    def bool_operand(self, node: "Node") -> tuple[str, bool]:
        """A Boolean.TRUE.equals boundary (and/or/not :216-222, CASE
        conditions :729-749): returns (fragment, throwy) where throwy
        marks a fragment whose runtime NULL means the reference THREW
        evaluating the operand (must preempt as NULL). Non-boolean
        values are NEVER truthy in the reference — Boolean.TRUE.equals
        of a string/number/null is false (even the string 'true') —
        but evaluating the operand can still throw."""
        if isinstance(node, Op) and node.op in (
                "and", "or", "not", "=", "!=", "<", "<=", ">", ">="):
            return self.emit(node, "bool"), True
        if isinstance(node, Const):
            if isinstance(node.value, bool):
                return ("TRUE" if node.value else "FALSE"), False
            return "FALSE", False
        if isinstance(node, Case):
            # a no-match CASE yields a legitimate null → falsy; a throw
            # inside (condition or fired branch) still aborts via guards
            frag = f"coalesce({self.emit(node, 'bool')}, FALSE)"
            gs = self._throw_guards(node)
            if gs:
                conds = " OR ".join(f"({g}) IS NULL" for g in gs)
                return (f"(CASE WHEN {conds} THEN NULL "
                        f"ELSE {frag} END)"), True
            return frag, False
        frag = self.emit(node, "any")
        if self._node_throwy(node):
            return f"(CASE WHEN {frag} IS NOT NULL THEN FALSE END)", True
        gs = self._throw_guards(node)
        if gs:  # value-func: falsy, but its eager params can still throw
            conds = " OR ".join(f"({g}) IS NULL" for g in gs)
            return f"(CASE WHEN {conds} THEN NULL ELSE FALSE END)", True
        return "FALSE", False

    def round_scaled(self, frag: str, n: int) -> str:
        """round(x, n) agreeing across engines: identity where x·10^n
        exceeds 2^53. Below that bound both engines' round is exact in
        the scaled-integer space; above it DuckDB's scaling loses ulps
        where Spark's BigDecimal.valueOf path doesn't, and one lost ulp
        amplifies through cancellation or remainders into full-scale
        divergence (found by the randomized tree sweeps at 2.5e14/2.6e17
        magnitudes). The n-th decimal of such a value exceeds the
        double's resolution anyway — identity is the honest rendering,
        inside the documented precision bound."""
        thr = 9.007199254740992e15 / (10.0 ** n)
        return (f"(CASE WHEN abs({frag}) < {thr!r} THEN round({frag}, {n}) "
                f"ELSE {frag} END)")

    def cast_str(self, frag: str) -> str:
        return self.d.s(frag)

    def rlike(self, frag: str, pattern: str) -> str:
        """Anchored regex test over a string fragment."""
        return f"({self.d.rlike(frag, pattern)})"

    def now(self) -> str:
        return self.now_literal or self.d.now()

    # --- shared timestamp semantics (reference evaluator :440-535) ---------
    # calendar years 0001-9999 as epoch bounds; outside → NULL (documented
    # deviation: int64-microsecond engines cannot hold the reference's
    # unbounded LocalDateTime, and an ungated *1000 would overflow the
    # ANSI BIGINT cast and abort the whole job on one bad row)
    _EPOCH_S_MIN = -62_135_596_800
    _EPOCH_MS_MAX = 253_402_300_799_999
    _LONG_RE = "\\A[+-]?[0-9]{1,18}\\z"  # Long.parseLong grammar; 19-digit
    # longs parse in Java but all exceed the year-9999 window → NULL
    # either way, so the 18-digit cap is value-identical and overflow-free.
    # Every gate here is anchored \A..\z, not ^..$: Spark RLIKE is
    # java.util.regex, where a bare '$' also matches BEFORE a trailing
    # line terminator, and TRY_CAST then trims it — '123\n' would read
    # 123 where Long.parseLong (and DuckDB's RE2 '$') reject it

    def _epoch_ms(self, v: str) -> str:
        """Nullable BIGINT epoch → epoch-millis with the strict >1e10 ⇒
        already-millis rule (:526-535); NULL outside years 0001-9999.
        The seconds branch multiplies at most |1e10|·1000 — in-range."""
        return (f"CASE WHEN {v} > {self._EPOCH_MS_MAX} THEN NULL"
                f" WHEN {v} > 10000000000 THEN {v}"
                f" WHEN {v} >= {self._EPOCH_S_MIN} THEN {v} * 1000"
                f" ELSE NULL END")

    def ts_from_any(self, frag: str, with_date_only: bool = True) -> str:
        """Stringly value → naive timestamp: Long.parseLong FIRST (an
        integer string is ALWAYS an epoch, :512-517 — no datetime format
        is all-digits), else the datetime-string formats. Decimals,
        whitespace, scientific notation are not epochs (parseLong throws
        → reference errData → NULL here).

        ``with_date_only`` selects which parseDateTimeString the caller
        models: date_diff's (:407-428 → :588-622, LocalDate fallback —
        strict-ISO date-only parses) vs date_format's inline formatter
        list (:487-501, NO fallback — date-only strings throw).
        date_diff's parseLong-first is this engine's documented
        harmonization (the reference's own date_diff rejects epoch
        STRINGS its sibling date_format accepts)."""
        as_long = f"TRY_CAST({frag} AS BIGINT)"
        return (f"CASE WHEN {self.rlike(frag, self._LONG_RE)} "
                f"THEN {self.d.ts(self._epoch_ms(as_long))} "
                f"ELSE {self.ts_date_str(frag, with_date_only)} END")

    def ts_from_num(self, frag: str) -> str:
        """Numeric value → naive timestamp via Number.longValue()
        truncation toward zero (:512), then the >1e10 rule."""
        d = self.try_num(frag)
        v = (f"CASE WHEN {d} BETWEEN -9.2e18 AND 9.2e18 "
             f"THEN {self.d.trunc_to_long(d)} END")
        return self.d.ts(self._epoch_ms(v))

    # regex gate per accepted datetime format — the evaluator's EFFECTIVE
    # set (module docstring): date-only patterns fail LocalDateTime.parse,
    # only strict ISO yyyy-MM-dd survives via the LocalDate fallback;
    # with-time forms take 1-2 digit month/day/hour/min/sec. Each gate
    # pairs with its parse: "smart" (the ofPattern bodies), "iso_frac",
    # or strict Java patterns (the gate already fixed the digit counts).
    _SMART_RX = ("\\A([0-9]{{4}}){0}([0-9]{{1,2}}){0}([0-9]{{1,2}})"
                 " ([0-9]{{1,2}}):([0-9]{{1,2}}):([0-9]{{1,2}})\\z")
    _DT_FORMS = (
        # the ofPattern bodies use the default ResolverStyle.SMART
        # (dialect.smart_ts: day clamp, exactly 24:00:00 → next-day
        # midnight, year-of-era 0 rejected — live-JVM-verified); the
        # strict ISO_LOCAL_DATE_TIME body rejects the T-form's hour 24
        (_SMART_RX.format("-"), "smart"),
        (_SMART_RX.format("/"), "smart"),
        ("\\A[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}(:[0-9]{2})?\\z",
         ("yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd'T'HH:mm")),
        # ISO_LOCAL_DATE_TIME's fractional seconds: Java accepts 1-9
        # digits (nanos); engines hold int64 microseconds, so digits 7-9
        # are truncated at parse (regex-gated TRY_CAST after a
        # regexp_replace drops the sub-µs tail — both engines' ISO casts
        # read '.5' as .500000 where DuckDB's %f strptime would read
        # 5 µs). A NONZERO sub-µs tail makes chronological comparisons
        # engine-undecidable (documented deviation; the reference keeps
        # full nanos) — the reference port raises Fragile there.
        ("\\A[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}"
         "\\.[0-9]{1,9}\\z", "iso_frac"),
        ("\\A[0-9]{4}-[0-9]{2}-[0-9]{2}\\z", ("yyyy-MM-dd",)),
    )

    def dt_parse(self, frag: str, rx: str, how) -> str:
        """Parse a datetime string already known to match ``rx``."""
        d = self.d
        if how == "smart":
            return self.bind_one(frag, lambda v: d.smart_ts(v, rx))
        if how == "iso_frac":
            # the native ISO cast reads the fraction as a DECIMAL
            # fraction ('.5' → .500000) at exact µs, matching
            # ISO_LOCAL_DATE_TIME; sub-µs digits 7-9 drop first
            trunc = d.re_replace_all(frag, r"(\.[0-9]{6})[0-9]+$",
                                     d.backref(1))
            return f"TRY_CAST({trunc} AS TIMESTAMP)"
        tries = ", ".join(d.try_ts(frag, p) for p in how)
        return f"coalesce({tries})" if len(how) > 1 else tries

    def bind_one(self, frag: str, body_fn) -> str:
        """Emit ``body_fn(var)`` with ``frag`` bound ONCE to a lambda
        variable (higher-order function over a 1-element array). The
        SMART component parse references its operand ~12 times; inlining
        that into nested tree emissions multiplies fragment size per
        nesting level — emission-size blowup that OOMed the date-leg
        sweep — so the operand must be emitted exactly once.

        Variable names derive from NESTING DEPTH, not a global counter:
        emitted SQL text is reproducible across emission order, sibling
        binds share a name safely (disjoint lambda scopes), and a bind
        nested inside another bind's body gets a deeper name — no
        shadowing. ``frag`` is already-emitted text, so its own binds
        have completed and reset the depth before this call reads it."""
        v = f"zgb{self._bind_depth}"
        self._bind_depth += 1
        try:
            body = body_fn(v)
        finally:
            self._bind_depth -= 1
        d = self.d
        return f"({d.idx(d.lmap(d.arr(frag), v, body), 1)})"

    def ts_date_str(self, frag: str, with_date_only: bool = True) -> str:
        """Multi-format DATE-STRING parse (VirtualAttributeExpressionEvaluator
        parseDateTimeString :588-622 + the executeOperation formatter
        lists) — NULL for anything else, including pure numbers (epoch
        values are NOT dates here: compareDates only takes the date
        branch when the text parses as a calendar datetime).

        ``with_date_only=False`` is OperationNode's own copy of the
        method (:144-168), the one compareDates' mixed branch calls: it
        has NO ``LocalDate.parse`` fallback, so even strict-ISO
        ``yyyy-MM-dd`` fails there (every with-time pattern needs time
        fields) — only date_diff/date_format arguments (:588-622)
        accept date-only strings."""
        forms = self._DT_FORMS if with_date_only else self._DT_FORMS[:-1]
        whens = " ".join(
            f"WHEN {self.rlike(frag, rx)} THEN {self.dt_parse(frag, rx, how)}"
            for rx, how in forms
        )
        return f"(CASE {whens} END)"

    def datediff_days(self, a_ts: str, b_ts: str) -> str:
        """Full 24-hour periods truncated toward zero, ENTIRELY in
        BIGINT µs space (integer division truncates toward zero) — a
        double detour loses ulps once the span exceeds 2^53 µs (~285
        years, reachable inside the 0001-9999 window) and can flip the
        day count by one vs ChronoUnit.DAYS.between. Not DuckDB's
        date_diff('day'), which counts calendar-boundary crossings."""
        d = self.d
        return d.idiv(f"({d.epoch_us(a_ts)} - {d.epoch_us(b_ts)})",
                      "86400000000")

    def ldt_render(self, ts_frag: str) -> str:
        """Java LocalDateTime.toString() of a timestamp fragment: the
        ISO 'T' form with seconds omitted when zero — the rendering a
        datetime OBJECT takes in string contexts (concat/upper/equality
        fallthrough). NOT the DateTimeResult format."""
        hm = self.d.fmt(ts_frag, "yyyy-MM-dd'T'HH:mm")
        hms = self.d.fmt(ts_frag, "yyyy-MM-dd'T'HH:mm:ss")
        return (f"(CASE WHEN second({ts_frag}) = 0 THEN {hm} "
                f"ELSE {hms} END)")

    # --- shared emission ---------------------------------------------------
    def emit(self, node: Node, hint: str = "any") -> str:
        if isinstance(node, TsConst):
            # the OBJECT form is taken by _ts_operand at the boundaries
            # that care; everywhere else the value is Java's
            # LocalDateTime.toString() rendering, a compile-time string
            return self.d.lit(node.java_str())
        if isinstance(node, Const):
            if node.value is None:
                return "NULL"
            if isinstance(node.value, bool):
                return "TRUE" if node.value else "FALSE"
            if isinstance(node.value, (int, float)):
                return repr(node.value)
            return self.d.lit(node.value)
        if isinstance(node, Field):
            return self.resolve(node.name, hint)
        if isinstance(node, Op):
            return self.emit_op(node)
        if isinstance(node, Func):
            return self.emit_func(node)
        if isinstance(node, Case):
            # ConditionNode (:729-749): conditions evaluate LAZILY in
            # order and fire on Boolean.TRUE.equals — null / non-boolean
            # results fall through (SQL CASE already treats NULL as
            # no-match) — but a condition that THROWS aborts the row, so
            # each throwy condition gets a NULL-preempting arm placed
            # right before its own WHEN (later conditions never run in
            # the reference once an earlier one throws)
            parts = ["CASE"]
            for cond, val in node.whens:
                c, throwy = self.bool_operand(cond)
                if throwy:
                    parts.append(f"WHEN ({c}) IS NULL THEN NULL")
                parts.append(f"WHEN {c} THEN {self.emit(val)}")
            if node.default is not None:
                parts.append(f"ELSE {self.emit(node.default)}")
            parts.append("END")
            return " ".join(parts)
        raise ExpressionError(f"cannot emit {node}")

    def _operand_hint(self, other: Node) -> str:
        """Equality/comparison coercion: numeric-first when the other side is
        numeric (reference :230-265), string when it is a string."""
        if isinstance(other, Const):
            if isinstance(other.value, bool):
                return "any"
            if isinstance(other.value, (int, float)):
                return "number"
            if isinstance(other.value, str):
                return "string"
        if isinstance(other, Op) and other.op in ("+", "-", "*", "/", "%", "neg"):
            return "number"
        if isinstance(other, Func) and other.name in (
            "length",
            "abs",
            "round",
            "ceil",
            "floor",
            "date_diff",
        ):
            return "number"
        if isinstance(other, Func) and other.name in (
            "upper",
            "lower",
            "concat",
            "substring",
            "date_format",
            "get_json_string",
        ):
            return "string"
        return "any"

    def emit_op(self, node: Op) -> str:
        op = node.op
        if op == "not":
            # !Boolean.TRUE.equals(v) (:222): null and every non-boolean
            # are truthy-NOT (→ TRUE); only a throw in the operand makes
            # the result NULL
            f, throwy = self.bool_operand(node.left)
            if throwy:
                return f"(NOT {f})"  # SQL NOT NULL = NULL = the throw
            return f"(NOT coalesce({f}, FALSE))"
        if op == "neg":
            return f"(- {self.num_operand(node.left)})"
        if op in ("and", "or"):
            # allMatch/anyMatch(Boolean.TRUE::equals) (:218-220) over
            # EAGERLY-evaluated operands (:107-113): non-TRUE values —
            # including null and non-booleans — are plain false, they
            # never make the result unknown; but a throw in EITHER
            # operand aborts the row even when the other operand would
            # decide a short-circuiting evaluator (FALSE AND throw is
            # errData, not false — SQL's 3-valued logic gets this wrong
            # in both directions, hence the explicit guards)
            a, ta = self.bool_operand(node.left)
            b, tb = self.bool_operand(node.right)
            guards = [f"({f}) IS NULL" for f, t in ((a, ta), (b, tb)) if t]
            core = f"({a} {op.upper()} {b})"
            if guards:
                return (f"(CASE WHEN {' OR '.join(guards)} THEN NULL "
                        f"ELSE {core} END)")
            return core
        if op in ("+", "-", "*"):
            # all reference arithmetic is BigDecimal (:290-311) behind
            # the toBigDecimal boundary (null/'' → ZERO); double is this
            # engine's documented number space
            return (
                f"({self.num_operand(node.left)} {op} "
                f"{self.num_operand(node.right)})"
            )
        if op == "%":
            # BigDecimal.remainder: truncated remainder, sign of the
            # dividend — both engines' double mod. A zero divisor throws
            # in the reference (errData row) AND in Spark ANSI (even for
            # doubles, REMAINDER_BY_ZERO aborts the job) — safe_mod
            # yields NULL in both dialects instead. A null divisor is
            # ZERO at the toBigDecimal boundary → the same throw.
            # Dividends beyond 2^53 are NULL (documented precision
            # bound): the double has no unit resolution there, so the
            # remainder amplifies any one-ulp upstream difference into
            # its full scale — the engines would disagree with each
            # other AND with BigDecimal's exact value (found by the
            # 1500-tree sweep: round(q,10) differs by an ulp at 2.6e17,
            # flipping the remainder by 0.025).
            a = self.num_operand(node.left)
            return (f"(CASE WHEN abs({a}) <= 9.007199254740992e15 "
                    f"THEN {self.d.safe_mod(a, self.num_operand(node.right))} "
                    f"END)")
        if op == "/":
            # reference divide carries scale 10 HALF_UP (:302-311).
            # Operands are forced to DOUBLE: with decimal-literal operands
            # Spark would otherwise divide in decimal space, where its
            # result-scale rule can settle on scale 6 — digits round(x, 10)
            # can never restore (found by the randomized conformance sweep:
            # 255.87 / 7 → 36.552857 vs the reference's 36.5528571429).
            # safe_div: NULL on /0 in BOTH engines — Spark 4 ANSI mode
            # otherwise throws DIVIDE_BY_ZERO and one bad row aborts the
            # whole job (the reference throws per-row and routes the row
            # to errData; NULL-and-continue is the batch rendering of that)
            return (
                self.round_scaled(self.d.safe_div(self.num_operand(node.left), self.num_operand(node.right)), 10)
            )
        if op in ("=", "!="):
            # isEqual (:230-265) is NULL-SAFE and NUMERIC-FIRST: both
            # null → TRUE (one null → FALSE, and != is its plain
            # negation); both sides BigDecimal-parseable → numeric
            # equality ('007' = '7' is TRUE); else string equality.
            # SQL's null-propagating `=` would render null = null as
            # filtered-out instead of TRUE — emitted as an explicit CASE
            # so both dialects carry the reference contract. The numeric
            # probe uses the engines' try_cast grammar (documented
            # leniency superset of BigDecimal) in double space
            # (documented 2^53 precision bound).
            # isEqual's FIRST branch (:230-232): both sides LocalDateTime
            # OBJECTS — now() or a date constant, NOT DateTimeResult
            # (from_unixtime), which fails the instanceof and falls to
            # toString equality — compare chronologically
            llt = self._ldt_operand(node.left)
            rlt = self._ldt_operand(node.right)
            if llt and rlt:
                eq = f"({llt} = {rlt})"
                return eq if op == "=" else f"(NOT {eq})"
            lh = self._operand_hint(node.right)
            rh = self._operand_hint(node.left)
            lh = lh if lh != "any" else "string"
            rh = rh if rh != "any" else "string"
            a = self.emit(node.left, lh)
            b = self.emit(node.right, rh)
            na, nb = self.try_num(a), self.try_num(b)
            # isEqual only runs once both operands evaluated (:107-113):
            # a NULL out of a throwy operand is a reference throw and
            # preempts the null-safe arms (upper(null) = 'X' is errData,
            # not FALSE); legitimate nulls (fields, value-funcs) keep
            # isEqual's null-safe contract
            guards = [f"({g}) IS NULL"
                      for side in (node.left, node.right)
                      for g in self._throw_guards(side)]
            pre = f"WHEN {' OR '.join(guards)} THEN NULL " if guards else ""
            eq = (
                f"(CASE {pre}WHEN {a} IS NULL AND {b} IS NULL THEN TRUE"
                f" WHEN {a} IS NULL OR {b} IS NULL THEN FALSE"
                f" WHEN {na} IS NOT NULL AND {nb} IS NOT NULL"
                f" THEN {na} = {nb}"
                f" ELSE {self.cast_str(a)} = {self.cast_str(b)} END)"
            )
            return eq if op == "=" else f"(NOT {eq})"
        if op in ("<", "<=", ">", ">="):
            # reference compareDates (:115-142) + extractDateTime
            # (:171-186): the DATE branch fires ONLY when a side IS a
            # datetime OBJECT — the result of now() or 1-arg
            # from_unixtime — never for two strings (extractDateTime
            # returns null for String, so two date-looking strings fall
            # to compareNumbers, whose BigDecimal throws → errData).
            # With one datetime side, the OTHER side is parsed via
            # OperationNode's parseDateTimeString (:144-168 — the copy
            # WITHOUT the LocalDate fallback, so date-only strings fail
            # even as strict ISO); unparseable → compareNumbers throws
            # on the LocalDateTime → errData → NULL here.
            lt = self._ts_operand(node.left)
            rt = self._ts_operand(node.right)
            if lt or rt:
                a_ts = lt or self.ts_date_str(
                    self.cast_str(self.emit(node.left, "string")),
                    with_date_only=False)
                b_ts = rt or self.ts_date_str(
                    self.cast_str(self.emit(node.right, "string")),
                    with_date_only=False)
                return (
                    f"(CASE WHEN {a_ts} IS NOT NULL AND {b_ts} IS NOT NULL "
                    f"THEN {a_ts} {op} {b_ts} END)"
                )
            # the numeric branch is NUMERIC, never string ordering
            # (compareNumbers :321-323 goes through toBigDecimal, where
            # null and trim-empty strings are ZERO — a missing field
            # COMPARES as 0, it does not make the predicate unknown);
            # NULL only where BigDecimal would throw (errData)
            return (
                f"({self.num_operand(node.left)} {op} "
                f"{self.num_operand(node.right)})"
            )
        raise ExpressionError(f"unknown op {op}")

    def _ts_operand(self, node: Node) -> str | None:
        """SQL timestamp fragment when this operand evaluates to a
        datetime OBJECT in the reference — LocalDateTime from now(), or
        DateTimeResult from 1-arg from_unixtime (:395-396, :539-541) —
        else None (strings are NOT datetime objects, extractDateTime
        :171-186). An EXHAUSTIVE CASE (every branch incl. ELSE a
        datetime object) carries the object through (ConditionNode
        returns the branch value as-is): re-emitted over timestamp
        fragments with the usual condition throw-guards — a NULL of the
        re-emitted frag then means exactly a reference throw, which the
        compare renders NULL. A non-exhaustive CASE can also return
        null (no match), which compareDates sends to the NUMERIC branch
        as ZERO — one fragment cannot carry both meanings, so those
        stay on the stringly path (the formatted rendering compares
        numerically, throwing like the reference's ZERO-vs-unparseable
        in the common sub-case)."""
        if isinstance(node, TsConst):
            return node.sql_ts()
        if isinstance(node, Func) and node.name == "now" and not node.args:
            return self.now()
        if (isinstance(node, Func) and node.name == "from_unixtime"
                and len(node.args) == 1):
            return self.ts_from_num(self.emit(node.args[0], "number"))
        if isinstance(node, Case) and node.whens and node.default is not None:
            branches = [self._ts_operand(v) for _, v in node.whens]
            dflt = self._ts_operand(node.default)
            if all(branches) and dflt:
                arms = []
                for (cond, _), ts in zip(node.whens, branches):
                    c, throwy = self.bool_operand(cond)
                    if throwy:
                        arms.append(f"WHEN ({c}) IS NULL THEN NULL")
                    arms.append(f"WHEN {c} THEN {ts}")
                return f"(CASE {' '.join(arms)} ELSE {dflt} END)"
        return None

    def _ldt_operand(self, node: Node) -> str | None:
        """Timestamp fragment when the operand is a LocalDateTime OBJECT
        in the reference — now() (:395-396) or a date constant
        (parseConstantValue :834-835) — the only types isEqual's first
        branch (:230-232) accepts. DateTimeResult (1-arg from_unixtime)
        is NOT a LocalDateTime and falls through to toString equality."""
        if isinstance(node, TsConst):
            return node.sql_ts()
        if isinstance(node, Func) and node.name == "now" and not node.args:
            return self.now()
        return None

    def emit_func(self, node: Func) -> str:
        name, args = node.name, node.args

        def a(i: int, hint: str = "any") -> str:
            return self.emit(args[i], hint)

        if name in ("upper", "lower"):
            return f"{name}({a(0, 'string')})"
        if name == "length":
            return self.cast_num(f"length({a(0, 'string')})")
        if name == "concat":
            # `||` in BOTH dialects, not concat(): DuckDB's concat()
            # IGNORES null arguments while Spark's propagates them — and
            # the reference NPEs on a null param (Object::toString,
            # :380-382 → errData row), so NULL-propagation is the
            # documented rendering
            if not args:
                return "''"
            parts = " || ".join(self.emit(x, "string") for x in args)
            return f"({parts})"
        if name == "substring":
            # Java String.substring (:384-393) throws when begin exceeds
            # the length (begin == length is legal and yields '') or
            # when a negative length pulls the end before the begin —
            # SQL substring would quietly return '' in both cases, so
            # the Java bounds become explicit NULL (errData) guards
            s = a(0, "string")
            start = f"TRY_CAST({a(1, 'number')} AS BIGINT)"
            if len(args) == 2:
                return (f"(CASE WHEN {start} <= length({s}) + 1 "
                        f"THEN substring({s}, {start}) END)")
            ln = f"TRY_CAST({a(2, 'number')} AS BIGINT)"
            return (f"(CASE WHEN {start} <= length({s}) + 1 AND {ln} >= 0 "
                    f"THEN substring({s}, {start}, {ln}) END)")
        if name == "now":
            # VALUE context: the LocalDateTime's Java toString rendering
            # (ISO 'T', seconds dropped when zero) — `now() = 'x'` falls
            # through isEqual to toString equality, never to a numeric
            # epoch compare. The OBJECT form is taken by
            # _ts_operand/_ldt_operand at compares before emit_func runs.
            # ldt_render models the nano==0 rendering only, so the
            # fragment is truncated to whole seconds first: an UNPINNED
            # now() (LocalDateTime.now() virtually always carries nanos,
            # which Java renders as '…:ss.nnn') would otherwise drop the
            # fraction — and drop ':ss' whenever second==0 — silently.
            # With the truncation the emitted semantics are exactly the
            # stated model: now() rendered at whole-second resolution
            # (pipeline clocks are pinned to whole seconds anyway;
            # date_trunc is a no-op there).
            return self.ldt_render(f"date_trunc('second', {self.now()})")
        if name == "date_diff":
            return self.datediff_days(self.ts_from_any(a(0)), self.ts_from_any(a(1)))
        if name == "date_format":
            fmt = self._const_str(args[1], "date_format pattern")
            # date_format's own string parse (:487-501) has NO LocalDate
            # fallback — '2024-08-01' throws here while date_diff takes it
            return self.d.fmt(self.ts_from_any(a(0), with_date_only=False),
                              fmt)
        if name == "from_unixtime":
            ts = self.ts_from_num(a(0, "number"))
            if len(args) == 1:
                return self.d.fmt(ts, "yyyy-MM-dd HH:mm:ss")
            fmt = self._const_str(args[1], "from_unixtime pattern")
            return self.d.fmt(ts, fmt)
        if name == "abs":
            # abs/round/ceil/floor run their argument through
            # FunctionNode's toBigDecimal (:547-556 → :682-694) — null
            # and trim-empty are ZERO there too
            return f"abs({self.num_operand(args[0])})"
        if name == "round":
            if len(args) == 1:
                return self.round_scaled(self.num_operand(args[0]), 0)
            return self.round_scaled(self.num_operand(args[0]),
                                     self._const_int(args[1]))
        if name in ("ceil", "floor"):
            return f"{name}({self.num_operand(args[0])})"
        if name == "coalesce":
            # params evaluate eagerly (:362-367): a throw in ANY
            # argument — even one after the first non-null — aborts the
            # row, so throwy arguments get NULL-preempting guards
            inner = "coalesce(" + ", ".join(self.emit(x) for x in args) + ")"
            return self._guard_throwy_args(args, inner)
        if name == "nullif":
            return self._guard_throwy_args(args, f"nullif({a(0)}, {a(1)})")
        if name == "get_json_string":
            path = self._const_str(args[1], "json path")
            # the path is a compile-time constant, so the reference's
            # extractJsonPathAsString grammar (:624-681) normalizes HERE,
            # where the engines would otherwise diverge from it:
            # - non-'$' path → null (:627-629; DuckDB would treat it as
            #   a bare key path and extract);
            # - '$' alone (empty remainder) → jsonText VERBATIM, no JSON
            #   validation (:633-635; both engines re-render minified and
            #   NULL invalid JSON) — emitted as the nullif('') passthrough
            #   the null/empty pre-check (:578-580) implies;
            # - any negative bracket index → null (:662; Spark agrees,
            #   DuckDB indexes from the array's end).
            if not path.startswith("$"):
                return "NULL"
            rest = path[1:]
            rest = rest[1:] if rest.startswith(".") else rest
            if rest == "":
                return f"nullif({a(0, 'string')}, '')"
            for part in rest.split("."):
                b = part.find("[")
                if b > -1 and part.endswith("]"):
                    idx = part[b + 1:-1]
                    # Integer.parseInt grammar: optional sign + digits,
                    # 32-bit range; a failed parse (e.g. '[0][1]' reads
                    # idx '0][1') or a negative index is null
                    if not re.fullmatch(r"[+-]?[0-9]+", idx) or \
                            not -2**31 <= int(idx) < 2**31 or int(idx) < 0:
                        return "NULL"
            return self.d.json_doc_str(a(0, "string"), path)
        raise ExpressionError(f"unknown function {name}")

    def _guard_throwy_args(self, args: list, inner: str) -> str:
        """NULL-preempt a function call when any eagerly-evaluated
        argument's reference evaluation threw (recursively through
        value-func layers)."""
        guards = [f"({g}) IS NULL"
                  for x in args for g in self._throw_guards(x)]
        if guards:
            return (f"(CASE WHEN {' OR '.join(guards)} THEN NULL "
                    f"ELSE {inner} END)")
        return inner

    @staticmethod
    def _const_str(node: Node, what: str) -> str:
        if not isinstance(node, Const) or not isinstance(node.value, str):
            raise ExpressionError(f"{what} must be a string literal")
        return node.value

    @staticmethod
    def _const_int(node: Node) -> int:
        if not isinstance(node, Const) or not isinstance(node.value, (int, float)):
            raise ExpressionError("round scale must be a numeric literal")
        return int(node.value)


# ---------------------------------------------------------------------------
# Façade (reference VirtualAttributeManager.java:30-116)
# ---------------------------------------------------------------------------
class ExprCompiler:
    def __init__(
        self,
        spark_field_resolver=None,
        duck_field_resolver=None,
        now_literal: str | None = None,
    ):
        self.spark = Emitter(SPARK, spark_field_resolver, now_literal)
        self.duck = Emitter(DUCK, duck_field_resolver, now_literal)

    def to_spark_sql(self, sql: str) -> str:
        return self.spark.emit(parse(sql))

    def to_duckdb_sql(self, sql: str) -> str:
        return self.duck.emit(parse(sql))


# CASE parsing lives on Parser but needs Case; defined here to keep the
# class readable above.
def _case_expr(self: Parser) -> Node:
    self.expect("kw", "case")
    node = Case()
    while self.accept("kw", "when"):
        cond = self.or_expr()
        self.expect("kw", "then")
        node.whens.append((cond, self.or_expr()))
    if self.accept("kw", "else"):
        node.default = self.or_expr()
    self.expect("kw", "end")
    if not node.whens:
        raise ExpressionError("CASE requires at least one WHEN")
    return node


Parser.case_expr = _case_expr
