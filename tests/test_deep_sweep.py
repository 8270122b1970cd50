"""Per-round FRESH-SEED deep sweep over random expression trees.

The committed corpora (test_expr_fuzz leg 3, test_expr_tree_port's 120
trees + 100 date trees) are regression armor: they re-run the same
seeded trees every round. This sweep is the discovery layer: its seed
rotates with ``zg_etl_spark.buildinfo.BUILD_ROUND``, so each round
triangulates ≥1,000 NEVER-BEFORE-SEEN trees. The round-8 one-off
versions of this harness (/tmp scripts, ~2,600 trees) found THREE real
emitter bugs the corpus had missed — the now()-rendering bug (a raw
timestamp fragment reaching equality's numeric probe), and the two
>2^53 ulp-amplification divergences in ``%`` and ``round(x, n)`` —
which is the empirical case for fresh seeds every round.

Two legs, mirroring the committed corpora's strongest checks:

- NUMERIC leg: test_expr_fuzz's typed generator (arithmetic / string /
  boolean / JSON-bearing trees). Every cell must satisfy
  engine ≡ engine ≡ EngineEval (the value-level executable spec).
- DATE leg: test_expr_tree_port's date-composition generator (now(),
  TIMESTAMP literals, from_unixtime/date_format chains, JSON and
  value-function forms). Every cell engine ≡ engine ≡ EngineEvalDates;
  clean cells (no documented-leniency leaves) additionally triangulate
  against RefEvalDates — the literal Java port — with the
  Fragile/OutOfWindow/Deviation sentinels of the committed corpus.

Ritual (SURVEY.md §5): bump BUILD_ROUND at round start; if the sweep
finds a divergence, fix it or document it, then PIN the failing tree as
a named corpus test — the sweep never becomes the armor itself.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from test_expr_fuzz import (
    _JSON_PATHS,
    COMPILER,
    DIRTY,
    _gen,
    _gen_bool,
    _gen_num,
    _gen_str,
    _lenient,
    _norm_eq,
)
from test_expr_tree_port import (
    Deviation,
    EngineEval,
    EngineEvalDates,
    Fragile,
    OutOfWindow,
    RefEvalDates,
    Throw,
    _gen_d_bool,
    _gen_d_str,
    _gen_date_tree,
    _ref_str_dt,
    _render_engine,
)
from zg_etl_spark.buildinfo import BUILD_ROUND
from zg_etl_spark.functions.expr_compiler import parse

# ~20 min of fresh-seed discovery sweeps: run with --runslow when the
# expression compiler/emitters change; the committed corpora
# (test_expr_fuzz, test_expr_tree_port) remain the always-on armor
pytestmark = pytest.mark.slow

SEED = 96_180_000 + BUILD_ROUND          # fresh trees every round
N_NUM_BATCHES, NUM_PER_BATCH = 6, 90     # 540 numeric-leg trees
N_DATE_BATCHES, DATE_PER_BATCH = 6, 80   # 480 date-leg trees
N_MIX_BATCHES, MIX_PER_BATCH = 4, 60     # 240 mixed-leg trees
# the date and mixed legs evaluate each batch this many trees per query:
# their trees emit SQL many times larger than the numeric leg's, so one
# 60-80-column projection is a giant plan to parse, analyse and compile
DATE_PER_QUERY = 10


@pytest.fixture(autouse=True)
def _bounded_parser_cache(spark):
    """Every fresh tree is new SQL text, and Spark's ANTLR parser keeps
    the DFA states of every text it parses in one process-wide cache:
    after three 80-tree date batches it held ~4 GB (ATNConfig and
    DFAState arrays in a heap histogram) and the legs ran the suite heap
    out. While the sweep runs, Spark flushes that cache once it passes
    10% of the driver heap (heap after GC stayed ~0.3 GB)."""
    confs = {"spark.sql.parser.manageParserCaches": "true",
             "spark.sql.parser.parserDfaCacheFlushRatio": "10"}
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield
    for k, v in prev.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


# --- mixed-family generator --------------------------------------------------
# Compositions that CROSS the numeric/date/JSON family boundaries the
# per-family generators never leave — in particular date_diff results
# flowing into arithmetic/round/% (the round-9 integer-µs DIV rework;
# spans past 2^53 µs are reachable via the dirty alphabet's huge epochs,
# exactly where a double-space day count would flip by one).
def _gen_mixed(rng):
    n = lambda: _gen_num(rng, rng.randrange(0, 2))       # noqa: E731
    s = lambda: _gen_str(rng, rng.randrange(0, 2))       # noqa: E731
    ds = lambda: _gen_d_str(rng, rng.randrange(0, 2))    # noqa: E731
    db = lambda: _gen_d_bool(rng, rng.randrange(0, 2))   # noqa: E731

    # datetime ARGS stay leaf-shaped: ts_from_any textually inlines its
    # fragment ~11× (regex gates + per-format parses), so a composed
    # (CASE/derived) argument to date_diff multiplies its own emission —
    # a depth-2 tree reaches ~650 KB of SQL, and 60 such columns in one
    # projection OOM codegen. One bounded date_diff-over-CASE template
    # lives in DATE_TEMPLATES instead; here args are leaves.
    def dts():
        p = rng.random()
        if p < 0.3:
            return rng.choice(["f", "g"])
        if p < 0.55:
            return "now()"
        if p < 0.8:
            return (f"TIMESTAMP '2024-08-{rng.randrange(1, 28):02d}"
                    f"T{rng.randrange(0, 24):02d}:30:00'")
        return f"from_unixtime({rng.choice(['f', 'g', '1722470400'])})"

    cmp_ = rng.choice(["<", "<=", ">", ">=", "=", "!="])
    forms = [
        lambda: f"datediff({dts()}, '2024-08-01 00:00:00') {cmp_} {n()}",
        lambda: f"datediff(f, g) + {n()}",
        lambda: f"datediff(f, '0001-01-01') % 97",
        lambda: f"round(datediff(now(), f) / 7, {rng.randrange(0, 3)})",
        lambda: f"abs(datediff({dts()}, g))",
        lambda: f"concat({s()}, date_format(f, 'yyyyMMdd'))",
        lambda: f"length({ds()}) {cmp_} {n()}",
        # CASE branches stay family-homogeneous (documented grammar
        # constraint: DuckDB binds CASE types statically) — `* 1` forces
        # the leaf branch into the numeric family like the emitters'
        # arithmetic TRY_CAST does
        lambda: (f"CASE WHEN {db()} THEN ({n()} * 1) ELSE "
                 f"datediff(f, g) END * 3"),
        lambda: (f"get_json_string(f, '{rng.choice(_JSON_PATHS)}') "
                 f"{cmp_} {n()}"),
        lambda: (f"coalesce(nullif({ds()}, ''), "
                 f"get_json_string(g, '$.a'), {s()})"),
        lambda: f"({_gen_bool(rng, 1)}) AND ({db()})",
        lambda: f"substring({ds()}, 1, 6) = substring({s()}, 1, 6)",
    ]
    return rng.choice(forms)()


def _rows(offset: int):
    """Dirty value pairs; the pairing offset rotates with the round so
    the same value meets different partners each sweep."""
    k = (offset + 7 * BUILD_ROUND) % len(DIRTY)
    return [(a, b) for a, b in zip(DIRTY, DIRTY[k:] + DIRTY[:k])]


def _eval_both(spark, rows, exprs, view, per_query=None):
    """Per (f, g) row, each engine's values of ``exprs`` in order;
    ``per_query`` trees are evaluated per query (default: all at once)."""
    per_query = per_query or len(exprs)
    s_map: dict = {}
    d_map: dict = {}
    for i in range(0, len(exprs), per_query):
        s_part, d_part = _eval_query(spark, rows, exprs[i:i + per_query],
                                     f"{view}_{i}")
        for key in s_part:
            s_map[key] = s_map.get(key, ()) + s_part[key]
            d_map[key] = d_map.get(key, ()) + d_part[key]
    return s_map, d_map


def _eval_query(spark, rows, exprs, view):
    s_cols = [f"CAST(({COMPILER.to_spark_sql(e)}) AS STRING) AS c{i}"
              for i, e in enumerate(exprs)]
    d_cols = [f"CAST(({COMPILER.to_duckdb_sql(e)}) AS VARCHAR) AS c{i}"
              for i, e in enumerate(exprs)]
    spark.createDataFrame(rows, "f string, g string") \
        .createOrReplaceTempView(view)
    s_rows = spark.sql(
        "SELECT f, g, " + ", ".join(s_cols) + f" FROM {view}").collect()
    con = duckdb.connect()
    con.execute(f"CREATE TABLE {view} (f VARCHAR, g VARCHAR)")
    con.executemany(f"INSERT INTO {view} VALUES (?, ?)", rows)
    d_rows = con.execute(
        "SELECT f, g, " + ", ".join(d_cols) + f" FROM {view}").fetchall()
    s_map = {(r[0], r[1]): tuple(r[2:]) for r in s_rows}
    d_map = {(r[0], r[1]): tuple(r[2:]) for r in d_rows}
    assert set(s_map) == set(d_map) and len(s_map) == len(rows)
    return s_map, d_map


def test_deep_sweep_numeric_leg(spark):
    rng = random.Random(SEED)
    rows = _rows(11)
    bad = []
    for batch in range(N_NUM_BATCHES):
        exprs = [_gen(rng, rng.randrange(1, 4))
                 for _ in range(NUM_PER_BATCH)]
        asts = [parse(e) for e in exprs]
        s_map, d_map = _eval_both(spark, rows, exprs,
                                  f"dsweep_n{batch}")
        for key in rows:
            ev = EngineEval({"f": key[0], "g": key[1]})
            for i, ast in enumerate(asts):
                want = _render_engine(ev.eval(ast))
                s, d = s_map[key][i], d_map[key][i]
                if not _norm_eq(s, d) or not _norm_eq(s, want):
                    bad.append((exprs[i], key, s, d, want))
    assert not bad, (
        f"round-{BUILD_ROUND} sweep (seed {SEED}): {len(bad)} "
        f"divergences, first 5: {bad[:5]}")


def test_deep_sweep_date_leg(spark):
    rng = random.Random(SEED + 1)
    rows = _rows(23)
    bad = []
    checked_ref = 0
    for batch in range(N_DATE_BATCHES):
        exprs = [_gen_date_tree(rng) for _ in range(DATE_PER_BATCH)]
        asts = [parse(e) for e in exprs]
        s_map, d_map = _eval_both(spark, rows, exprs,
                                  f"dsweep_d{batch}", DATE_PER_QUERY)
        for key in rows:
            ev = EngineEvalDates({"f": key[0], "g": key[1]})
            rv = RefEvalDates({"f": key[0], "g": key[1]})
            for i, ast in enumerate(asts):
                want = _render_engine(ev.eval(ast))
                s, d = s_map[key][i], d_map[key][i]
                if not _norm_eq(s, d) or not _norm_eq(s, want):
                    bad.append(("engine", exprs[i], key, s, d, want))
                    continue
                if _lenient(key[0]) or _lenient(key[1]):
                    continue
                try:
                    rw = _ref_str_dt(rv.eval(ast))
                except (Throw, OutOfWindow):
                    rw = None
                except (Fragile, Deviation):
                    continue
                if rw is None:
                    ok = s is None
                elif isinstance(rw, bool):
                    ok = s == ("true" if rw else "false")
                else:
                    ok = s is not None and _norm_eq(s, str(rw))
                if not ok:
                    bad.append(("ref", exprs[i], key, s, rw))
                else:
                    checked_ref += 1
    assert not bad, (
        f"round-{BUILD_ROUND} sweep (seed {SEED + 1}): {len(bad)} "
        f"divergences, first 5: {bad[:5]}")
    assert checked_ref > 1000, f"ref-leg coverage too thin: {checked_ref}"


def test_deep_sweep_mixed_leg(spark):
    """Cross-family compositions under the full dates-aware ports; same
    triangulation as the date leg (engine ≡ engine ≡ EngineEvalDates on
    every cell, RefEvalDates on clean cells)."""
    rng = random.Random(SEED + 2)
    rows = _rows(31)
    bad = []
    for batch in range(N_MIX_BATCHES):
        exprs = [_gen_mixed(rng) for _ in range(MIX_PER_BATCH)]
        # emission-size guard: keep the projection's total codegen
        # bounded (the leaf-shaped dts() makes this rare)
        exprs = [e for e in exprs
                 if len(COMPILER.to_spark_sql(e)) < 60_000] or ["f = g"]
        asts = [parse(e) for e in exprs]
        s_map, d_map = _eval_both(spark, rows, exprs,
                                  f"dsweep_m{batch}", DATE_PER_QUERY)
        for key in rows:
            ev = EngineEvalDates({"f": key[0], "g": key[1]})
            rv = RefEvalDates({"f": key[0], "g": key[1]})
            for i, ast in enumerate(asts):
                want = _render_engine(ev.eval(ast))
                s, d = s_map[key][i], d_map[key][i]
                if not _norm_eq(s, d) or not _norm_eq(s, want):
                    bad.append(("engine", exprs[i], key, s, d, want))
                    continue
                if _lenient(key[0]) or _lenient(key[1]):
                    continue
                try:
                    rw = _ref_str_dt(rv.eval(ast))
                except (Throw, OutOfWindow):
                    rw = None
                except (Fragile, Deviation):
                    continue
                if rw is None:
                    ok = s is None
                elif isinstance(rw, bool):
                    ok = s == ("true" if rw else "false")
                else:
                    ok = s is not None and _norm_eq(s, str(rw))
                if not ok:
                    bad.append(("ref", exprs[i], key, s, rw))
    assert not bad, (
        f"round-{BUILD_ROUND} sweep (seed {SEED + 2}): {len(bad)} "
        f"divergences, first 5: {bad[:5]}")
