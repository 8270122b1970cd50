"""Shared helpers for oracle-exact query results.

Floating-point sums are order-dependent, and even per-row double→decimal
casts round differently across engines (Spark rounds the shortest decimal
representation, DuckDB the exact binary expansion). The driver's testdata
money columns are 2-decimal values, so casting the INPUT columns to
DECIMAL(p,2) is unambiguous (the stored double is ~1e-9 from the true
2-decimal value, far from any rounding boundary); all arithmetic then stays
in exact decimal, sums are associative, and the final cast back to DOUBLE
is bit-identical in both engines.

Decimal precision budget (Spark reduces scale when precision would exceed
38 — avoid by keeping inputs narrow): (12,2) * (5,2) -> (18,4);
(18,4) * (5,2) -> (24,6); sum adds 10 precision. All within 38.

``scratch_run`` is the one scratch lifecycle of the queries that write
tables (the w-queries and the s-queries' ``_replay``).
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def money(col: Column | str, prec: int = 12, scale: int = 2) -> Column:
    """Exact decimal view of a 2-decimal double column."""
    return _c(col).cast(f"decimal({prec},{scale})")


def dsum(col: Column | str) -> Column:
    """Order-independent exact sum of a decimal column, as double."""
    return F.sum(_c(col)).cast("double")


def davg(col: Column | str) -> Column:
    """avg = exact decimal sum / count, both as doubles (deterministic)."""
    c = _c(col)
    return F.sum(c).cast("double") / F.count(c).cast("double")


def o_money(expr: str, prec: int = 12, scale: int = 2) -> str:
    return f"CAST({expr} AS DECIMAL({prec},{scale}))"


def o_dsum(expr: str) -> str:
    """DuckDB-side equivalent of dsum over an already-decimal expression."""
    return f"CAST(SUM({expr}) AS DOUBLE)"


def o_davg(expr: str) -> str:
    return f"(CAST(SUM({expr}) AS DOUBLE) / CAST(COUNT({expr}) AS DOUBLE))"


def scratch_run(name: str, run: Callable[[str], None],
                read: Callable[[str], DataFrame]) -> DataFrame:
    """``run(work)`` writes under a fresh scratch dir ``work``; the result
    is ``read(work)``, checkpointed before the dir goes. The dir is
    removed on every exit path, a failing ``run`` or ``read`` included."""
    with tempfile.TemporaryDirectory(
        prefix=f"zg_{name}_", ignore_cleanup_errors=True
    ) as work:
        run(work)
        return read(work).localCheckpoint(eager=True)
