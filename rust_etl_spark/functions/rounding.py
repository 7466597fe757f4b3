"""Portable cross-engine rounding.

``round(double, n)`` is NOT portable on boundary values: Spark rounds
the shortest decimal string (BigDecimal HALF_UP — 0.49824999999999997
-> 0.4982), while DuckDB's runtime multiplies first (x * 1e4 lands on
exactly 4982.5 -> half-away -> 0.4983). Both raw doubles were
bit-identical; the round step alone diverged (12 of 3000 docs at
sf0.1 — invisible at the sf0.01 grading scale).

``round_half_up`` instead computes floor(x * 10^n + 0.5) / 10^n on
BOTH engines: every step is a correctly-rounded IEEE operation, so the
results are bit-identical whenever the inputs are. Signed inputs are
supported and parity-safe by construction: negative halves round
toward +inf (e.g. -0.125 -> -0.12 at 2dp) identically on both engines
— the round-14 sweep applies it to signed corr/covar/regr slopes and
cosine scores deliberately. The convention is "half toward +inf", not
"half away from zero"; what matters for grading is that the two
engines agree, which pure IEEE ops guarantee.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_half_up(col: Column, ndigits: int) -> Column:
    s = float(10 ** ndigits)
    return F.floor(col * F.lit(s) + F.lit(0.5)) / F.lit(s)


def round_half_up_expr(expr: str, ndigits: int) -> str:
    """Spark SQL text of :func:`round_half_up` (double literals: a bare
    ``100.0`` would parse as DECIMAL in Spark)."""
    s = float(10 ** ndigits)
    return f"floor(({expr}) * {s}D + 0.5D) / {s}D"


def round_half_up_sql(expr: str, ndigits: int) -> str:
    s = float(10 ** ndigits)
    return f"floor(({expr}) * {s} + 0.5) / {s}"
