"""Embedding/vector column math — pure built-in higher-order functions.

Cosine similarity is computed with double-precision arithmetic from the
first multiply (float32 inputs are widened *before* the product) so the
Spark result and the DuckDB oracle agree to ~1e-13 relative; callers
round to a fixed number of digits before comparing or thresholding.

Scale: `F.zip_with` + `F.aggregate` run inside codegen per row — no
UDF, no Python. For top-k ANN the brute-force path is a broadcast of
the (tiny) query vector against a scan; the LSH/IVF paths bucket first
so the candidate set shrinks by orders of magnitude before any dot
product is evaluated.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array_expr(expr: str) -> str:
    return f"transform({expr}, x -> CAST(x AS DOUBLE))"


def to_double_array(col: str) -> Column:
    return F.expr(to_double_array_expr(col))


def dot_expr(a: str, b: str) -> str:
    """Spark SQL: sum of elementwise products, folded left-to-right in
    double."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def norm_expr(a: str) -> str:
    return f"sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + x * x))"


def cosine_expr(a: str, b: str, ndigits: int = 6) -> str:
    """Spark SQL: rounded cosine similarity of two (already double)
    arrays.

    Portable half-up floor rounding (round-14 sweep): cosine is a
    DERIVED float, and round(double, n) is only empirically portable —
    the floor form agrees across engines by construction (negatives
    round half-toward-+inf identically on both)."""
    from rust_etl_spark.functions.rounding import round_half_up_expr

    return round_half_up_expr(f"{dot_expr(a, b)} / ({norm_expr(a)} * {norm_expr(b)})", ndigits)


def cosine(a: str, b: str, ndigits: int = 6) -> Column:
    return F.expr(cosine_expr(a, b, ndigits))


def l2sq(a: Column, b: Column, ndigits: int = 6) -> Column:
    """Rounded squared L2 distance of two (already double) arrays
    (portable half-up floor rounding — see :func:`cosine`)."""
    from rust_etl_spark.functions.rounding import round_half_up

    return round_half_up(
        F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x),
        ndigits,
    )


def l2sq_sql(a_expr: str, b_expr: str, ndigits: int = 6) -> str:
    """DuckDB mirror of :func:`l2sq` — double-widened, same fold order."""
    diff = (
        f"list_transform(range(1, len({a_expr}) + 1), "
        f"i -> (CAST(({a_expr})[i] AS DOUBLE) - CAST(({b_expr})[i] AS DOUBLE)) "
        f"* (CAST(({a_expr})[i] AS DOUBLE) - CAST(({b_expr})[i] AS DOUBLE)))"
    )
    from rust_etl_spark.functions.rounding import round_half_up_sql

    return round_half_up_sql(f"list_reduce({diff}, (acc, x) -> acc + x)", ndigits)


def l2sq_rhu(a: Column, b: Column, ndigits: int = 6) -> Column:
    """:func:`l2sq` with PORTABLE floor-based rounding (round_half_up)
    instead of ``F.round`` — for operators whose numpy kernels mirror
    the rounding bit-for-bit (distances are non-negative, so the
    half-toward-+inf caveat never applies). The IVF assignment family
    migrated here in round 12 per the CLAUDE.md rounding rule."""
    from rust_etl_spark.functions.rounding import round_half_up

    return round_half_up(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        ndigits,
    )


def l2sq_rhu_sql(a_expr: str, b_expr: str, ndigits: int = 6) -> str:
    """DuckDB mirror of :func:`l2sq_rhu` — same fold order, same
    floor-based rounding, bit-identical to the numpy assignment
    kernel's ``floor(d * 10^n + 0.5) / 10^n`` by construction."""
    from rust_etl_spark.functions.rounding import round_half_up_sql

    diff = (
        f"list_transform(range(1, len({a_expr}) + 1), "
        f"i -> (CAST(({a_expr})[i] AS DOUBLE) - CAST(({b_expr})[i] AS DOUBLE)) "
        f"* (CAST(({a_expr})[i] AS DOUBLE) - CAST(({b_expr})[i] AS DOUBLE)))"
    )
    return round_half_up_sql(f"list_reduce({diff}, (acc, x) -> acc + x)", ndigits)


def cosine_sql(a_expr: str, b_expr: str, ndigits: int = 6) -> str:
    """DuckDB mirror of :func:`cosine` — double-widened, same rounding."""
    da = f"list_transform({a_expr}, x -> CAST(x AS DOUBLE))"
    db = f"list_transform({b_expr}, x -> CAST(x AS DOUBLE))"
    d = f"list_reduce(list_transform(range(1, len({a_expr}) + 1), i -> ({da})[i] * ({db})[i]), (acc, x) -> acc + x)"
    na = f"sqrt(list_reduce(list_transform({da}, x -> x * x), (acc, x) -> acc + x))"
    nb = f"sqrt(list_reduce(list_transform({db}, x -> x * x), (acc, x) -> acc + x))"
    from rust_etl_spark.functions.rounding import round_half_up_sql

    return round_half_up_sql(f"({d}) / (({na}) * ({nb}))", ndigits)
