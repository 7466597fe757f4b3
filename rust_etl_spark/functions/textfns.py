"""Text-analysis column builders (JVM-side, codegen-friendly).

Every builder here has an exact DuckDB mirror (the ``*_sql`` strings)
so text operators stay oracle-verifiable. No Python UDFs: tokenize /
shingle / ratio logic is all built-in higher-order functions, which
keeps the hot path inside whole-stage codegen at any scale.

The Spark side is written once, as Spark SQL text (the ``*_expr``
strings); the Column builders parse it with one ``F.expr`` call. A
Column tree built from Python operators and lambdas costs one py4j
round trip per node, and plan build is a fixed cost every query pays.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens_expr(expr: str) -> str:
    """Spark SQL: lower-cased whitespace tokens; [] for blank text."""
    t = f"trim(lower({expr}))"
    return (
        f"CASE WHEN length({t}) = 0 THEN CAST(array() AS array<string>) "
        f"ELSE split({t}, '\\\\s+') END"
    )


def tokens(col: str) -> Column:
    return F.expr(tokens_expr(col))


def tokens_sql(expr: str) -> str:
    return (
        f"CASE WHEN length(trim(lower({expr}))) = 0 THEN [] "
        f"ELSE string_split_regex(trim(lower({expr})), '\\s+') END"
    )


def distinct_tokens_expr(expr: str) -> str:
    return f"array_distinct({tokens_expr(expr)})"


def distinct_tokens(col: str) -> Column:
    return F.expr(distinct_tokens_expr(col))


def distinct_tokens_sql(expr: str) -> str:
    return f"list_distinct({tokens_sql(expr)})"


def token_count_expr(expr: str) -> str:
    return f"CAST(size({tokens_expr(expr)}) AS BIGINT)"


def token_count(col: str) -> Column:
    return F.expr(token_count_expr(col))


def token_count_sql(expr: str) -> str:
    return f"CAST(len({tokens_sql(expr)}) AS BIGINT)"


def word_shingles_expr(toks: str, n: int = 3) -> str:
    """Spark SQL: n-token shingles ('a b c') of a token array; [] when
    < n tokens.

    PERF: pass a *materialized column reference* (select the token
    array into a column first), never the raw ``tokens(text)``
    expression — Catalyst re-evaluates the full tokenizer inside every
    ``element_at`` lambda call otherwise (no CSE across lambdas),
    which showed up as a 20x slowdown at sf0.1.
    """
    # Guard, don't clamp: sequence(1, 0) infers step -1 and yields [1, 0],
    # whose element_at(toks, 0) then raises INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    # for any doc with < n tokens. Return [] like the SQL mirror's
    # CASE WHEN len(t) < n branch.
    idx = (
        f"CASE WHEN size({toks}) >= {n} THEN sequence(1, size({toks}) - {n - 1}) "
        "ELSE CAST(array() AS array<int>) END"
    )
    parts = ", ".join(f"element_at({toks}, i + {j})" for j in range(n))
    return f"transform({idx}, i -> concat_ws(' ', {parts}))"


def word_shingles(toks: str, n: int = 3) -> Column:
    return F.expr(word_shingles_expr(toks, n))


def word_shingles_sql(toks_expr: str, n: int = 3) -> str:
    parts = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
    return (
        f"(SELECT CASE WHEN len(t) < {n} THEN [] "
        f"ELSE list_transform(range(1, len(t) - {n - 2}), i -> {parts}) END "
        f"FROM (SELECT ({toks_expr}) AS t))"
    )


def alpha_ratio_expr(expr: str) -> str:
    """Spark SQL: fraction of characters that are lowercase letters or
    spaces."""
    return (
        f"CASE WHEN length({expr}) = 0 THEN 0.0D "
        f"ELSE length(regexp_replace(lower({expr}), '[^a-z ]', '')) / length({expr}) END"
    )


def alpha_ratio(col: str) -> Column:
    return F.expr(alpha_ratio_expr(col))


def alpha_ratio_sql(expr: str) -> str:
    return (
        f"CASE WHEN length({expr}) = 0 THEN 0.0 "
        f"ELSE length(regexp_replace(lower({expr}), '[^a-z ]', '', 'g')) / length({expr}) END"
    )
