"""Cross-engine deterministic hashing primitives.

MinHash/SimHash/fingerprint operators need a hash both Spark and the
DuckDB oracle compute identically. ``xxhash64``/``hash`` differ across
engines, but ``md5`` is bit-identical everywhere, so the engine's
canonical token hash is: first 15 hex chars of md5 -> 60-bit BIGINT.

DuckDB mirror of ``md5_long60``::

    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)

All downstream hash-family arithmetic (universal hashing
``(a*h + b) % P``) reduces ``h`` mod P (2^31-1) first so every product
stays far below 2^63 — no overflow divergence between engines.

Scale note: md5 here is a correctness-portability choice for the
oracle contract; on a pure-Spark deployment the same operators accept
``xxhash64`` (cheaper) via the ``hash_col`` parameter.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31 - 1: the universal-hash modulus.
HASH_P = 2_147_483_647


def md5_long60_expr(expr: str) -> str:
    """Spark SQL: 60-bit deterministic hash of a string column (md5 hex
    prefix)."""
    return f"CAST(conv(substring(md5(CAST({expr} AS STRING)), 1, 15), 16, 10) AS BIGINT)"


def md5_long60(col: str) -> Column:
    return F.expr(md5_long60_expr(col))


def md5_long60_sql(expr: str) -> str:
    """The DuckDB-side mirror of :func:`md5_long60` (keep in lockstep)."""
    return f"CAST('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15) AS BIGINT)"


def universal_hash_sql(h_expr: str, a_expr: str, b_expr: str) -> str:
    """(a * (h % P) + b) % P — overflow-safe in 64-bit on every engine.
    The text is valid in both Spark SQL and DuckDB."""
    return f"(({a_expr}) * (({h_expr}) % {HASH_P}) + ({b_expr})) % {HASH_P}"
