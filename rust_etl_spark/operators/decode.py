"""Codepoint-array -> string decoding (reference op "byte_arrays").

The reference repairs API columns that serialize text as arrays of
integer codepoints: every ``List(Int64|Float64)`` column is cast to
``List(UInt8)`` -> ``Binary`` -> UTF-8 ``String``
(/root/reference/src/processor.rs:100-123). The UInt8 cast *wraps*
(x & 0xFF) and the UTF-8 decode is lossy-tolerant.

Spark mapping: the same chain as one JVM expression per column, so no
Python worker runs. ``CAST(x AS BIGINT) & 255`` wraps each element to
a byte (the cast truncates a double toward zero, like Python ``int``);
``lpad(hex(..))``, ``array_join`` and ``unhex`` assemble the bytes
(``array_join`` keeps a null array null, ``concat_ws`` would give
``''``); ``make_valid_utf8`` replaces each ill-formed subsequence with
U+FFFD exactly as Python's ``decode('utf-8', 'replace')`` does.
``decode(b, 'UTF-8')`` is not used: the JDK charset decoder splits
surrogates, overlongs and truncated sequences differently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from rust_etl_spark.operators.normalize import quote_ident


def decode_codepoints_expr(expr: str) -> str:
    """Spark SQL: array<int-like> -> decoded UTF-8 string (null stays null)."""
    hex_bytes = f"transform({expr}, x -> lpad(hex(CAST(x AS BIGINT) & 255), 2, '0'))"
    return f"make_valid_utf8(CAST(unhex(array_join({hex_bytes}, '')) AS STRING))"


_DECODABLE = (T.LongType(), T.DoubleType(), T.IntegerType(), T.FloatType(), T.ShortType())


def decode_codepoint_arrays(df: DataFrame) -> DataFrame:
    """Full-schema scan: replace every array<int64|float64> column with
    its decoded string, preserving column order (processor.rs:103-121).
    """
    out = []
    for f in df.schema.fields:
        name = quote_ident(f.name)
        if isinstance(f.dataType, T.ArrayType) and f.dataType.elementType in _DECODABLE:
            out.append(f"{decode_codepoints_expr(name)} AS {name}")
        else:
            out.append(name)
    return df.selectExpr(*out)
