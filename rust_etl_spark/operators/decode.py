"""Codepoint-array -> string decoding (reference op "byte_arrays").

The reference repairs API columns that serialize text as arrays of
integer codepoints: every ``List(Int64|Float64)`` column is cast to
``List(UInt8)`` -> ``Binary`` -> UTF-8 ``String``
(/root/reference/src/processor.rs:100-123). The UInt8 cast *wraps*
(x & 0xFF) and the UTF-8 decode is lossy-tolerant.

Spark mapping: a vectorized Arrow Pandas UDF reproduces the exact
chain — mask to a byte, assemble bytes, ``decode('utf-8', 'replace')``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@F.pandas_udf(T.StringType())
def _decode_codepoints(s: pd.Series) -> pd.Series:
    def dec(arr):
        if arr is None:
            return None
        return bytes(int(x) & 0xFF for x in arr).decode("utf-8", "replace")

    return s.map(dec)


def decode_codepoints_col(col: Column | str) -> Column:
    """Column expression: array<int-like> -> decoded UTF-8 string."""
    return _decode_codepoints(F.col(col) if isinstance(col, str) else col)


_DECODABLE = (T.LongType(), T.DoubleType(), T.IntegerType(), T.FloatType(), T.ShortType())


def decode_codepoint_arrays(df: DataFrame) -> DataFrame:
    """Full-schema scan: replace every array<int64|float64> column with
    its decoded string, preserving column order (processor.rs:103-121).
    """
    out: list[Column] = []
    for f in df.schema.fields:
        if isinstance(f.dataType, T.ArrayType) and f.dataType.elementType in _DECODABLE:
            out.append(decode_codepoints_col(f.name).alias(f.name))
        else:
            out.append(F.col(f.name))
    return df.select(*out)
