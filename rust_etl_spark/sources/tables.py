"""Fixture-table loaders (parquet scans).

Thin wrappers over ``spark.read.parquet`` — kept declarative so Catalyst
gets full predicate pushdown / column pruning on every downstream query.

Schema memo: a schema-inferring ``spark.read.parquet`` launches one
footer-merge Spark job, and every catalog query calls ``load_table``
for each table it reads. ``load_table`` therefore infers a table's
schema once and re-reads it through ``spark.read.schema(s).parquet(p)``
while the memo key is unchanged. The key is the absolute path, the
file identity (:func:`file_identity`: ``(st_mtime_ns, st_size)`` of a
file, or the sorted ``(name, mtime_ns, size)`` of a directory-form
table's data files) and the session confs that change parquet
inference (``_INFERENCE_CONFS``). Only the ``StructType`` is kept:
data and file listings are still read fresh by every query, and a
rewritten file or a file added to a table directory is re-inferred. A
path that cannot be stat'ed is not memoized, so Spark raises its own
error. ``table_rows`` memoizes row counts on the same file identity.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_time(df: DataFrame) -> DataFrame:
    """Schema-robust event-time normalization (batch AND streaming).

    Fixture vintages have stored ``events.ts`` as parquet
    TIMESTAMP(NANOS) (scanned as a long under ``nanosAsLong``) and as
    timestamp[us] (scanned as TIMESTAMP_NTZ). Downstream plans rely on
    one contract regardless of vintage:

      * ``ts_ns``  BIGINT — exact integer epoch nanoseconds
      * ``ts``     TIMESTAMP (LTZ, UTC-exact, microsecond precision)

    Dispatching on the scanned dtype mirrors the reference's
    dtype-dispatched normalize (src/processor.rs:38-55) — the loader
    tolerates upstream physical-type drift instead of hard-failing.
    All expressions here are streaming-safe (no window/agg).
    """
    if "ts_ns" in df.columns:
        # Already normalized (e.g. a materialized bucketed copy of the
        # normalized table, re-read through a layout override). Re-deriving
        # ts_ns from the microsecond ts would TRUNCATE the exact ns clock.
        return df
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        # TIMESTAMP(NANOS) vintage via nanosAsLong: the long IS epoch ns.
        df = df.withColumnRenamed("ts", "ts_ns")
    elif isinstance(dt, T.TimestampNTZType):
        # timestamp[us] (isAdjustedToUTC=false): the NTZ wall clock is the
        # UTC instant. Integer timestampdiff avoids the session-zone shift
        # an NTZ->LTZ cast would introduce (same trick as ntz_epoch_us).
        df = df.withColumn(
            "ts_ns",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"
            ),
        ).drop("ts")
    elif isinstance(dt, T.TimestampType):
        df = df.withColumn("ts_ns", F.expr("unix_micros(ts) * 1000")).drop("ts")
    else:
        raise TypeError(f"unsupported events.ts dtype: {dt}")
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))


#: (abspath(sf_dir), table) -> catalog table name. A physical-layout
#: override: when a bucketed/sorted copy of a fixture table has been
#: materialized (sinks.write_bucketed_table), registering it here makes
#: EVERY catalog query read the optimized layout transparently — the
#: same move a 100 TB deployment makes by repointing the table in its
#: metastore; queries never change. Used by
#: scripts/bucketed_layout_bench.py and tests/test_bucketed_layout.py.
_LAYOUT_OVERRIDES: dict[tuple[str, str], str] = {}


def set_layout_override(sf_dir: str, name: str, table: str | None) -> None:
    """Point (sf_dir, name) at a catalog table (None clears it)."""
    key = (os.path.abspath(sf_dir), name)
    if table is None:
        _LAYOUT_OVERRIDES.pop(key, None)
    else:
        _LAYOUT_OVERRIDES[key] = table


def clear_layout_overrides() -> None:
    _LAYOUT_OVERRIDES.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Plain parquet scan: pushdown-friendly.

    ``events`` goes through :func:`normalize_event_time`, which exposes
    both the exact integer clock (``ts_ns`` BIGINT) and a microsecond
    TimestampType ``ts`` whatever the parquet physical type is.

    A layout override (see ``set_layout_override``) redirects the read
    to a catalog table — e.g. a bucketed copy whose write-time shuffle
    replaces every downstream join/agg exchange on the bucket key.
    """
    override = _LAYOUT_OVERRIDES.get((os.path.abspath(sf_dir), name))
    if override is not None:
        df = spark.table(override)
        return normalize_event_time(df) if name == "events" else df
    if name == "events":
        # Runtime-set so the engine also works on sessions it did not
        # build (the driver constructs its own plain SparkSession).
        # Harmless on micros fixtures; required for the nanos vintage.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_time(df)
    return df


def file_identity(path: str) -> tuple | None:
    """What a parquet table on disk is, for memo keys: ``(st_mtime_ns,
    st_size)`` of a file, or the sorted ``(relpath, mtime_ns, size)`` of
    a directory-form table's data files (names starting with ``.`` or
    ``_`` — checksums, ``_SUCCESS`` — are skipped, as Spark skips them).
    ``None`` when anything cannot be stat'ed: callers must not memoize
    then, so the Spark read raises the real error."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_mtime_ns, st.st_size)
        files = []
        for root, dirs, names in os.walk(path, onerror=_raise):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for n in names:
                if not n.startswith((".", "_")):
                    f = os.path.join(root, n)
                    fst = os.stat(f)
                    files.append((os.path.relpath(f, path), fst.st_mtime_ns, fst.st_size))
        return tuple(sorted(files))
    except OSError:
        return None


def _raise(err: OSError) -> None:
    raise err


#: Session confs that change what parquet schema inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

#: (abspath, inference confs) -> (file identity, inferred schema). One
#: entry per path and conf set; a changed identity replaces it.
_SCHEMA_MEMO: dict[tuple[str, tuple], tuple[tuple, T.StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only when the
    file identity or an inference conf changed since the last read."""
    ident = file_identity(path)
    if ident is None:
        return spark.read.parquet(path)
    key = (os.path.abspath(path), tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    hit = _SCHEMA_MEMO.get(key)
    if hit is not None and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[key] = (ident, df.schema)
    return df


#: abspath -> (file identity, rows). Scale-aware plan sizing
#: (similarity.ivf_mod, advanced_agg.fuzzy_block_len) needs a row count
#: at every plan build and would otherwise re-run the count job on each
#: of bench.py's min-of-3 executions. The file identity invalidates the
#: entry when a fixture is regenerated in-process (e.g. a script that
#: builds a gen tier and then benches it) — stale counts would silently
#: mis-size block keys and centroid counts.
_ROW_COUNT_CACHE: dict[str, tuple[tuple, int]] = {}


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Memoized row count of one fixture table: one count job (a
    metadata-cheap zero-column scan) per table and file identity per
    process. A path that cannot be stat'ed is counted, not memoized."""
    path = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    ident = file_identity(path)
    hit = _ROW_COUNT_CACHE.get(path)
    if ident is not None and hit is not None and hit[0] == ident:
        return hit[1]
    rows = load_table(spark, sf_dir, name).count()
    if ident is not None:
        _ROW_COUNT_CACHE[path] = (ident, rows)
    return rows


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
