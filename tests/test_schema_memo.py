"""Plan build reuses inferred parquet schemas, never data or stale schemas.

``load_table`` memoizes the inferred ``StructType`` on the path, the
file identity (mtime_ns + size; per data file for a directory table)
and the inference confs. These tests pin both sides of that contract:
a warm rebuild of the headline queries launches no Spark job, and a
file rewritten in place (the physical-type vintage change of the
``events.ts`` incident) or a table directory that gains a file is
re-inferred in the same process.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rust_etl_spark.functions.rounding import round_half_up, round_half_up_expr
from rust_etl_spark.sources import load_table, table_rows
from rust_etl_spark.sources.tables import file_identity

BASE_NS = 1_700_000_000_123_456_000  # whole microseconds: both vintages exact


def _max_job(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def test_headline_rebuild_launches_no_jobs(spark, sf_dir):
    import bench
    from rust_etl_spark.plans import catalog

    for q in bench.HEADLINE:
        catalog.get(q).fn(spark, sf_dir)  # first build: infers schemas, counts rows
    mark = _max_job(spark)
    for q in bench.HEADLINE:
        catalog.get(q).fn(spark, sf_dir)
    assert _max_job(spark) == mark, "a warm plan build launched Spark jobs"


def _write_events(path: str, n: int, unit: str) -> None:
    ts = pa.array([BASE_NS // 1000 * 1000 + i * 1000 for i in range(n)], pa.int64())
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": ts.cast(pa.timestamp("ns")).cast(pa.timestamp(unit)),
            "user_id": pa.array([i % 3 for i in range(n)], pa.int64()),
        }
    )
    pq.write_table(table, path, version="2.6", coerce_timestamps=None)


def test_rewritten_events_file_is_reinferred(spark, tmp_path):
    """Same path, same process: timestamp[us] with 3 rows, then
    TIMESTAMP(NANOS) with 5 rows. The second load must see the new rows
    and still expose the (ts_ns BIGINT, ts TIMESTAMP) contract."""
    path = str(tmp_path / "events.parquet")
    _write_events(path, 3, "us")
    first = load_table(spark, str(tmp_path), "events")
    assert first.count() == 3
    assert isinstance(first.schema["ts_ns"].dataType, T.LongType)

    _write_events(path, 5, "ns")
    second = load_table(spark, str(tmp_path), "events")
    assert isinstance(second.schema["ts_ns"].dataType, T.LongType)
    assert isinstance(second.schema["ts"].dataType, T.TimestampType)
    rows = second.selectExpr("ts_ns", "unix_micros(ts) AS us").orderBy("ts_ns").collect()
    assert [r["ts_ns"] for r in rows] == [BASE_NS + i * 1000 for i in range(5)]
    assert all(r["us"] == r["ts_ns"] // 1000 for r in rows)


def test_directory_table_gains_a_file(spark, tmp_path):
    """A directory-form table that gains a data file is re-inferred:
    under mergeSchema the new file's extra column must appear, and the
    row-count memo (same identity helper) must recount."""
    table_dir = tmp_path / "t.parquet"
    table_dir.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), table_dir / "part-0.parquet")
    conf = "spark.sql.parquet.mergeSchema"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        assert load_table(spark, str(tmp_path), "t").columns == ["a"]
        assert table_rows(spark, str(tmp_path), "t") == 2
        before = file_identity(str(table_dir))

        pq.write_table(pa.table({"a": [3], "b": ["x"]}), table_dir / "part-1.parquet")
        (table_dir / "_SUCCESS").touch()  # not a data file: no effect on identity
        assert file_identity(str(table_dir)) != before
        assert sorted(load_table(spark, str(tmp_path), "t").columns) == ["a", "b"]
        assert table_rows(spark, str(tmp_path), "t") == 3
    finally:
        spark.conf.set(conf, old)


def test_file_identity_skips_hidden_files_and_missing_paths(tmp_path):
    table_dir = tmp_path / "t.parquet"
    table_dir.mkdir()
    pq.write_table(pa.table({"a": [1]}), table_dir / "part-0.parquet")
    ident = file_identity(str(table_dir))
    (table_dir / "_SUCCESS").touch()
    (table_dir / ".part-0.parquet.crc").touch()
    assert file_identity(str(table_dir)) == ident
    assert [name for name, *_ in ident] == ["part-0.parquet"]
    assert file_identity(str(tmp_path / "missing.parquet")) is None


def test_missing_table_raises_spark_error(spark, tmp_path):
    """A path that cannot be stat'ed is not memoized: Spark raises its own
    error, on every call."""
    from pyspark.errors import AnalysisException

    for _ in range(2):
        with pytest.raises(AnalysisException):
            load_table(spark, str(tmp_path), "orders")


def test_round_half_up_expr_matches_column_builder(spark):
    """The Spark SQL text and the Column builder are one expression."""
    df = spark.createDataFrame([(0.49825,), (-0.125,)], "x double")
    for nd in (2, 4, 6):
        a = df.select(round_half_up(F.col("x"), nd).alias("r"))
        b = df.select(F.expr(f"{round_half_up_expr('x', nd)} AS r"))
        assert a.collect() == b.collect()
        plan_a, plan_b = (
            re.sub(r"#\d+", "#", d._jdf.queryExecution().optimizedPlan().toString()) for d in (a, b)
        )
        assert plan_a == plan_b
