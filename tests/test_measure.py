"""``bench.measure`` at the fixture scale, with the Spark UI off: a known
query's stage count and shuffle bytes, run-to-run stability of the
counters, and the final plan it returns."""

from __future__ import annotations

import bench
from rust_etl_spark.plans import catalog

SF = "/root/testdata/sf0.001"


def _measure(spark, name: str) -> dict:
    build = catalog.get(name).fn
    build(spark, SF)  # a first build infers and memoizes the table schemas
    return bench.measure(spark, lambda: build(spark, SF), 1)


def test_session_ui_is_off(spark):
    assert spark.conf.get("spark.ui.enabled") == "false"


def test_sort_topk_is_one_stage_without_shuffle(spark):
    m = _measure(spark, "sort_topk")
    assert (m["listed_stages"], m["stages"]) == (1, 1)
    assert m["shuffle_write_bytes"] == m["shuffle_read_bytes"] == 0
    assert len(m["walls"]) == 1 and m["walls"][0] > 0


def test_join_star_counters_repeat(spark):
    a, b = _measure(spark, "join_star"), _measure(spark, "join_star")
    keys = ("listed_stages", "tasks", "shuffle_write_bytes")
    assert {k: a[k] for k in keys} == {k: b[k] for k in keys}
    assert a["shuffle_write_bytes"] > 0
    # skipped stages are listed but not executed
    assert a["stages"] <= a["listed_stages"]


def test_plan_is_the_final_plan(spark):
    """The plan ``measure`` reads from the status store has the same
    shuffles as the Final section of a collected run's adaptive plan."""
    m = _measure(spark, "join_star")
    assert "== Initial Plan ==" not in m["plan"]
    df = catalog.get("join_star").fn(spark, SF)
    df.collect()
    collected = df._jdf.queryExecution().executedPlan().toString()
    assert bench.shuffle_exchanges(m["plan"]) == bench.shuffle_exchanges(collected) > 0
