"""Fixture-scale tests of the benchmark itself: deterministic inputs,
repeatable engine counters, and checkers that catch corrupted output.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.probe import SparkCounters, parse_metric  # noqa: E402
from perfbench.run import tail_percentile  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    Analytics,
    Context,
    EtlIngest,
    _Frame,
    card_errors,
)


def _digest(path: str) -> dict[str, str]:
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in sorted(names):
            with open(os.path.join(dirpath, n), "rb") as f:
                out[os.path.relpath(os.path.join(dirpath, n), path)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.fixture(scope="module")
def tables(tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("tables"))
    gen.gen_tables(out, 42, 0.001)
    return out


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from rust_etl_spark.session import get_spark

    return get_spark("perfbench-tests", shuffle_partitions=4)


# ------------------------------------------------------------ generators


def test_tables_same_seed_same_bytes(tables, tmp_path):
    again = str(tmp_path / "again")
    rows = gen.gen_tables(again, 42, 0.001)
    assert _digest(again) == _digest(tables)
    assert rows["lineitem"] == 6000 and rows["documents"] == 500
    other = str(tmp_path / "other")
    gen.gen_tables(other, 43, 0.001)
    assert _digest(other)["lineitem.parquet"] != _digest(tables)["lineitem.parquet"]


def test_curation_tier_deterministic_and_seeded(tables, tmp_path):
    doc = os.path.join(tables, "documents.parquet")
    a, b, c = (str(tmp_path / x) for x in "abc")
    assert gen.gen_curation_tier(doc, a, 7, 3) == 1500
    gen.gen_curation_tier(doc, b, 7, 3)
    gen.gen_curation_tier(doc, c, 8, 3)
    assert _digest(a) == _digest(b) != _digest(c)
    # permutation keeps each document's word multiset
    base = pq.read_table(doc).column("text").to_pylist()
    tier = pq.read_table(os.path.join(a, "documents.parquet")).column("text").to_pylist()
    assert [sorted(t.split()) for t in tier[1000:]] == [sorted(t.split()) for t in base]


def test_envelopes_deterministic_with_edge_cases(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    want = gen.gen_envelopes(a, 3, 2, 400)
    assert gen.gen_envelopes(b, 3, 2, 400) == want
    assert _digest(a) == _digest(b)
    texts = [t for ep in want.values() for t in ep.values()]
    assert None in texts and "" in texts
    assert any(any(ord(ch) > 127 for ch in t) for t in texts if t)


# --------------------------------------------------------------- counters


def test_counters_repeat_exactly_for_one_query(spark, tables):
    from rust_etl_spark.plans import catalog

    counters = SparkCounters(spark)
    reads = []
    for _ in range(3):
        catalog.get("join_star").fn(spark, tables).write.format("noop").mode("overwrite").save()
        reads.append(counters.read())
    keys = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes")
    # the first execution may still launch one-off jobs; later ones repeat
    assert [{k: r[k] for k in keys} for r in reads[1:]] == [{k: reads[1][k] for k in keys}] * 2
    assert reads[1]["stages"] > 0 and reads[1]["tasks"] > 0


def test_parse_metric_units():
    assert parse_metric("1,000") == 1000
    assert parse_metric("2.0 KiB") == 2048
    assert parse_metric("total (min, med, max (stageId: taskId))\n10.5 s (1 s, 2 s, 3 s (stage 3.0: task 5))") == 10.5
    assert parse_metric("360 ms") == pytest.approx(0.36)


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([1.0] * 10) is None
    p, v = tail_percentile([float(i) for i in range(100)])
    assert p == 90 and v == 90.0


def test_tracer_parents_and_self_time():
    t = Tracer("r")
    with t.span("outer") as outer:
        with t.span("inner"):
            pass
    assert t.spans[1].parent == outer.id
    assert 0 <= t.self_time(outer) <= outer.seconds


# --------------------------------------------------------------- checkers


def test_analytics_checker_flags_a_corrupted_result(tmp_path):
    ctx = Context(root=ROOT, work=str(tmp_path), seed=1, cpus=1)
    w = Analytics(ctx)
    w.prepare()
    from rust_etl_spark.plans import catalog
    from tests.oracle_harness import duckdb_connection

    oracle = w._oracle(catalog, duckdb_connection)
    w.results = {q: oracle[q].copy() for q in w.queries}
    assert w.check(None, []) == (22, 0)
    victim = "groupby_agg"
    bad = w.results[victim]
    col = next(c for c in bad.columns if bad[c].dtype.kind in "if")
    bad.loc[0, col] = bad.loc[0, col] + 1
    assert w.check(None, []) == (22, 1)
    assert any(victim in e for e in w.errors)
    assert _Frame(bad).toPandas() is bad


def test_curation_checker_flags_a_corrupted_card():
    card = {
        "counts": {"input": 10, "after_clean": 8, "dropped_near_dup": 1,
                   "dropped_contaminated": 0, "survivors": 6},
        "drop_by_rule": {"keep": 8, "too_short": 2},
        "per_split": {"train": 4, "val": 1, "test": 1},
        "packing": {"n_docs": 4, "n_bins": 2, "total_tokens": 100, "max_tokens_per_bin": 2048},
    }
    assert card_errors(card) == []
    card["counts"]["survivors"] = 9
    assert card_errors(card)


def test_etl_checker_flags_a_corrupted_output(tmp_path):
    from types import SimpleNamespace

    ctx = Context(root=ROOT, work=str(tmp_path), seed=5, cpus=1)
    w = EtlIngest(ctx)
    w.prepare()
    results = []
    for key, texts in w.expected.items():
        dest = os.path.join(w.out, "bench", "records", f"{key}.parquet")
        os.makedirs(dest)
        pq.write_table(pa.table({"id": list(texts), "codigo": list(texts.values())}),
                       os.path.join(dest, "part-0.parquet"))
        results.append(SimpleNamespace(api="bench", group="records", key=key, status="ok", error=None))
    w.last_report = SimpleNamespace(results=results)
    assert w.check(None, []) == (len(results), 0)
    key = results[0].key
    part = os.path.join(w.out, "bench", "records", f"{key}.parquet", "part-0.parquet")
    t = pq.read_table(part).to_pydict()
    t["codigo"][next(i for i, x in enumerate(t["codigo"]) if x)] = "corrupted"
    pq.write_table(pa.table(t), part)
    assert w.check(None, []) == (len(results), 1)
