"""The JSON ingest path: job count, plan shape and edge documents.

Each endpoint parses its document once for schema inference and once
for the write, with no Python worker in the plan. The empty-table
guard reads the inferred schema, so the fail-soft outcome of every
degenerate document (refused, or written with its row count) is pinned
here; only the error text is free to change.
"""

from __future__ import annotations

import json
import os

import pytest

from rust_etl_spark.config import Config
from rust_etl_spark.errors import SchemaError
from rust_etl_spark.pipeline import run_pipeline
from rust_etl_spark.sources.json_envelope import process_json_document, write_parquet


def _max_job(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def _stage(tmp_path, text: str) -> str:
    p = str(tmp_path / "doc.json")
    with open(p, "w") as f:
        f.write(text)
    return p


def test_endpoint_is_two_jobs_without_python(spark, tmp_path):
    doc = {
        "resultado": [
            {"id": i, "nome": {"texto": [0xC3, 0xA9, 104]}, "codigo": [104, 105], "v": [1.0, 2.5]}
            for i in range(50)
        ],
        "totalPaginas": 1,
    }
    path = _stage(tmp_path, json.dumps(doc))
    mark = _max_job(spark)
    df = process_json_document(spark, path, root_path="resultado")
    plan = df._jdf.queryExecution().executedPlan().toString()
    write_parquet(df, str(tmp_path / "out.parquet"))
    assert _max_job(spark) - mark == 2, "inference + write should be the only jobs"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    got = spark.read.parquet(str(tmp_path / "out.parquet"))
    assert got.count() == 50
    assert {r["codigo"] for r in got.select("codigo").collect()} == {"hi"}


# (document text, rows written; None = refused with nothing written)
EDGE_DOCUMENTS = [
    ("[]", None),
    ("", None),
    ("  \n\t ", None),
    ("{}", None),
    ("[{}]", None),
    ("[null]", None),
    ("null", None),
    ("[1,2]", None),
    ('"x"', None),
    ("{bad", None),
    ('{"resultado": []}', 1),
    ('{"resultado": null}', 1),
    ('{"resultado": [{}]}', None),
    ('{"totalPaginas": 1, "links": ["self"]}', None),
]


@pytest.mark.parametrize("text,rows", EDGE_DOCUMENTS, ids=[t or "<empty file>" for t, _ in EDGE_DOCUMENTS])
def test_edge_document_outcome(spark, tmp_path, text, rows):
    api = {"base_url": "https://api.example.gov", "g": {"root_path": "resultado", "r": "/r"}}
    cfg = Config.from_dict({"portal": api})

    def fetch(session, url, dest, **kw):
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        with open(dest, "w") as f:
            f.write(text)
        return len(text)

    data_dir = str(tmp_path / "data")
    (res,) = run_pipeline(
        spark, cfg, data_dir=data_dir, fetcher=fetch, session_factory=lambda: None, max_workers=1, count_rows=True
    ).results
    dest = os.path.join(data_dir, "portal", "g", "r.parquet")
    if rows is None:
        assert res.status == "transform_error" and not os.path.exists(dest), res
        path = _stage(tmp_path, text)
        with pytest.raises(SchemaError) as e:
            process_json_document(spark, path, root_path="resultado")
        assert path in str(e.value)
    else:
        assert res.status == "ok" and res.rows == rows, res


@pytest.mark.parametrize(
    "doc,root_path,expected",
    [
        ([{"a.b": 1, "codigo": [104]}], None, {"a.b": 1, "codigo": "h"}),
        ({"resultado": [{"x.y": 2, "codigo": [104, 105]}]}, "resultado", {"x.y": 2, "codigo": "hi"}),
        ([{"a`b": 1, "codigo": [104]}], None, {"a`b": 1, "codigo": "h"}),
    ],
    ids=["dotted", "dotted-in-envelope", "backticked"],
)
def test_dotted_and_backticked_field_names(spark, tmp_path, doc, root_path, expected):
    path = _stage(tmp_path, json.dumps(doc))
    dest = str(tmp_path / "out.parquet")
    write_parquet(process_json_document(spark, path, root_path=root_path), dest)
    (row,) = spark.read.parquet(dest).collect()
    assert row.asDict() == expected
