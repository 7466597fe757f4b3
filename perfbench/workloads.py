"""The three benchmark workloads, driven only through the engine's
public functions.

Each workload is a closed loop with one client: ``op`` runs one
complete operation-run (a pass over the headline queries, one curation
run, one full ingest) and the next starts only when it returns.
``warmup`` is one untimed op that also produces what ``check`` verifies.
``traced_op`` repeats ``op`` with spans and status-store counters.

Workload-specific inputs come from the seed; the program sees only the
generated files.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import random
import shutil
import sys
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.probe import SparkCounters, catalyst_phases
from perfbench.trace import Tracer

#: fixture scale of the generated base tables (lineitem 6k rows, 500
#: documents): per-query cost is fixed cost at this size, as at the
#: graded tiers, and a pass fits the run budget
BASE_SF = 0.001
BASE_SEED = 42
CURATION_REPLICAS = 10
ETL_ENDPOINTS = 16
ETL_RECORDS = 2000
CURATION_STAGES = (
    "corpus_clean_pipeline", "dedup_clusters", "decontaminate",
    "dataset_mix", "dataset_split", "pack_sequences_df",
)


@dataclass
class Context:
    root: str  # checkout root
    work: str  # scratch space inside the checkout
    seed: int
    cpus: int

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class OpResult:
    """One complete operation-run: its sub-operation latencies (queries,
    endpoints or the run itself) and how many of them failed."""

    samples: list[float] = field(default_factory=list)
    names: list[str] = field(default_factory=list)
    failed: int = 0
    out_bytes: int = 0
    errors: list[str] = field(default_factory=list)


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def base_tables(ctx: Context) -> str:
    """The generated fixture tables, built once per checkout and
    generator version (they do not depend on the run seed)."""
    with open(gen.__file__, "rb") as f:
        key = hashlib.sha256(f.read() + f"{BASE_SF}|{BASE_SEED}".encode()).hexdigest()[:12]
    out = ctx.path(f"base-{key}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.gen_tables(tmp, BASE_SEED, BASE_SF)
        os.replace(tmp, out)
    return out


class _Frame:
    """Adapter so ``oracle_harness.compare`` accepts an already
    collected Spark result."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class Workload:
    name = ""
    in_bytes = 0

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.errors: list[str] = []

    def prepare(self) -> None: ...

    def warmup(self, spark) -> None:
        self.op(spark, -1)

    def op(self, spark, i: int) -> OpResult:
        raise NotImplementedError

    def traced_op(self, spark, tracer: Tracer, counters: SparkCounters) -> tuple[OpResult, dict]:
        raise NotImplementedError

    def check(self, spark, results: list[OpResult]) -> tuple[int, int]:
        """(attempted, failed) of the correctness checks; untimed."""
        raise NotImplementedError


# ------------------------------------------------------------ analytics


class Analytics(Workload):
    """The 22 headline queries at the base scale, each forced with the
    noop writer; the seed permutes their order in every pass."""

    name = "analytics"

    def prepare(self) -> None:
        import bench

        self.queries = list(bench.HEADLINE)
        self.tables = base_tables(self.ctx)
        self.results: dict[str, object] = {}

    def order(self, i: int) -> list[str]:
        names = list(self.queries)
        random.Random(f"{self.ctx.seed}|{i}").shuffle(names)
        return names

    def warmup(self, spark) -> None:
        """One pass that collects every result for the oracle check. The
        queries run on ``cpus`` threads: the pass only has to warm the
        JVM and compile each query's code, and serially it is the
        longest part of a run."""
        from rust_etl_spark.plans import catalog

        def collect(q):
            try:
                return catalog.get(q).fn(spark, self.tables).toPandas()
            except Exception:
                self.errors.append(f"{q}: {traceback.format_exc(limit=3)}")
                return None

        with ThreadPoolExecutor(max_workers=self.ctx.cpus) as pool:
            self.results = dict(zip(self.queries, pool.map(collect, self.queries)))

    def op(self, spark, i: int) -> OpResult:
        from rust_etl_spark.plans import catalog

        res = OpResult()
        for q in self.order(i):
            t0 = time.perf_counter()
            try:
                _noop(catalog.get(q).fn(spark, self.tables))
            except Exception:
                res.failed += 1
                res.errors.append(f"{q}: {traceback.format_exc(limit=3)}")
            res.samples.append(time.perf_counter() - t0)
            res.names.append(q)
        return res

    def traced_op(self, spark, tracer, counters):
        from rust_etl_spark.plans import catalog

        res, layer = OpResult(), defaultdict(float)
        with tracer.span("analytics.pass") as pass_span:
            for q in self.order(0):
                t0 = time.perf_counter()
                with tracer.span("query", query=q) as qs:
                    with tracer.span("plans.build", query=q):
                        df = catalog.get(q).fn(spark, self.tables)
                    build = counters.read()
                    with tracer.span("engine.exec", query=q):
                        _noop(df)
                    run = counters.read()
                    qs.attrs.update(build_jobs=build["jobs"], **{k: run[k] for k in _STAGE_KEYS})
                    phases = catalyst_phases(df)
                    counters.read()  # planning again above may launch no jobs; drop any
                res.samples.append(time.perf_counter() - t0)
                res.names.append(q)
                layer["plans.build_jobs"] += build["jobs"]
                for k, v in phases.items():
                    layer[f"plans.{k}_s"] += v
                _add_engine(layer, build, run)
        layer["plans.build_s"] = tracer.total("plans.build", under=pass_span)
        layer["engine.exec_s"] = tracer.total("engine.exec", under=pass_span)
        # the curation stages are measured here too, so their per-operator
        # numbers come with every traced run of the timed workloads
        measure_stages(spark, curation_tier(self.ctx), tracer, counters, layer)
        return res, layer

    def check(self, spark, results):
        from rust_etl_spark.plans import catalog
        from tests.oracle_harness import compare, duckdb_connection

        oracle = self._oracle(catalog, duckdb_connection)
        failed = 0
        for q in self.queries:
            pdf = self.results.get(q)
            errs = ["no result"] if pdf is None else compare(_Frame(pdf), oracle[q])
            if errs:
                failed += 1
                self.errors.append(f"{q}: {errs[:2]}")
        return len(self.queries), failed

    def _oracle(self, catalog, duckdb_connection) -> dict:
        """DuckDB oracle results for the base tables, computed once per
        checkout (the tables do not change with the seed)."""
        path = self.tables + ".oracle.pkl"
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        con = duckdb_connection(self.tables)
        out = {q: con.execute(catalog.get(q).oracle).fetchdf() for q in self.queries}
        con.close()
        with open(path + ".tmp", "wb") as f:
            pickle.dump(out, f)
        os.replace(path + ".tmp", path)
        return out


# ------------------------------------------------------------- curation


def _load_curate(root: str):
    sys.path.insert(0, os.path.join(root, "examples"))
    try:
        import curate_corpus
    finally:
        sys.path.pop(0)
    return curate_corpus


class Curation(Workload):
    """``examples/curate_corpus.run`` over a seeded, word-permuted
    replica tier of the base documents."""

    name = "curation"

    def prepare(self) -> None:
        self.curate = _load_curate(self.ctx.root)
        self.tier = curation_tier(self.ctx)
        self.in_bytes = os.path.getsize(os.path.join(self.tier, "documents.parquet"))
        self.out = self.ctx.path("run", "curated")
        self.cards: list[dict] = []

    def op(self, spark, i: int) -> OpResult:
        t0 = time.perf_counter()
        res = OpResult()
        try:
            self.cards.append(self.curate.run(spark, self.tier, self.out))
        except Exception:
            res.failed = 1
            res.errors.append(traceback.format_exc(limit=3))
        res.samples.append(time.perf_counter() - t0)
        res.out_bytes = _du(self.out)[0]
        return res

    def traced_op(self, spark, tracer, counters):
        res, layer = OpResult(), defaultdict(float)
        stage_names = [s for s in CURATION_STAGES if hasattr(self.curate, s)]
        originals = {s: getattr(self.curate, s) for s in stage_names}

        def wrap(stage, fn):
            def built(*a, **kw):
                with tracer.span("plans.build", stage=stage):
                    return fn(*a, **kw)
            return built

        for s in stage_names:
            setattr(self.curate, s, wrap(s, originals[s]))
        try:
            with tracer.span("curation.run") as run_span:
                self.cards.append(self.curate.run(spark, self.tier, self.out))
        finally:
            for s, fn in originals.items():
                setattr(self.curate, s, fn)
        res.samples.append(run_span.seconds)
        _add_engine(layer, counters.read())
        res.out_bytes, files = _du(self.out)
        layer["plans.build_s"] = tracer.total("plans.build")
        layer["engine.exec_s"] = run_span.seconds - layer["plans.build_s"]
        layer["sinks.bytes_written"] = res.out_bytes
        layer["sinks.files_written"] = files
        measure_stages(spark, self.tier, tracer, counters, layer)
        return res, layer

    def check(self, spark, results):
        attempted = failed = 0
        for card in self.cards:
            attempted += 1
            errs = card_errors(card)
            if errs:
                failed += 1
                self.errors.append(f"card: {errs}")
        attempted += 1
        written = ds.dataset(self.out, format="parquet", partitioning="hive").count_rows()
        if not self.cards or written != self.cards[-1]["counts"]["survivors"]:
            failed += 1
            self.errors.append(f"written rows {written} != survivors")
        # the same seed gives the same card, on every op of this run and
        # on every run of this checkout; the first run of a seed also
        # checks each stage against its DuckDB oracle
        attempted += 1
        canon = {json.dumps(c, sort_keys=True) for c in self.cards}
        stored = self.ctx.path(f"curation-{self.ctx.seed}", "card.json")
        if len(canon) != 1:
            failed += 1
            self.errors.append("cards differ between ops of one run")
        elif os.path.exists(stored):
            with open(stored) as f:
                if f.read() != next(iter(canon)):
                    failed += 1
                    self.errors.append("card differs from an earlier run of this seed")
        else:
            a, f_ = self._stage_oracles(spark)
            attempted += a
            failed += f_
            if not f_:
                with open(stored, "w") as f:
                    f.write(next(iter(canon)))
        return attempted, failed

    def _stage_oracles(self, spark) -> tuple[int, int]:
        import duckdb

        from rust_etl_spark.plans import catalog
        from tests.oracle_harness import compare

        con = duckdb.connect()
        doc = os.path.join(self.tier, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{doc}')")
        failed = 0
        stages = [s for s in CURATION_STAGES if s != "pack_sequences_df"]
        for s in stages:
            q = catalog.get(s)
            errs = compare(q.fn(spark, self.tier), con.execute(q.oracle).fetchdf())
            if errs:
                failed += 1
                self.errors.append(f"stage {s}: {errs[:2]}")
        con.close()
        return len(stages), failed


def card_errors(card: dict) -> list[str]:
    """The accounting invariants of one curation card: each stage only
    removes, the splits partition the survivors, every train doc is
    packed once."""
    c, errs = card["counts"], []
    rules = card["drop_by_rule"]
    if not 0 < c["after_clean"] <= c["input"]:
        errs.append("after_clean out of range")
    if c["survivors"] > c["after_clean"]:
        errs.append("survivors exceed after_clean")
    if sum(rules.values()) != c["input"]:
        errs.append("rule drops do not sum to input")
    if rules.get("keep", 0) != c["after_clean"]:
        errs.append("keep count != after_clean")
    if sum(card["per_split"].values()) != c["survivors"]:
        errs.append("splits do not partition survivors")
    if not set(card["per_split"]) <= {"train", "val", "test"}:
        errs.append("unknown split")
    p = card["packing"]
    if p["n_docs"] != card["per_split"].get("train", 0):
        errs.append("packed docs != train docs")
    if not (p["n_bins"] <= max(p["n_docs"], 1) and p["total_tokens"] > 0):
        errs.append("packing out of range")
    return errs


def curation_tier(ctx: Context) -> str:
    """The seeded replica tier of the base documents (cached per seed)."""
    tier = ctx.path(f"curation-{ctx.seed}")
    if not os.path.exists(os.path.join(tier, "documents.parquet")):
        base = os.path.join(base_tables(ctx), "documents.parquet")
        gen.gen_curation_tier(base, tier, ctx.seed, CURATION_REPLICAS)
    return tier


def measure_stages(spark, tier: str, tracer: Tracer, counters: SparkCounters, layer: dict) -> None:
    """Run each curation stage function on its own over ``tier``, so its
    execution time and shuffle bytes are attributable to it."""
    from rust_etl_spark.operators.packing import pack_sequences_df
    from rust_etl_spark.plans import catalog
    from rust_etl_spark.sources import load_table

    for s in CURATION_STAGES:
        with tracer.span(f"operators.{s}") as sp:
            with tracer.span("plans.build", stage=s):
                if s == "pack_sequences_df":
                    df = pack_sequences_df(load_table(spark, tier, "documents"))
                else:
                    df = catalog.get(s).fn(spark, tier)
            counters.read()
            with tracer.span("engine.exec", stage=s) as ex:
                _noop(df)
            c = counters.read()
        layer[f"operators.{s}.exec_s"] = ex.seconds
        layer[f"operators.{s}.shuffle_bytes"] = c["shuffle_write_bytes"]
        sp.attrs.update({k: c[k] for k in _STAGE_KEYS})


# ----------------------------------------------------------- etl_ingest


class EtlIngest(Workload):
    """``pipeline.run_pipeline`` over seeded envelope endpoints, fetched
    by an offline fetcher that copies from the generated source dir."""

    name = "etl_ingest"

    def prepare(self) -> None:
        from rust_etl_spark.config import Config

        self.src = self.ctx.path("run", "envelopes")
        self.expected = gen.gen_envelopes(self.src, self.ctx.seed, ETL_ENDPOINTS, ETL_RECORDS)
        self.in_bytes = _du(self.src)[0]
        self.out = self.ctx.path("run", "ingested")
        self.config = Config.from_dict(
            {"bench": {"base_url": "https://bench.invalid",
                       "records": {"root_path": "resultado",
                                   **{k: f"/{k}" for k in self.expected}}}}
        )
        self.workers = min(4, self.ctx.cpus)
        self.last_report = None

    def warmup(self, spark) -> None:
        """Three ingests: after one or two, each further ingest still ran
        7-20% faster (JSON parsing and the decode path keep compiling),
        which made the window's median depend on how many ingests fit."""
        for i in range(-3, 0):
            self.op(spark, i)

    def fetch(self, session, url: str, dest: str, **kw) -> int:
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(os.path.join(self.src, url.rsplit("/", 1)[-1] + ".json"), dest)
        return os.path.getsize(dest)

    def _run(self, spark, fetcher=None, **patched):
        from rust_etl_spark import pipeline

        saved = {k: getattr(pipeline, k) for k in patched}
        for k, v in patched.items():
            setattr(pipeline, k, v)
        try:
            return pipeline.run_pipeline(
                spark, self.config, data_dir=self.out, fetcher=fetcher or self.fetch,
                session_factory=lambda: None, max_workers=self.workers,
            )
        finally:
            for k, v in saved.items():
                setattr(pipeline, k, v)

    def op(self, spark, i: int) -> OpResult:
        report = self._run(spark)
        self.last_report = report
        res = OpResult(samples=[r.seconds for r in report.results],
                       names=[r.key for r in report.results])
        res.failed = sum(r.status != "ok" for r in report.results)
        res.errors = [f"{r.key}: {r.error}" for r in report.results if r.status != "ok"]
        res.out_bytes = _du(self.out)[0]
        return res

    def traced_op(self, spark, tracer, counters):
        from rust_etl_spark import pipeline

        layer = defaultdict(float)
        proc, write = pipeline.process_json_document, pipeline.write_parquet

        def fetch(session, url, dest, **kw):
            with tracer.span("extract.fetch", url=url):
                return self.fetch(session, url, dest)

        def process(*a, **kw):
            with tracer.span("sources.json"):
                return proc(*a, **kw)

        def sink(df, dest):
            with tracer.span("sinks.write"):
                return write(df, dest)

        with tracer.span("pipeline.run") as run_span, tracer.adopt():
            report = self._run(spark, fetcher=fetch, process_json_document=process,
                               write_parquet=sink)
        c = counters.read()
        _add_engine(layer, c)
        res = OpResult(samples=[r.seconds for r in report.results])
        res.failed = sum(r.status != "ok" for r in report.results)
        res.out_bytes, files = _du(self.out)
        layer["extract.fetch_s"] = tracer.total("extract.fetch")
        layer["extract.bytes"] = sum(r.bytes_downloaded for r in report.results)
        layer["sources.json_s"] = tracer.total("sources.json")
        layer["sinks.write_s"] = tracer.total("sinks.write")
        layer["sinks.bytes_written"] = res.out_bytes
        layer["sinks.files_written"] = files
        layer["engine.exec_s"] = layer["sinks.write_s"]
        layer["pipeline.in_flight"] = sum(res.samples) / run_span.seconds
        layer["pipeline.endpoints_ok_ratio"] = (len(res.samples) - res.failed) / len(res.samples)
        # jobs launched while building each endpoint's plan (schema
        # inference, empty guards) vs the write job itself
        layer["sources.json_jobs"] = max(0, c["jobs"] - sum(r.status == "ok" for r in report.results))
        return res, layer

    def check(self, spark, results):
        from rust_etl_spark.operators.normalize import TECHNICAL_COLUMNS

        attempted = failed = 0
        for r in self.last_report.results:
            attempted += 1
            errs = [] if r.status == "ok" else [f"status {r.status}: {r.error}"]
            if not errs:
                dest = os.path.join(self.out, r.api, r.group, f"{r.key}.parquet")
                t = pq.read_table(dest)
                if set(TECHNICAL_COLUMNS) & set(t.column_names):
                    errs.append("technical columns survived")
                want = self.expected[r.key]
                got = dict(zip(t.column("id").to_pylist(), t.column("codigo").to_pylist()))
                if t.num_rows != len(want):
                    errs.append(f"rows {t.num_rows} != {len(want)}")
                elif got != want:
                    errs.append("decoded text differs")
            if errs:
                failed += 1
                self.errors.append(f"{r.key}: {errs}")
        return attempted, failed


# -------------------------------------------------------------- helpers

_STAGE_KEYS = ("stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes")


def _add_engine(layer: dict, *reads: dict) -> None:
    for c in reads:
        layer["engine.jobs"] += c["jobs"]
        layer["engine.stages"] += c["stages"]
        layer["engine.tasks"] += c["tasks"]
        layer["engine.executor_cpu_s"] += c["executor_cpu_s"]
        layer["engine.shuffle_write_bytes"] += c["shuffle_write_bytes"]
        layer["engine.shuffle_read_bytes"] += c["shuffle_read_bytes"]
        layer["engine.spill_bytes"] += c["spill_bytes"]
        layer["engine.peak_exec_mem_bytes"] = max(layer["engine.peak_exec_mem_bytes"],
                                                  c["peak_exec_mem_bytes"])
        layer["operators.python_udf_s"] += c["python_udf_s"]


WORKLOADS = {w.name: w for w in (Analytics, Curation, EtlIngest)}
