"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed, starts the engine's session, runs one untimed warm-up
operation-run, then runs operation-runs back to back (one closed-loop
client) until ``--seconds`` have passed, checks the outputs, and prints
the end-to-end metrics (``--trace 0``) or, after one extra traced
operation-run, the per-layer metrics (``--trace 1``). The last line of
standard output is one JSON object; the lines before it are a
readable summary. Metric names and units come from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples above it,
    and its value; None when there are too few samples for one."""
    n = len(values)
    p = (100 * (n - 10)) // n if n > 10 else 0
    if p < 50:
        return None
    ordered = sorted(values)
    return p, ordered[min(n - 1, (p * n) // 100)]


def _stop(spark, tree) -> None:
    """Stop the session and the JVM it launched, and wait until every
    process this one started has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 20
    while len(tree.pids()) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in tree.pids()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "rust_etl_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout (no rust_etl_spark/ here)", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    nproc = len(os.sched_getaffinity(0))
    cpus = max(1, min(int(os.environ.get("SPARK_GRAFT_CPUS") or nproc), nproc))
    work = os.path.join(root, ".perfbench")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, root)
    shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)
    os.makedirs(os.path.join(work, "records"), exist_ok=True)

    import duckdb
    import pyspark

    import bench
    from perfbench.probe import ProcTree, SparkCounters
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Context
    from rust_etl_spark.session import get_spark

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    ctx = Context(root=root, work=work, seed=args.seed, cpus=cpus)
    w = WORKLOADS[args.workload](ctx)
    tree = ProcTree()
    record: dict = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "nproc": nproc,
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }
    phases = record["phases_s"] = {}
    t = time.perf_counter()
    w.prepare()
    phases["inputs"] = time.perf_counter() - t
    if args.trace:
        record["calibration_sec_start"] = bench._calibration()

    # set-up: session start plus one untimed warm-up operation-run
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    session_s = time.perf_counter() - t0
    try:
        w.warmup(spark)
        setup_s = time.perf_counter() - t0
        phases["setup"] = setup_s

        # start the window from a collected heap on both sides
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        walls, results = [], []
        cpu0 = tree.cpu_s()
        start = time.perf_counter()
        while True:
            t = time.perf_counter()
            results.append(w.op(spark, len(walls)))
            walls.append(time.perf_counter() - t)
            if time.perf_counter() - start >= args.seconds:
                break
        record["peak_rss_bytes"] = tree.peak_rss_bytes()
        peak_rss_mb = sum(record["peak_rss_bytes"].values()) / 2**20
        cpu_per_run = (tree.cpu_s() - cpu0) / len(walls)
        phases["window"] = time.perf_counter() - start

        layer = None
        if args.trace:
            t = time.perf_counter()
            tracer = Tracer(f"{args.workload}-{args.seed}")
            counters = SparkCounters(spark)
            py0 = tree.python_worker_cpu_s()
            traced, layer = w.traced_op(spark, tracer, counters)
            results.append(traced)
            layer["operators.python_worker_cpu_s"] = tree.python_worker_cpu_s() - py0
            layer["trace.overhead_s"] = tracer.spans[0].seconds - statistics.median(walls)
            layer["trace.spans"] = len(tracer.spans)
            tracer.dump(os.path.join(work, "records", f"{args.workload}-{args.seed}.spans.jsonl"))
            record["spans"] = [
                {"name": s.name, "seconds": s.seconds, "self_s": tracer.self_time(s), **s.attrs}
                for s in tracer.spans
            ]
            phases["trace"] = time.perf_counter() - t
        t = time.perf_counter()
        check_attempted, check_failed = w.check(spark, results)
        phases["check"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        _stop(spark, tree)
        phases["stop"] = time.perf_counter() - t
        shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)

    samples = [x for r in results for x in r.samples]
    attempted = len(samples) + check_attempted
    failed = sum(r.failed for r in results) + check_failed
    errors = w.errors + [e for r in results for e in r.errors]
    end_to_end = {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "cpu_s": cpu_per_run,
    }
    out_bytes = statistics.median(r.out_bytes for r in results)
    record.update(
        end_to_end=end_to_end, walls=walls,
        ops=[dict(zip(r.names, r.samples)) for r in results], session_s=session_s, attempted=attempted,
        failed=failed, failed_ratio=failed / attempted, errors=errors[:20],
        out_bytes_per_in_byte=out_bytes / w.in_bytes if w.in_bytes else None,
    )
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        layer["session.start_s"] = session_s
        layer["session.peak_rss_mb"] = peak_rss_mb
        if w.in_bytes:
            layer["sinks.out_bytes_per_in_byte"] = out_bytes / w.in_bytes
        record["calibration_sec"] = bench._calibration()
        layer["anchor.start_s"] = record["calibration_sec_start"]
        layer["anchor.end_s"] = record["calibration_sec"]
        record["per_layer"] = dict(layer)
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {n: float(layer.get(n, 0.0)) for n in names}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        metrics = {n: end_to_end[n] for n in names}
    with open(os.path.join(work, "records", f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    # readable summary: every end-to-end metric with its unit, the latency
    # of single operations and peak memory; timings as median, tail
    # percentile (when there are enough samples) and count
    op_samples = [1e3 * x for r in results[: len(walls)] for x in r.samples]
    rows = [("setup_s", [setup_s], "s"), ("wall_s", walls, "s"), ("cpu_s", [cpu_per_run], "s"),
            ("op_latency", op_samples, "ms"), ("session.peak_rss_mb", [peak_rss_mb], "MB")]
    for name, vals, unit in rows:
        tail = tail_percentile(vals)
        tail_s = f"p{tail[0]}={tail[1]:.4g}" if tail else "tail=n/a"
        print(f"{args.workload:10s} {name:19s} median={statistics.median(vals):.4g} {unit:6s} "
              f"{tail_s} n={len(vals)}")
    print(f"{args.workload:10s} failed_ratio        {failed}/{attempted} = {failed / attempted:.4g}")
    if record["out_bytes_per_in_byte"] is not None:
        print(f"{args.workload:10s} out_bytes_per_in_byte {record['out_bytes_per_in_byte']:.4g}")
    for e in errors[:5]:
        print(f"{args.workload:10s} error: {e.strip().splitlines()[-1][:300]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
