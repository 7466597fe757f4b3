"""Idle re-measure of cross-round bench movers, as a machine-readable
artifact. SCALING.md's mover table already separates plan changes
from window noise by scale-audit counters; this re-measure is for
the case counters cannot see — a change inside a UDF or kernel body.

Picks the biggest calibrated per-query movers between two committed
bench records (default: the two highest-numbered BENCH_r*.json),
re-measures each on THIS quiet machine — page-cache warm, min-of-N
noop executions, fresh CPU calibration anchor — and writes
IDLE_REMEASURES.json. scripts/scaling_report.py renders the
adjudication table from it.

Run on a QUIET machine:
    python scripts/idle_remeasure.py                 # sf0.1 movers
    python scripts/idle_remeasure.py --sf-dir gen_sf10 \
        --base BENCH_gen_sf10.json --queries q21 dedup_containment
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _unwrap(rec: dict) -> dict:
    # driver-written BENCH_r*.json wraps the bench line under "parsed"
    return rec.get("parsed", rec)


def _load(path: str) -> dict:
    # "name@sha" loads a committed git version (the driver's post-close
    # run rewrites BENCH_LOCAL.json in place each round, so "previous
    # round" for the full 44-query extended record means its previous
    # git version — the compact BENCH_r*.json lines carry headline
    # queries only)
    import subprocess

    if "@" in path:
        name, sha = path.rsplit("@", 1)
        text = subprocess.run(
            ["git", "show", f"{sha}:{name}"],
            capture_output=True, text=True, cwd=ROOT, check=True,
        ).stdout
        return _unwrap(json.loads(text))
    with open(os.path.join(ROOT, path)) as f:
        return _unwrap(json.load(f))


def _prev_bench_local_sha() -> str:
    """Sha of the last committed BENCH_LOCAL.json that differs from the
    working-tree one (= the previous driver round's record)."""
    import subprocess

    cur = open(os.path.join(ROOT, "BENCH_LOCAL.json")).read()
    shas = subprocess.run(
        ["git", "log", "--format=%h", "--", "BENCH_LOCAL.json"],
        capture_output=True, text=True, cwd=ROOT, check=True,
    ).stdout.split()
    for sha in shas:
        text = subprocess.run(
            ["git", "show", f"{sha}:BENCH_LOCAL.json"],
            capture_output=True, text=True, cwd=ROOT, check=True,
        ).stdout
        if text != cur:
            return sha
    raise SystemExit("no differing committed BENCH_LOCAL.json found")


def _all_queries(rec: dict) -> dict[str, float]:
    out = dict(rec.get("queries") or {})
    out.update(rec.get("queries_extended") or {})
    return out


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    p.add_argument("--base", help="committed record to diff against; "
                   "'name@sha' reads a git version (default: previous "
                   "committed BENCH_LOCAL.json)")
    p.add_argument("--cur", help="record whose movers to adjudicate "
                   "(default: working-tree BENCH_LOCAL.json)")
    p.add_argument("--chain", help="optional second reference record "
                   "('name@sha'), e.g. the previous end-of-round chain "
                   "run — separates sandbox drift (idle matches chain) "
                   "from record-specific noise (idle matches base)")
    p.add_argument("--top", type=int, default=10)
    p.add_argument("--runs", type=int, default=5)
    p.add_argument("--queries", nargs="*",
                   help="explicit query names (skips mover selection)")
    args = p.parse_args()

    base_name = args.base or f"BENCH_LOCAL.json@{_prev_bench_local_sha()}"
    cur_name = args.cur or "BENCH_LOCAL.json"
    base, cur = _load(base_name), _load(cur_name)
    bq, cq = _all_queries(base), _all_queries(cur)
    b_cal, c_cal = base["calibration_sec"], cur["calibration_sec"]
    chain, chq = None, {}
    if args.chain:
        chain = _load(args.chain)
        chq = _all_queries(chain)

    if args.queries:
        names = args.queries
    else:
        movers = []
        for name, b_sec in bq.items():
            c_sec = cq.get(name)
            # skip sub-0.1s queries: their spreads exceed their values
            if not c_sec or b_sec < 0.1:
                continue
            movers.append((name, (c_sec / c_cal) / (b_sec / b_cal)))
        movers.sort(key=lambda t: -t[1])
        names = [n for n, _ in movers[: args.top]]

    import bench
    from rust_etl_spark.plans.catalog import get
    from rust_etl_spark.session import get_spark

    spark = get_spark("idle-remeasure")
    spark.sparkContext.setLogLevel("ERROR")
    bench._warm_page_cache(args.sf_dir)
    my_cal = bench._calibration()

    # Session-shape pre-pass: bench.py measures each query inside a
    # 60+-query session (JIT, Python workers, codegen caches all hot),
    # so a fresh 10-query session reads JVM-heavy queries up to ~2x
    # high on its first executions. One untimed pass of the whole
    # selection before any timing closes most of that gap (measured
    # round 15: first-run spreads of 3-7 s on sub-second queries).
    for name in names:
        get(name).fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()

    rows = []
    for name in names:
        q = get(name)
        runs = bench.measure(spark, lambda: q.fn(spark, args.sf_dir), args.runs)["walls"]
        idle = round(min(runs), 3)
        row = {
            "query": name,
            "base_sec": bq.get(name),
            "cur_sec": cq.get(name),
            "idle_min_sec": idle,
            "idle_spread_sec": round(max(runs) - min(runs), 3),
        }
        if bq.get(name):
            row["cur_vs_base_calibrated"] = round(
                (cq[name] / c_cal) / (bq[name] / b_cal), 3) if cq.get(name) else None
            row["idle_vs_base_calibrated"] = round(
                (idle / my_cal) / (bq[name] / b_cal), 3)
        if chq.get(name):
            row["chain_sec"] = chq[name]
            row["idle_vs_chain_calibrated"] = round(
                (idle / my_cal) / (chq[name] / chain["calibration_sec"]), 3)
        rows.append(row)
        print(json.dumps(row))

    record = {
        "sf_dir": args.sf_dir,
        "base_record": base_name,
        "cur_record": cur_name,
        "chain_record": args.chain,
        "base_calibration_sec": b_cal,
        "cur_calibration_sec": c_cal,
        "idle_calibration_sec": my_cal,
        "runs_per_query": args.runs,
        "cpus": spark.sparkContext.defaultParallelism,
        "queries": rows,
        "note": "idle_vs_base_calibrated ~1.0 adjudicates the cur-record "
        "elevation as measurement-window noise on unchanged plans",
    }
    # Append-preserving artifact: the file holds a LIST of adjudication
    # records (round-15 second-session fix — the first writer replaced
    # the committed r14-movers record wholesale, losing the machine-
    # readable history VERDICT r14 #1 asked for). A legacy single-dict
    # file is wrapped; a record for the same (sf_dir, base, cur) triple
    # is superseded in place rather than duplicated.
    out = os.path.join(ROOT, "IDLE_REMEASURES.json")
    records: list[dict] = []
    if os.path.exists(out):
        with open(out) as f:
            prev = json.load(f)
        records = prev if isinstance(prev, list) else [prev]
    key = (record["sf_dir"], record["base_record"], record["cur_record"])
    records = [
        r for r in records
        if (r.get("sf_dir"), r.get("base_record"), r.get("cur_record")) != key
    ]
    records.append(record)
    with open(out, "w") as f:
        json.dump(records, f, indent=1)
        f.write("\n")
    print(f"wrote {out} ({len(records)} records)")


if __name__ == "__main__":
    main()
