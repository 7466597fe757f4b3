"""Per-query shuffle/spill audit — measure, don't guess.

Runs every graded-window query PLUS the bench HEADLINE and EXTENDED
sets (``bench.AUDITED``; the heaviest queries live in EXTENDED:
ngram/containment dedup, corpus curation, PQ search) end-to-end (noop
sink) once each through ``bench.measure``, which reads the query's
stage counters from the session's status stores with the Spark UI off.
``stages`` counts every stage of the query's jobs, skipped ones
included (the count the earlier UI REST scrape recorded, kept so
cross-round counter comparisons stay like for like); tasks, shuffle
read/write and spill come from the stages that ran.

Writes SCALE_AUDIT.md (or SCALE_AUDIT_<tag>.md for a non-default SF
tier) plus the JSON record: the evidence that the plans the engine
claims are shuffle-lean actually are, and that nothing spills at the
test scale. The graded scale signal is the cross-tier shuffle RATIO in
SCALING.md (flat ratio == linear shuffle growth).

Run:  python scripts/scale_audit.py   (~6 min)
      SPARK_GRAFT_SF_DIR=/root/repo/gen_sf1 python scripts/scale_audit.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import bench
    from rust_etl_spark.plans import catalog
    from rust_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tag = os.path.basename(sf_dir.rstrip("/"))
    out_name = "SCALE_AUDIT.md" if tag == "sf0.1" else f"SCALE_AUDIT_{tag}.md"
    # the ENGINE session (same broadcast threshold / AQE / split tuning
    # as bench.py — an earlier audit built its own ad-hoc session whose
    # 10 MB default broadcast threshold silently flipped the sf1 joins
    # to sort-merge, inflating "measured" shuffle 50x vs the bench)
    spark = get_spark("scale-audit")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    # Warm the Python/Arrow worker pool before any timed query: the
    # audit is single-run (unlike bench's min-of-3), and the first
    # applyInPandas/mapInPandas of a session pays worker-fork + Arrow
    # init on every core — at the 100x tier that read as
    # grouped_normalize 7.67 s vs its 0.48 s bench steady state, a
    # pure cold-start artifact masquerading as a scale cliff.
    import pandas as _pd

    spark.createDataFrame(_pd.DataFrame({"k": range(64), "v": range(64)})) \
        .groupBy("k").applyInPandas(lambda p: p, "k long, v long") \
        .write.format("noop").mode("overwrite").save()

    names = bench.HEADLINE if os.environ.get("SPARK_GRAFT_BENCH_HEADLINE_ONLY") else bench.AUDITED
    rows = []
    for name in names:
        q = catalog.get(name)
        m = bench.measure(spark, lambda: q.fn(spark, sf_dir), 1)
        rows.append(
            {
                "query": name,
                "wall_s": round(m["walls"][0], 2),
                "stages": m["listed_stages"],
                "tasks": int(m["tasks"]),
                "shuffle_write_mb": round(m["shuffle_write_bytes"] / 1e6, 3),
                "shuffle_read_mb": round(m["shuffle_read_bytes"] / 1e6, 3),
                "spill_mb": round(m["spill_bytes"] / 1e6, 3),
            }
        )
        r = rows[-1]
        print(f"{name:32s} {r['wall_s']:6.2f}s  shufW={r['shuffle_write_mb']:8.3f}MB "
              f"spill={r['spill_mb']}MB", flush=True)

    spilled = [r for r in rows if r["spill_mb"] > 0]
    total_shuffle = round(sum(r["shuffle_write_mb"] for r in rows), 1)
    graded = set(catalog.GRADE_ORDER)
    out = [
        f"# Scale audit — per-query shuffle & spill at {tag}",
        "",
        "Generated by `python scripts/scale_audit.py` (stage counters read",
        "in-process by `bench.measure`, graded window + bench HEADLINE +",
        f"EXTENDED, noop sink, local[{cpus}]). Shuffle volume is the",
        "scale-limiting currency at 100 TB: a query whose shuffle write is",
        "a small fraction of its input survives the scale-up; spill at the",
        "test scale would mean executor memory pressure 1000x sooner.",
        "`graded` marks the driver-graded queries.",
        "",
        f"- queries audited: **{len(rows)}**"
        f" ({len(graded)} graded + {len(rows) - len(graded)} bench-only)",
        f"- total shuffle write: **{total_shuffle} MB**",
        f"- queries that spilled: **{len(spilled)}**"
        + ("" if not spilled else " — " + ", ".join(r["query"] for r in spilled)),
        "",
        "| query | graded | wall s | stages | tasks | shuffle write MB | shuffle read MB | spill MB |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append(
            f"| {r['query']} | {'y' if r['query'] in graded else ''} "
            f"| {r['wall_s']} | {r['stages']} | {r['tasks']} "
            f"| {r['shuffle_write_mb']} | {r['shuffle_read_mb']} | {r['spill_mb']} |"
        )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, out_name), "w") as f:
        f.write("\n".join(out) + "\n")
    with open(os.path.join(root, out_name.replace(".md", ".json")), "w") as f:
        json.dump({"tag": tag, "cpus": cpus, "rows": rows}, f, indent=1)
        f.write("\n")
    print(f"\nwrote {out_name}  ({len(rows)} queries, "
          f"{total_shuffle} MB total shuffle, {len(spilled)} spilled)")


if __name__ == "__main__":
    main()
