"""Bucketed co-partitioned layout vs plain parquet (VERDICT r8 #1).

The flagged queries' shuffle-write series (SCALING.md, "Flagged
queries: shuffle write (MB) at every audited tier") grow with the fact
tables once the dims outgrow the broadcast threshold; co-partitioning
orders+lineitem on the join key is the layout answer, and this script
MEASURES that move. At each gen tier it:

1. runs the SHIPPED catalog queries (q3 / q18 / join_star) against the
   plain parquet layout through ``bench.measure`` with the Spark UI off
   (the primitive scale_audit.py uses) — min-of-3 wall, the last run's
   shuffle-write bytes, and the shuffle-Exchange count of that run's
   AQE-final plan;
2. materializes orders+lineitem as bucketed, bucket-sorted catalog
   tables on the orderkey (sinks.write_bucketed_fact_layout — one file
   per bucket, so SMJ can skip the Sort too), timing the one-off write;
3. repoints the two tables at the bucketed layout via
   sources.set_layout_override — the SAME query code then reads the
   bucketed copies, exactly as a metastore repoint would — and
   re-measures.

Writes BUCKETED_BENCH.json (run count stamped per family, so a
SPARK_GRAFT_BUCKETED_FAMILIES partial rerun keeps the other families'
own); scripts/scaling_report.py renders it into SCALING.md's "Bucketed
co-partitioned layout" section. tests/test_bucketed_layout.py locks the
plan shape (exchange-free bucketed join/agg, exchange-full parquet
baseline) at the fixture scale.

Round 10 adds a SECOND key family (VERDICT r9 #5): events bucketed on
user_id with a compound (user_id, ts_ns, event_id) write-time sort —
the sessionize/funnel/retention shuffle surface — measured at
gen_sf1 + gen_sf3; proves the mechanism generalizes beyond the
orderkey pair.

Run:  python scripts/bucketed_layout_bench.py     (~15-20 min, QUIET machine)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: 2x the reader's core count: bucket-grain scans can't split files, so
#: buckets ARE the scan parallelism — at 32 (1x cores) q18's full-table
#: pre-aggregate ran 1.8x SLOWER than parquet at the 100x tier (one
#: straggling wave, no overlap); 64 runs it 1.7x FASTER (measured
#: min-of-3: 5.1 s @32 -> 1.6 s @64 -> 2.0 s @128, parquet 2.8 s).
#: Cluster translation: size n_buckets >= 2x the total cores the
#: biggest reader will use.
N_BUCKETS = 64
RUNS = 3

TIER_DIRS = {
    "gen_sf1": "/root/repo/gen_sf1",
    "gen_sf3": "/root/repo/gen_sf3",
    "gen_sf10": "/root/repo/gen_sf10",
}

#: Two key families prove the writer+override mechanism generalizes
#: (VERDICT r9 #5): the orderkey fact pair, and a user_id-bucketed
#: events layout whose compound write-time sort (user_id, ts_ns,
#: event_id) matches the per-user windows' required ordering.
FAMILIES = [
    {
        "family": "orderkey",
        "facts": {"orders": "o_orderkey", "lineitem": "l_orderkey"},
        # q21 added round 13 (VERDICT r12 #3): its window re-plan left
        # "the two fact-side join exchanges both forms pay" as the
        # residual 100x wall — exactly what this layout removes (the
        # l_orderkey window and the (orderkey, suppkey) groupBy both
        # ride the bucket clustering through the SMJ).
        "queries": [
            "q3_shipping_priority",
            "q18_large_volume",
            "join_star",
            "q21_sole_late_supplier",
            # q10 added round 14 (VERDICT r13 #4): its round-13 order-
            # grain re-plan left "the one orderkey fact exchange" as
            # the residual wall — the per-order partial aggregate and
            # the lineitem⋈orders join both ride the bucket clustering.
            "q10_returned_items",
        ],
        # the larger the tier, the more of q3/q10/q18's shuffle is the
        # fact-side exchange this layout removes (SCALING.md, flagged-
        # queries shuffle table).
        "tiers": ["gen_sf1", "gen_sf3", "gen_sf10"],
    },
    {
        "family": "events_user",
        # orders joined the family in round 16, co-bucketed on the SAME
        # key/count (o_custkey IS user_id in this schema): under AQE a
        # ONE-sided bucketed join never consumes the bucketing —
        # EnsureRequirements re-shuffles both sides so AQE can coalesce
        # freely, and DisableUnnecessaryBucketedScan then turns the
        # bucketed read off (measured: every {n_buckets} x
        # {shuffle.partitions} combination re-shuffled; with AQE OFF
        # and matching counts the exchange disappears). Both-sides-
        # bucketed is the shape that works under AQE (the q18/q21
        # orderkey-family precedent), so events_asof_join's orders arm
        # gets its own bucketed projection and the whole query plans
        # exchange-free.
        "facts": {"events": ("user_id", ["user_id", "ts_ns", "event_id"]),
                  "orders": ("o_custkey", ["o_custkey", "o_orderdate"])},
        # all shuffle user_id first: sessionize (window + session
        # agg), funnel (three per-user conditional-min stages), retention
        # (per-user first-seen aggregate); their remaining small exchanges
        # (cohort/final rollups) are not on the bucket key by design.
        # Round 15 extends the measured set with the family's two
        # largest remaining PURE-events exchanges (scale audit at 100x:
        # interval_merge 245 MB, ewma 204 MB) — user_id-window queries
        # whose only fact exchange the bucket clustering removes
        # outright. events_asof_join joined the family in round 16
        # (VERDICT r15 #2): the round-15 rejection reasoning ("a Union
        # has unknown output partitioning, so the window re-exchanges
        # regardless") died with the union itself — the round-16
        # re-plan left-joins a per-user orders array onto the 3-column
        # events projection, so the events arm's user_id clustering
        # comes straight off the bucketed scan; only the (small)
        # orders-array side still exchanges.
        "queries": ["events_sessionize", "events_funnel", "events_retention",
                    "events_ewma", "events_interval_merge",
                    "events_asof_join"],
        "tiers": ["gen_sf1", "gen_sf3", "gen_sf10"],
    },
]


def _measure(spark, name: str, sf_dir: str) -> dict:
    """min-of-RUNS wall + the last run's shuffle bytes and final-plan
    shuffle-exchange count for one catalog query."""
    import bench
    from rust_etl_spark.plans import catalog

    q = catalog.get(name)
    m = bench.measure(spark, lambda: q.fn(spark, sf_dir), RUNS)
    return {
        "wall_sec": round(min(m["walls"]), 3),
        "shuffle_write_mb": round(m["shuffle_write_bytes"] / 1e6, 3),
        "shuffle_exchanges": bench.shuffle_exchanges(m["plan"]),
    }


def main() -> None:
    from perfbench.probe import SparkCounters
    from rust_etl_spark.session import get_spark
    from rust_etl_spark.sinks import write_bucketed_fact_layout
    from rust_etl_spark.sources import clear_layout_overrides, set_layout_override

    spark = get_spark("bucketed-layout-bench")
    spark.sparkContext.setLogLevel("ERROR")
    counters = SparkCounters(spark)

    # SPARK_GRAFT_BUCKETED_FAMILIES=events_user re-runs only the named
    # families and MERGES their rows into the existing BUCKETED_BENCH
    # record (the untouched families keep their committed rows) — for
    # re-measuring one family after a re-plan without the full ~20 min.
    only = os.environ.get("SPARK_GRAFT_BUCKETED_FAMILIES")
    run_fams = [f for f in FAMILIES if not only or f["family"] in only.split(",")]

    families_out = []
    for fam in run_fams:
        queries, facts = fam["queries"], fam["facts"]
        tiers_out = []
        for tag in fam["tiers"]:
            sf_dir = TIER_DIRS[tag]
            if not os.path.isdir(sf_dir):
                print(f"skip {tag}: {sf_dir} missing")
                continue
            base = {}
            for name in queries:
                base[name] = _measure(spark, name, sf_dir)
                print(f"{fam['family']} {tag} parquet   {name:24s} {base[name]}", flush=True)

            counters.mark()
            t0 = time.perf_counter()
            names = write_bucketed_fact_layout(
                spark, sf_dir, facts, n_buckets=N_BUCKETS,
                suffix=f"_{fam['family']}_{tag}",
            )
            writes = {
                "wall_sec": round(time.perf_counter() - t0, 3),
                "shuffle_write_mb": round(counters.read()["shuffle_write_bytes"] / 1e6, 3),
            }
            print(f"{fam['family']} {tag} bucketed write: {writes}", flush=True)

            for tbl, tname in names.items():
                set_layout_override(sf_dir, tbl, tname)
            try:
                bkt = {}
                for name in queries:
                    bkt[name] = _measure(spark, name, sf_dir)
                    print(f"{fam['family']} {tag} bucketed  {name:24s} {bkt[name]}", flush=True)
            finally:
                clear_layout_overrides()
                for tname in names.values():
                    spark.sql(f"DROP TABLE IF EXISTS {tname}")

            tiers_out.append(
                {
                    "tier": tag,
                    "n_buckets": N_BUCKETS,
                    "bucketed_write": writes,
                    "queries": [
                        {"query": n, "parquet": base[n], "bucketed": bkt[n]}
                        for n in queries
                    ],
                }
            )
        families_out.append(
            {
                "family": fam["family"],
                "runs_per_point": RUNS,
                "cpus": spark.sparkContext.defaultParallelism,
                # shuffle_exchanges counts the AQE-final plan only
                "plan_sections": "final",
                "facts": {
                    t: (s if isinstance(s, str) else {"bucket": s[0], "sort": s[1]})
                    for t, s in facts.items()
                },
                "queries": queries,
                "tiers": tiers_out,
            }
        )

    record = {
        "metric": "bucketed_layout_vs_parquet",
        "families": families_out,
        "note": (
            "Same shipped catalog queries both times; the bucketed runs "
            "read the family's fact tables repointed "
            "(sources.set_layout_override) at bucketed, bucket-sorted "
            "catalog tables written once by "
            "sinks.write_bucketed_fact_layout. shuffle_exchanges counts "
            "the 'Exchange hash/rangepartitioning' nodes of the last "
            "run's AQE-final plan, reused exchanges not counted; "
            "shuffle_write_mb is that run's. The one-off bucketed write's cost is reported "
            "separately — at 100 TB it is paid at ingest and amortized "
            "over every subsequent join/agg on the bucket key. Two "
            "families: orderkey (orders+lineitem co-bucketed) and "
            "events_user (events bucketed user_id, sorted (user_id, "
            "ts_ns, event_id) so per-user windows consume the "
            "write-time order)."
        ),
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(root, "BUCKETED_BENCH.json")
    if only and os.path.exists(out_path):
        with open(out_path) as f:
            prev = json.load(f)
        ran = {fo["family"] for fo in families_out}
        # families kept from the previous record keep their own run
        # count (older records stamped it once, at the top level)
        merged = [
            {"runs_per_point": prev.get("runs_per_point"), **fo}
            for fo in prev.get("families", [])
            if fo["family"] not in ran
        ]
        record["families"] = merged + families_out
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(
        "wrote BUCKETED_BENCH.json "
        f"({', '.join(f['family'] + ':' + str(len(f['tiers'])) + ' tiers' for f in families_out)})"
    )


if __name__ == "__main__":
    main()
