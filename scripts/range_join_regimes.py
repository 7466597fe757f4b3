"""Measure every join regime of events_range_join at a big tier.

Round 10 asserted the fallback sentence ("on a cluster where exploded
signups outgrow the broadcast threshold the join degrades to an SMJ on
(user_id, day-bucket) whose per-key fan-out is bounded at one
user-day") without measuring it (VERDICT r10 #1). Measuring it found
something sharper: Catalyst's UNHINTED pick at the 100x tier is a
BroadcastHashJoin that builds the pruned FOLLOW-side projection — the
side that grows with the corpus (the round-10 note assumed the signup
side broadcast; BuildRight in the executedPlan says otherwise), a
single-threaded ~20M-row hash build. The round-11 shipped form hints
``shuffle_hash`` on the signup side instead: both sides shuffle on the
bounded (user_id, day-bucket) key and each task hash-builds only its
signup slice.

This script runs the IDENTICAL dataflow (plans/events_queries.py::
_range_join) under all three strategies — shipped shuffle_hash, the
spill-safe merge fallback, and Catalyst's unhinted pick — recording,
through ``bench.measure`` with the Spark UI off, min-of-3 wall (after
an untimed warm run per regime), the last run's shuffle and spill
bytes, and the join inventory of its AQE-final plan. It also
quantifies the fan-out bound itself: max and p99 events per (user_id,
day-bucket) key vs per user lifetime — the margin that keeps both
shuffle regimes skew-safe.

Writes RANGE_JOIN_REGIMES.json; scripts/scaling_report.py renders it
into SCALING.md. Run on a QUIET machine (CLAUDE.md contention note):

    SPARK_GRAFT_SF_DIR=/root/repo/gen_sf10 \
        python scripts/range_join_regimes.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_RUNS = 3
REGIMES = [
    ("shipped_shuffle_hash", "shuffle_hash"),
    ("merge_fallback", "merge"),
    ("catalyst_unhinted", None),
]


def _measure(spark, fn, sf_dir: str, hint) -> dict:
    """min-of-N wall + last-run shuffle/spill + final-plan joins."""
    import bench

    # one UNTIMED warm run per regime: regimes share a JVM and run
    # sequentially, so without it the first regime pays scan-codegen
    # JIT the later ones inherit (first measurement: walls trending
    # 11.9 -> 6.5 -> 6.0 within a regime — warm-up, not variance)
    fn(spark, sf_dir, hint=hint).write.format("noop").mode("overwrite").save()
    m = bench.measure(spark, lambda: fn(spark, sf_dir, hint=hint), N_RUNS)
    lines = m["plan"].splitlines()
    key_joins = [l for l in lines if "Join [" in l and "Exchange" not in l]
    return {
        "walls_sec": [round(w, 3) for w in m["walls"]],
        "wall_min_sec": round(min(m["walls"]), 3),
        # shuffle is plan-determined: every run re-shuffles (noop sink,
        # no caching), so report the last run's figure, not the sum
        "shuffle_write_mb": round(m["shuffle_write_bytes"] / 1e6, 3),
        "shuffle_read_mb": round(m["shuffle_read_bytes"] / 1e6, 3),
        "spill_mb": round(m["spill_bytes"] / 1e6, 3),
        "bhj": sum("BroadcastHashJoin" in l for l in lines),
        "shj": sum("ShuffledHashJoin" in l for l in lines),
        "smj": sum("SortMergeJoin" in l for l in lines),
        "exchanges": bench.shuffle_exchanges(m["plan"]),
        "join_node": key_joins[0][:160] if key_joins else "",
        "join_keys_have_user_and_bucket": bool(key_joins)
        and all("user_id" in l and "bkt" in l for l in key_joins),
    }


def _fanout(spark, sf_dir: str) -> dict:
    """Quantify the per-key fan-out bound the day-bucket key provides:
    max/p99 events per (user_id, day_bucket) vs per user lifetime —
    the margin that keeps the shuffle regimes skew-safe (an SHJ build
    slice or SMJ merge group is one user-day, never one lifetime)."""
    from pyspark.sql import functions as F

    from rust_etl_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    day_us = 24 * 3600 * 1_000_000
    keyed = ev.select(
        "user_id", F.expr(f"(ts_ns div 1000) div {day_us}").alias("bkt")
    )
    per_key = keyed.groupBy("user_id", "bkt").count()
    kd = per_key.agg(
        F.max("count").alias("mx"),
        F.expr("percentile_approx(count, 0.99)").alias("p99"),
    ).collect()[0]
    ud = (
        keyed.groupBy("user_id")
        .count()
        .agg(F.max("count").alias("mx"), F.expr("percentile_approx(count, 0.99)").alias("p99"))
        .collect()[0]
    )
    return {
        "max_events_per_user_day": int(kd["mx"]),
        "p99_events_per_user_day": int(kd["p99"]),
        "max_events_per_user_lifetime": int(ud["mx"]),
        "p99_events_per_user_lifetime": int(ud["p99"]),
    }


def main() -> None:
    import bench

    from rust_etl_spark.plans.events_queries import _range_join
    from rust_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/repo/gen_sf10")
    tag = os.path.basename(sf_dir.rstrip("/"))
    spark = get_spark("range-join-regimes")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the parquet footer/file-index caches once so regime 1
    # doesn't pay cold I/O the later regimes skip
    from rust_etl_spark.sources import load_table

    load_table(spark, sf_dir, "events").count()

    regimes = []
    for name, hint in REGIMES:
        print(f"regime {name} (hint={hint})", flush=True)
        r = _measure(spark, _range_join, sf_dir, hint)
        r["regime"] = name
        r["hint"] = hint
        regimes.append(r)
        print(json.dumps(r), flush=True)

    fanout = _fanout(spark, sf_dir)
    print(json.dumps(fanout), flush=True)

    record = {
        "metric": "events_range_join_regimes",
        "tier": tag,
        "n_runs": N_RUNS,
        "cpus": spark.sparkContext.defaultParallelism,
        # join and exchange counts read the AQE-final plan
        "plan_sections": "final",
        "calibration_sec": bench._calibration(),
        "regimes": regimes,
        "fanout": fanout,
        "note": (
            "Identical dataflow all rows (plans/events_queries.py::"
            "_range_join), only the join-strategy hint varies. "
            "shipped_shuffle_hash is the round-11 production form (each "
            "task hash-builds its signup slice after both sides shuffle "
            "on the bounded (user_id, day-bucket) key); merge_fallback "
            "is the spill-safe strategy Spark takes when the hint can't "
            "be honored; catalyst_unhinted is what the optimizer picks "
            "from size estimates alone — at this tier a "
            "BroadcastHashJoin BUILDING THE FOLLOW SIDE (the side that "
            "grows with the corpus). The fan-out block quantifies the "
            "per-key bound that keeps both shuffle regimes skew-safe: "
            "join groups are one user-DAY, not one user-lifetime."
        ),
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "RANGE_JOIN_REGIMES.json"), "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(f"wrote RANGE_JOIN_REGIMES.json (tier {tag})")


if __name__ == "__main__":
    main()
