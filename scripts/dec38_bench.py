"""Measured cost of the DECIMAL(38,0) money accumulator vs BIGINT
(round-15 VERDICT #4: the escape hatch needs a measured overhead, not
a designed-on-the-spot migration).

A/B on the SAME minimal q1 shape (filter + 2-key groupBy + charge sum
+ count) so the delta is exactly the accumulator type:

- bigint:  sum(CHARGE_SCALED)        -> long accumulator (the shipped
           groupby_agg form)
- dec38:   sum(CHARGE_SCALED_DEC38)  -> DECIMAL(38,0) accumulator (the
           escape hatch, registered as groupby_agg_dec38)

Also records the full 8-aggregate groupby_agg for context. Warm scan
before timing (round-11 cold-page-cache rule), min-of-3 noop writes
through ``bench.measure``, CPU calibration anchor. Writes DEC38_BENCH.json;
scripts/scaling_report.py renders it into SCALING.md.

Run on a QUIET machine:  python scripts/dec38_bench.py  (~2 min)
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TIERS = [
    ("sf0.1", 1, "/root/testdata/sf0.1"),
    ("gen_sf10", 100, os.path.join(ROOT, "gen_sf10")),
]
RUNS = 3


def _min_wall(spark, df) -> float:
    import bench

    return round(min(bench.measure(spark, lambda: df, RUNS)["walls"]), 3)


def main() -> None:
    from pyspark.sql import functions as F

    import bench
    from rust_etl_spark.functions.money import CHARGE_SCALED, CHARGE_SCALED_DEC38
    from rust_etl_spark.plans.catalog import get
    from rust_etl_spark.session import get_spark
    from rust_etl_spark.sources import load_table

    spark = get_spark("dec38-bench")
    spark.sparkContext.setLogLevel("ERROR")

    cutoff = "1998-09-02 00:00:00"
    rows = []
    for tier, mult, sf_dir in TIERS:
        if not os.path.isdir(sf_dir):
            print(f"skip {tier}: {sf_dir} missing")
            continue
        li = load_table(spark, sf_dir, "lineitem")
        li.write.format("noop").mode("overwrite").save()  # warm page cache

        base = li.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp")).groupBy(
            "l_returnflag", "l_linestatus"
        )
        bigint = base.agg(
            F.sum(F.expr(CHARGE_SCALED)).cast("long").alias("charge"),
            F.count(F.lit(1)).alias("cnt"),
        )
        dec38 = base.agg(
            F.sum(F.expr(CHARGE_SCALED_DEC38)).alias("charge_dec"),
            F.count(F.lit(1)).alias("cnt"),
        )
        row = {
            "tier": tier,
            "mult": mult,
            "bigint_min_sec": _min_wall(spark, bigint),
            "dec38_min_sec": _min_wall(spark, dec38),
            "groupby_agg_full_sec": _min_wall(spark, get("groupby_agg").fn(spark, sf_dir)),
            "groupby_agg_dec38_sec": _min_wall(spark, get("groupby_agg_dec38").fn(spark, sf_dir)),
        }
        row["dec38_over_bigint"] = round(row["dec38_min_sec"] / row["bigint_min_sec"], 3)
        rows.append(row)
        print(json.dumps(row))

    record = {
        "runs_per_point": RUNS,
        "cpus": spark.sparkContext.defaultParallelism,
        "calibration_sec": bench._calibration(),
        "tiers": rows,
        "note": "A/B on the minimal q1 charge shape; delta = accumulator type only",
    }
    out = os.path.join(ROOT, "DEC38_BENCH.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
