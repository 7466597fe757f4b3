"""Subtree attribution for dedup_ngram_jaccard at a gen tier
(VERDICT r13 #3 — the worst-query treatment; method = the round-13
decontaminate profile: time each prefix of the linear dataflow with a
noop sink, min-of-N after a warm scan, so stage N's marginal cost is
the difference of consecutive prefixes).

Run:  SPARK_GRAFT_SF_DIR=gen_sf10 python scripts/ngram_jaccard_profile.py
(QUIET machine; warm the documents table first — cold-cache reads are
~3.5x slower and do not self-warm, CLAUDE.md round-11 note.)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.window import Window

RUNS = 3


def _noop(df) -> float:
    walls = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return round(min(walls), 3)


def main() -> None:
    from rust_etl_spark.functions.hashing import md5_long60_expr
    from rust_etl_spark.functions.textfns import tokens, word_shingles_expr
    from rust_etl_spark.operators.dedup import (
        JACCARD_DF_CAP,
        JACCARD_SHINGLE_N,
        JACCARD_THRESHOLD,
        dedup_ngram_jaccard,
    )
    from rust_etl_spark.session import get_spark
    from rust_etl_spark.sources import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "gen_sf10")
    spark = get_spark("ngram-jaccard-profile")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents")
    # warm the page cache with one sequential full scan (round-11 rule)
    docs.write.format("noop").mode("overwrite").save()

    toks = docs.select("doc_id", tokens("text").alias("t"))
    sh_all = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform({word_shingles_expr('t', JACCARD_SHINGLE_N)}, "
                    f"s -> {md5_long60_expr('s')})"
                )
            )
        ).alias("sh"),
    )
    capped = sh_all.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
    ).filter(F.col("df") <= JACCARD_DF_CAP)
    sized = capped.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    members = (
        sized.groupBy("sh")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n"))).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    pairs = members.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ms",
                    lambda x, i: F.transform(
                        F.slice(F.col("ms"), i + 2, F.size("ms")),
                        lambda y: F.struct(
                            x["doc_id"].alias("doc_a"),
                            x["n"].alias("na"),
                            y["doc_id"].alias("doc_b"),
                            y["n"].alias("nb"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    inter = pairs.groupBy("p.doc_a", "p.doc_b", "p.na", "p.nb").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    # stage 6b: the threshold filter itself, so stage 7's marginal is
    # pure projection/round overhead and the attribution in SCALING.md
    # is exact (ADVICE r14: stages 1-6 omitted the filter, silently
    # bundling its cost into the stage-6->7 marginal).
    thresholded = inter.filter(
        F.col("n_common")
        / (F.col("na") + F.col("nb") - F.col("n_common"))
        >= F.lit(JACCARD_THRESHOLD)
    )

    stages = [
        ("1 explode shingles", sh_all),
        ("2 + df-cap window (sh shuffle)", capped),
        ("3 + size window (doc shuffle)", sized),
        ("4 + members regroup (sh shuffle)", members),
        ("5 + pair expansion", pairs),
        ("6 + pair aggregate", inter),
        ("6b + jaccard threshold filter", thresholded),
        ("7 full query", dedup_ngram_jaccard(spark, sf_dir)),
    ]
    prev = 0.0
    for name, df in stages:
        w = _noop(df)
        print(f"{name:36s} {w:8.3f} s   (marginal {w - prev:+.3f})", flush=True)
        prev = w
    # cardinalities for the expansion stages
    for name, df in [("capped rows", capped), ("members lists", members), ("pairs", pairs)]:
        print(f"{name:36s} {df.count():,}", flush=True)


if __name__ == "__main__":
    main()
