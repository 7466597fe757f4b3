"""Partition pruning, bucketed shuffle-free joins, salted join
equivalence — the scale levers must be observable in plans/results."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from rust_etl_spark.operators.joins import salted_join
from rust_etl_spark.sinks import read_table, write_bucketed_table, write_partitioned
from rust_etl_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    li = load_table(spark, SF, "lineitem")
    out = str(tmp_path / "li_part")
    write_partitioned(li, out, ["l_returnflag"])
    back = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    plan = _plan(back)
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split("PartitionFilters", 1)[1][:200]
    expect = li.filter(F.col("l_returnflag") == "R").count()
    assert back.count() == expect > 0


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    orders = load_table(spark, SF, "orders")
    cust = load_table(spark, SF, "customer")
    try:
        write_bucketed_table(orders, "b_orders", ["o_custkey"], n_buckets=4)
        write_bucketed_table(
            cust.withColumnRenamed("c_custkey", "o_custkey"), "b_cust", ["o_custkey"], n_buckets=4
        )
        j = read_table(spark, "b_orders").join(read_table(spark, "b_cust"), "o_custkey")
        plan = _plan(j)
        assert "Exchange hashpartitioning" not in plan, "bucketed join must not reshuffle"
        assert j.count() == orders.join(cust, orders.o_custkey == cust.c_custkey).count()
    finally:
        # drop the managed tables so the gitignored warehouse dir does
        # not accumulate per-run leftovers
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_zordered_write_clusters_both_dimensions(spark, tmp_path):
    """Z-order clustering must shrink per-row-group min/max spans on
    BOTH key columns vs an unclustered write — that span shrinkage is
    exactly what lets parquet footer stats skip row groups for
    predicates on either column."""
    import pyarrow.parquet as pq

    from rust_etl_spark.sinks import write_zordered
    from rust_etl_spark.sources import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )

    def mean_span_product(path: str) -> float:
        spans = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            for rg in range(md.num_row_groups):
                cols = {
                    md.row_group(rg).column(i).path_in_schema: md.row_group(rg).column(i).statistics
                    for i in range(md.row_group(rg).num_columns)
                }
                sp = cols["l_partkey"]
                ss = cols["l_suppkey"]
                spans.append(
                    (sp.max - sp.min + 1) * (ss.max - ss.min + 1)
                )
        return sum(spans) / len(spans)

    plain = str(tmp_path / "plain")
    li.repartition(4).write.mode("overwrite").option("maxRecordsPerFile", 500).parquet(plain)
    zed = str(tmp_path / "zed")
    write_zordered(li, zed, "l_partkey", "l_suppkey", max_records_per_file=500)

    assert mean_span_product(zed) < mean_span_product(plain) / 4
    # identical content, just relaid
    assert spark.read.parquet(zed).count() == li.count()


# ------------------------------------------------------- skew torture
#
# At 100 TB the killer is rarely volume — it is one pathological key: a
# null/default user owning a fifth of the fact table, or one shingle
# present in every document. These fixtures synthesize exactly that and
# assert (a) results stay correct and (b) the skew lever actually
# bounds the per-task fan-out (salt spread / day-bucketing / df-cap).

HOT_USER = 7
N_EVENTS = 20_000
HOT_FRAC = 0.2
DAY_US = 24 * 3600 * 1_000_000


def _skewed_events(spark):
    """20k events, user 7 owning 20% of them, spread over ~100 days so
    per-user-day counts stay small relative to the hot user's total."""
    n_hot = int(N_EVENTS * HOT_FRAC)
    return spark.range(N_EVENTS).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") < n_hot, F.lit(HOT_USER))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(2000)) + 100)
        .alias("user_id"),
        F.when(F.pmod(F.xxhash64("id", F.lit(1)), F.lit(20)) == 0, F.lit("signup"))
        .otherwise(F.lit("click"))
        .alias("event_type"),
        # ~100 distinct days, microsecond clock, deterministic
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(100 * DAY_US)).alias("e_us"),
    )


def test_salted_join_spreads_hot_key(spark):
    """One user owns 20% of the fact side. The salted join must (a)
    return the same result as the plain join and (b) actually split the
    hot key across n_salts sub-keys — visible both in the plan (join on
    __salt) and in the per-salt row distribution."""
    n_salts = 8
    ev = _skewed_events(spark)
    users = spark.range(3000).select(
        F.col("id").alias("user_id"), (F.col("id") % 5).alias("segment")
    )

    plain = ev.join(users, "user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("segment").alias("s")
    )
    salted = salted_join(
        ev, users, "user_id", n_salts=n_salts, probe_salt_source="event_id"
    )
    salted_agg = salted.agg(F.count(F.lit(1)).alias("n"), F.sum("segment").alias("s"))
    assert plain.collect() == salted_agg.collect()

    # Salt is a real join key, not dropped before the shuffle.
    assert "__salt" in _plan(
        salted_join(ev, users, "user_id", n_salts=n_salts, probe_salt_source="event_id")
    )

    # Fan-out bound: the hot key's largest per-salt slice must be close
    # to fair-share (total/n_salts), never the unsplit total.
    hot_total = int(N_EVENTS * HOT_FRAC)
    per_salt = (
        ev.filter(F.col("user_id") == HOT_USER)
        .withColumn("__salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salts)).cast("int"))
        .groupBy("__salt")
        .count()
        .collect()
    )
    assert len(per_salt) == n_salts
    assert max(r["count"] for r in per_salt) <= 2 * hot_total // n_salts


def test_range_join_day_buckets_bound_hot_user(spark, tmp_path):
    """events_range_join on a table where one user owns 20% of events:
    results must match a brute-force range join, and the (user, day)
    bucketing must keep every join group near one user-DAY of events —
    not the hot user's 4,000-event lifetime."""
    from rust_etl_spark.plans.events_queries import events_range_join

    sf_skew = str(tmp_path / "sf_skew")
    # ts written as long nanos: load_table's nanosAsLong path renames it
    # to ts_ns exactly as with the driver-generated fixtures.
    _skewed_events(spark).select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("e_us") * 1000).alias("ts"),
    ).write.parquet(os.path.join(sf_skew, "events.parquet"))

    got = {
        r["signup_id"]: r["n_follow"]
        for r in events_range_join(spark, sf_skew).collect()
    }

    ev = load_table(spark, sf_skew, "events").select(
        "event_id", "user_id", "event_type", F.expr("ts_ns div 1000").alias("e_us")
    )
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), "user_id", F.col("e_us").alias("s_us")
    )
    brute = (
        s.join(ev.select("user_id", "e_us"), "user_id")
        .filter((F.col("e_us") > F.col("s_us")) & (F.col("e_us") <= F.col("s_us") + DAY_US))
        .groupBy("signup_id")
        .agg(F.count(F.lit(1)).alias("n_follow"))
    )
    expect = {r["signup_id"]: r["n_follow"] for r in brute.collect()}
    assert got == expect and len(got) > 0

    # Bucket-bound check: largest (user, day) group ~= one hot user-day
    # (~40 events here), orders of magnitude under the hot lifetime.
    hot_total = int(N_EVENTS * HOT_FRAC)
    biggest = (
        ev.groupBy("user_id", F.expr(f"e_us div {DAY_US}").alias("bkt"))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert biggest <= hot_total // 20  # one day, not one lifetime


def test_jaccard_df_cap_drops_universal_shingle(spark, tmp_path):
    """One shingle with df = N (a boilerplate phrase in every document)
    must be dropped by the df-cap, so the posting-list self-join stays
    bounded — while a genuinely near-duplicate pair (sharing RARE
    shingles) is still found."""
    from rust_etl_spark.operators.dedup import JACCARD_DF_CAP, JACCARD_SHINGLE_N
    from rust_etl_spark.functions.textfns import tokens_expr, word_shingles

    n_docs = 200
    boiler = "all rights reserved by the original publisher"
    dup_body = "quarterly revenue grew nine percent on strong cloud demand"
    rows = []
    for i in range(n_docs):
        if i in (11, 12):  # planted near-dup pair
            body = dup_body
        else:
            body = f"unique{i} document body number{i} topic{i % 7} text{i}"
        rows.append((i, f"{boiler} {body}", "en", "synthetic", 0))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_skew = str(tmp_path / "sf_docs")
    docs.write.parquet(os.path.join(sf_skew, "documents.parquet"))

    from rust_etl_spark.operators.dedup import dedup_ngram_jaccard

    out = dedup_ngram_jaccard(spark, sf_skew).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in out] == [(11, 12)]
    assert out[0]["jaccard"] >= 0.5  # rare-shingle overlap, not boilerplate

    # The pathological shingle really is df ~= N pre-cap...
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(tokens_expr("text"), JACCARD_SHINGLE_N))
        ).alias("sh"),
    )
    df_counts = sh.groupBy("sh").count()
    assert df_counts.agg(F.max("count")).first()[0] == n_docs > JACCARD_DF_CAP
    # ...and every posting list surviving the cap is bounded by it.
    surviving_max = (
        df_counts.filter(F.col("count") <= JACCARD_DF_CAP).agg(F.max("count")).first()[0]
    )
    assert surviving_max <= JACCARD_DF_CAP


def test_range_partitioned_write_has_disjoint_file_spans(spark, tmp_path):
    """Range clustering must produce parquet files whose [min, max]
    spans on the cluster column are pairwise disjoint — that
    disjointness is exactly what lets footer stats skip whole files for
    range predicates."""
    import pyarrow.parquet as pq

    from rust_etl_spark.sinks import write_range_partitioned

    ev = load_table(spark, SF, "events").select("event_id", "ts_ns", "value")
    out = str(tmp_path / "ev_range")
    write_range_partitioned(ev, out, "ts_ns", n_partitions=8)

    spans = []
    for f in os.listdir(out):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        stats = [
            md.row_group(rg).column(i).statistics
            for rg in range(md.num_row_groups)
            for i in range(md.row_group(rg).num_columns)
            if md.row_group(rg).column(i).path_in_schema == "ts_ns"
        ]
        spans.append((min(s.min for s in stats), max(s.max for s in stats)))
    assert len(spans) >= 4
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, "file time spans must not overlap"
    # identical content, just relaid
    assert spark.read.parquet(out).count() == ev.count()


def test_salted_join_matches_plain_join(spark):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    orders = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(orders, "l_orderkey").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q")
    )
    salted = salted_join(
        li, orders, "l_orderkey", n_salts=4, probe_salt_source="l_linenumber"
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    assert plain.collect() == salted.collect()


def test_minhash_bucket_cap_bounds_identical_corpus(spark):
    """LSH failure-mode torture (VERDICT r4 item 8): a corpus where
    EVERY document is identical puts all N docs into one bucket per
    band. Without the cap that is N^2/2 pair rows per band; the cap
    must filter those mega-buckets entirely (so pair expansion is
    provably bounded by MINHASH_MAX_BUCKET^2 per bucket) while the
    signature-group path still recovers the duplicate class."""
    from rust_etl_spark.operators.dedup import (
        MINHASH_BAND_ROWS,
        MINHASH_K,
        MINHASH_MAX_BUCKET,
        minhash_bands,
        minhash_candidate_pairs_df,
        minhash_wide,
    )

    n_docs = 3 * MINHASH_MAX_BUCKET  # far over the cap
    text = "the same boilerplate document repeated verbatim everywhere"
    docs = spark.createDataFrame(
        [(i, text) for i in range(n_docs)], "doc_id bigint, text string"
    )

    # Every band bucket holds all n_docs members -> all capped away.
    pairs = minhash_candidate_pairs_df(docs)
    assert pairs.count() == 0

    # The cap is what bounded it: uncapped bucket sizes really were N.
    bands = minhash_bands(minhash_wide(docs, MINHASH_K), MINHASH_K, MINHASH_BAND_ROWS)
    sizes = bands.groupBy("band", "sig").count()
    assert sizes.agg(F.max("count")).collect()[0][0] == n_docs > MINHASH_MAX_BUCKET

    # Coverage doesn't silently vanish: the full-signature group path
    # (dedup_minhash_groups' shape) still collapses the class to one
    # keeper with all members accounted for.
    sig = minhash_wide(docs, MINHASH_K).select(
        "doc_id",
        F.concat_ws(
            ",", *[F.col(f"mh_{i}").cast("string") for i in range(MINHASH_K)]
        ).alias("signature"),
    )
    grp = sig.groupBy("signature").agg(
        F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n")
    )
    rows = grp.collect()
    assert len(rows) == 1 and rows[0]["n"] == n_docs and rows[0]["keeper"] == 0


def test_minhash_cap_spares_small_buckets(spark):
    """Mixed corpus: one mega-class over the cap plus one genuine
    near-dup pair under it — the cap must kill only the mega-buckets;
    the small-bucket pair survives candidate generation."""
    from rust_etl_spark.operators.dedup import MINHASH_MAX_BUCKET, minhash_candidate_pairs_df

    mega = "identical boilerplate page footer text shared by the crawl"
    pair = "unique quarterly filing describing nine percent cloud growth"
    rows = [(i, mega) for i in range(2 * MINHASH_MAX_BUCKET)]
    rows += [(10_000, pair), (10_001, pair)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    got = {tuple(r) for r in minhash_candidate_pairs_df(docs).collect()}
    assert got == {(10_000, 10_001)}


def test_containment_df_cap_bounds_boilerplate_corpus(spark):
    """Containment torture (VERDICT r5 item 5): every document shares a
    boilerplate header, so each header shingle's posting list is the
    WHOLE corpus — uncapped, the pair stage would expand C(N,2) pairs
    per hot shingle. The df-cap must drop the hot shingles entirely
    (bounding per-shingle expansion at JACCARD_DF_CAP^2) while a
    genuine body-level duplicate pair still surfaces."""
    from rust_etl_spark.operators.dedup import (
        JACCARD_DF_CAP,
        JACCARD_SHINGLE_N,
        dedup_containment,
    )
    from rust_etl_spark.functions.hashing import md5_long60_expr
    from rust_etl_spark.functions.textfns import tokens_expr, word_shingles_expr

    n_docs = 3 * JACCARD_DF_CAP  # every header shingle far over the cap
    header = "standard legal disclaimer boilerplate applies to this page"
    rows = []
    for i in range(n_docs):
        body = " ".join(f"w{i}x{j}" for j in range(12))  # unique per doc
        rows.append((i, f"{header} {body}"))
    # one genuine duplicated body -> the only expected pair
    rows.append((7_000, f"{header} alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((7_001, f"{header} alpha beta gamma delta epsilon zeta eta theta"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    import rust_etl_spark.operators.dedup as dd

    # route the operator at the synthetic corpus via a table shim
    dd_orig = dd.load_table
    dd.load_table = lambda sp, sf, name: docs  # noqa: ARG005
    try:
        pairs = dedup_containment(spark, "unused").collect()
    finally:
        dd.load_table = dd_orig

    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (7_000, 7_001) in got, "genuine duplicate pair must survive the cap"
    # no boilerplate-driven explosion: only body-level overlaps remain
    assert len(got) < 10, f"hot-shingle explosion leaked {len(got)} pairs"

    # the cap really was the bound: header shingles' uncapped df == corpus
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform({word_shingles_expr(tokens_expr('text'), JACCARD_SHINGLE_N)}, "
                    f"s -> {md5_long60_expr('s')})"
                )
            )
        ).alias("sh"),
    )
    dfs = sh.groupBy("sh").count()
    assert dfs.agg(F.max("count")).collect()[0][0] == n_docs + 2 > JACCARD_DF_CAP
    # post-cap, every surviving posting list is <= the cap
    surv = dfs.filter(F.col("count") <= JACCARD_DF_CAP)
    assert surv.agg(F.max("count")).collect()[0][0] <= JACCARD_DF_CAP


def test_segments_hot_fingerprint_stays_linear(spark):
    """Segment-dedup torture: every document opens with the same
    SEGMENT_WIDTH-token segment, so one fingerprint's df == corpus
    size. The dataflow must stay LINEAR (df-annotation join, never a
    pair expansion): intermediate rows == total segments, output rows
    == docs, and the shared segment is flagged boilerplate while
    unique tails keep their tokens."""
    from rust_etl_spark.operators.dedup import (
        SEGMENT_DF_CAP,
        SEGMENT_WIDTH,
        dedup_segments,
    )

    n_docs = 300
    hot = " ".join(["shared"] * SEGMENT_WIDTH)  # one full hot segment
    rows = [
        (
            i,
            hot + " " + " ".join(f"u{i}t{j}" for j in range(SEGMENT_WIDTH)),
        )
        for i in range(n_docs)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    import rust_etl_spark.operators.dedup as dd

    dd_orig = dd.load_table
    dd.load_table = lambda sp, sf, name: docs  # noqa: ARG005
    try:
        out = dedup_segments(spark, "unused")
        got = out.collect()
    finally:
        dd.load_table = dd_orig

    assert len(got) == n_docs, "output must stay doc-grain (no expansion)"
    by_id = {r["doc_id"]: r for r in got}
    assert all(r["n_segments"] == 2 for r in got)
    # hot segment df == n_docs > SEGMENT_DF_CAP -> flagged in every doc
    assert all(r["dup_segments"] == 1 for r in got), "hot segment must be boilerplate"
    assert all(r["kept_tokens"] == SEGMENT_WIDTH for r in got)
    assert by_id[0]["n_segments"] == 2


def test_salted_join_correct_without_aqe(spark):
    """The salt must carry the skew on its own — prove it with AQE's
    skew-join mitigation OFF (on a cluster the salt is the plan-level
    guarantee; AQE is the runtime backstop, and a test that only
    passes with AQE on would be measuring the backstop)."""
    ev = _skewed_events(spark)
    users = spark.range(3000).select(
        F.col("id").alias("user_id"), (F.col("id") % 5).alias("segment")
    )
    plain = ev.join(users, "user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("segment").alias("s")
    ).collect()
    old = spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    try:
        salted = salted_join(
            ev, users, "user_id", n_salts=8, probe_salt_source="event_id"
        ).agg(F.count(F.lit(1)).alias("n"), F.sum("segment").alias("s")).collect()
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", old)
    assert plain == salted
