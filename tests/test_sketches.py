"""Sketches: portable HLL accuracy, merge algebra and O(m) state;
histogram quantiles, heavy hitters and KMV."""

from __future__ import annotations

from pyspark.sql import functions as F

from ubdc_airbnb_spark.operators import sketches


def _est(df_one_row) -> float:
    return df_one_row.collect()[0].est


def test_hll_accuracy_within_rse(spark):
    """b=12 → relative standard error 1.04/sqrt(4096) ≈ 1.6%; assert a
    generous 3σ bound over a known cardinality."""
    n = 50_000
    df = spark.range(n).select(F.concat(F.lit("user-"), F.col("id")).alias("v"))
    est = _est(sketches.hll_distinct_count(df, "v", b=12))
    assert abs(est - n) / n < 0.05, est


def test_hll_small_range_linear_counting(spark):
    """Tiny cardinalities hit the linear-counting correction and stay
    within a few percent."""
    df = spark.range(100).select(F.col("id").cast("string").alias("v"))
    est = _est(sketches.hll_distinct_count(df, "v", b=12))
    assert abs(est - 100) / 100 < 0.1, est


def test_hll_duplicates_do_not_inflate(spark):
    """The sketch sees hashes, not rows: 100× duplication of the same
    keys gives the identical register table and estimate."""
    base = spark.range(1_000).select(F.col("id").cast("string").alias("v"))
    dup = spark.range(100_000).select((F.col("id") % 1_000).cast("string").alias("v"))
    assert _est(sketches.hll_distinct_count(base, "v")) == _est(
        sketches.hll_distinct_count(dup, "v")
    )


def test_hll_merge_equals_union(spark):
    """Register-max merge == sketching the unioned data (the cluster
    rollup path: per-day sketches combine without raw data)."""
    a = spark.range(0, 30_000).select(F.col("id").cast("string").alias("v"))
    b = spark.range(20_000, 60_000).select(F.col("id").cast("string").alias("v"))
    merged = sketches.hll_merge(
        sketches.hll_registers(a, "v"), sketches.hll_registers(b, "v")
    )
    direct = sketches.hll_registers(a.unionByName(b), "v")
    assert sorted(merged.collect()) == sorted(direct.collect())
    est = _est(sketches.hll_estimate(merged))
    assert abs(est - 60_000) / 60_000 < 0.05


def test_hll_state_is_bounded(spark):
    """Register table ≤ m rows regardless of input size (the whole point
    at 100 TB)."""
    df = spark.range(200_000).select(F.col("id").cast("string").alias("v"))
    assert sketches.hll_registers(df, "v", b=8).count() <= 256


# ------------------------------------------------------------ count-min


def test_cm_overestimates_never_under(spark):
    """CM guarantee: est >= exact for every key."""
    from ubdc_airbnb_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    key = F.col("user_id").cast("string")
    sk = sketches.cm_sketch(ev, key, d=4, w=1024)
    keys = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact"))
    est = sketches.cm_estimate(sk, keys, F.col("user_id").cast("string"), d=4, w=1024)
    bad = est.filter(F.col("est") < F.col("exact")).count()
    assert bad == 0
    # with 150 keys in 1024 slots, most estimates are exact
    exact_frac = est.filter(F.col("est") == F.col("exact")).count() / est.count()
    assert exact_frac > 0.8


def test_cm_state_bounded_and_mergeable(spark):
    a = spark.range(5_000).select((F.col("id") % 37).cast("string").alias("v"))
    b = spark.range(5_000, 9_000).select((F.col("id") % 37).cast("string").alias("v"))
    sa, sb = sketches.cm_sketch(a, "v"), sketches.cm_sketch(b, "v")
    assert sa.count() <= 4 * 1024
    # merging = summing counters == sketching the union
    merged = (
        sa.unionByName(sb).groupBy("row", "slot").agg(F.sum("cnt").alias("cnt"))
    )
    direct = sketches.cm_sketch(a.unionByName(b), "v")
    assert sorted(merged.collect()) == sorted(direct.collect())


# ------------------------------------------------------------ sampling


def test_hash_sample_deterministic_and_proportional(spark):
    from ubdc_airbnb_spark.operators import sampling

    df = spark.range(20_000).select(F.col("id").cast("string").alias("k"))
    s1 = {r.k for r in sampling.hash_sample(df, "k", 0.1).collect()}
    s2 = {r.k for r in sampling.hash_sample(df.repartition(7), "k", 0.1).collect()}
    assert s1 == s2  # stable under repartitioning
    assert abs(len(s1) - 2_000) < 300
    # nested fractions: a 5% sample is a subset of the 10% sample
    s3 = {r.k for r in sampling.hash_sample(df, "k", 0.05).collect()}
    assert s3 <= s1


def test_split_covers_and_respects_weights(spark):
    from ubdc_airbnb_spark.operators import sampling

    df = spark.range(50_000).select(F.col("id").cast("string").alias("k"))
    out = sampling.split(df, "k", (("train", 0.8), ("val", 0.1), ("test", 0.1)))
    counts = {r.split: r.c for r in out.groupBy("split").agg(F.count("*").alias("c")).collect()}
    assert set(counts) == {"train", "val", "test"}  # no NULL remainder
    assert abs(counts["train"] - 40_000) < 1_000
    assert abs(counts["val"] - 5_000) < 400


# ------------------------------------------------------------ profiling


def test_profile_table_counts_and_nulls(spark):
    from ubdc_airbnb_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b")], "id long, v string"
    )
    got = {r["column"]: r for r in profile_table(df, ["id", "v"]).collect()}
    assert got["id"].n_rows == 4 and got["id"].n_nulls == 0
    assert got["v"].n_nulls == 1
    assert got["v"].min_value == "a" and got["v"].max_value == "b"
    # 2 distinct non-null values; HLL at this size is exact-ish
    assert abs(got["v"].n_distinct_est - 2) < 0.5
    assert abs(got["id"].n_distinct_est - 4) < 1.0


# ----------------------------------------------- histogram quantile sketch


def test_histogram_quantiles_within_width(spark):
    vals = spark.range(1, 10_001).select((F.col("id") * 3.7).alias("v"))
    width = 50.0
    sk = sketches.histogram_sketch(vals, "v", width)
    est = {r.q: r.est for r in sketches.histogram_quantiles(sk, width).collect()}
    exact = vals.selectExpr(
        "percentile_cont(0.5) WITHIN GROUP (ORDER BY v) AS p50",
        "percentile_cont(0.9) WITHIN GROUP (ORDER BY v) AS p90",
        "percentile_cont(0.99) WITHIN GROUP (ORDER BY v) AS p99",
    ).collect()[0]
    assert abs(est[0.5] - exact.p50) <= width
    assert abs(est[0.9] - exact.p90) <= width
    assert abs(est[0.99] - exact.p99) <= width


def test_histogram_sketch_merges(spark):
    a = spark.range(0, 500).select((F.col("id") * 1.0).alias("v"))
    b = spark.range(500, 1000).select((F.col("id") * 1.0).alias("v"))
    both = a.unionByName(b)
    merged = (
        sketches.histogram_sketch(a, "v", 10.0)
        .unionByName(sketches.histogram_sketch(b, "v", 10.0))
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = sketches.histogram_sketch(both, "v", 10.0)
    assert {tuple(r) for r in merged.collect()} == {tuple(r) for r in direct.collect()}


# ----------------------------------------------------------- heavy hitters


def test_heavy_hitters_matches_plain_having(spark):
    df = spark.range(0, 4000).select(
        F.col("id").alias("event_id"),
        # five hot keys (400 rows each), long tail of singletons
        F.when(F.col("id") % 2 == 0, (F.col("id") % 10).cast("string"))
        .otherwise(F.concat(F.lit("tail"), F.col("id").cast("string")))
        .alias("k"),
    )
    from ubdc_airbnb_spark.operators.sketches import heavy_hitters

    got = {
        (r.k, r.cnt)
        for r in heavy_hitters(
            df, "k", F.col("event_id").cast("string"), threshold=100
        ).collect()
    }
    want = {
        (r.k, r.cnt)
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).filter("cnt >= 100").collect()
    }
    assert got == want
    assert len(want) == 5


# ------------------------------------------------- grouped sketch variants


def test_hll_by_group_accuracy(spark):
    from ubdc_airbnb_spark.operators import sketches

    df = spark.range(0, 20_000).select(
        (F.col("id") % 4).alias("g"),
        # group g has ~ (g+1)*500 distinct keys
        (F.col("id") % ((F.col("id") % 4 + 1) * 500)).cast("string").alias("k"),
    )
    regs = sketches.hll_registers_by(df, ["g"], "k", b=12)
    est = {r.g: r.est for r in sketches.hll_estimate_by(regs, ["g"], b=12).collect()}
    exact = {
        r.g: r.n for r in df.groupBy("g").agg(F.countDistinct("k").alias("n")).collect()
    }
    for g, n in exact.items():
        assert abs(est[g] - n) / n < 0.15, (g, est[g], n)


def test_grouped_quantile_sketch_within_width(spark):
    from ubdc_airbnb_spark.operators import sketches

    df = spark.range(1, 10_001).select(
        (F.col("id") % 3).alias("g"), (F.col("id") * 2.0).alias("v")
    )
    width = 40.0
    sk = (
        df.select("g", F.floor(F.col("v") / width).cast("long").alias("bucket"))
        .groupBy("g", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    est = {
        (r.g, r.q): r.est
        for r in sketches.histogram_quantiles_by(sk, ["g"], width, qs=(0.5, 0.95)).collect()
    }
    exact = df.groupBy("g").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").alias("p50"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY v)").alias("p95"),
    ).collect()
    # bound is vs the discrete percentile (an actual data value): the
    # sketch returns its bucket's upper edge, <= width away
    for r in exact:
        assert abs(est[(r.g, 0.5)] - r.p50) <= width
        assert abs(est[(r.g, 0.95)] - r.p95) <= width


# -------------------------------------------------------------- KMV sketch


def test_kmv_estimate_accuracy(spark):
    from ubdc_airbnb_spark.operators import sketches

    df = spark.range(0, 5000).select(F.col("id").cast("string").alias("k"))
    est = sketches.kmv_estimate(sketches.kmv_sketch(df, "k", k=256), k=256).collect()[0]
    assert abs(est.est - 5000) / 5000 < 0.2  # ~1/sqrt(k) ≈ 6% expected


def test_kmv_small_set_is_exact(spark):
    from ubdc_airbnb_spark.operators import sketches

    df = spark.range(0, 40).select(F.col("id").cast("string").alias("k"))
    est = sketches.kmv_estimate(sketches.kmv_sketch(df, "k", k=256), k=256).collect()[0]
    assert est.est == 40.0


def test_kmv_intersection_accuracy(spark):
    from ubdc_airbnb_spark.operators import sketches

    # |A|=3000 (0..2999), |B|=3000 (1500..4499), |A∩B|=1500, |A∪B|=4500
    a = spark.range(0, 3000).select(F.col("id").cast("string").alias("k"))
    b = spark.range(1500, 4500).select(F.col("id").cast("string").alias("k"))
    sa = sketches.kmv_sketch(a, "k", k=256)
    sb = sketches.kmv_sketch(b, "k", k=256)
    row = sketches.kmv_intersection_estimate(sa, sb, k=256).collect()[0]
    assert abs(row.union_est - 4500) / 4500 < 0.25
    assert abs(row.intersection_est - 1500) / 1500 < 0.4  # Jaccard noise adds up
