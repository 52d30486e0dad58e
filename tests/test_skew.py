"""Skew handling at scale: AQE skew-join split (runtime re-plan) and the
manual salted-join fallback agree with a plain join.

The reference never faces skew (row-at-a-time Django ORM); this is part
of the 100 TB design surface (SCALE.md): a hot key (one city / one
quadkey prefix with half the listings) must not serialize a join onto
one reducer.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ubdc_airbnb_spark.operators import skew
from ubdc_airbnb_spark.operators.joins import salted_join


def _final_plan(df) -> str:
    # AQE rewrites the plan at runtime; read the *executed* plan
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def skewed(spark):
    # one key owns ~90% of 200k rows; 8 other keys share the rest
    big = spark.range(200_000).select(
        F.when(F.col("id") % 100 < 91, F.lit(0).cast("long"))
        .otherwise((F.col("id") % 10).cast("long"))
        .alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 100).alias("dim"))
    return big, small


def test_aqe_splits_skewed_join(spark, skewed):
    """With AQE skew-join on and thresholds sized to the toy data, the
    executed plan must mark the sort-merge join's skewed side as split
    (``skew=true``) — the runtime re-plan that keeps a hot key from
    serializing onto one reducer at 100 TB."""
    big, small = skewed
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
        )
    }
    try:
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        # thresholds sized to the toy shuffle (~tens of KB/partition);
        # production keeps the 256MB/5x defaults
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        # force a sort-merge join: skew split doesn't apply to broadcasts
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # a downstream agg would reuse the join partitioning; force lets
        # AQE split anyway rather than decline to add the agg's shuffle
        conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        joined = big.join(small.hint("merge"), "k")
        rows = joined.collect()
        from collections import Counter

        per_key = Counter(r.k for r in rows)
        assert per_key[0] > 150_000 and len(per_key) == 10
        assert all(r.dim == r.k * 100 for r in rows[:1000])
        assert "skew=true" in _final_plan(joined)
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_salted_join_matches_plain_join(spark, skewed):
    """The pre-AQE fallback (explicit salting, operators/joins.py): same
    result set as the plain join, with the small side replicated per
    salt so the hot key spreads over ``salt`` reducers."""
    big, small = skewed
    plain = big.join(small, "k").groupBy("k").agg(F.sum("payload").alias("s"))
    salted = (
        salted_join(big, small, "k", salt=8)
        .groupBy("k")
        .agg(F.sum("payload").alias("s"))
    )
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_key_skew_report_detects_hot_key(spark):
    from ubdc_airbnb_spark.operators.skew import key_skew_report

    rows = [(1,)] * 90 + [(k,) for k in range(2, 12)]  # key 1 is 90x hotter
    df = spark.createDataFrame(rows, "k long")
    out = key_skew_report(df, "k", top=3).collect()
    assert [r.key for r in out] == ["1", "10", "11"]
    top = out[0]
    assert top.cnt == 90 and abs(top.share - 0.9) < 1e-12
    # imbalance = max / mean = 90 / (100/11)
    assert abs(top.imbalance - 90 / (100 / 11)) < 1e-9
    # plan: the top-k must be TakeOrdered, not a global sort
    plan = key_skew_report(df, "k", top=3)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_join_size_estimate_matches_actual_join(spark):
    from ubdc_airbnb_spark.operators.skew import join_size_estimate

    a = spark.createDataFrame([(k,) for k in [1, 1, 1, 2, 3, 3]], "k long")
    b = spark.createDataFrame([(k,) for k in [1, 1, 2, 4]], "k long")
    [r] = join_size_estimate(a, b, "k").collect()
    actual = a.join(b, "k").count()
    assert r.join_rows == actual == 3 * 2 + 1 * 1
    assert r.n_matching_keys == 2
    assert (r.max_key_rows, r.max_key) == (6, "1")


# -------------------------------------------- salted two-phase aggregation


def test_salted_agg_matches_plain(spark):
    df = spark.range(0, 5000).select(
        F.col("id").alias("row_id"),
        # one hot key holding ~80% of rows + a long tail
        F.when(F.col("id") % 5 != 0, F.lit("hot")).otherwise(
            F.concat(F.lit("t"), (F.col("id") % 97).cast("string"))
        ).alias("key"),
        (F.col("id") % 13).cast("double").alias("v"),
    )
    got = {
        (r.key, r.n, float(r.s), r.lo, r.hi)
        for r in skew.salted_agg(
            df,
            ["key"],
            "row_id",
            [
                skew.count_agg("n"),
                skew.sum_agg(F.col("v").cast("decimal(18,2)"), "s"),
                skew.min_agg("v", "lo"),
                skew.max_agg("v", "hi"),
            ],
        ).collect()
    }
    want = {
        (r.key, r.n, float(r.s), r.lo, r.hi)
        for r in df.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)")).alias("s"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    assert got == want


def test_salted_agg_spreads_hot_key(spark):
    """Phase-1 output must contain multiple salt partials for the hot key."""
    df = spark.range(0, 1000).select(
        F.col("id").alias("row_id"), F.lit("hot").alias("key"), F.lit(1.0).alias("v")
    )
    from ubdc_airbnb_spark.functions.hashing import md5_long

    partial = df.groupBy(
        "key", (md5_long("row_id", salt="skew") % 16).alias("__salt")
    ).count()
    assert partial.count() == 16  # all fanout slots used at n=1000
