"""Incremental aggregate state: merging partial states equals the direct
aggregate, and the state holds one row per key."""

from __future__ import annotations

from pyspark.sql import functions as F

from ubdc_airbnb_spark.operators import incremental


def test_incremental_merge_equals_direct(spark):
    df = spark.range(0, 3000).select(
        (F.col("id") % 7).alias("g"),
        (F.col("id") % 101).cast("double").alias("v"),
        (F.col("id") < 1500).alias("is_base"),
    )
    base = incremental.partial_state(df.filter("is_base"), ["g"], "v")
    delta = incremental.partial_state(df.filter("NOT is_base"), ["g"], "v")
    merged = incremental.finalize(
        incremental.merge_states(base, delta, ["g"]), ["g"]
    )
    direct = df.groupBy("g").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        F.min("v").alias("min_value"),
        F.max("v").alias("max_value"),
        (
            F.sum(F.col("v").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1))
        ).alias("avg_value"),
    )
    got = {tuple(r) for r in merged.collect()}
    want = {tuple(r) for r in direct.collect()}
    assert got == want


def test_incremental_state_is_per_key(spark):
    df = spark.range(0, 100).select((F.col("id") % 5).alias("g"), F.lit(1.0).alias("v"))
    st = incremental.partial_state(df, ["g"], "v")
    assert st.count() == 5  # O(keys), not O(rows)
