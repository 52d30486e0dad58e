"""Bloom runtime pruning: no false negatives, exact semi-join results,
a join-free probe plan and a sane false-positive rate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ubdc_airbnb_spark.operators import bloomfilter


@pytest.fixture(scope="module")
def fact_dim(spark):
    fact = spark.range(0, 2000).select(
        F.col("id").alias("row_id"), (F.col("id") % 300).cast("string").alias("k")
    )
    dim = spark.range(0, 40).select((F.col("id") * 7).cast("string").alias("k"))
    return fact, dim


def test_bloom_no_false_negatives(spark, fact_dim):
    fact, dim = fact_dim
    exact = set(
        r.row_id
        for r in fact.join(dim.distinct(), "k", "left_semi").collect()
    )
    survivors = set(
        r.row_id
        for r in bloomfilter.bloom_probe(
            fact, "k", bloomfilter.bloom_build(dim, "k")
        ).collect()
    )
    assert exact <= survivors  # Bloom may over-approve, never under


def test_bloom_prune_semi_join_exact(spark, fact_dim):
    fact, dim = fact_dim
    got = set(
        r.row_id for r in bloomfilter.bloom_prune_semi_join(fact, dim, "k", "k").collect()
    )
    want = set(r.row_id for r in fact.join(dim.distinct(), "k", "left_semi").collect())
    assert got == want


def test_bloom_probe_plan_is_join_free(spark, fact_dim):
    """The probe must be a pure filter over the fact scan: the bitmap is
    baked in as a literal, so no join/exchange node may appear."""
    fact, dim = fact_dim
    probed = bloomfilter.bloom_probe(fact, "k", bloomfilter.bloom_build(dim, "k"))
    plan = probed._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_bloom_fp_rate_sane(spark):
    """8192 bits / 100 keys / k=4 → theoretical fp ≈ 5e-6; assert the
    observed rate over 5000 non-member probes is far below 1%."""
    dim = spark.range(0, 100).select(F.col("id").cast("string").alias("k"))
    probes = spark.range(10_000, 15_000).select(F.col("id").cast("string").alias("k"))
    bloom = bloomfilter.bloom_build(dim, "k")
    fp = bloomfilter.bloom_probe(probes, "k", bloom).count()
    assert fp <= 50
