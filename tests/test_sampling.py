"""Sampling and mixture operators: upsampling, exact stratified
samples, deterministic shuffles and temperature mixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR


# -------------------------------------------------------------- upsampling


def test_upsample_copy_counts(spark):
    from ubdc_airbnb_spark.operators import sampling

    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    out = sampling.upsample(df, F.lit(2.5), F.col("k").cast("string"))
    n = out.count()
    # 2 copies guaranteed + ~half a third: expect ~2500 +- deterministic
    assert 2300 <= n <= 2700
    per_key = out.groupBy("k").count()
    rng = per_key.agg(F.min("count").alias("lo"), F.max("count").alias("hi")).collect()[0]
    assert rng.lo == 2 and rng.hi == 3
    # deterministic: identical on re-run
    assert sampling.upsample(df, F.lit(2.5), F.col("k").cast("string")).count() == n


def test_upsample_subsampling_weights(spark):
    from ubdc_airbnb_spark.operators import sampling

    df = spark.range(0, 2000).select(F.col("id").alias("k"))
    n = sampling.upsample(df, F.lit(0.25), F.col("k").cast("string")).count()
    assert 400 <= n <= 600  # ~25%, hash-deterministic


# --------------------------------------- stratified sampling and shuffling


def test_stratified_sample_exact_counts_and_determinism(spark):
    from ubdc_airbnb_spark.operators.sampling import stratified_sample_exact
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    sizes = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    out = stratified_sample_exact(docs, ["source"], "doc_id", 3)
    got = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {s: min(3, n) for s, n in sizes.items()}
    # deterministic: identical keys win on a second run and after repartition
    again = stratified_sample_exact(docs.repartition(7), ["source"], "doc_id", 3)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(r["doc_id"] for r in again.collect())


def test_deterministic_shuffle_contract(spark):
    from ubdc_airbnb_spark.operators.sampling import deterministic_shuffle
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    out = deterministic_shuffle(docs, "doc_id", n_shards=4).select("doc_id", "shard", "position")
    rows = out.collect()
    assert len(rows) == docs.count()
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.position)
    assert set(by_shard) <= set(range(4))
    for shard, positions in by_shard.items():
        assert sorted(positions) == list(range(len(positions)))  # contiguous 0..n-1
    # stable under repartitioning (no RNG anywhere)
    again = deterministic_shuffle(docs.repartition(5), "doc_id", n_shards=4)
    assert sorted(map(tuple, rows)) == sorted(
        map(tuple, again.select("doc_id", "shard", "position").collect())
    )


# ---------------------------------------------------------------- mixtures


def test_temperature_mix_boosts_small_sources(spark):
    """α=0.5 sampling must pick a HIGHER rate for a small source than a
    large one, and the realized counts must track rate·n."""
    from ubdc_airbnb_spark.operators.sampling import temperature_mix

    rows = [(i, "big") for i in range(900)] + [(i + 1000, "small") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = temperature_mix(df, "src", "doc_id", target_fraction=0.5)
    rates = {r.src: r.rate_ppm for r in out.select("src", "rate_ppm").distinct().collect()}
    # proportional-to-sqrt: rate ∝ sqrt(n)/n, so small/big = (20/400)/(30/900) = 1.5
    assert abs(rates["small"] / rates["big"] - 1.5) < 1e-5
    picked = {r[0]: r[1] for r in out.groupBy("src").count().collect()}
    for src, n in (("big", 900), ("small", 400)):
        assert abs(picked[src] - n * rates[src] / 1e6) < 0.15 * n  # hash-uniformity tolerance
    # determinism across partitionings
    again = temperature_mix(df.repartition(7), "src", "doc_id", target_fraction=0.5)
    assert sorted(r.doc_id for r in out.collect()) == sorted(r.doc_id for r in again.collect())
