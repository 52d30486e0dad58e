"""``sources.tables``: the parquet table loader, the warm table cache and
the driver-side row estimators."""

from __future__ import annotations

import os
import re
import shutil

import pytest

from pyspark.sql import functions as F

from ubdc_airbnb_spark.sources import tables

from conftest import SF_DIR


def test_load_table_truncated_parquet_raises_with_path(spark, tmp_path):
    """A damaged table must fail loudly at load, naming its file — not
    load with its nanosecond timestamps left unconverted."""
    src = os.path.join(SF_DIR, "events.parquet")
    bad = tmp_path / "events.parquet"
    with open(src, "rb") as f:
        data = f.read()
    bad.write_bytes(data[: len(data) // 2])
    with pytest.raises(ValueError, match=re.escape(str(bad))):
        tables.load_table(spark, str(tmp_path), "events")


def test_warm_cache_matches_uncached_tables(spark, tmp_path):
    """The concurrent warm-up caches every table under its own name,
    partitioned as asked, with the columns and row count a plain load
    reads."""
    for name in tables.TABLE_NAMES:
        shutil.copy(os.path.join(SF_DIR, f"{name}.parquet"), tmp_path)
    sf = str(tmp_path)
    try:
        tables.warm_cache(spark, sf, partitions=3)
        for name in tables.TABLE_NAMES:
            cached = tables._CACHE[(sf, name)]
            assert cached.rdd.getNumPartitions() == 3
            assert cached.is_cached
            plain = tables.load_table(spark, sf, name, use_cache=False)
            assert cached.schema == plain.schema
            assert cached.count() == plain.count()
    finally:
        _drop_cache(sf)


def test_warm_cache_failure_raises_and_registers_the_rest(spark, tmp_path):
    """One damaged table fails the warm-up loudly; every table that did
    materialize is still registered, so no cached frame is left unowned."""
    for name in tables.TABLE_NAMES:
        shutil.copy(os.path.join(SF_DIR, f"{name}.parquet"), tmp_path)
    (tmp_path / "orders.parquet").write_bytes(b"not parquet")
    sf = str(tmp_path)
    try:
        with pytest.raises(ValueError, match=re.escape(str(tmp_path / "orders.parquet"))):
            tables.warm_cache(spark, sf, partitions=2)
        assert {n for s, n in tables._CACHE if s == sf} == set(tables.TABLE_NAMES) - {"orders"}
    finally:
        _drop_cache(sf)


def _drop_cache(sf: str) -> None:
    for name in tables.TABLE_NAMES:
        df = tables._CACHE.pop((sf, name), None)
        if df is not None:
            df.unpersist()


def _toy_corpus(spark, n):
    rows = [(i, [float(i), 1.0]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_footer_rows_estimate(spark, tmp_path):
    path = str(tmp_path / "emb_est.parquet")
    _toy_corpus(spark, n=37).write.parquet(path)
    df = spark.read.parquet(path)
    assert tables._footer_rows(df) == 37
    # derived frames still resolve to the source scan's footers
    assert tables._footer_rows(df.filter(F.col("vec_id") > 5).select("embedding")) == 37
    # in-memory frames: unknown -> None
    assert tables._footer_rows(_toy_corpus(spark, n=3)) is None


def test_plan_stats_rows_covers_cached_and_local_frames(spark, tmp_path):
    """The warm-cache case the footer path cannot see: a frame whose
    optimized plan is a materialized InMemoryRelation has empty
    inputFiles but EXACT stats."""
    path = str(tmp_path / "emb_cached.parquet")
    _toy_corpus(spark, n=41).write.parquet(path)
    cached = spark.read.parquet(path).repartition(4).cache()
    cached.count()  # materialize so the cache stats are exact
    try:
        # a NEW frame over the same plan resolves to the InMemoryRelation
        probe = cached.select("vec_id", "embedding")
        assert probe.inputFiles() == []  # the footer path is blind here
        assert tables._approx_rows(probe) == 41
        # RDD-backed frames (createDataFrame) carry no rowCount stat:
        # unknown -> None -> callers assume BIG (the safe side)
        assert tables._approx_rows(_toy_corpus(spark, n=7)) is None
    finally:
        cached.unpersist()
