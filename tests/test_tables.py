"""``sources.tables``: the parquet table loader and the warm table cache."""

from __future__ import annotations

import os
import re
import shutil

import pytest

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
