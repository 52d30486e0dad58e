"""``plans.discovery.discover``: the Spark-job budget of a wave and the
one-shot resolution of the per-wave listing runs.

Both tests read one 3-wave discovery over a FIFO mock whose pages hold
the cases the resolution must order: a listing seen again in a later
wave with different attributes, a listing repeated within one response
and across two responses of one wave, NULL ids, a 429 page and an empty
page. The expected listings come from a brute-force Python resolution
of the same pages.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ubdc_airbnb_spark.functions.quadkey import lonlat_to_quadkey
from ubdc_airbnb_spark.plans import discovery
from ubdc_airbnb_spark.sources.mock_api import MockAirbnbApi

QK = "0313131311"

#: jobs one wave may run: fetch barrier, parse + metadata collect, with
#: room for the final resolution spread over the waves
_JOBS_PER_WAVE = 8


def _row(lid, k):
    """(listing_id, lon, lat, host_id, city) — attributes vary with ``k``."""
    return (lid, -4.25 + k / 1000, 55.86 + k / 1000, 300_000 + k, f"city{k}")


#: per wave, the responses in frontier order: (quadkey, offset, status,
#: has_next_page, listing rows)
WAVES = [
    [(QK, 0, 200, True, [_row(1, 1), _row(None, 2), _row(2, 3)])],
    [
        (QK + "0", 0, 200, True, [_row(1, 4)]),
        (QK + "1", 0, 200, False, [_row(3, 5), _row(3, 6), _row(None, 7)]),
        (QK + "2", 0, 200, False, [_row(3, 8), _row(4, 9)]),
        (QK + "3", 0, 429, False, []),
    ],
    [
        (QK + "00", 0, 200, False, [_row(2, 10)]),
        (QK + "01", 0, 200, False, [_row(5, 11), _row(None, 12), _row(None, 13)]),
        (QK + "02", 0, 200, False, []),
        (QK + "03", 0, 200, False, [_row(4, 14)]),
    ],
]


def _page(rows, has_next: bool) -> str:
    """A search payload with ``rows`` spread over two listing sections."""
    entries = [
        {"listing": {"id": lid, "lng": lon, "lat": lat, "city": city, "user": {"id": host}}}
        for lid, lon, lat, host, city in rows
    ]
    half = (len(entries) + 1) // 2
    return json.dumps(
        {
            "explore_tabs": [
                {
                    "pagination_metadata": {"has_next_page": has_next, "items_offset": len(rows)},
                    "sections": [{}, {"listings": entries[:half]}, {"listings": entries[half:]}],
                }
            ],
            "metadata": {},
        }
    )


def _brute_force(waves):
    """Latest wave wins; within a wave the smallest (quadkey, offset,
    position); a NULL id is no key, so each wave keeps its first one."""
    best: dict = {}
    for wave, responses in enumerate(waves, 1):
        for qk, offset, status, _, rows in responses:
            if status != 200:
                continue
            for pos, row in enumerate(rows):
                key = row[0] if row[0] is not None else ("null", wave)
                rank = (-wave, qk, offset, pos)
                if key not in best or rank < best[key][0]:
                    best[key] = (rank, row)
    return [row for _, row in best.values()]


def _sorted(rows):
    return sorted(rows, key=lambda r: (r[0] is None, r[0] or 0, r[-1]))


@pytest.fixture(scope="module")
def discovered(spark):
    api = MockAirbnbApi(auto=False)
    for responses in WAVES:
        for _, _, status, has_next, rows in responses:
            api.enqueue(status, _page(rows, has_next) if status == 200 else "")
    sc = spark.sparkContext
    sc.setJobGroup("test-discovery", "3-wave discovery")
    try:
        res = discovery.discover(spark, api, [QK])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return res, sc.statusTracker().getJobIdsForGroup("test-discovery")


def test_discover_runs_a_bounded_number_of_jobs_per_wave(discovered):
    res, jobs = discovered
    assert res.waves == 3 and res.fetches == 9
    assert len(jobs) <= _JOBS_PER_WAVE * res.waves, f"{len(jobs)} jobs in {res.waves} waves"
    # the per-wave counters come from the same metadata collect
    assert [w["status"] for w in res.wave_stats] == [{200: 1}, {200: 3, 429: 1}, {200: 4}]
    assert [w["splits"] for w in res.wave_stats] == [1, 1, 0]


def test_discover_listings_match_brute_force_resolution(spark, discovered):
    res, _ = discovered
    cols = ["listing_id", "lon", "lat", "host_id", "city"]
    want = _brute_force(WAVES)
    assert len(want) == 8  # ids 1-5 and one NULL-id row per wave
    got = res.listings.collect()
    assert _sorted([tuple(r[c] for c in cols) for r in got]) == _sorted(want)

    # the depth-22 bucket is the winning row's, not another wave's
    expect_qk = spark.createDataFrame(want, "listing_id long, lon double, lat double, "
                                            "host_id long, city string")
    expect_qk = {
        r.city: r.quadkey
        for r in expect_qk.select("city", lonlat_to_quadkey("lon", "lat", 22).alias("quadkey"))
        .collect()
    }
    assert {r.city: r.quadkey for r in got} == expect_qk

    # grid counts: distinct non-NULL ids of each finalized response
    assert sorted(res.splits) == [QK, QK + "0"]
    grids = {r.quadkey: r.estimated_listings for r in res.grids.collect()}
    assert grids == {
        QK + "1": 1, QK + "2": 2, QK + "3": 0,
        QK + "00": 1, QK + "01": 1, QK + "02": 0, QK + "03": 1,
    }
    assert res.bronze.filter(F.col("is_retriable")).count() == 1
