"""Composed beat-op jobs: calendar harvest and grid estimation, e2e with
the deterministic fetcher — state-based assertions in the style of the
reference's beat-op tests (ref tests/beat_ops/)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from ubdc_airbnb_spark.functions import geometry as geo
from ubdc_airbnb_spark.plans import ops
from ubdc_airbnb_spark.sources import payloads
from ubdc_airbnb_spark.sources.http_fetch import fetch_batch, mock_fetcher


def test_fetch_batch_shapes_and_determinism(spark):
    work = spark.createDataFrame(
        [("calendar", "101", 0), ("user", "7", 0), ("nope", "1", 0)],
        "kind string, key string, offset long",
    )
    got = {(r.kind, r.key): r for r in fetch_batch(work, mock_fetcher).collect()}
    assert got[("calendar", "101")].status_code == 200
    assert json.loads(got[("calendar", "101")].body)["calendar_months"]
    assert got[("nope", "1")].status_code == 404
    again = {(r.kind, r.key): r.body for r in fetch_batch(work, mock_fetcher).collect()}
    assert again[("calendar", "101")] == got[("calendar", "101")].body


def test_calendar_harvest_advances_freshness(spark):
    """ref tests/beat_ops/test_op_update_calendar_periodical.py:62-71 —
    rows created, freshness stamps advanced, response linkage present."""
    listings = spark.createDataFrame(
        [(101, "02000", None), (102, "02001", None), (103, "31000", None)],
        "listing_id long, quadkey string, calendar_updated_at timestamp",
    )
    covers = spark.createDataFrame(
        [("02", True)], "qk_prefix string, collect_calendars boolean"
    )
    res = ops.run_calendar_harvest(spark, listings, covers)
    assert res.n_due == 2
    assert res.bronze.count() == 2
    # 12 months x 30 days per due listing
    assert res.calendar_days.count() == 2 * 360
    stamps = {r.listing_id: r.calendar_updated_at for r in res.listings.collect()}
    assert stamps[101] is not None and stamps[102] is not None
    assert stamps[103] is None  # outside the flagged cover: untouched
    assert res.listing_responses.count() == 2
    # re-run: everything fresh now -> nothing due (idempotent re-run, T4)
    res2 = ops.run_calendar_harvest(spark, res.listings, covers)
    assert res2.n_due == 0


def test_response_ids_are_unique_across_runs(spark):
    """Each fetch persists its own response: harvesting the same listings
    on another day appends new ids, so the bridge rows of two runs never
    point at one response; one run's ids are distinct, and a replay at
    the same instant reproduces them."""
    listings = spark.createDataFrame(
        [(101, "02000", None), (102, "02001", None), (103, "02002", None)],
        "listing_id long, quadkey string, calendar_updated_at timestamp",
    )
    covers = spark.createDataFrame([("02", True)], "qk_prefix string, collect_calendars boolean")

    def ids(now):
        res = ops.run_calendar_harvest(spark, listings, covers, now_expr=now)
        return [r.response_id for r in res.bronze.select("response_id").collect()]

    day1 = ids("TIMESTAMP '2024-03-01 02:00:00'")
    day2 = ids("TIMESTAMP '2024-03-02 02:00:00'")
    assert len(day1) == len(set(day1)) == 3
    assert not set(day1) & set(day2)
    assert sorted(ids("TIMESTAMP '2024-03-01 02:00:00'")) == sorted(day1)


def test_grid_estimate_splits_dense_grids(spark):
    """ref operations/grids.py:56-84 — grids with estimate >= less_than
    split into 4 children; sparse grids get stamped estimates."""
    grids = spark.createDataFrame(
        [("0310", -1, None), ("0311", -1, None)],
        "quadkey string, estimated_listings int, last_estimated_scan_at timestamp",
    )

    def fetcher(kind, key, offset):
        count = 100 if key == "0310" else 5
        return 200, payloads.search_payload(key, listings_count=count, number_of_listings=0), f"mock://{key}"

    res = ops.run_grid_estimate(spark, grids, fetcher, less_than=50)
    assert res.n_scanned == 2 and res.n_split == 1
    got = {r.quadkey: r for r in res.grids.collect()}
    assert "0310" not in got  # replaced by children
    assert {f"0310{d}" for d in "0123"} <= set(got)
    assert all(got[f"0310{d}"].estimated_listings == -1 for d in "0123")
    assert got["0311"].estimated_listings == 5
    assert got["0311"].last_estimated_scan_at is not None


def test_grid_estimate_respects_max_level(spark):
    deep = "0" * 22
    grids = spark.createDataFrame(
        [(deep, -1, None)],
        "quadkey string, estimated_listings int, last_estimated_scan_at timestamp",
    )

    def fetcher(kind, key, offset):
        return 200, payloads.search_payload(key, listings_count=1000, number_of_listings=0), "m"

    res = ops.run_grid_estimate(spark, grids, fetcher, less_than=50, max_level=22)
    assert res.n_split == 0
    got = res.grids.collect()
    assert len(got) == 1 and got[0].estimated_listings == 1000


def test_geometry_extras():
    sq = geo.parse_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
    assert abs(geo.area(sq) - 4.0) < 1e-12
    cx, cy = geo.centroid(sq)
    assert abs(cx - 1.0) < 1e-12 and abs(cy - 1.0) < 1e-12
    donut = geo.parse_wkt(
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
    )
    assert abs(geo.area(donut) - 15.0) < 1e-12
    buf = geo.buffer_bbox(sq, 1.0)
    assert geo.bbox(buf) == (-1.0, -1.0, 3.0, 3.0)


def test_review_harvest_parallel_pages(spark):
    """ref operations/reviews.py + tasks.py:32-94: page fan-out computed
    from reviews_count and fetched in parallel; users+reviews persisted;
    freshness stamps advanced."""
    listings = spark.createDataFrame(
        [(201, "02000", None), (202, "31000", None)],
        "listing_id long, quadkey string, reviews_updated_at timestamp",
    )
    covers = spark.createDataFrame(
        [("02", True)], "qk_prefix string, collect_reviews boolean"
    )
    res = ops.run_review_harvest(spark, listings, covers, page_size=100)
    assert res.n_due == 1
    # mock payload declares reviews_count=350 -> pages at offsets 0,100,200,300
    assert res.n_pages == 4
    assert res.reviews.count() > 0
    assert res.users.count() > 0
    stamps = {r.listing_id: r.reviews_updated_at for r in res.listings.collect()}
    assert stamps[201] is not None and stamps[202] is None
    # bridge to responses exists via review.response_id
    assert res.reviews.filter(F.col("response_id").isNull()).count() == 0


def test_booking_quotes_from_calendar(spark):
    """S7: windows derived from silver days, one quote per feasible
    listing, infeasible listings skipped."""
    rows = []
    from datetime import date, timedelta

    d0 = date(2024, 1, 2)
    # listing 301: checkin-able run -> feasible
    for i in range(5):
        rows.append((301, d0 + timedelta(days=i), True, True, 2, 1125, 100.0, 100.0, "GBP", "EUR"))
    # listing 302: never available for checkin -> infeasible
    for i in range(5):
        rows.append((302, d0 + timedelta(days=i), True, False, 2, 1125, 100.0, 100.0, "GBP", "EUR"))
    days = spark.createDataFrame(
        rows,
        "listing_id long, date date, available boolean, available_for_checkin boolean, "
        "min_nights int, max_nights int, local_price double, native_price double, "
        "local_currency string, native_currency string",
    )
    res = ops.run_booking_quotes(spark, days)
    wins = {r.listing_id: (r.check_in, r.check_out) for r in res.windows.collect()}
    assert set(wins) == {301}
    ci, co = wins[301]
    assert (co - ci).days >= 1
    assert res.n_quoted == 1
    assert res.bronze.filter(F.col("_type") == "BQT").count() == 1


def _users_df(spark, rows):
    from ubdc_airbnb_spark.plans.ops import placeholder_users

    ids = spark.createDataFrame([(r,) for r in rows], "user_id long")
    return placeholder_users(ids)


def test_listing_details_harvest(spark):
    """ref tests/beat_ops listing-details invariants + tasks.py:156-199:
    freshness stamps advance, hosts extracted, host users get_or_create'd
    as placeholders with is_superhost refreshed."""
    listings = spark.createDataFrame(
        [(888, "02000", None), (889, "02001", None), (900, "31000", None)],
        "listing_id long, quadkey string, listing_updated_at timestamp",
    )
    covers = spark.createDataFrame(
        [("02", True)], "qk_prefix string, collect_listing_details boolean"
    )
    users = _users_df(spark, [])
    res = ops.run_listing_details(spark, listings, covers, users)
    assert res.n_due == 2
    assert res.bronze.count() == 2
    # every detail payload carries a primary + one additional host (X2)
    assert res.hosts.count() == 4
    assert res.hosts.filter(F.col("is_primary")).count() == 2
    # host users exist as placeholders (J10 get_or_create)
    got = {r.user_id: r for r in res.users.collect()}
    assert len(got) == 4
    from ubdc_airbnb_spark.plans.ops import USER_PLACEHOLDER

    assert all(r.first_name == USER_PLACEHOLDER for r in got.values())
    # primary hosts are superhosts in the synthetic payloads
    assert any(r.is_superhost for r in got.values())
    stamps = {r.listing_id: r.listing_updated_at for r in res.listings.collect()}
    assert stamps[888] is not None and stamps[889] is not None
    assert stamps[900] is None  # outside flagged cover
    # idempotent re-run: everything fresh -> nothing due (T4)
    res2 = ops.run_listing_details(spark, res.listings, covers, res.users)
    assert res2.n_due == 0


def test_listing_details_superhost_flag_updates_existing_user(spark):
    """The reference saves is_superhost unconditionally on existing users
    (tasks.py:193-198) — flag must flip without touching other fields."""
    listings = spark.createDataFrame(
        [(888, "02000", None)],
        "listing_id long, quadkey string, listing_updated_at timestamp",
    )
    covers = spark.createDataFrame(
        [("02", True)], "qk_prefix string, collect_listing_details boolean"
    )
    from ubdc_airbnb_spark.operators import extract as _ex
    from ubdc_airbnb_spark.sources.http_fetch import fetch_batch as _fb

    # find the synthetic primary host id for listing 888
    body = payloads.listing_detail_payload(888)
    host_id = json.loads(body)["pdp_listing_detail"]["primary_host"]["id"]
    users = _users_df(spark, [host_id]).withColumn(
        "first_name", F.lit("Resolved Real Name")
    )
    res = ops.run_listing_details(spark, listings, covers, users)
    u = {r.user_id: r for r in res.users.collect()}[host_id]
    assert u.first_name == "Resolved Real Name"  # untouched
    assert u.is_superhost  # flag refreshed


def test_user_update_state_machine(spark):
    """ref tasks.py:314-335 + models.py:536-545: placeholder -> real on a
    valid payload; placeholder -> disabled on a failed fetch; a real user
    is never demoted by a failed fetch."""
    from ubdc_airbnb_spark.plans.ops import USER_DISABLED, USER_PLACEHOLDER

    users = _users_df(spark, [1, 2, 3]).withColumn(
        "first_name",
        F.when(F.col("user_id") == 3, F.lit("Existing Real")).otherwise(
            F.col("first_name")
        ),
    )

    def fetcher(kind, key, offset):
        if key == "2" or key == "3":
            return 500, "", f"mock://user/{key}"
        return 200, payloads.user_payload(int(key)), f"mock://user/{key}"

    res = ops.run_user_update(spark, users, fetcher)
    assert res.n_due == 3 and res.bronze.count() == 3
    got = {r.user_id: r for r in res.users.collect()}
    assert got[1].first_name not in (USER_PLACEHOLDER, USER_DISABLED)  # real now
    assert got[1].airbnb_listing_count is not None
    assert "?" not in (got[1].picture_url or "")  # X5 URL strip
    assert got[2].first_name == USER_DISABLED  # placeholder + failed fetch
    assert got[3].first_name == "Existing Real"  # never demoted
    assert all(r.user_updated_at is not None for r in got.values())


def test_user_update_retriable_fetch_leaves_placeholder(spark):
    """429/503 abort before the state machine runs (the reference raises
    UBDCRetriableError before touching the user) — the placeholder must
    survive for the retry loop."""
    from ubdc_airbnb_spark.plans.ops import USER_PLACEHOLDER

    users = _users_df(spark, [5])

    res = ops.run_user_update(
        spark, users, lambda k, key, o: (429, "", f"mock://user/{key}")
    )
    u = res.users.collect()[0]
    assert u.first_name == USER_PLACEHOLDER
    assert u.user_updated_at is None
