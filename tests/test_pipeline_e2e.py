"""End-to-end pipeline tests — the Spark analog of the reference's
beat-op tests (ref tests/beat_ops/*, tests/tasks/*): mocked API fed by a
FIFO queue, state-based count/invariant assertions.

Key parametrized invariants reproduced from
tests/tasks/test_task_register_listings_or_divide_at_quadkey.py:16-46:
one-page grid registers listings without splitting; a paginated grid
below max depth splits into exactly 4 children; a paginated grid at max
depth follows pagination instead.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ubdc_airbnb_spark.functions.quadkey import lonlat_to_quadkey
from ubdc_airbnb_spark.operators import extract
from ubdc_airbnb_spark.plans import discovery, harvest, ledger
from ubdc_airbnb_spark.sources import payloads
from ubdc_airbnb_spark.sources.bronze import make_response_rows
from ubdc_airbnb_spark.sources.mock_api import MockAirbnbApi

QK = "0313131311"  # a depth-10 quadkey


def _bronze_df(spark, items, _type="SRH"):
    rows = [
        (i, lid, _type, 200, body, "https://mock/x", 1, None)
        for i, (lid, body) in enumerate(items)
    ]
    raw = spark.createDataFrame(
        rows,
        "response_id long, listing_id long, _type string, status_code int, "
        "body string, url string, seconds_to_complete int, task_id string",
    ).withColumn("created_at", F.expr("TIMESTAMP '2024-01-02 00:00:00'"))
    return make_response_rows(raw)


# ------------------------------------------------------------ discovery


def _single_page_api() -> MockAirbnbApi:
    api = MockAirbnbApi(auto=False)
    api.enqueue(200, payloads.search_payload(QK, has_next_page=False, number_of_listings=10))
    return api


def _split_api() -> MockAirbnbApi:
    api = MockAirbnbApi(auto=False)
    api.enqueue(200, payloads.search_payload(QK, has_next_page=True))
    for d in "0123":
        api.enqueue(200, payloads.search_payload(QK + d, has_next_page=False, number_of_listings=5))
    return api


DEEP = QK + "0" * 12  # depth 22


def _depth_cap_api() -> MockAirbnbApi:
    api = MockAirbnbApi(auto=False)
    api.enqueue(200, payloads.search_payload(DEEP, has_next_page=True, items_offset=0))
    api.enqueue(200, payloads.search_payload(DEEP, has_next_page=False, items_offset=10))
    return api


def test_discovery_single_page_registers_listings(spark):
    """ref test_task_register_listings_or_divide_at_quadkey.py:80-103 —
    a 1-page grid registers its listings and does not split."""
    res = discovery.discover(spark, _single_page_api(), [QK])
    assert res.waves == 1 and res.fetches == 1
    assert res.splits == []
    assert res.listings.count() == 10
    grids = {r.quadkey: r.estimated_listings for r in res.grids.collect()}
    assert grids == {QK: 10}
    # every extracted listing's depth-22 quadkey descends from the grid
    for r in res.listings.collect():
        assert r.quadkey.startswith(QK)


def test_discovery_paginated_grid_splits_into_4(spark):
    """ref :16-46 — pagination below max depth → split into exactly 4
    children, children fetched next wave."""
    res = discovery.discover(spark, _split_api(), [QK])
    assert res.splits == [QK]
    assert res.waves == 2 and res.fetches == 5
    grids = {r.quadkey for r in res.grids.collect()}
    assert grids == {QK + d for d in "0123"}
    assert QK not in grids  # parent replaced transactionally (G17)


def test_discovery_at_max_depth_follows_pagination(spark):
    """ref :16-46 deep-grid case — at MAX_GRID_LEVEL pagination is
    followed, no split."""
    res = discovery.discover(spark, _depth_cap_api(), [DEEP], max_level=22)
    assert res.splits == []
    assert res.fetches == 2
    assert res.grids.collect()[0].quadkey == DEEP


@pytest.mark.parametrize(
    "make_api, seed, waves, depth_cap_pages",
    [(_single_page_api, QK, [1], [0]), (_split_api, QK, [1, 4], [0, 0]),
     (_depth_cap_api, DEEP, [1, 1], [1, 0])],
    ids=["single_page", "split", "depth_cap"],
)
def test_discovery_wave_stats_match_fetches_and_splits(
    spark, make_api, seed, waves, depth_cap_pages
):
    """The per-wave counters add up to the run's fetches and splits."""
    res = discovery.discover(spark, make_api(), [seed], max_level=22)
    stats = res.wave_stats
    assert [w["wave"] for w in stats] == list(range(1, res.waves + 1))
    assert [w["frontier"] for w in stats] == waves
    assert sum(w["frontier"] for w in stats) == res.fetches
    assert [sum(w["status"].values()) for w in stats] == waves
    assert all(set(w["status"]) == {200} for w in stats)
    assert sum(w["splits"] for w in stats) == len(res.splits)
    assert [w["depth_cap_pages"] for w in stats] == depth_cap_pages
    assert all(w["wall_s"] > 0 for w in stats)


# ------------------------------------------------------------ extraction


def test_search_listings_follow_the_payload_walk(spark):
    """X1/X3 over payloads with two tabs, sections without listings and a
    response without tabs: one row per listing entry, in payload order,
    with the depth-22 quadkey; pagination reads the first tab."""
    tabs = [
        json.loads(payloads.search_payload(QK + d, has_next_page=d == "0", number_of_listings=3))[
            "explore_tabs"
        ][0]
        for d in "01"
    ]
    tabs[1]["sections"].append({"listings": None})
    bodies = [json.dumps({"explore_tabs": tabs}), json.dumps({"metadata": {}})]
    bronze = _bronze_df(spark, [(None, b) for b in bodies])

    want = [
        (0, l["id"], l["lng"], l["lat"], l["city"], l["user"]["id"])
        for t in tabs
        for s in t["sections"]
        for l in (e["listing"] for e in s.get("listings") or [])
    ]
    got = extract.search_listings(bronze)
    assert got.columns == ["response_id", "listing_id", "lon", "lat", "city", "host_id", "quadkey"]
    rows = got.collect()
    assert [tuple(r)[:6] for r in rows] == want
    qk = spark.createDataFrame([w[2:4] for w in want], "lon double, lat double").select(
        lonlat_to_quadkey("lon", "lat", extract.QK_DEPTH)
    )
    assert [r.quadkey for r in rows] == [r[0] for r in qk.collect()]

    page = {r.response_id: r for r in extract.search_pagination(bronze).collect()}
    assert (page[0].has_next_page, page[0].items_offset) == (True, 3)
    assert page[1].has_next_page is None


def test_calendar_extraction_and_booking_window(spark):
    body = payloads.calendar_payload(4242, months=2)
    bronze = _bronze_df(spark, [(4242, body)], _type="CAL")
    days = extract.calendar_days(bronze)
    n = days.count()
    assert n == 60  # 2 months x 30 days
    got = days.filter(F.col("listing_id") == 4242).select("date", "available").collect()
    assert all(r.date is not None for r in got)

    window = harvest.derive_booking_window(days, today_expr="DATE '2024-01-01'")
    rows = window.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.check_in is not None and r.check_out > r.check_in
    # oracle: replay the reference's imperative scan (airbnb_api.py:447-480)
    cal = json.loads(body)
    entries = [d for m in cal["calendar_months"] for d in m["days"]]
    stays, ci, mn, co = 0, None, 0, None
    from datetime import date as _date

    for e in entries:
        d = _date.fromisoformat(e["date"])
        if d <= _date(2024, 1, 1):
            continue
        stays += 1
        if e["available_for_checkin"]:
            if ci is None:
                ci, mn, stays = d, e["min_nights"], 1
                continue
            if d != ci and stays >= mn:
                co = d
                break
    assert (r.check_in, r.check_out) == (ci, co)


def test_review_extraction_persists_rows_and_users(spark):
    """The reference drops its built review rows on the floor
    (tasks.py:85-94 — no save); we persist them, matching the intended
    behavior its tests assert."""
    body = payloads.review_payload(777, n_reviews=20, reviews_count=350)
    bronze = _bronze_df(spark, [(777, body)], _type="RVW")
    reviews = extract.review_rows(bronze)
    assert reviews.count() == 20
    assert reviews.filter(F.col("listing_id") == 777).count() == 20
    users = extract.review_users(bronze)
    assert users.count() > 0
    # picture URLs lose their query string (X5)
    assert all("?" not in (r.picture_url or "") for r in users.collect())
    counts = extract.reviews_count(bronze).collect()[0]
    assert counts.reviews_count == 350
    offsets = harvest.review_page_offsets(
        extract.reviews_count(bronze), page_size=100
    ).collect()
    assert sorted(r.offset for r in offsets) == [0, 100, 200, 300]


def test_user_and_host_extraction(spark):
    bronze_u = _bronze_df(spark, [(None, payloads.user_payload(555))], _type="USR")
    u = extract.user_profile(bronze_u).collect()[0]
    assert u.user_id == 555
    assert "?" not in u.picture_url

    bronze_l = _bronze_df(
        spark, [(888, payloads.listing_detail_payload(888))], _type="LST"
    )
    hosts = extract.listing_detail_hosts(bronze_l).collect()
    assert len(hosts) == 2
    assert sum(1 for h in hosts if h.is_primary) == 1


def test_bronze_non_json_encapsulation_and_status_routing(spark):
    """S11/X10: non-JSON body → base64 envelope; 429 → retriable flag
    (persisted first, retried after — ref managers.py:141-195)."""
    items = [(1, "<html>not json</html>"), (2, payloads.user_payload(2))]
    rows = [
        (1, 1, "USR", 200, items[0][1], "u", 1, None),
        (2, 2, "USR", 429, items[1][1], "u", 1, None),
        (3, 3, "USR", 403, payloads.user_payload(3), "u", 1, None),
    ]
    raw = spark.createDataFrame(
        rows,
        "response_id long, listing_id long, _type string, status_code int, "
        "body string, url string, seconds_to_complete int, task_id string",
    ).withColumn("created_at", F.expr("TIMESTAMP '2024-01-02 00:00:00'"))
    bronze = make_response_rows(raw)
    got = {r.response_id: r for r in bronze.collect()}
    env = json.loads(got[1].payload)
    assert "base64_str" in env and "context_text" in env
    import base64

    assert base64.b64decode(env["base64_str"]).decode() == "<html>not json</html>"
    assert got[2].is_retriable and not got[2].was_successful
    assert not got[3].is_retriable and not got[3].was_successful  # 403 kept as final
    assert bronze.count() == 3  # ALL rows persisted, incl. retriables


def test_price_histogram_sum(spark):
    body = payloads.metadata_search_payload(QK, listings_count=42)
    hist = json.loads(body)["price_histogram"]["histogram"]
    bronze = _bronze_df(spark, [(None, body)], _type="SHM")
    got = bronze.select(extract.price_histogram_sum(bronze).alias("s")).collect()[0].s
    assert got == sum(hist)


def test_extract_generic_escape_hatch(spark):
    bronze = _bronze_df(spark, [(1, payloads.review_payload(1, n_reviews=3))], _type="RVW")
    got = extract.extract_generic(bronze, "$.reviews.*.author.id")
    assert got.count() == 3


# ------------------------------------------------------------ planners


def test_calendar_planner_full_composition(spark):
    """J2 + P7 + J6 + W1 + W6 in one plan, mirroring
    op_update_calendar_periodical (ref operations/calendars.py:84-133)."""
    listings = spark.createDataFrame(
        [
            # inside cover, stale -> due
            (1, "02000", None),
            (2, "02001", "2020-01-01 00:00:00"),
            # inside cover, fresh (far future) -> not due
            (3, "02002", "2999-01-01 00:00:00"),
            # outside cover -> not due
            (4, "31000", None),
            # inside cover but in-flight -> not due
            (5, "02003", None),
        ],
        "listing_id long, quadkey string, calendar_updated_at string",
    ).withColumn("calendar_updated_at", F.col("calendar_updated_at").cast("timestamp"))
    covers = spark.createDataFrame(
        [("02", True), ("31", False)], "qk_prefix string, collect_calendars boolean"
    )
    inflight = spark.createDataFrame([(5,)], "listing_id long")
    due = harvest.select_due_calendars(listings, covers, inflight, how_many=10)
    ids = sorted(r.listing_id for r in due.collect())
    assert ids == [1, 2]
    assert all(r.batch_id == 0 for r in due.collect())


def test_ledger_lifecycle(spark):
    """T2/T3/T6: submit → dedup window sees the keys → transition →
    claimable respects expiry and retry budget."""
    work = spark.createDataFrame(
        [(json.dumps({"listing_id": i}),) for i in (1, 2, 3)], "kw string"
    )
    led = ledger.submit_tasks(
        work,
        "task_update_calendar",
        "kw",
        now_expr="TIMESTAMP '2024-01-15 12:00:00'",
        expires_expr="TIMESTAMP '2024-01-15 23:59:59'",
    )
    assert led.count() == 3
    keys = ledger.inflight_keys(
        led, "listing_id", now_expr="TIMESTAMP '2024-01-16 00:00:00'", window_hours=24
    )
    assert sorted(r.listing_id for r in keys.collect()) == [1, 2, 3]
    # outside the 24h window -> empty
    keys2 = ledger.inflight_keys(
        led, "listing_id", now_expr="TIMESTAMP '2024-01-18 00:00:00'", window_hours=24
    )
    assert keys2.count() == 0

    one = led.limit(1).select("task_id")
    led2 = ledger.transition(led, one, "STARTED", "TIMESTAMP '2024-01-15 13:00:00'")
    led3 = ledger.transition(led2, one, "SUCCESS", "TIMESTAMP '2024-01-15 13:05:00'")
    done = led3.filter(F.col("status") == "SUCCESS").collect()
    assert len(done) == 1 and done[0].finished_at is not None

    claim = ledger.claimable(led3, now_expr="TIMESTAMP '2024-01-15 20:00:00'")
    assert claim.count() == 2  # the SUCCESS one is out
    late = ledger.claimable(led3, now_expr="TIMESTAMP '2024-01-16 20:00:00'")
    assert late.count() == 0  # all expired (T3)
