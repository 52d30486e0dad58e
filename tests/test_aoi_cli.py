"""AOI ingest (S9/S10, G4/G11/G12) + CLI surface tests."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from ubdc_airbnb_spark import cli
from ubdc_airbnb_spark.functions import geometry as geo
from ubdc_airbnb_spark.sources import aoi as aoi_mod


def test_prime_line_cut_fragment_counts():
    """Parametrized expected-fragment counts, mirroring the reference's
    cut-polygon tests (ref tests/units/test_units_test.py:232-260)."""
    no_cross = geo.parse_wkt("POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10))")
    assert len(geo.cut_polygon_at_prime_lines(no_cross)) == 1
    cross_meridian = geo.parse_wkt("POLYGON ((-10 10, 10 10, 10 20, -10 20, -10 10))")
    assert len(geo.cut_polygon_at_prime_lines(cross_meridian)) == 2
    cross_both = geo.parse_wkt("POLYGON ((-10 -10, 10 -10, 10 10, -10 10, -10 -10))")
    frags = geo.cut_polygon_at_prime_lines(cross_both)
    assert len(frags) == 4
    # fragments tile the original: total bbox area is preserved
    for f in frags:
        xmin, ymin, xmax, ymax = geo.bbox(f)
        assert xmax <= 0 or xmin >= 0
        assert ymax <= 0 or ymin >= 0


def test_bounding_tile():
    small = geo.parse_wkt("POLYGON ((10.0 50.0, 10.1 50.0, 10.1 50.1, 10.0 50.1, 10.0 50.0))")
    qk = geo.bounding_tile(small)
    assert len(qk) >= 5
    west, south, east, north = geo.quadkey_bbox(qk)
    assert west <= 10.0 and east >= 10.1 and south <= 50.0 and north >= 50.1
    # geometry straddling the prime meridian degenerates toward the world tile
    straddle = geo.parse_wkt("POLYGON ((-1 50, 1 50, 1 51, -1 51, -1 50))")
    assert len(geo.bounding_tile(straddle)) <= 1


def test_aoi_from_geojson_and_wkt(spark):
    gj = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": "santorini-ish"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[25.3, 36.3], [25.5, 36.3], [25.5, 36.5], [25.3, 36.5], [25.3, 36.3]]],
                },
            }
        ],
    }
    df = aoi_mod.aoi_from_geojson(spark, 1, json.dumps(gj), collect_calendars=True)
    r = df.collect()[0]
    assert r.name == "santorini-ish"
    assert r.geom_wkt.startswith("MULTIPOLYGON")  # Polygon promoted
    assert r.collect_calendars and not r.collect_reviews
    assert r.bbox.xmin == 25.3 and r.bbox.ymax == 36.5

    df2 = aoi_mod.aoi_from_wkt(spark, 2, "w", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    assert df2.collect()[0].geom_wkt.startswith("MULTIPOLYGON")


def test_seed_grids(spark):
    grids = aoi_mod.seed_grids(
        spark, "POLYGON ((-0.2 51.4, 0.1 51.4, 0.1 51.6, -0.2 51.6, -0.2 51.4))", depth=10
    )
    rows = grids.collect()
    assert rows
    assert all(r.estimated_listings == -1 for r in rows)
    assert all(len(r.bbox_ll_ur.split(",")) == 4 for r in rows)
    # straddles the prime meridian -> fragments on both sides, no world tile
    assert any(r.quadkey.startswith("0") or r.quadkey.startswith("1") for r in rows)


def test_cli_end_to_end(spark, tmp_path, capsys):
    wh = str(tmp_path / "warehouse")
    rc = cli.main(
        [
            "--warehouse", wh,
            "add-aoi", "--id", "1", "--name", "londonish",
            "--wkt", "POLYGON ((-0.2 51.4, 0.1 51.4, 0.1 51.6, -0.2 51.6, -0.2 51.4))",
            "--depth", "9",
            "--scan", "--calendars",
        ]
    )
    assert rc == 0
    rc = cli.main(["--warehouse", wh, "list-aoi", "--name-contains", "LONDON"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "londonish" in out
    rc = cli.main(["--warehouse", wh, "discover", "--max-waves", "1"])
    assert rc == 0
    out_dir = str(tmp_path / "export")
    rc = cli.main(
        ["--warehouse", wh, "export-data", "--table", "listings", "--output", out_dir,
         "--latest-per", "listing_id"]
    )
    assert rc == 0
    exported = spark.read.json(out_dir)
    assert exported.count() > 0


def test_cli_add_quadkey(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh2")
    rc = cli.main(["--warehouse", wh, "add-quadkey", "--quadkey", "0313131311"])
    assert rc == 0
    grids = spark.read.parquet(f"{wh}/grid")
    rows = grids.collect()
    assert len(rows) == 1 and rows[0].quadkey == "0313131311"


def _seed_warehouse(tmp_path, name="wh_beat"):
    wh = str(tmp_path / name)
    assert cli.main(
        ["--warehouse", wh, "add-aoi", "--id", "1", "--name", "beatland",
         "--wkt", "POLYGON ((-0.2 51.4, 0.1 51.4, 0.1 51.6, -0.2 51.6, -0.2 51.4))",
         "--depth", "9", "--scan", "--calendars", "--details", "--reviews", "--bookings"]
    ) == 0
    return wh


def test_cli_run_beat_job_pipeline(spark, tmp_path, capsys):
    """run-beat-job parity (ref run-beat-job.py:40-76): each beat op is
    invocable by its reference name and persists warehouse tables."""
    wh = _seed_warehouse(tmp_path)
    for job in (
        "op_discover_new_listings_periodical",
        "op_update_calendar_periodical",
        "op_update_listing_details_periodical",
        "op_get_users_details_periodical",
        "op_update_reviews_periodical",
        "op_get_booking_detail_periodical",
    ):
        assert cli.main(["--warehouse", wh, "run-beat-job", job]) == 0, job
        assert job in capsys.readouterr().out
    listings = spark.read.parquet(f"{wh}/listings")
    assert listings.count() > 0
    assert listings.filter(F.col("calendar_updated_at").isNotNull()).count() > 0
    assert spark.read.parquet(f"{wh}/calendar_days").count() > 0
    users = spark.read.parquet(f"{wh}/users")
    assert users.count() > 0
    # user-update resolved or disabled every placeholder it attempted
    assert users.filter(F.col("user_updated_at").isNotNull()).count() > 0
    resp = spark.read.parquet(f"{wh}/responses")
    assert {r._type for r in resp.select("_type").distinct().collect()} >= {
        "SRH", "CAL", "LST", "USR", "RVW", "BQT"
    }


def test_beat_discover_raises_on_a_damaged_aoi_table(spark, tmp_path, capsys):
    """A damaged AOI table is an error, not "no AOI filter": the scan
    must not fall back to every grid. Only a table that was never written
    reads as absent."""
    wh = _seed_warehouse(tmp_path, "wh_damaged_aoi")
    parts = glob.glob(os.path.join(wh, "aoi", "*.parquet"))
    assert parts
    for part in parts:
        os.truncate(part, os.path.getsize(part) // 2)
    with pytest.raises(Exception, match="(?i)parquet"):
        cli.main(["--warehouse", wh, "run-beat-job", "op_discover_new_listings_periodical"])
    assert "op_discover_new_listings_periodical" not in capsys.readouterr().out


def test_cli_run_beat_job_args(spark, tmp_path, capsys):
    """--arg k=v reaches the op (ref: kwargs forwarded to the signature)."""
    wh = _seed_warehouse(tmp_path, "wh_beat_args")
    assert cli.main(
        ["--warehouse", wh, "run-beat-job", "op_discover_new_listings_periodical"]
    ) == 0
    capsys.readouterr()
    assert cli.main(
        ["--warehouse", wh, "run-beat-job", "op_update_calendar_periodical",
         "--arg", "how_many=1"]
    ) == 0
    assert "due=1" in capsys.readouterr().out


def test_cli_find_listings(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh_find")
    # unregistered grid -> error + hint (ref find-listings.py:24-28)
    assert cli.main(["--warehouse", wh, "find-listings", "031313131"]) == 1
    assert "does not exist" in capsys.readouterr().err
    assert cli.main(["--warehouse", wh, "add-quadkey", "--quadkey", "031313131"]) == 0
    assert cli.main(["--warehouse", wh, "find-listings", "031313131"]) == 0
    assert "listings=" in capsys.readouterr().out
    assert spark.read.parquet(f"{wh}/listings").count() > 0


def test_cli_edit_aoi(spark, tmp_path, capsys):
    wh = _seed_warehouse(tmp_path, "wh_edit")
    assert cli.main(["--warehouse", wh, "edit-aoi", "99"]) == 1  # missing pk
    assert cli.main(
        ["--warehouse", wh, "edit-aoi", "1", "--no-calendars", "--listing-details"]
    ) == 0
    row = spark.read.parquet(f"{wh}/aoi").collect()[0]
    assert row.collect_calendars is False
    assert row.collect_listing_details is True
    assert row.collect_reviews is True  # untouched
    assert cli.main(["--warehouse", wh, "edit-aoi", "1", "--delete"]) == 0
    assert spark.read.parquet(f"{wh}/aoi").count() == 0


def test_cli_create_test_area(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh_test_area")
    assert cli.main(["--warehouse", wh, "create-test-area", "031313131"]) == 0
    aoi = spark.read.parquet(f"{wh}/aoi").collect()[0]
    assert aoi.name.startswith("Test-Area-")
    assert aoi.collect_calendars and aoi.collect_bookings and aoi.scan_for_new_listings
    # buffered ~100 m beyond the tile bbox (ref create-test-area.py:33)
    from ubdc_airbnb_spark.functions import geometry as geo

    west, south, east, north = geo.quadkey_bbox("031313131")
    assert aoi.bbox.xmin < west and aoi.bbox.xmax > east
    assert aoi.bbox.ymin < south and aoi.bbox.ymax > north
    assert spark.read.parquet(f"{wh}/grid").count() >= 1


def test_random_ids(spark):
    """C9 (ref utils/__init__.py:4-10): seeded determinism + column variants."""
    import random

    from ubdc_airbnb_spark.functions import ids

    a = ids.get_random_string(12, random.Random(7))
    b = ids.get_random_string(12, random.Random(7))
    assert a == b and len(a) == 12 and a.isalnum()
    assert ids.new_uuid() != ids.new_uuid()
    df = spark.range(50).select(
        ids.uuid_col().alias("u"), ids.random_string_col(8, seed=3).alias("r")
    )
    rows = df.collect()
    assert len({r.u for r in rows}) == 50
    assert all(len(r.r) == 8 for r in rows)


def test_cli_scrape_listing_data(spark, tmp_path, capsys):
    """One-off single-listing fetch (ref scrape-listing-data.py:17-37):
    bypasses staleness/AOI scoping, errors on unregistered ids, and
    persists through the same bronze/silver pipeline as the beat ops."""
    wh = _seed_warehouse(tmp_path, "wh_oneoff")
    assert cli.main(["--warehouse", wh, "discover", "--max-waves", "1"]) == 0
    listings = spark.read.parquet(f"{wh}/listings")
    lid = listings.select("listing_id").orderBy("listing_id").first()[0]
    capsys.readouterr()

    rc = cli.main(
        ["--warehouse", wh, "scrape-listing-data", "--listing-id", "999999999", "--calendar"]
    )
    assert rc == 2  # not registered -> error, like the reference converter

    assert cli.main(
        ["--warehouse", wh, "scrape-listing-data", "--listing-id", str(lid), "--calendar"]
    ) == 0
    assert f"Fetched calendar for listing {lid}" in capsys.readouterr().out
    days = spark.read.parquet(f"{wh}/calendar_days")
    assert days.filter(F.col("listing_id") == lid).count() > 0
    assert days.select("listing_id").distinct().count() == 1  # ONLY this listing

    assert cli.main(
        ["--warehouse", wh, "scrape-listing-data", "--listing-id", str(lid), "--listing-detail"]
    ) == 0
    assert f"Fetched listing-details for listing {lid}" in capsys.readouterr().out
    assert spark.read.parquet(f"{wh}/users").count() > 0
    stamped = spark.read.parquet(f"{wh}/listings").filter(F.col("listing_id") == lid)
    assert stamped.first()["listing_updated_at"] is not None


def test_cli_run_due_jobs_virtual_time(spark, tmp_path, capsys):
    """T1 completion: the declarative schedule fires exactly the ops whose
    cron cadence has a new fire time since their last run (ref
    core/celery.py:39-66), under an injected virtual clock."""
    wh = _seed_warehouse(tmp_path, "wh_sched")
    assert cli.main(["--warehouse", wh, "discover", "--max-waves", "1"]) == 0
    capsys.readouterr()

    # first invocation: every job has a past fire time and no last run
    assert cli.main(["--warehouse", wh, "run-due-jobs", "--now", "2024-03-01T06:00:00"]) == 0
    out1 = capsys.readouterr().out
    for job in (
        "op_update_calendar_periodical",
        "op_update_listing_details_periodical",
        "op_discover_new_listings_periodical",
    ):
        assert job in out1, out1

    # 30 minutes later: no new fire times
    assert cli.main(["--warehouse", wh, "run-due-jobs", "--now", "2024-03-01T06:30:00"]) == 0
    assert "nothing due" in capsys.readouterr().out

    # next day after 02:00: only the daily calendar op fires
    assert cli.main(["--warehouse", wh, "run-due-jobs", "--now", "2024-03-02T02:30:00"]) == 0
    out3 = capsys.readouterr().out
    assert "op_update_calendar_periodical" in out3
    assert "op_update_listing_details_periodical" not in out3
    assert "op_discover_new_listings_periodical" not in out3


def test_cron_matching_semantics():
    from datetime import datetime

    from ubdc_airbnb_spark.plans.schedule import cron_matches, due_jobs, prev_fire

    assert cron_matches("0 2 * * *", datetime(2024, 3, 1, 2, 0))
    assert not cron_matches("0 2 * * *", datetime(2024, 3, 1, 2, 1))
    assert cron_matches("0 5 12,24 * *", datetime(2024, 1, 24, 5, 0))
    assert not cron_matches("0 5 12,24 * *", datetime(2024, 1, 23, 5, 0))
    assert cron_matches("*/15 * * * *", datetime(2024, 1, 1, 9, 45))
    assert not cron_matches("*/15 * * * *", datetime(2024, 1, 1, 9, 40))
    # day-of-week: 2024-03-03 is a Sunday (cron 0)
    assert cron_matches("0 9 * * 0", datetime(2024, 3, 3, 9, 0))
    assert not cron_matches("0 9 * * 1", datetime(2024, 3, 3, 9, 0))

    assert prev_fire("0 2 * * *", datetime(2024, 3, 1, 6, 0)) == datetime(2024, 3, 1, 2, 0)
    assert prev_fire("0 5 12,24 * *", datetime(2024, 3, 1, 6, 0)) == datetime(2024, 2, 24, 5, 0)

    rows = [
        ("daily", "0 2 * * *", datetime(2024, 3, 1, 2, 0)),
        ("never_run", "0 2 * * *", None),
        ("monthly", "0 5 12 * *", datetime(2024, 2, 12, 5, 0)),
    ]
    due = {d.job for d in due_jobs(rows, datetime(2024, 3, 1, 6, 0))}
    assert due == {"never_run"}  # daily already ran today; monthly's next fire is Mar 12


def test_cli_sql_and_query(spark, tmp_path, capsys):
    from ubdc_airbnb_spark import cli

    rc = cli.main(
        [
            "sql",
            "SELECT COUNT(*) AS n FROM orders",
            "--sf-dir",
            "/root/testdata/sf0.001",
        ]
    )
    assert rc == 0
    assert "1500" in capsys.readouterr().out

    out = str(tmp_path / "q.parquet")
    rc = cli.main(
        [
            "query",
            "--name",
            "a2_grouped_tally",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--output",
            out,
        ]
    )
    assert rc == 0
    assert spark.read.parquet(out).count() == 5

    rc = cli.main(["query", "--list"])
    assert rc == 0
    assert "ns_bigram_lm" in capsys.readouterr().out


def test_cli_report(spark, capsys):
    from ubdc_airbnb_spark import cli

    rc = cli.main(
        [
            "report",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--only",
            "ns_source_balance_gini",
            "--limit",
            "2",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "ns_source_balance_gini" in out and "gini" in out


#: the seven beat ops in warehouse dependency order: each reads what the
#: ones before it wrote
_BEAT_ORDER = (
    "op_discover_new_listings_periodical",
    "op_estimate_listings_or_divide_periodical",
    "op_update_calendar_periodical",
    "op_update_listing_details_periodical",
    "op_get_users_details_periodical",
    "op_update_reviews_periodical",
    "op_get_booking_detail_periodical",
)

#: the persisted bronze column list, the same for every op
_BRONZE_COLUMNS = [
    "response_id", "listing_id", "_type", "status_code", "payload", "url",
    "seconds_to_complete", "created_at", "task_id", "was_successful",
    "is_retriable",
]

#: per op, the persisted rows as (listing_id, _type, status_code, task_id,
#: was_successful, is_retriable), sorted
_BRONZE_ROWS = {
    "op_discover_new_listings_periodical": [
        (None, "SRH", 200, None, True, False),
    ],
    "op_estimate_listings_or_divide_periodical": [
        (None, "SHM", 200, "031313131311", True, False),
    ],
    "op_update_calendar_periodical": [
        (1713810, "CAL", 429, None, False, True),
        (1892246, "CAL", 403, None, False, False),
        (2499346, "CAL", 403, None, False, False),
        (2734631, "CAL", 200, None, True, False),
        (3463227, "CAL", 200, None, True, False),
        (5469180, "CAL", 503, None, False, True),
    ],
    "op_update_listing_details_periodical": [
        (1713810, "LST", 200, None, True, False),
        (1892246, "LST", 403, None, False, False),
        (2499346, "LST", 503, None, False, True),
        (2734631, "LST", 503, None, False, True),
        (3463227, "LST", 429, None, False, True),
        (5469180, "LST", 503, None, False, True),
    ],
    "op_get_users_details_periodical": [
        (611489, "USR", 200, None, True, False),
        (925045, "USR", 200, None, True, False),
    ],
    "op_update_reviews_periodical": [
        (1713810, "RVW", 200, None, True, False),
        (1713810, "RVW", 200, None, True, False),
        (1713810, "RVW", 200, None, True, False),
        (1713810, "RVW", 503, None, False, True),
        (1892246, "RVW", 200, None, True, False),
        (1892246, "RVW", 200, None, True, False),
        (1892246, "RVW", 403, None, False, False),
        (1892246, "RVW", 503, None, False, True),
        (2499346, "RVW", 429, None, False, True),
        (2734631, "RVW", 200, None, True, False),
        (2734631, "RVW", 200, None, True, False),
        (2734631, "RVW", 429, None, False, True),
        (2734631, "RVW", 429, None, False, True),
        (3463227, "RVW", 200, None, True, False),
        (3463227, "RVW", 200, None, True, False),
        (3463227, "RVW", 200, None, True, False),
        (3463227, "RVW", 200, None, True, False),
        (5469180, "RVW", 200, None, True, False),
        (5469180, "RVW", 200, None, True, False),
        (5469180, "RVW", 200, None, True, False),
        (5469180, "RVW", 429, None, False, True),
    ],
    "op_get_booking_detail_periodical": [
        (2734631, "BQT", 503, None, False, True),
        (3463227, "BQT", 429, None, False, True),
    ],
}


def test_beat_ops_persist_one_bronze_format(spark, tmp_path, capsys, monkeypatch):
    """Every beat op persists the same bronze columns, and per row the
    same asset id, type tag, status routing and task id, whichever code
    builds the rows. One small AOI tile, the deterministic mock source
    and a fixed clock; ``response_id`` and ``created_at`` are not pinned."""
    from functools import partial

    from ubdc_airbnb_spark.plans import ops
    from ubdc_airbnb_spark.sources import bronze

    def fetcher(kind, key, offset):
        # every status route, keyed by the request: 200, 403 (final, not
        # JSON), 429/503 (retriable)
        import zlib

        from ubdc_airbnb_spark.sources.http_fetch import mock_fetcher

        status = (200, 200, 403, 429, 503)[zlib.crc32(f"{kind}/{key}/{offset}".encode()) % 5]
        if kind == "search" or status == 200:
            return mock_fetcher(kind, key, offset)
        return status, "<html>denied</html>" if status == 403 else "", f"mock://{kind}/{key}"

    now = "TIMESTAMP '2024-06-01 00:00:00'"
    for name in ("run_grid_estimate", "run_calendar_harvest", "run_listing_details",
                 "run_user_update", "run_review_harvest", "run_booking_quotes"):
        op = partial(getattr(ops, name), fetcher=fetcher, now_expr=now)
        monkeypatch.setattr(ops, name, op)
    written = []
    write = bronze.partitioned_bronze_writer

    def capture(df, path):
        written.append((df.columns, sorted(
            tuple(r) for r in df.select(
                "listing_id", "_type", "status_code", "task_id",
                "was_successful", "is_retriable",
            ).collect()
        )))
        write(df, path)

    monkeypatch.setattr(bronze, "partitioned_bronze_writer", capture)

    wh = str(tmp_path / "wh_bronze")
    west, south, east, north = geo.quadkey_bbox("031313131311")
    dx, dy = (east - west) / 4, (north - south) / 4
    wkt = geo.to_wkt(geo.bbox_to_polygon(west + dx, south + dy, east - dx, north - dy))
    assert cli.main(
        ["--warehouse", wh, "add-aoi", "--id", "1", "--name", "tile", "--wkt", wkt,
         "--depth", "12", "--scan", "--calendars", "--details", "--reviews", "--bookings"]
    ) == 0
    for job in _BEAT_ORDER:
        args = ["--warehouse", wh, "run-beat-job", job, "--arg", "how_many=6"]
        assert cli.main(args) == 0, job
    capsys.readouterr()
    assert len(written) == len(_BEAT_ORDER)
    for job, (cols, rows) in zip(_BEAT_ORDER, written):
        assert cols == _BRONZE_COLUMNS, job
        assert rows == _BRONZE_ROWS[job], job
