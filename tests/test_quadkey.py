"""Native quadkey/tile expressions vs a pure-Python oracle (the public
slippy-map / Bing-quadkey formulas, same math mercantile implements)."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from ubdc_airbnb_spark.functions import geometry as geo
from ubdc_airbnb_spark.functions import quadkey as qk


def _oracle_tile(lon: float, lat: float, z: int) -> tuple[int, int]:
    lat = min(max(lat, -85.051128779806589), 85.051128779806589)
    n = 2.0**z
    x = int(math.floor((lon + 180.0) / 360.0 * n))
    lat_rad = math.radians(lat)
    y = int(math.floor((1.0 - math.asinh(math.tan(lat_rad)) / math.pi) / 2.0 * n))
    return min(max(x, 0), int(n) - 1), min(max(y, 0), int(n) - 1)


def test_quadkey_roundtrip(spark):
    rng = random.Random(42)
    rows = []
    for z in (1, 5, 10, 16, 22):
        for _ in range(20):
            x = rng.randrange(2**z)
            y = rng.randrange(2**z)
            rows.append((x, y, z, geo.tile_to_quadkey(x, y, z)))
    df = spark.createDataFrame(rows, "x long, y long, z int, expected string")
    out = df.select(
        "x",
        "y",
        "expected",
        qk.tile_to_quadkey("x", "y", F.col("z")).alias("got"),
    ).collect()
    for r in out:
        assert r.got == r.expected, (r.x, r.y)

    back = (
        df.select("x", "y", F.col("expected").alias("quadkey"))
        .select(
            "x",
            "y",
            qk.quadkey_to_tile_x("quadkey").alias("x2"),
            qk.quadkey_to_tile_y("quadkey").alias("y2"),
        )
        .collect()
    )
    for r in back:
        assert (r.x2, r.y2) == (r.x, r.y)


def test_lonlat_to_tile_matches_oracle(spark):
    rng = random.Random(7)
    pts = [(rng.uniform(-179.9, 179.9), rng.uniform(-84.9, 84.9)) for _ in range(200)]
    pts += [(0.0, 0.0), (-180.0, 85.05), (179.999, -85.05)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    for z in (3, 10, 15):
        got = df.select(
            "lon",
            "lat",
            qk.lonlat_to_tile_x("lon", z).alias("tx"),
            qk.lonlat_to_tile_y("lat", z).alias("ty"),
        ).collect()
        for r in got:
            ex, ey = _oracle_tile(r.lon, r.lat, z)
            assert (r.tx, r.ty) == (ex, ey), (r.lon, r.lat, z)


def test_quadkey_bbox_matches_oracle(spark):
    rows = [(geo.tile_to_quadkey(x, y, z),) for x, y, z in [(3, 5, 4), (100, 200, 9), (0, 0, 1)]]
    df = spark.createDataFrame(rows, "quadkey string")
    got = df.select("quadkey", qk.quadkey_bbox("quadkey").alias("b")).collect()
    for r in got:
        ow, os_, oe, on = geo.quadkey_bbox(r.quadkey)
        assert abs(r.b.west - ow) < 1e-9
        assert abs(r.b.south - os_) < 1e-9
        assert abs(r.b.east - oe) < 1e-9
        assert abs(r.b.north - on) < 1e-9


def test_children_parent_ancestors(spark):
    df = spark.createDataFrame([("0231",), ("3",)], "quadkey string")
    got = {
        r.quadkey: r
        for r in df.select(
            "quadkey",
            qk.children("quadkey").alias("ch"),
            qk.parent("quadkey").alias("p"),
            qk.ancestors("quadkey").alias("anc"),
        ).collect()
    }
    assert got["0231"].ch == ["02310", "02311", "02312", "02313"]
    assert got["0231"].p == "023"
    assert got["0231"].anc == ["0", "02", "023"]
    assert got["3"].anc == []


def test_lonlat_to_quadkey_matches_python_codec_at_the_extremes(spark):
    """Depth-22 keys of the one-parse SQL expression against geometry's
    Python codec at the antimeridian, the Mercator latitude limit, the
    poles and exact tile edges.

    A longitude edge ``x / 2^22 * 360 - 180`` is exact in binary, so both
    codecs must agree there bit for bit. A latitude edge is irrational:
    its nearest double lies within an ulp of the edge, where
    ``ln(tan + sec)`` (Spark) and ``asinh(tan)`` (Python) round
    differently, so there the two may pick neighbouring rows — never
    more — and must agree on the column."""
    z = 22
    n = 2**z
    lons = [-180.0, 180.0] + [x / n * 360.0 - 180.0 for x in (0, 1, n // 2 - 1, n // 2, n - 1)]
    lats = [-90.0, -85.051128779806589, -85.0511, 0.0, 0.5, 85.0511, 85.051128779806589, 90.0]
    exact = [(lon, lat) for lon in lons for lat in lats]
    rows = [1, 2, n // 4, n // 2 - 1, n // 2 + 1, 3 * n // 4, n - 2, n - 1]
    edges = [(lon, geo.tile_bounds(0, y, z)[3]) for lon in lons for y in rows]
    df = spark.createDataFrame(exact + edges, "lon double, lat double")
    got = {
        (r.lon, r.lat): r.q
        for r in df.select("lon", "lat", qk.lonlat_to_quadkey("lon", "lat", z).alias("q")).collect()
    }
    for lon, lat in exact:
        assert got[(lon, lat)] == geo.tile_to_quadkey(*geo._lonlat_tile(lon, lat, z), z), (lon, lat)
    for lon, lat in edges:
        gx, gy, _ = geo.quadkey_to_tile(got[(lon, lat)])
        wx, wy = geo._lonlat_tile(lon, lat, z)
        assert gx == wx and abs(gy - wy) <= 1, (lon, lat)
