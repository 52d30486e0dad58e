"""Quadkey / Web-Mercator tile codec as native Spark expressions (no UDF).

Reproduces the tile math the reference delegates to ``mercantile``
(SURVEY §2.7 G1-G5, G16; ref usages:
/root/reference/src/ubdc_airbnb/ubdc_airbnb/models.py:267-327,
/root/reference/src/ubdc_airbnb/ubdc_airbnb/utils/grids.py:9-118).
Formulas are the public "slippy map tilenames" / Bing quadkey scheme:
quadkey digit i (1-based from the most significant zoom level) is
``bit_i(x) + 2*bit_i(y)`` where ``bit_i(v) = (v >> (z-i)) & 1``.

Everything here is built-in higher-order/bitwise functions, so it stays
inside whole-stage codegen and vectorizes across a 100 TB scan — the main
win over the reference's per-row Python ``mercantile`` calls.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _shr(v: Column, bits: Column) -> Column:
    """shiftright with a *column* bit count (the pyspark wrapper only
    accepts a literal int; the SQL function accepts expressions)."""
    return F.call_function("shiftright", v, bits.cast("int"))


def _shl(v: Column, bits: Column) -> Column:
    return F.call_function("shiftleft", v, bits.cast("int"))


def _quadkey_sql(x: str, y: str, z: int) -> str:
    """The unrolled digit ``concat`` over two SQL tile expressions."""
    terms = ", ".join(
        f"CAST((shiftright({x}, {z - i}) & 1) + (shiftright({y}, {z - i}) & 1) * 2 AS STRING)"
        for i in range(1, z + 1)
    )
    return f"concat({terms})"


def tile_to_quadkey(x: str, y: str, z: Column | str | int) -> Column:
    """G1 encode: ``(tile_x, tile_y, zoom) -> quadkey`` string of length z.

    With a literal zoom the digit expressions are unrolled into one
    ``concat`` (no array allocation, no lambda fold), the same one
    :func:`lonlat_to_quadkey` builds for the depth-22 bucketing column.
    It is assembled as ONE SQL string (a single JVM parse): building z digits
    as Column expressions costs ~6 py4j round-trips each (~0.2 s of pure
    driver latency at z=10, paid per query regardless of data size)."""
    if isinstance(z, int):
        return F.expr(_quadkey_sql(f"`{x}`", f"`{y}`", z))
    x, y, z = _c(x), _c(y), _c(z)
    digits = F.transform(
        F.sequence(F.lit(1), z),
        lambda i: (
            _shr(x, z - i).bitwiseAND(F.lit(1))
            + _shr(y, z - i).bitwiseAND(F.lit(1)) * 2
        ).cast("string"),
    )
    return F.array_join(digits, "")


def tile_to_quadkey_packed(x: str, y: str, z: int) -> Column:
    """G1 encode, PACKED form: the quadkey as a base-4 integer (digit i
    occupies bits ``2*(z-i)``..``2*(z-i)+1``) instead of a string — the
    100 TB-scan representation: zero string allocation per row, and a
    prefix test compiles to one shift + integer compare (see
    ``joins.packed_prefix_predicate``). ``string(qk_packed)`` in base 4,
    left-padded to z digits, equals ``tile_to_quadkey`` exactly."""
    terms = " + ".join(
        f"(((shiftright(`{x}`, {z - i}) & 1) + (shiftright(`{y}`, {z - i}) & 1) * 2)"
        f" * {4 ** (z - i)}L)"
        for i in range(1, z + 1)
    )
    return F.expr(f"({terms})")


def quadkey_to_tile_x(qk: Column | str) -> Column:
    """G1 decode: x = sum over digits of ``(d & 1) << (z-i)``."""
    qk = _c(qk)
    z = F.length(qk)
    return F.aggregate(
        F.sequence(F.lit(1), z),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + _shl(
            F.substring(qk, i.cast("int"), 1).cast("long").bitwiseAND(F.lit(1)),
            z - i,
        ),
    )


def quadkey_to_tile_y(qk: Column | str) -> Column:
    qk = _c(qk)
    z = F.length(qk)
    return F.aggregate(
        F.sequence(F.lit(1), z),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + _shl(
            _shr(F.substring(qk, i.cast("int"), 1).cast("long"), F.lit(1)).bitwiseAND(F.lit(1)),
            z - i,
        ),
    )


def quadkey_zoom(qk: Column | str) -> Column:
    return F.length(_c(qk))


def children(qk: Column | str) -> Column:
    """G5: the four child quadkeys (ref: mercantile.children,
    models.py:269-275) — ``qk || d for d in 0..3``."""
    qk = _c(qk)
    return F.transform(F.array(F.lit("0"), F.lit("1"), F.lit("2"), F.lit("3")), lambda d: F.concat(qk, d))


def parent(qk: Column | str) -> Column:
    qk = _c(qk)
    return F.substring(qk, 1, (F.length(qk) - 1).cast("int"))


def ancestors(qk: Column | str) -> Column:
    """G6/P6: array of all proper prefixes (ref: utils/grids.py:78-85).
    Guarded: ``sequence(1, 0)`` counts down in Spark, so length-1 keys
    must return an empty array explicitly."""
    qk = _c(qk)
    prefixes = F.transform(
        F.sequence(F.lit(1), F.length(qk) - 1), lambda i: F.substring(qk, 1, i.cast("int"))
    )
    return F.when(F.length(qk) > 1, prefixes).otherwise(F.array().cast("array<string>"))


def is_ancestor_of(qk_a: Column | str, qk_b: Column | str) -> Column:
    """True when a is a proper prefix of b (ref: utils/grids.py:63-85)."""
    a, b = _c(qk_a), _c(qk_b)
    return b.startswith(a) & (F.length(b) > F.length(a))


def _tile_x_sql(lon: str, z: int) -> str:
    """Point → tile column (slippy formula): floor((lon+180)/360 * 2^z),
    clamped to the grid. Double literals throughout: a bare ``180.0`` in
    SQL text parses as a DECIMAL."""
    n = f"pow(2.0D, {float(z)!r}D)"
    return (
        f"least(greatest(CAST(floor((`{lon}` + 180.0D) / 360.0D * {n}) AS BIGINT), 0L), "
        f"CAST({n} - 1 AS BIGINT))"
    )


def _tile_y_sql(lat: str, z: int) -> str:
    """floor((1 - asinh(tan(lat))/pi) / 2 * 2^z); lat clamped to Mercator,
    asinh(tan) written as ln(tan + sec)."""
    n = f"pow(2.0D, {float(z)!r}D)"
    lat_rad = f"radians(least(greatest(`{lat}`, -85.051128779806589D), 85.051128779806589D))"
    return (
        f"least(greatest(CAST(floor((1.0D - ln(tan({lat_rad}) + 1.0D / cos({lat_rad})) "
        f"/ 3.141592653589793D) / 2.0D * {n}) AS BIGINT), 0L), CAST({n} - 1 AS BIGINT))"
    )


def lonlat_to_tile_x(lon: str, z: int) -> Column:
    return F.expr(_tile_x_sql(lon, z))


def lonlat_to_tile_y(lat: str, z: int) -> Column:
    return F.expr(_tile_y_sql(lat, z))


def lonlat_to_quadkey(lon: str, lat: str, z: int) -> Column:
    """Point → quadkey at depth z — the engine's spatial bucketing key
    (drives the J1 spatial join and quadtree partitioning). One SQL parse
    over the same tile expressions :func:`lonlat_to_tile_x` /
    :func:`lonlat_to_tile_y` return."""
    return F.expr(_quadkey_sql(_tile_x_sql(lon, z), _tile_y_sql(lat, z), z))


def tile_bounds_west(x: Column | str, z: Column | str | int) -> Column:
    """G3: tile → west longitude (mercantile.bounds analog)."""
    x = _c(x)
    z = F.lit(z) if isinstance(z, int) else _c(z)
    n = F.pow(F.lit(2.0), z.cast("double"))
    return x.cast("double") / n * F.lit(360.0) - F.lit(180.0)


def tile_bounds_north(y: Column | str, z: Column | str | int) -> Column:
    """G3: tile → north latitude: atan(sinh(pi*(1-2*y/2^z))) in degrees."""
    y = _c(y)
    z = F.lit(z) if isinstance(z, int) else _c(z)
    n = F.pow(F.lit(2.0), z.cast("double"))
    t = F.lit(3.141592653589793) * (F.lit(1.0) - F.lit(2.0) * y.cast("double") / n)
    return F.degrees(F.atan(F.sinh(t)))


def quadkey_bbox(qk: Column | str) -> Column:
    """G3: quadkey → struct(west, south, east, north) in EPSG:4326
    (ref: bbox_from_quadkey, utils/grids.py:9-19)."""
    qk = _c(qk)
    z = F.length(qk)
    x = quadkey_to_tile_x(qk)
    y = quadkey_to_tile_y(qk)
    return F.struct(
        tile_bounds_west(x, z).alias("west"),
        tile_bounds_north(y + 1, z).alias("south"),
        tile_bounds_west(x + 1, z).alias("east"),
        tile_bounds_north(y, z).alias("north"),
    )
