"""Deterministic density-model search API for the ``harvest_cycle``
workload, and the pure-Python prediction of what discovery must find.

The model is a seeded set of listings placed in quadtree tiles: a
background scatter over every seed tile plus a few hot tiles at the
depth cap that hold more than a page of listings. A search for tile
``qk`` at ``offset`` returns page ``offset // PAGE_SIZE`` of the
listings inside the tile, ordered by id, with ``has_next_page`` set when
more remain — so coarse tiles paginate and split, and hot tiles reach
the depth cap and follow pagination. About 2% of responses (searches and
calendars alike) are 429/503, at seeded places that leave the shape of
the search tree the same for every seed.

:class:`DensityModel` is the fetcher handed to the engine. It is a
module-level class holding only plain data, so it pickles by reference
into the engine's fetch workers. :func:`predict_discovery` walks the same
model breadth-first without Spark, applying discovery's documented
split/paginate/finalize rule, and gives every invariant the workload
checks.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field
from datetime import date, timedelta

#: first digits of the seed area; the seed picks the rest of its tile
_AREA_PREFIX = "0313131"
SEED_LEVEL = 12  # quadkey length of the seed tiles
MAX_LEVEL = 13  # discovery's depth cap: one split below the seed tiles
PAGE_SIZE = 10  # listings per search page
HOT_LISTINGS = 12  # extra listings in a hot tile: two pages at the cap
CALENDAR_FAILURE_SHARE = 0.02
RETRIABLE = (429, 503)
CALENDAR_DAYS = 360  # 12 months x 30 days per calendar payload


def _tile_bbox(qk: str) -> tuple[float, float, float, float]:
    """(west, south, east, north) of a quadkey tile in degrees."""
    import math

    x = y = 0
    for ch in qk:
        d = int(ch)
        x = (x << 1) | (d & 1)
        y = (y << 1) | (d >> 1)
    n = 1 << len(qk)

    def lat(yy: int) -> float:
        return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * yy / n))))

    return x / n * 360.0 - 180.0, lat(y + 1), (x + 1) / n * 360.0 - 180.0, lat(y)


@dataclass(frozen=True)
class Listing:
    listing_id: int
    qk: str  # depth-cap tile holding the listing
    lat: float
    lng: float
    host_id: int
    city: str


@dataclass
class DensityModel:
    """Listings of one seeded area. The seed moves the area and every
    listing's id and position; the tree's shape is fixed by the sizes:
    each seed tile holds ``background_per_tile`` listings spread evenly
    over its children (the depth-cap tiles), ``hot_tiles`` of those hold
    ``HOT_LISTINGS`` more, ``search_failures`` others answer 429/503, and
    so does ``CALENDAR_FAILURE_SHARE`` of the calendars."""

    seed: int
    seed_tiles_per_side: int = 4  # seed tiles = side**2 children of the area tile
    background_per_tile: int = 24
    hot_tiles: int = 2
    search_failures: int = 2
    area: str = ""
    seed_quadkeys: list[str] = field(default_factory=list)
    listings: list[Listing] = field(default_factory=list)
    failing: set[tuple[str, str, int]] = field(default_factory=set)

    def __post_init__(self) -> None:
        rng = random.Random(f"density-{self.seed}")
        depth = SEED_LEVEL - len(_AREA_PREFIX)
        levels = (self.seed_tiles_per_side - 1).bit_length()
        self.area = _AREA_PREFIX + "".join(
            rng.choice("0123") for _ in range(depth - levels)
        )
        self.seed_quadkeys = sorted(_descendants(self.area, levels))
        children = [t + d for t in self.seed_quadkeys for d in "0123"]
        cells: list[str] = []
        for tile in self.seed_quadkeys:
            cells += [tile + "0123"[i % 4] for i in range(self.background_per_tile)]
        picked = rng.sample(children, self.hot_tiles + self.search_failures)
        hot, failing = picked[: self.hot_tiles], picked[self.hot_tiles:]
        for tile in hot:
            cells += [tile] * HOT_LISTINGS
        ids = rng.sample(range(10_000, 10_000_000), len(cells))
        listings = []
        for lid, qk in zip(ids, cells):
            west, south, east, north = _tile_bbox(qk)
            # interior points only: the engine re-derives each listing's
            # depth-22 quadkey from lat/lng, and must land in this tile
            fx, fy = rng.uniform(0.1, 0.9), rng.uniform(0.1, 0.9)
            listings.append(
                Listing(
                    lid, qk, south + fy * (north - south), west + fx * (east - west),
                    rng.randint(300_000, 1_000_000), f"city{rng.randint(0, 99)}",
                )
            )
        self.listings = sorted(listings, key=lambda r: r.listing_id)
        self.failing = {("search", qk, 0) for qk in failing}
        found = [r.listing_id for r in self.listings if not r.qk.startswith(tuple(failing))]
        n_cal = round(CALENDAR_FAILURE_SHARE * len(found))
        self.failing |= {("calendar", str(lid), 0) for lid in rng.sample(found, n_cal)}

    # --- the fetcher contract: (kind, key, offset) -> (status, body, url)
    def __call__(self, kind: str, key: str, offset: int) -> tuple[int, str, str]:
        url = f"model://{kind}/{key}?offset={offset}"
        status = self.status(kind, key, offset)
        if status != 200:
            return status, "", url
        if kind == "search":
            return status, self.search_body(key, offset), url
        if kind == "calendar":
            return status, calendar_body(int(key)), url
        return 404, "", url

    def status(self, kind: str, key: str, offset: int) -> int:
        if (kind, key, int(offset)) not in self.failing:
            return 200
        h = hashlib.blake2b(f"{self.seed}|{kind}|{key}".encode(), digest_size=1).digest()
        return RETRIABLE[h[0] % 2]

    def in_tile(self, qk: str) -> list[Listing]:
        return [r for r in self.listings if r.qk.startswith(qk)]

    def page(self, qk: str, offset: int) -> tuple[list[Listing], bool]:
        inside = self.in_tile(qk)
        return inside[offset: offset + PAGE_SIZE], offset + PAGE_SIZE < len(inside)

    def search_body(self, qk: str, offset: int) -> str:
        rows, has_next = self.page(qk, offset)
        west, south, east, north = _tile_bbox(qk)
        geography = {"ne_lat": north, "ne_lng": east, "sw_lat": south, "sw_lng": west}
        listings = [
            {
                "listing": {
                    "id": r.listing_id, "id_str": str(r.listing_id),
                    "lat": r.lat, "lng": r.lng, "city": r.city,
                    "user": {"id": r.host_id, "first_name": f"host{r.host_id % 1000}"},
                }
            }
            for r in rows
        ]
        return json.dumps({
            "explore_tabs": [{
                "tab_id": "home_tab",
                "pagination_metadata": {
                    "has_next_page": has_next,
                    "items_offset": offset + len(rows),
                    "previous_page_items_offset": offset,
                },
                "sections": [{}, {}, {"listings": listings}],
                "home_tab_metadata": {
                    "listings_count": len(self.in_tile(qk)), "geography": geography,
                },
            }],
            "metadata": {"federated_search_session_id": f"s-{self.seed}", "geography": geography},
        })


def calendar_body(listing_id: int) -> str:
    """A 12-month calendar response (the shape of the reference's
    ``calendar_months`` payload): 30 days a month, seeded by the listing."""
    rng = random.Random(f"calendar-{listing_id}")
    day = date(2024, 1, 1)
    months = []
    for _ in range(CALENDAR_DAYS // 30):
        days = []
        for _ in range(30):
            available = rng.random() > 0.4
            days.append({
                "date": day.isoformat(),
                "price": {
                    "local_price": float(rng.randint(30, 300)),
                    "native_price": float(rng.randint(30, 300)),
                    "local_currency": "GBP",
                    "native_currency": "EUR",
                },
                "available": available,
                "available_for_checkin": available and rng.random() > 0.2,
                "min_nights": rng.randint(1, 4),
                "max_nights": 1125,
            })
            day += timedelta(days=1)
        months.append({"listing_id": listing_id, "days": days})
    return json.dumps({"metadata": {}, "calendar_months": months})


def _descendants(qk: str, levels: int) -> list[str]:
    out = [qk]
    for _ in range(levels):
        out = [t + d for t in out for d in "0123"]
    return out


@dataclass
class DiscoveryPrediction:
    waves: int
    fetches: int
    splits: list[str]
    grids: dict[str, int]
    listing_ids: set[int]
    retriable: int


def predict_discovery(model: DensityModel, max_waves: int = 50) -> DiscoveryPrediction:
    """Breadth-first walk of the model under discovery's rule: a
    successful page with a next page splits its tile below the depth cap
    and follows the next page at it; anything else finalizes the tile
    with the listings counted so far (a 429/503 page counts none)."""
    frontier = sorted((qk, 0) for qk in model.seed_quadkeys)
    waves = fetches = retriable = 0
    splits: list[str] = []
    grids: dict[str, int] = {}
    ids: set[int] = set()
    while frontier and waves < max_waves:
        waves += 1
        fetches += len(frontier)
        nxt: list[tuple[str, int]] = []
        for qk, offset in frontier:
            if model.status("search", qk, offset) != 200:
                retriable += 1
                grids[qk] = grids.get(qk, 0)
                continue
            rows, has_next = model.page(qk, offset)
            ids.update(r.listing_id for r in rows)
            if has_next and len(qk) < MAX_LEVEL:
                splits.append(qk)
                grids.pop(qk, None)
                nxt += [(qk + d, 0) for d in "0123"]
            else:
                grids[qk] = grids.get(qk, 0) + len(rows)
                if has_next:
                    nxt.append((qk, offset + len(rows)))
        frontier = sorted(nxt)
    return DiscoveryPrediction(waves, fetches, splits, grids, ids, retriable)
