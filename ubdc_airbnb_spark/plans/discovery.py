"""Recursive quadtree discovery as a driver-side BFS over *distributed*
fetch waves (SURVEY §2.10 T7/T8, §3.1; ref app/tasks.py:230-310
``task_register_listings_or_divide_at_quadkey``, split guard ref
tasks.py:270-291, depth cap MAX_GRID_LEVEL=22 ref core/settings.py:14,
transactional split ref utils/grids.py:107-118).

Spark has no recursion; the reference's per-task recursion becomes
breadth-first *waves*: the whole frontier is fetched as ONE Spark stage
per iteration (``sources/http_fetch.fetch_batch`` — rate-limited
``mapInPandas``, the same distributed fetch the other composed ops use).
A wave runs a fixed handful of Spark jobs whatever the frontier size:
the fetch barrier, one parse checkpoint (one row per response: status,
pagination and the response's listings array) and one collect of that
frontier-sized metadata, from which the driver builds the next frontier,
the splits and the grid counts. Each wave's listings stay an immutable
run tagged with the wave number; after the last wave the runs are
resolved once — the latest wave wins — and checkpointed once, as an
LSM store keeps immutable runs and merges them later ("Efficient Data
Ingestion and Query Processing for LSM-Based Storage Systems", VLDB
2019). Only the frontier bookkeeping — a list of (quadkey, offset) work
items, by construction tiny relative to the data fetched — lives on the
driver.

Test doubles: the reference's FIFO-queue mock client is inherently
driver-stateful, so when a :class:`MockAirbnbApi` is passed instead of a
``Fetcher`` callable, each wave pre-assigns its queued responses to the
wave's (sorted) work items driver-side and ships the resulting pure
lookup table through ``fetch_batch`` — FIFO semantics for tests, Spark
tasks for execution.
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import schemas
from ..functions.quadkey import lonlat_to_quadkey
from ..operators.extract import QK_DEPTH, search_listings_array, search_tab_pagination
from ..sources.bronze import response_rows
from ..sources.http_fetch import Fetcher, fetch_batch, materialize
from ..sources.mock_api import MockAirbnbApi

MAX_GRID_LEVEL = 22  # ref core/settings.py:14


@dataclass
class DiscoveryResult:
    bronze: DataFrame
    listings: DataFrame
    grids: DataFrame  # final grid table after splits
    waves: int = 0
    fetches: int = 0
    splits: list[str] = field(default_factory=list)
    #: one dict per wave: frontier size, status histogram, splits,
    #: depth-cap pages and wall seconds — read from the wave's one
    #: metadata collect, so the counters cost no Spark job
    wave_stats: list[dict] = field(default_factory=list)


def _wave_fetcher(
    source: Fetcher | MockAirbnbApi, frontier: list[tuple[str, int]]
) -> Fetcher:
    """Resolve the fetcher for one wave.

    A plain callable is used as-is (stateless, executor-safe). A FIFO
    ``MockAirbnbApi`` is drained driver-side: its queued responses are
    assigned to the frontier's work items in order (the order the parent
    wave created them), producing a picklable dict-lookup fetcher; with an
    empty queue in auto mode it falls back to the same deterministic
    synthetic payloads ``MockAirbnbApi.get_homes`` would generate."""
    if not isinstance(source, MockAirbnbApi):
        return source

    api = source
    assigned: dict[tuple[str, int], tuple[int, str, str]] = {}
    for qk, offset in frontier:
        api.calls.append(("get_homes", qk, offset))
        url = f"https://mock/explore_tabs?qk={qk}&items_offset={offset}"
        if api.queue:
            r = api.queue.popleft()
            assigned[(qk, offset)] = (r.status_code, r.payload, url)
        elif not api.auto:
            raise RuntimeError("mock queue empty for search")

    auto = api.auto

    def fetcher(kind: str, key: str, offset: int) -> tuple[int, str, str]:
        hit = assigned.get((key, int(offset)))
        if hit is not None:
            return hit
        if auto:
            from ..sources import payloads

            return (
                200,
                payloads.search_payload(key, items_offset=int(offset)),
                f"https://mock/explore_tabs?qk={key}&items_offset={offset}",
            )
        return 404, "", f"https://mock/explore_tabs?qk={key}"

    return fetcher


_LISTING_COLS = "listing_id long, lon double, lat double, quadkey string, host_id long, city string"


def _parse_wave(bronze: DataFrame) -> DataFrame:
    """One row per response: request, status, pagination (X3) and the
    listings array (X1). Failed responses keep their row — they finalize
    their grid — but carry no pagination and no listings. ``n_listings``
    counts distinct non-NULL ids, as ``countDistinct`` did."""
    ok = F.col("was_successful")
    page = search_tab_pagination(F.col("__p"))
    ids = F.filter(F.transform("listings", lambda l: l["listing_id"]), lambda i: i.isNotNull())
    return (
        bronze.withColumn("__p", F.from_json("payload", schemas.SEARCH_PAYLOAD))
        .select(
            F.col("key").alias("quadkey"),
            F.col("offset").alias("req_offset"),
            "status_code",
            "was_successful",
            F.when(ok, page["has_next_page"]).alias("has_next_page"),
            F.when(ok, page["items_offset"]).alias("next_offset"),
            F.when(ok, search_listings_array(F.col("__p"))).alias("listings"),
        )
        .withColumn("n_listings", F.when(ok, F.size(F.array_distinct(ids))).otherwise(0))
    )


def _resolve(waves: list[DataFrame]) -> DataFrame:
    """Merge the waves' listing runs once. A run is one parsed wave's
    listings, one row per entry, tagged with the wave number and the
    entry's position: response quadkey, request offset, array position.
    Per listing id the latest wave wins; within a wave the smallest
    position. A NULL id is no key — it never replaces another row — so
    each wave keeps one NULL-id row, as the per-wave ``dropDuplicates``
    + anti-join MERGE did."""
    runs = reduce(
        DataFrame.unionByName,
        (
            parsed.select(
                F.lit(wave).alias("wave"),
                "quadkey",
                "req_offset",
                F.posexplode("listings").alias("pos", "l"),
            )
            for wave, parsed in enumerate(waves, 1)
        ),
    )
    lid = F.col("l.listing_id")
    order = Window.partitionBy(lid, F.when(lid.isNull(), F.col("wave"))).orderBy(
        F.desc("wave"), "quadkey", "req_offset", "pos"
    )
    winners = runs.withColumn("__rank", F.row_number().over(order)).filter("__rank = 1")
    return winners.select("l.*").select(
        "listing_id",
        "lon",
        "lat",
        lonlat_to_quadkey("lon", "lat", QK_DEPTH).alias("quadkey"),
        "host_id",
        "city",
    )


def _release(checkpointed: DataFrame) -> None:
    """Free a ``localCheckpoint``'s blocks now instead of at the driver's
    next garbage collection."""
    rdd = checkpointed._jdf.queryExecution().analyzed().rdd()
    checkpointed.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd.id(), False)


def discover(
    spark: SparkSession,
    source: Fetcher | MockAirbnbApi,
    seed_quadkeys: list[str],
    max_level: int = MAX_GRID_LEVEL,
    max_waves: int = 50,
    rate_per_sec: float | None = None,
    partitions: int | None = None,
) -> DiscoveryResult:
    """BFS over the grid frontier.

    Per wave, the whole frontier of (quadkey, items_offset) work items is
    fetched as one ``fetch_batch`` stage (Spark tasks, rate-limited per
    partition) whose bronze rows sit behind a ``materialize`` barrier;
    they are parsed once into a checkpoint of one row per response, and one
    collect of its metadata drives the three-way branch per the
    reference (ref tasks.py:266-309):

    - paginated and ``len(qk) < max_level`` → replace grid with its 4
      children (next wave fetches them at offset 0) — T7;
    - paginated at max depth → continue with the next page offset — T8;
    - not paginated → grid finalized; record ``estimated_listings``.

    The listings are resolved from all waves' runs once, after the loop,
    and returned checkpointed.
    """
    frontier: list[tuple[str, int]] = sorted((qk, 0) for qk in seed_quadkeys)
    work_schema = "kind string, key string, offset long, created_at timestamp"
    bronze_parts: list[DataFrame] = []
    parsed_waves: list[DataFrame] = []
    grid_rows: dict[str, int] = {}  # quadkey -> estimated listings
    splits: list[str] = []
    wave_stats: list[dict] = []
    waves = fetches = 0

    while frontier and waves < max_waves:
        t0 = time.perf_counter()
        waves += 1
        fetches += len(frontier)
        fetcher = _wave_fetcher(source, frontier)

        now = datetime.now(timezone.utc)  # the wave's created_at, as data
        work = spark.createDataFrame(
            [("search", qk, offset, now) for qk, offset in frontier], work_schema
        )
        # one Spark stage fetches the whole wave; materialize = the fetch
        # runs exactly once and the bronze rows (ids, timestamps) are
        # fixed, no matter how many consumers follow
        fetched = fetch_batch(work, fetcher, rate_per_sec=rate_per_sec, partitions=partitions)
        bronze = materialize(response_rows(fetched, "SRH"))
        bronze_parts.append(bronze)

        # parse once: every later read of this wave starts here. The
        # checkpoint is lazy — the metadata collect below computes and
        # stores it, one job for both
        parsed = _parse_wave(bronze).localCheckpoint(eager=False)
        parsed_waves.append(parsed)

        # frontier bookkeeping: one collect of frontier-sized metadata,
        # never listing-scale data
        meta_rows = parsed.drop("listings").collect()
        meta = {(r.quadkey, r.req_offset): r for r in meta_rows}

        next_frontier: list[tuple[str, int]] = []
        wave_splits = depth_cap_pages = 0
        for qk, offset in frontier:
            m = meta[(qk, offset)]  # every work item has a response row
            has_next = bool(m.has_next_page)
            if has_next and len(qk) < max_level:
                # T7: split — replace parent with 4 children (G17)
                splits.append(qk)
                wave_splits += 1
                grid_rows.pop(qk, None)
                for d in "0123":
                    next_frontier.append((qk + d, 0))
            elif has_next:
                # T8: depth cap — follow pagination instead
                depth_cap_pages += 1
                next_offset = int(m.next_offset) if m.next_offset is not None else offset + 10
                grid_rows[qk] = grid_rows.get(qk, 0) + m.n_listings
                next_frontier.append((qk, next_offset))
            else:
                grid_rows[qk] = grid_rows.get(qk, 0) + m.n_listings
        wave_stats.append(
            {
                "wave": waves,
                "frontier": len(frontier),
                "status": dict(Counter(r.status_code for r in meta_rows)),
                "splits": wave_splits,
                "depth_cap_pages": depth_cap_pages,
                "wall_s": time.perf_counter() - t0,
            }
        )
        frontier = sorted(next_frontier)

    if not bronze_parts:
        empty = spark.createDataFrame([], "quadkey string, estimated_listings long")
        return DiscoveryResult(
            bronze=response_rows(fetch_batch(spark.createDataFrame([], work_schema)), "SRH"),
            listings=spark.createDataFrame([], _LISTING_COLS),
            grids=empty,
        )
    # merge once; the calendar harvest reads the listings several times,
    # so they are returned materialized, and the parse checkpoints they
    # came from are freed
    listings = _resolve(parsed_waves).localCheckpoint(eager=True)
    for parsed in parsed_waves:
        _release(parsed)
    grids = spark.createDataFrame(
        [(qk, n) for qk, n in sorted(grid_rows.items())],
        "quadkey string, estimated_listings long",
    )
    return DiscoveryResult(
        bronze=reduce(DataFrame.unionByName, bronze_parts),
        listings=listings,
        grids=grids,
        waves=waves,
        fetches=fetches,
        splits=splits,
        wave_stats=wave_stats,
    )
