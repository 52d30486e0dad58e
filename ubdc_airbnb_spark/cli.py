"""CLI parity with the reference's management commands (SURVEY §2.1,
§3.1; ref app/management/commands/: add-aoi, list-aoi, create-test-area,
run-beat-job, extract-data).

Tables live as parquet directories under ``--warehouse``. This is the
ops surface a reference user would drive; each subcommand is a thin
wrapper over the library.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F


def _spark():
    from .session import get_spark

    return get_spark("ubdc-airbnb-spark-cli")


def _table(warehouse: str, name: str) -> str:
    return os.path.join(warehouse, name)


def cmd_add_aoi(args) -> int:
    """ref add-aoi.py: ingest WKT / bbox / GeoJSON as a new AOI row and
    seed its grid tiles."""
    from .sources import aoi as aoi_mod
    from .operators.upsert import upsert_parquet

    spark = _spark()
    flags = {
        "scan_for_new_listings": args.scan,
        "collect_calendars": args.calendars,
        "collect_listing_details": args.details,
        "collect_reviews": args.reviews,
        "collect_bookings": args.bookings,
    }
    if args.wkt:
        df = aoi_mod.aoi_from_wkt(spark, args.id, args.name, args.wkt, **flags)
        wkt = args.wkt
    elif args.bbox:
        w, s, e, n = (float(v) for v in args.bbox.split(","))
        df = aoi_mod.aoi_from_bbox(spark, args.id, args.name, w, s, e, n, **flags)
        wkt = df.collect()[0].geom_wkt
    else:
        with open(args.geojson) as fh:
            df = aoi_mod.aoi_from_geojson(spark, args.id, fh.read(), name=args.name, **flags)
        wkt = df.collect()[0].geom_wkt
    upsert_parquet(df, _table(args.warehouse, "aoi"), ["aoi_id"])
    grids = aoi_mod.seed_grids(spark, wkt, depth=args.depth)
    upsert_parquet(grids, _table(args.warehouse, "grid"), ["quadkey"])
    print(f"aoi {args.id} added; {grids.count()} seed grids")
    return 0


def cmd_list_aoi(args) -> int:
    """ref list-aoi.py: project the 7 display columns, optional filter +
    CSV export (P4 icontains, S12)."""
    spark = _spark()
    df = spark.read.parquet(_table(args.warehouse, "aoi"))
    if args.name_contains:
        df = df.filter(F.lower(F.col("name")).contains(args.name_contains.lower()))
    cols = [
        "aoi_id",
        "name",
        "created_at",
        "scan_for_new_listings",
        "collect_calendars",
        "collect_listing_details",
        "collect_reviews",
    ]
    out = df.select(*cols).orderBy("name")
    if args.csv:
        from .sources.sinks import write_csv

        write_csv(out, args.csv, cols)
        print(f"wrote {args.csv}")
    else:
        for r in out.collect():
            print("\t".join(str(r[c]) for c in cols))
    return 0


def cmd_add_quadkey(args) -> int:
    """ref add-quadkey.py: register a single grid tile by quadkey."""
    from .functions import geometry as geo
    from .operators.upsert import upsert_parquet
    from .sources.aoi import seed_grids

    spark = _spark()
    west, south, east, north = geo.quadkey_bbox(args.quadkey)
    wkt = geo.to_wkt(geo.bbox_to_polygon(west, south, east, north))
    grids = seed_grids(spark, wkt, depth=len(args.quadkey)).filter(
        F.col("quadkey") == args.quadkey
    )
    upsert_parquet(grids, _table(args.warehouse, "grid"), ["quadkey"])
    print(f"grid {args.quadkey} added")
    return 0


def cmd_discover(args) -> int:
    """ref run-beat-job op_discover_new_listings_periodical: BFS over the
    flagged AOIs' grids with the mock source (swap in a real source for
    deployment)."""
    from .plans.discovery import discover
    from .sources.mock_api import MockAirbnbApi

    spark = _spark()
    grids = spark.read.parquet(_table(args.warehouse, "grid"))
    seeds = [r.quadkey for r in grids.select("quadkey").collect()]
    res = discover(spark, MockAirbnbApi(), seeds, max_waves=args.max_waves)
    _save_discovery(res, args.warehouse)
    print(
        f"waves={res.waves} fetches={res.fetches} splits={len(res.splits)} "
        f"listings={res.listings.count()}"
    )
    return 0


def _conform_listings(df):
    """Widen discovery output to the canonical LISTING schema (missing
    freshness stamps / notes become typed nulls) so every beat op can run
    against the same warehouse table."""
    from . import schemas

    for f in schemas.LISTING.fields:
        if f.name not in df.columns:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    return df


def _read_or_none(spark, warehouse: str, name: str):
    """The warehouse table, or None when it was never written. Any other
    read error (a damaged file, say) raises: a table that is there but
    unreadable must not pass for an absent one."""
    try:
        return spark.read.parquet(_table(warehouse, name))
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def _users_or_empty(spark, warehouse: str):
    from .plans.ops import placeholder_users

    users = _read_or_none(spark, warehouse, "users")
    if users is None:
        users = placeholder_users(spark.createDataFrame([], "user_id long"))
    return users


def _persist_bronze(bronze, warehouse: str) -> None:
    """Append an op's bronze rows without the request columns that ride
    along for the op's own joins."""
    from .sources.bronze import partitioned_bronze_writer

    partitioned_bronze_writer(bronze.drop("key", "offset"), _table(warehouse, "responses"))


def _save_discovery(res, warehouse: str) -> None:
    from .operators.upsert import upsert_parquet

    upsert_parquet(
        _conform_listings(res.listings.withColumn("created_at", F.current_timestamp())),
        _table(warehouse, "listings"),
        ["listing_id"],
    )
    _persist_bronze(res.bronze, warehouse)


def _save_calendar(res, warehouse: str) -> None:
    from .operators.upsert import upsert_parquet

    upsert_parquet(res.listings, _table(warehouse, "listings"), ["listing_id"])
    upsert_parquet(res.calendar_days, _table(warehouse, "calendar_days"), ["listing_id", "date"])
    _persist_bronze(res.bronze, warehouse)


def _save_listing_details(res, warehouse: str) -> None:
    from .operators.upsert import replace_parquet, upsert_parquet

    upsert_parquet(res.listings, _table(warehouse, "listings"), ["listing_id"])
    replace_parquet(res.users, _table(warehouse, "users"))
    _persist_bronze(res.bronze, warehouse)


def _beat_discover(spark, args, kw) -> str:
    from .plans.discovery import discover
    from .sources.mock_api import MockAirbnbApi

    grids = spark.read.parquet(_table(args.warehouse, "grid"))
    aoi = _read_or_none(spark, args.warehouse, "aoi")
    if aoi is not None:
        # op_discover_new_listings_periodical scans only AOIs flagged for
        # scanning (ref operations/discovery.py:12-29); grid×AOI is the
        # bidirectional ancestor/descendant test (J3), not a point prefix
        from .operators.spatial import grids_intersecting_aois

        flagged = aoi.filter(F.col("scan_for_new_listings")).select("aoi_id", "geom_wkt").collect()
        grids = grids_intersecting_aois(grids, [(r.aoi_id, r.geom_wkt) for r in flagged])
    seeds = [r.quadkey for r in grids.select("quadkey").collect()]
    res = discover(
        spark, MockAirbnbApi(), seeds, max_waves=int(kw.get("max_waves", 10))
    )
    _save_discovery(res, args.warehouse)
    return (
        f"waves={res.waves} fetches={res.fetches} splits={len(res.splits)} "
        f"listings={res.listings.count()}"
    )


def _beat_estimate(spark, args, kw) -> str:
    from .operators.upsert import replace_parquet
    from .plans.ops import run_grid_estimate

    grids = spark.read.parquet(_table(args.warehouse, "grid"))
    res = run_grid_estimate(
        spark,
        grids.select("quadkey", "estimated_listings", "last_estimated_scan_at"),
        less_than=int(kw.get("less_than", 50)),
        how_many=int(kw.get("how_many", 500)),
    )
    # grid replacement, not upsert: split parents are removed (G17)
    replace_parquet(res.grids, _table(args.warehouse, "grid"))
    _persist_bronze(res.bronze, args.warehouse)
    return f"scanned={res.n_scanned} split={res.n_split}"


def _beat_calendar(spark, args, kw) -> str:
    from .plans.ops import run_calendar_harvest
    from .sources.aoi import covers_with_flags

    listings = spark.read.parquet(_table(args.warehouse, "listings"))
    covers = covers_with_flags(spark.read.parquet(_table(args.warehouse, "aoi")))
    res = run_calendar_harvest(
        spark, listings, covers, how_many=int(kw.get("how_many", 500_000))
    )
    _save_calendar(res, args.warehouse)
    return f"due={res.n_due} days={res.calendar_days.count()}"


def _beat_reviews(spark, args, kw) -> str:
    from .operators.upsert import insert_if_absent, upsert_parquet
    from .plans.ops import run_review_harvest
    from .sources.aoi import covers_with_flags

    listings = spark.read.parquet(_table(args.warehouse, "listings"))
    covers = covers_with_flags(spark.read.parquet(_table(args.warehouse, "aoi")))
    res = run_review_harvest(
        spark, listings, covers, how_many=int(kw.get("how_many", 1500))
    )
    upsert_parquet(res.listings, _table(args.warehouse, "listings"), ["listing_id"])
    upsert_parquet(res.reviews, _table(args.warehouse, "reviews"), ["review_id"])
    # review authors arrive as partial profiles; widen to placeholder
    # defaults + the fields the payload carries (ref get_or_create
    # defaults, managers.py:241-264)
    from .plans.ops import placeholder_users

    partial = res.users.dropDuplicates(["user_id"])
    wide = (
        placeholder_users(partial.select("user_id"))
        .drop(*[c for c in partial.columns if c != "user_id"])
        .join(partial, "user_id")
    )
    users = insert_if_absent(_users_or_empty(spark, args.warehouse), wide, ["user_id"])
    from .operators.upsert import replace_parquet

    replace_parquet(users, _table(args.warehouse, "users"))
    _persist_bronze(res.bronze, args.warehouse)
    return f"due={res.n_due} pages={res.n_pages} reviews={res.reviews.count()}"


def _beat_listing_details(spark, args, kw) -> str:
    from .plans.ops import run_listing_details
    from .sources.aoi import covers_with_flags

    listings = spark.read.parquet(_table(args.warehouse, "listings"))
    covers = covers_with_flags(spark.read.parquet(_table(args.warehouse, "aoi")))
    users = _users_or_empty(spark, args.warehouse)
    res = run_listing_details(
        spark, listings, covers, users, how_many=int(kw.get("how_many", 500_000))
    )
    _save_listing_details(res, args.warehouse)
    return f"due={res.n_due} hosts={res.hosts.count()}"


def _beat_users(spark, args, kw) -> str:
    from .operators.upsert import replace_parquet
    from .plans.ops import run_user_update

    users = spark.read.parquet(_table(args.warehouse, "users"))
    res = run_user_update(spark, users, how_many=int(kw.get("how_many", 500_000)))
    replace_parquet(res.users, _table(args.warehouse, "users"))
    _persist_bronze(res.bronze, args.warehouse)
    return f"due={res.n_due}"


def _beat_bookings(spark, args, kw) -> str:
    from .plans.ops import run_booking_quotes

    days = spark.read.parquet(_table(args.warehouse, "calendar_days"))
    # default anchor matches the mock source's calendar epoch; a real
    # deployment passes --arg today=current_date()
    res = run_booking_quotes(
        spark, days, today_expr=kw.get("today", "DATE '2024-01-01'")
    )
    _persist_bronze(res.bronze, args.warehouse)
    return f"quoted={res.n_quoted}"


#: ref core/celery.py beat schedule + operations/*.py op names → composed ops
BEAT_JOBS = {
    "op_discover_new_listings_periodical": _beat_discover,
    "op_estimate_listings_or_divide_periodical": _beat_estimate,
    "op_update_calendar_periodical": _beat_calendar,
    "op_update_reviews_periodical": _beat_reviews,
    "op_update_listing_details_periodical": _beat_listing_details,
    "op_get_users_details_periodical": _beat_users,
    "op_get_booking_detail_periodical": _beat_bookings,
}


def cmd_run_beat_job(args) -> int:
    """ref run-beat-job.py:40-76: dispatch a beat op by name with
    ``--arg k=v`` parameters (the reference forwards kwargs to the Celery
    signature; here they reach the composed op directly)."""
    kw: dict[str, str] = {}
    for a in args.arg or []:
        if "=" in a:
            k, v = a.split("=", 1)
            kw[k] = v
    spark = _spark()
    out = BEAT_JOBS[args.job](spark, args, kw)
    print(f"{args.job}: {out}")
    return 0


def _universal_cover(spark):
    """One all-flags cover row with the empty quadkey prefix — matches
    every listing, used by one-off commands that bypass AOI scoping."""
    from .sources.aoi import FLAG_COLS

    schema = "aoi_id long, qk_prefix string, is_boundary boolean, " + ", ".join(
        f"{c} boolean" for c in FLAG_COLS
    )
    return spark.createDataFrame([(0, "", False) + (True,) * len(FLAG_COLS)], schema)


def cmd_scrape_listing_data(args) -> int:
    """ref management/commands/scrape-listing-data.py:17-37: fetch the
    calendar or the listing-details payload for ONE registered listing,
    right now — same fetch→bronze→silver pipeline as the beat ops, with
    the AOI scoping and staleness gate bypassed (``stale_only=False`` +
    a universal cover). Errors if the listing was never registered by a
    scan, like the reference's ``int_to_listing`` converter."""
    spark = _spark()
    listings = spark.read.parquet(_table(args.warehouse, "listings"))
    one = listings.filter(F.col("listing_id") == args.listing_id)
    if not one.take(1):
        print(
            f"listing {args.listing_id} is not registered (run a scan first)",
            file=sys.stderr,
        )
        return 2
    cover = _universal_cover(spark)
    if args.calendar:
        from .plans.ops import run_calendar_harvest

        res = run_calendar_harvest(spark, one, cover, stale_only=False)
        _save_calendar(res, args.warehouse)
        print(f"Fetched calendar for listing {args.listing_id}")
    else:
        from .plans.ops import run_listing_details

        users = _users_or_empty(spark, args.warehouse)
        res = run_listing_details(spark, one, cover, users, stale_only=False)
        _save_listing_details(res, args.warehouse)
        print(f"Fetched listing-details for listing {args.listing_id}")
    return 0


def cmd_run_due_jobs(args) -> int:
    """T1 completion: execute every beat op whose cron cadence has a
    fire time after its recorded last run (ref core/celery.py:39-66 as a
    declarative ``schedules`` table instead of a daemon). ``--now``
    injects a virtual clock for tests and backfills; ``--dry-run`` lists
    without executing."""
    from datetime import datetime

    from .plans import schedule as sched

    now = datetime.fromisoformat(args.now) if args.now else datetime.now()
    spark = _spark()
    path = _table(args.warehouse, "schedules")
    table = sched.load_or_seed(spark, path)
    rows = [(r.job, r.cron, r.last_run_at) for r in table.collect()]
    due = sched.due_jobs(rows, now)
    if not due:
        print(f"nothing due at {now.isoformat()}")
        return 0
    for d in due:
        if args.dry_run:
            print(f"due: {d.job} (cron '{d.cron}', fire {d.fire_time.isoformat()})")
            continue
        out = BEAT_JOBS[d.job](spark, args, {})
        sched.mark_ran(spark, path, d.job, d.fire_time)
        print(f"{d.job}: {out}")
    return 0


def cmd_find_listings(args) -> int:
    """ref find-listings.py:17-32: scan ONE named grid for listings now.
    Errors (like the reference) if the grid is not registered."""
    from .plans.discovery import discover
    from .sources.mock_api import MockAirbnbApi

    spark = _spark()
    grids = _read_or_none(spark, args.warehouse, "grid")
    if grids is None or grids.filter(F.col("quadkey") == args.quadkey).limit(1).count() == 0:
        print(
            f"Grid with quadkey {args.quadkey} does not exist.\n"
            "You can add it with the add-quadkey command.",
            file=sys.stderr,
        )
        return 1
    res = discover(spark, MockAirbnbApi(), [args.quadkey], max_waves=args.max_waves)
    _save_discovery(res, args.warehouse)
    print(f"grid {args.quadkey}: fetches={res.fetches} listings={res.listings.count()}")
    return 0


def cmd_edit_aoi(args) -> int:
    """ref edit-aoi.py: mutate an AOI's collection flags, or delete it.
    Row-level UPDATE/DELETE as a keyed MERGE on the aoi table."""
    from .operators.upsert import replace_parquet, upsert_parquet

    spark = _spark()
    aoi = _read_or_none(spark, args.warehouse, "aoi")
    if aoi is None or aoi.filter(F.col("aoi_id") == args.pk).limit(1).count() == 0:
        print(f"AOI with primary key {args.pk} does not exist.", file=sys.stderr)
        return 1
    if args.delete:
        replace_parquet(
            aoi.filter(F.col("aoi_id") != args.pk), _table(args.warehouse, "aoi")
        )
        print(f"Successfully deleted AOI {args.pk}")
        return 0
    updates = {}
    for flag, col in (
        ("calendars", "collect_calendars"),
        ("listing_details", "collect_listing_details"),
        ("reviews", "collect_reviews"),
        ("bookings", "collect_bookings"),
        ("scan", "scan_for_new_listings"),
    ):
        if getattr(args, flag):
            updates[col] = True
        elif getattr(args, f"no_{flag}"):
            updates[col] = False
    row = aoi.filter(F.col("aoi_id") == args.pk)
    for col, val in updates.items():
        row = row.withColumn(col, F.lit(val))
        print(f"Setting {col} to {val} for AOI {args.pk}")
    upsert_parquet(row, _table(args.warehouse, "aoi"), ["aoi_id"])
    print(f"Successfully updated AOI {args.pk}")
    return 0


def cmd_create_test_area(args) -> int:
    """ref create-test-area.py:24-47: register the grid for a quadkey,
    buffer its geometry by ~100 m (the reference buffers geom_3857; we
    buffer the lon/lat bbox by the degree-equivalent at the tile's
    latitude — same ~100 m ring), and create a Test-Area-<rand> AOI with
    every collection flag on."""
    import math

    from .functions import geometry as geo
    from .functions.ids import get_random_string
    from .operators.upsert import upsert_parquet
    from .sources import aoi as aoi_mod

    spark = _spark()
    west, south, east, north = geo.quadkey_bbox(args.quadkey)
    lat_mid = (south + north) / 2.0
    dlat = 100.0 / 111_320.0
    dlon = dlat / max(math.cos(math.radians(lat_mid)), 1e-6)
    wkt = geo.to_wkt(
        geo.bbox_to_polygon(west - dlon, south - dlat, east + dlon, north + dlat)
    )
    existing = _read_or_none(spark, args.warehouse, "aoi")
    next_id = (
        (existing.agg(F.max("aoi_id")).collect()[0][0] or 0) + 1 if existing is not None else 1
    )
    df = aoi_mod.aoi_from_wkt(
        spark,
        next_id,
        f"Test-Area-{get_random_string(5)}",
        wkt,
        scan_for_new_listings=True,
        collect_calendars=True,
        collect_listing_details=True,
        collect_reviews=True,
        collect_bookings=True,
    )
    upsert_parquet(df, _table(args.warehouse, "aoi"), ["aoi_id"])
    grids = aoi_mod.seed_grids(spark, wkt, depth=len(args.quadkey))
    upsert_parquet(grids, _table(args.warehouse, "grid"), ["quadkey"])
    print(f"aoi {next_id} (test area) added; {grids.count()} grids")
    return 0


def cmd_export_data(args) -> int:
    """ref extract-data.py / README export: JSONL with --only-latest /
    --since (S14, W2, P8)."""
    from .sources.sinks import export_jsonl

    spark = _spark()
    df = spark.read.parquet(_table(args.warehouse, args.table))
    export_jsonl(
        df,
        args.output,
        only_latest_per=[args.latest_per] if args.latest_per else None,
        ts_col=args.ts_col,
        since_expr=f"TIMESTAMP '{args.since}'" if args.since else None,
    )
    print(f"wrote {args.output}")
    return 0


def cmd_curate(args) -> int:
    """Run the composed corpus-curation pipeline (plans/curation.py):
    quality funnel -> URL dedup -> exact dedup -> MinHash near-dup ->
    decontamination -> split; writes the surviving corpus and prints the
    stage-by-stage survivor report."""
    from .plans.curation import run_curation
    from .sources.tables import load_table

    spark = _spark()
    docs = (
        spark.read.parquet(args.input)
        if args.input
        else load_table(spark, args.sf_dir, "documents")
    )
    eval_docs = spark.read.parquet(args.eval_set) if args.eval_set else None
    res = run_curation(
        spark,
        docs,
        eval_docs=eval_docs,
        url_col=args.url_col,
        min_tokens=args.min_tokens,
        lang=args.lang or None,
        min_quality=args.min_quality,
        line_filter=args.line_filter,
        max_per_source=args.max_per_source,
        lsh_max_bucket=args.lsh_max_bucket,
    )
    res.corpus.write.mode("overwrite").parquet(args.output)
    for stage, n in res.report.items():
        print(f"{stage}: {n}")
    return 0


def cmd_write_shards(args) -> int:
    """Write a training-ready sharded corpus (deterministic epoch order,
    per-shard checksummed manifest) from a parquet docs dir or the
    standard documents table; prints the manifest."""
    from .sources.layout import write_training_shards
    from .sources.tables import load_table

    spark = _spark()
    docs = (
        spark.read.parquet(args.input)
        if args.input
        else load_table(spark, args.sf_dir, "documents")
    )
    man = write_training_shards(
        docs, args.output, args.key, n_shards=args.n_shards, salt=args.salt
    )
    for r in sorted(man.collect(), key=lambda r: r["shard"]):
        print(
            f"shard={r['shard']} rows={r['n_rows']} key_xor={r['key_xor']} "
            f"pos=[{r['min_pos']},{r['max_pos']}]"
        )
    return 0


def cmd_sql(args) -> int:
    """Ad-hoc Spark SQL over the standard tables: every parquet table in
    --sf-dir registers as a temp view (plus any --view name=path extras),
    the statement runs through the tuned session, and the result prints
    (--limit) or lands in --output parquet/CSV. The 'switch from the
    reference' escape hatch: any query not prebuilt in queries.py is one
    SQL string away."""
    from .sources.tables import TABLE_NAMES, load_table

    spark = _spark()
    for name in TABLE_NAMES:
        try:
            load_table(spark, args.sf_dir, name).createOrReplaceTempView(name)
        except Exception:
            continue  # partial table sets are fine for ad-hoc work
    for spec in args.view or []:
        name, _, path = spec.partition("=")
        spark.read.parquet(path).createOrReplaceTempView(name)
    df = spark.sql(args.statement)
    if args.output:
        writer = df.write.mode("overwrite")
        if args.format == "csv":
            writer.option("header", "true").csv(args.output)
        else:
            writer.parquet(args.output)
        print(f"wrote {args.output}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def cmd_query(args) -> int:
    """Run one named registry query (queries.py) against --sf-dir; with
    --list, print every registered name + note instead."""
    from . import queries as q_mod

    specs = {s.name: s for s in q_mod.registry()}
    if args.list:
        for s in specs.values():
            print(f"{s.name:34s} {s.note or ','.join(s.ops)}")
        return 0
    if args.name not in specs:
        print(f"unknown query {args.name!r}; use --list", file=sys.stderr)
        return 2
    spark = _spark()
    df = specs[args.name].spark(spark, args.sf_dir)
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")
    else:
        df.show(args.limit, truncate=False)
    return 0


#: the operational health dashboard: every report query the `report`
#: command runs, in print order
_REPORT_QUERIES = [
    "ns_profile_orders",
    "ns_key_skew_report",
    "ns_join_size_probe",
    "ns_dupe_rate_by_source",
    "ns_source_balance_gini",
    "ns_drift_histogram",
    "ns_rate_anomaly",
    "ns_embed_health",
    # round-4 additions: corpus integrity + quality/structure monitors
    "ns_corpus_checksum",
    "ns_boilerplate_prefix",
    "ns_unigram_kl",
    "ns_length_buckets",
    "ns_mixture_rates",
    "ns_rolling_active_users",
    # round-4 fourth wave: eval integrity, dedup calibration, diversity,
    # robust length screen, source-pair mirror rollup
    "ns_split_leakage",
    "ns_lsh_recall",
    "ns_ngram_diversity",
    "ns_outlier_mad",
    "ns_cross_source_dups",
    "ns_embed_norms",
    "ns_zipf_slope",
    "ns_lang_id_margin",
]


def cmd_report(args) -> int:
    """Run the operational-report query family (profiling, skew, join
    sizing, dup rates, balance, drift, anomalies, embedding health) and
    print each result — the one-command health check of a corpus drop."""
    from . import queries as q_mod
    from .operators.prefixsum import release_pins

    specs = {s.name: s for s in q_mod.registry()}
    spark = _spark()
    for name in args.only or _REPORT_QUERIES:
        print(f"== {name} ==")
        df = specs[name].spark(spark, args.sf_dir)
        if name == "ns_rate_anomaly":  # full table is day-grained; show flags
            df = df.filter("anomaly")
        df.show(args.limit, truncate=False)
        release_pins()  # one query's pins at a time; no session-long churn
    return 0


def _docs_from(args, spark):
    from .sources.tables import load_table

    return (
        spark.read.parquet(args.input)
        if getattr(args, "input", None)
        else load_table(spark, args.sf_dir, "documents")
    )


def cmd_train_bpe(args) -> int:
    """Learn a BPE merge table from the corpus word frequencies and write
    it as parquet — the tokenizer artifact `apply_bpe` replays."""
    from .operators import bpe

    spark = _spark()
    merges = bpe.bpe_train(
        _docs_from(args, spark), n_merges=args.merges, min_count=args.min_count
    )
    merges.orderBy("step").write.mode("overwrite").parquet(args.output)
    n = merges.count()
    print(f"learned {n} merges -> {args.output}")
    return 0


def cmd_screen_drop(args) -> int:
    """Near-duplicate screening of an incoming drop against the persisted
    LSH index: optional build, probe, optional fold-in."""
    from .operators import dedup_index

    spark = _spark()
    if args.build:
        dedup_index.build_lsh_index(spark.read.parquet(args.build), args.index)
        print(f"built index at {args.index}")
    drop = spark.read.parquet(args.drop)
    pairs = dedup_index.query_lsh_index(spark, args.index, drop)
    if args.output:
        pairs.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")
    else:
        pairs.show(args.limit, truncate=False)
    if args.add:
        dedup_index.add_to_lsh_index(drop, args.index)
        print("drop folded into index")
    return 0


def cmd_compact_index(args) -> int:
    """Maintenance pass for a persisted index: collapse append/ingest
    file generations (streaming layouts keep their exactly-once marker;
    orphaned uncommitted batches are dropped) and GC orphan manifest
    generations left by crashed swaps."""
    import os

    from .sources import layout

    spark = _spark()
    path = args.path.rstrip("/")

    def _marker(params_path):
        [p_] = spark.read.parquet(layout.current_path(params_path)).collect()
        d = p_.asDict()
        return int(d["__max_batch_id"]) if "__max_batch_id" in d else None

    if args.kind == "bm25":
        from .operators.tfidf import compact_bm25_index

        if _marker(os.path.join(path, "params")) is not None:
            n = compact_bm25_index(spark, path)
        else:
            # batch-built layout: hold the index ROOT lease across both
            # component compactions so an appender retries after, never
            # appends into a tree mid-rename-swap (r10)
            with layout._writer_lease(path):
                n = layout.compact_partitioned(
                    spark, os.path.join(path, "postings"), ["term_bucket"]
                )
                layout.compact(spark, os.path.join(path, "doclen"))
        comps = ("postings", "doclen", "params")
    elif args.kind == "ivf":
        from .operators.ann_index import compact_ivf_index

        n = compact_ivf_index(spark, path)
        comps = ("assignments", "centroids", "params")
    elif args.kind == "lsh":
        from .operators.dedup_index import compact_lsh_index

        n = compact_lsh_index(spark, path)
        comps = ("banded", "params")
    else:  # pragma: no cover - argparse choices guard
        raise ValueError(args.kind)
    gc = sum(layout.manifest_gc(os.path.join(path, c)) for c in comps)
    print(f"compacted {args.kind} index at {path}: {n} parquet files, {gc} orphan generations collected")
    return 0


def cmd_dsir_score(args) -> int:
    """DSIR importance weights of every document against a target slice
    given as a boolean SQL expression (e.g. "lang = 'en'")."""
    from pyspark.sql import functions as F

    from .operators.curation import dsir_weights

    spark = _spark()
    docs = _docs_from(args, spark)
    w = dsir_weights(docs, F.expr(args.target_sql), buckets=args.buckets)
    if args.output:
        w.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")
    else:
        w.orderBy(F.desc("weight")).show(args.limit, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="ubdc-airbnb-spark")
    p.add_argument("--warehouse", default=os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/ubdc_warehouse"))
    sub = p.add_subparsers(dest="cmd", required=True)

    a = sub.add_parser("add-aoi", help="ingest an AOI from WKT/bbox/GeoJSON and seed grids")
    a.add_argument("--id", type=int, required=True)
    a.add_argument("--name", default="")
    g = a.add_mutually_exclusive_group(required=True)
    g.add_argument("--wkt")
    g.add_argument("--bbox", help="west,south,east,north")
    g.add_argument("--geojson", help="path to a GeoJSON file")
    a.add_argument("--depth", type=int, default=12)
    for flag in ("scan", "calendars", "details", "reviews", "bookings"):
        a.add_argument(f"--{flag}", action="store_true")
    a.set_defaults(fn=cmd_add_aoi)

    l = sub.add_parser("list-aoi", help="list AOIs (optionally CSV)")
    l.add_argument("--name-contains")
    l.add_argument("--csv", help="output directory for CSV")
    l.set_defaults(fn=cmd_list_aoi)

    aq = sub.add_parser("add-quadkey", help="insert one grid tile by quadkey")
    aq.add_argument("--quadkey", required=True)
    aq.set_defaults(fn=cmd_add_quadkey)

    d = sub.add_parser("discover", help="run the BFS discovery sweep (mock source)")
    d.add_argument("--max-waves", type=int, default=10)
    d.set_defaults(fn=cmd_discover)

    rb = sub.add_parser("run-beat-job", help="run a composed beat op by name")
    rb.add_argument("job", choices=sorted(BEAT_JOBS))
    rb.add_argument("--arg", action="append", default=[], help="k=v forwarded to the op")
    rb.set_defaults(fn=cmd_run_beat_job)

    sl = sub.add_parser(
        "scrape-listing-data", help="one-off calendar or listing-details fetch for one listing"
    )
    sl.add_argument("--listing-id", type=int, required=True)
    op = sl.add_mutually_exclusive_group(required=True)
    op.add_argument("--calendar", action="store_true")
    op.add_argument("--listing-detail", action="store_true")
    sl.set_defaults(fn=cmd_scrape_listing_data)

    rd = sub.add_parser("run-due-jobs", help="execute beat ops whose cron schedule is due")
    rd.add_argument("--now", help="virtual clock (ISO timestamp); default wall clock")
    rd.add_argument("--dry-run", action="store_true")
    rd.set_defaults(fn=cmd_run_due_jobs)

    fl = sub.add_parser("find-listings", help="scan one registered grid for listings now")
    fl.add_argument("quadkey")
    fl.add_argument("--max-waves", type=int, default=5)
    fl.set_defaults(fn=cmd_find_listings)

    ea = sub.add_parser("edit-aoi", help="edit collection flags of an AOI, or delete it")
    ea.add_argument("pk", type=int)
    ea.add_argument("--delete", action="store_true")
    for flag in ("calendars", "listing-details", "reviews", "bookings", "scan"):
        grp = ea.add_mutually_exclusive_group(required=False)
        grp.add_argument(f"--{flag}", action="store_true")
        grp.add_argument(f"--no-{flag}", action="store_true")
    ea.set_defaults(fn=cmd_edit_aoi)

    ct = sub.add_parser("create-test-area", help="buffered test AOI from a quadkey, all flags on")
    ct.add_argument("quadkey")
    ct.set_defaults(fn=cmd_create_test_area)

    cu = sub.add_parser("curate", help="run the full corpus-curation pipeline")
    cu.add_argument("--input", default=None, help="parquet docs dir (default: --sf-dir documents table)")
    cu.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    cu.add_argument("--eval-set", default=None, help="parquet eval docs for decontamination")
    cu.add_argument("--url-col", default=None)
    cu.add_argument("--min-tokens", type=int, default=20)
    cu.add_argument("--lang", default="en", help="'' disables the language gate")
    cu.add_argument("--min-quality", type=float, default=0.5)
    cu.add_argument("--line-filter", action="store_true",
                    help="C4 line-level cleaning before the doc gates")
    cu.add_argument("--max-per-source", type=int, default=None,
                    help="domain-balancing hard cap per source")
    cu.add_argument("--lsh-max-bucket", type=int, default=None,
                    help="viral-bucket guard for the near-dup LSH stage: "
                         "band buckets with more members are dropped from "
                         "pair generation (boilerplate mega-clusters are "
                         "already resolved by the exact-dedup stage)")
    cu.add_argument("--output", required=True)
    cu.set_defaults(fn=cmd_curate)

    wsh = sub.add_parser("write-shards", help="sharded training corpus + checksummed manifest")
    wsh.add_argument("--input", default=None, help="parquet docs dir (default: --sf-dir documents)")
    wsh.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    wsh.add_argument("--key", default="doc_id")
    wsh.add_argument("--n-shards", type=int, default=8)
    wsh.add_argument("--salt", default="shuffle")
    wsh.add_argument("--output", required=True)
    wsh.set_defaults(fn=cmd_write_shards)

    e = sub.add_parser("export-data", help="JSONL export with --only-latest/--since")
    e.add_argument("--table", default="responses")
    e.add_argument("--output", required=True)
    e.add_argument("--latest-per")
    e.add_argument("--ts-col", default="created_at")
    e.add_argument("--since")
    e.set_defaults(fn=cmd_export_data)

    sq = sub.add_parser("sql", help="ad-hoc Spark SQL over the registered tables")
    sq.add_argument("statement")
    sq.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    sq.add_argument("--view", action="append", help="extra view as name=parquet_path")
    sq.add_argument("--output")
    sq.add_argument("--format", choices=["parquet", "csv"], default="parquet")
    sq.add_argument("--limit", type=int, default=20)
    sq.set_defaults(fn=cmd_sql)

    qr = sub.add_parser("query", help="run a named registry query (or --list them)")
    qr.add_argument("--name")
    qr.add_argument("--list", action="store_true")
    qr.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    qr.add_argument("--output")
    qr.add_argument("--limit", type=int, default=20)
    qr.set_defaults(fn=cmd_query)

    rp = sub.add_parser("report", help="run the operational health-report query family")
    rp.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    rp.add_argument("--only", action="append", help="run only this report query (repeatable)")
    rp.add_argument("--limit", type=int, default=20)
    rp.set_defaults(fn=cmd_report)

    tb = sub.add_parser("train-bpe", help="learn BPE merges from a corpus")
    tb.add_argument("--input", default=None, help="parquet docs dir (default: --sf-dir documents table)")
    tb.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    tb.add_argument("--merges", type=int, default=64)
    tb.add_argument("--min-count", type=int, default=2)
    tb.add_argument("--output", required=True, help="parquet dir for the merge table")
    tb.set_defaults(fn=cmd_train_bpe)

    sd = sub.add_parser("screen-drop", help="screen a new document drop against a persisted LSH dedup index")
    sd.add_argument("--index", required=True, help="dedup index path (built with --build)")
    sd.add_argument("--build", default=None, help="build the index from this corpus parquet first")
    sd.add_argument("--drop", required=True, help="parquet dir of the incoming documents")
    sd.add_argument("--add", action="store_true", help="fold the screened drop into the index afterwards")
    sd.add_argument("--output", default=None, help="write candidate pairs parquet instead of printing")
    sd.add_argument("--limit", type=int, default=20)
    sd.set_defaults(fn=cmd_screen_drop)

    ci = sub.add_parser("compact-index", help="compact a persisted index's file generations + GC orphan manifest generations")
    ci.add_argument("--path", required=True, help="index root (build_*_index layout)")
    ci.add_argument("--kind", required=True, choices=["bm25", "ivf", "lsh"])
    ci.set_defaults(fn=cmd_compact_index)

    ds = sub.add_parser("dsir-score", help="DSIR importance weights against a target slice")
    ds.add_argument("--input", default=None, help="parquet docs dir (default: --sf-dir documents table)")
    ds.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ds.add_argument("--target-sql", default="lang = 'en'", help="boolean SQL expression defining the target slice")
    ds.add_argument("--buckets", type=int, default=1024)
    ds.add_argument("--output", default=None)
    ds.add_argument("--limit", type=int, default=20)
    ds.set_defaults(fn=cmd_dsir_score)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
