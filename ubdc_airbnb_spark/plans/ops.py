"""Composed beat-op jobs — the Spark translation of the reference's
periodic operations, end to end (SURVEY §3.2; ref
app/operations/calendars.py, grids.py). Each run is one batch job:
due-selection → distributed rate-limited fetch → bronze append → silver
extraction → freshness MERGE, all set-based.

Every op turns its fetch results into bronze rows with the one builder,
``sources.bronze.response_rows`` (row id = hash of the request and its
``created_at``), behind its own ``materialize`` barrier; the freshness
stamps are one keyed MERGE, :func:`_stamp`.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import extract
from ..operators.upsert import insert_if_absent, upsert
from ..sources.bronze import response_rows
from ..sources.http_fetch import Fetcher, fetch_batch, materialize, mock_fetcher
from . import harvest


def _stamp(listings: DataFrame, ids: DataFrame, col: str, now_expr: str) -> DataFrame:
    """Freshness MERGE: set ``col`` to now on the listings whose id is in
    ``ids`` (one ``listing_id`` column; duplicates allowed)."""
    touched = listings.join(ids.distinct(), "listing_id", "left_semi")
    return upsert(listings, touched.withColumn(col, F.expr(now_expr)), ["listing_id"])


@dataclass
class CalendarHarvestResult:
    bronze: DataFrame
    calendar_days: DataFrame
    listings: DataFrame          # with advanced freshness stamps
    listing_responses: DataFrame  # J9 bridge rows
    n_due: int


def run_calendar_harvest(
    spark: SparkSession,
    listings: DataFrame,
    aoi_covers: DataFrame,
    inflight: DataFrame | None = None,
    fetcher: Fetcher = mock_fetcher,
    how_many: int = 500_000,
    now_expr: str = "current_timestamp()",
    rate_per_sec: float | None = None,
    stale_only: bool = True,
) -> CalendarHarvestResult:
    """op_update_calendar_periodical (ref operations/calendars.py:84-133
    + worker task tasks.py:97-123), as one batch job:

    1. due-selection (J2+P7+J6+W1+W6);
    2. ``mapInPandas`` fetch of 12-month calendars (S2, rate-limited);
    3. bronze append with status routing (S11);
    4. silver ``calendar_days`` explode (X11);
    5. MERGE ``calendar_updated_at`` stamps + M2M bridge rows (J9/T10)
       for successful fetches only (the reference stamps after linking
       the response — tasks.py:119-122).
    """
    due = harvest.select_due_calendars(
        listings, aoi_covers, inflight, how_many=how_many, stale_only=stale_only
    )
    n_due = due.count()
    work = due.select(
        F.lit("calendar").alias("kind"),
        F.col("listing_id").cast("string").alias("key"),
        F.lit(0).cast("long").alias("offset"),
        F.expr(now_expr).alias("created_at"),
    )
    fetched = fetch_batch(work, fetcher, rate_per_sec=rate_per_sec)
    # one-shot barrier: bronze fans out to days/stamps/bridge and the
    # returned frame — without it each action would re-run the HTTP stage
    bronze = materialize(response_rows(fetched, "CAL"))
    ok = bronze.filter(F.col("was_successful"))
    days = extract.calendar_days(ok)
    stamped = _stamp(listings, ok.select("listing_id"), "calendar_updated_at", now_expr)
    bridge = ok.select("listing_id", "response_id")
    return CalendarHarvestResult(bronze, days, stamped, bridge, n_due)


@dataclass
class ReviewHarvestResult:
    bronze: DataFrame
    reviews: DataFrame
    users: DataFrame
    listings: DataFrame
    n_due: int
    n_pages: int


def run_review_harvest(
    spark: SparkSession,
    listings: DataFrame,
    aoi_covers: DataFrame,
    inflight: DataFrame | None = None,
    fetcher: Fetcher = mock_fetcher,
    how_many: int = 50,
    page_size: int = 100,
    now_expr: str = "current_timestamp()",
) -> ReviewHarvestResult:
    """op_update_reviews_periodical + task_add_reviews_of_listing (ref
    operations/reviews.py:79-139, tasks.py:32-94), with the parallel
    improvement SURVEY §3.3 notes: page offsets are computed up front
    from page 1's ``reviews_count`` and fetched as one batch instead of
    sequential task chaining. Users are get_or_create'd with placeholder
    defaults; review rows are persisted (the reference builds but never
    saves them — we implement the intended behavior its tests assert)."""
    due = harvest.select_due(
        listings,
        aoi_covers,
        inflight,
        flag_col="collect_reviews",
        freshness_col="reviews_updated_at",
        threshold_expr=f"{now_expr} - INTERVAL 504 HOUR",  # 21 days
        how_many=how_many,
    )
    n_due = due.count()
    first_pages = fetch_batch(
        due.select(
            F.lit("reviews").alias("kind"),
            F.col("listing_id").cast("string").alias("key"),
            F.lit(0).cast("long").alias("offset"),
            F.expr(now_expr).alias("created_at"),
        ),
        fetcher,
    )
    # page-1 fetch runs once
    bronze0 = materialize(response_rows(first_pages, "RVW"))
    counts = extract.reviews_count(bronze0.filter(F.col("was_successful")))
    offsets = harvest.review_page_offsets(counts, page_size).filter(F.col("offset") > 0)
    rest = fetch_batch(
        offsets.select(
            F.lit("reviews").alias("kind"),
            F.col("listing_id").cast("string").alias("key"),
            F.col("offset").cast("long").alias("offset"),
            F.expr(now_expr).alias("created_at"),
        ),
        fetcher,
    )
    bronze = materialize(bronze0.unionByName(response_rows(rest, "RVW")))
    n_pages = bronze.count()
    ok = bronze.filter(F.col("was_successful"))
    reviews = extract.review_rows(ok).dropDuplicates(["review_id"])
    users = extract.review_users(ok)
    stamped = _stamp(listings, ok.select("listing_id"), "reviews_updated_at", now_expr)
    return ReviewHarvestResult(bronze, reviews, users, stamped, n_due, n_pages)


@dataclass
class BookingQuoteResult:
    windows: DataFrame  # listing_id, check_in, check_out
    bronze: DataFrame
    n_quoted: int


def run_booking_quotes(
    spark: SparkSession,
    calendar_days: DataFrame,
    fetcher: Fetcher = mock_fetcher,
    today_expr: str = "DATE '2024-01-01'",
    now_expr: str = "current_timestamp()",
) -> BookingQuoteResult:
    """S7 booking-quote flow (ref airbnb_api.py:408-491 +
    operations/bookings.py): derive the first feasible (check_in,
    check_out) per listing from silver calendar days (W5 window algebra,
    not an imperative scan), then fetch one quote per feasible listing.
    Listings with no feasible window are skipped (the reference raises
    NoBookingDatesError per listing; set-semantics drop them)."""
    windows = harvest.derive_booking_window(calendar_days, today_expr=today_expr)
    work = windows.select(
        F.lit("listing").alias("kind"),
        F.col("listing_id").cast("string").alias("key"),
        F.lit(0).cast("long").alias("offset"),
        F.expr(now_expr).alias("created_at"),
    )
    bronze = materialize(response_rows(fetch_batch(work, fetcher), "BQT"))
    return BookingQuoteResult(windows, bronze, bronze.count())


@dataclass
class GridEstimateResult:
    grids: DataFrame
    bronze: DataFrame
    n_scanned: int
    n_split: int


def run_grid_estimate(
    spark: SparkSession,
    grids: DataFrame,
    fetcher: Fetcher = mock_fetcher,
    less_than: int = 50,
    max_level: int = 22,
    age_hours: int = 14 * 24,
    how_many: int = 500,
    now_expr: str = "current_timestamp()",
) -> GridEstimateResult:
    """op_estimate_listings_or_divide_periodical (ref
    operations/grids.py:20-84,100-160): stale grids get a metadata-only
    search (S6); a grid whose ``listings_count`` estimate exceeds
    ``less_than`` and is above tile depth ``max_level`` is replaced by
    its 4 children (G17, one generation per run — the reference recurses
    via task fan-out, the next periodic run refines further); otherwise
    its estimate and scan stamp are updated (T10)."""
    stale = grids.filter(
        F.col("last_estimated_scan_at").isNull()
        | (F.col("last_estimated_scan_at") < F.expr(f"{now_expr} - INTERVAL {age_hours} HOUR"))
    )
    picked = stale.orderBy(F.col("last_estimated_scan_at").asc_nulls_first(), F.col("quadkey")).limit(
        how_many
    )
    work = picked.select(
        F.lit("search").alias("kind"),
        F.col("quadkey").alias("key"),
        F.lit(0).cast("long").alias("offset"),
        F.expr(now_expr).alias("created_at"),
    )
    # the persisted row names its grid in ``task_id``
    rows = response_rows(fetch_batch(work, fetcher), "SHM")
    bronze = materialize(rows.withColumn("task_id", F.col("key")))
    counts = (
        extract.search_pagination(bronze.filter(F.col("was_successful")))
        .join(bronze.select("response_id", F.col("key").alias("quadkey")), "response_id")
        .select("quadkey", F.coalesce("listings_count", F.lit(0)).alias("estimate"))
    )
    scanned = picked.join(counts, "quadkey", "left")
    to_split = scanned.filter(
        (F.col("estimate") >= less_than) & (F.length("quadkey") < max_level)
    )
    kept = scanned.join(to_split.select("quadkey"), "quadkey", "left_anti").select(
        "quadkey",
        F.coalesce("estimate", F.col("estimated_listings")).cast("int").alias("estimated_listings"),
        F.expr(now_expr).alias("last_estimated_scan_at"),
    )
    children = to_split.select(
        F.explode(
            F.transform(
                F.array(F.lit("0"), F.lit("1"), F.lit("2"), F.lit("3")),
                lambda d: F.concat(F.col("quadkey"), d),
            )
        ).alias("quadkey"),
        F.lit(-1).alias("estimated_listings"),
        F.lit(None).cast("timestamp").alias("last_estimated_scan_at"),
    )
    untouched = grids.join(picked.select("quadkey"), "quadkey", "left_anti").select(
        "quadkey", "estimated_listings", "last_estimated_scan_at"
    )
    new_grids = untouched.unionByName(kept).unionByName(children)
    return GridEstimateResult(
        grids=new_grids,
        bronze=bronze,
        n_scanned=picked.count(),
        n_split=to_split.count(),
    )


# ---------------------------------------------------------------------------
# Users: placeholder -> disabled -> real state machine (S4/S5, X2/X5, J10)
# ---------------------------------------------------------------------------

#: first_name sentinels (ref model_defaults.py:3-4)
USER_PLACEHOLDER = "airbnbuser"
USER_DISABLED = "airbnbuser-disabled"


def placeholder_users(user_ids: DataFrame) -> DataFrame:
    """get_or_create placeholder defaults (ref managers.py:241-264): a user
    first seen as a host / review author exists only as a sentinel row
    until a profile refresh resolves it."""
    return user_ids.select("user_id").distinct().select(
        "user_id",
        F.lit(USER_PLACEHOLDER).alias("first_name"),
        F.lit("").alias("about"),
        F.lit("").alias("location"),
        F.lit(0).alias("airbnb_listing_count"),
        F.array().cast("array<string>").alias("verifications"),
        F.lit("").alias("picture_url"),
        F.lit(False).alias("is_superhost"),
        F.lit(None).cast("timestamp").alias("profile_created_at"),
        F.lit(None).cast("timestamp").alias("user_updated_at"),
    )


def user_state_merge(
    users: DataFrame,
    attempted: DataFrame,
    profiles: DataFrame,
    now_expr: str = "current_timestamp()",
) -> DataFrame:
    """The profile-refresh state machine (ref tasks.py:314-335 +
    models.py:522-545): per refreshed user,

    - valid profile payload -> REAL: profile fields overwrite the row;
    - fetch attempted, no valid payload, row was a PLACEHOLDER ->
      DISABLED (the reference pre-marks placeholders disabled and lets a
      valid response overwrite it back);
    - fetch attempted on a real/disabled row without a valid payload ->
      row unchanged (a real user is never demoted);
    - not attempted -> unchanged.

    ``attempted``: (user_id) rows whose fetch completed non-retriably.
    ``profiles``: user_id + the profile columns to overwrite (a subset of
    ``users``' columns). One shuffle per side on user_id; the attempted /
    profile sides are batch-sized, broadcast when small.
    """
    upd_cols = [c for c in profiles.columns if c != "user_id"]
    a = attempted.select("user_id").distinct().withColumn("__f", F.lit(True))
    p = profiles.select(
        "user_id",
        F.lit(True).alias("__p"),
        *[F.col(c).alias(f"__p_{c}") for c in upd_cols],
    )
    j = users.join(a, "user_id", "left").join(p, "user_id", "left")
    is_real = F.col("__p").isNotNull()
    to_disable = (
        F.col("__f").isNotNull()
        & ~is_real
        & (F.col("first_name") == F.lit(USER_PLACEHOLDER))
    )
    out: list = []
    for c in users.columns:
        if c == "first_name":
            e = F.when(to_disable, F.lit(USER_DISABLED))
            e = (
                e.when(is_real, F.col("__p_first_name")).otherwise(F.col(c))
                if "first_name" in upd_cols
                else e.otherwise(F.col(c))
            )
            out.append(e.alias(c))
        elif c in upd_cols:
            out.append(F.when(is_real, F.col(f"__p_{c}")).otherwise(F.col(c)).alias(c))
        elif c == "user_updated_at":
            out.append(
                F.when(F.col("__f").isNotNull(), F.expr(now_expr))
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            out.append(F.col(c))
    return j.select(*out)


@dataclass
class ListingDetailsResult:
    bronze: DataFrame
    hosts: DataFrame      # listing_id, host_id, is_superhost, is_primary
    users: DataFrame      # users table after placeholder inserts + superhost flags
    listings: DataFrame   # with advanced listing_updated_at stamps
    n_due: int


def run_listing_details(
    spark: SparkSession,
    listings: DataFrame,
    aoi_covers: DataFrame,
    users: DataFrame,
    inflight: DataFrame | None = None,
    fetcher: Fetcher = mock_fetcher,
    how_many: int = 500_000,
    age_hours: int = 15 * 24,  # 2x/month cadence (ref core/celery.py:41-44)
    now_expr: str = "current_timestamp()",
    rate_per_sec: float | None = None,
    stale_only: bool = True,
) -> ListingDetailsResult:
    """op_update_listing_details_periodical (ref
    operations/listing_details.py:24-80 + worker task tasks.py:156-199),
    as one batch job:

    1. due-selection on the ``collect_listing_details`` AOI flag (J2 +
       P7 staleness + J6 + W1/W6);
    2. ``mapInPandas`` fetch of listing-detail payloads (S4);
    3. bronze append (S11, _type LST);
    4. silver host extraction — primary + additional hosts (X2);
    5. host users get_or_create'd as placeholders (J10, ref
       tasks.py:193-198) with ``is_superhost`` refreshed on BOTH new and
       existing rows (the reference saves the flag unconditionally);
    6. ``listing_updated_at`` stamped for every non-retriable fetch (the
       reference stamps right after the response persists —
       tasks.py:176-178 — before parsing; 403s count, 429/503 abort).
    """
    due = harvest.select_due(
        listings,
        aoi_covers,
        inflight,
        flag_col="collect_listing_details",
        freshness_col="listing_updated_at",
        threshold_expr=f"{now_expr} - INTERVAL {age_hours} HOUR",
        how_many=how_many,
        stale_only=stale_only,
    )
    n_due = due.count()
    work = due.select(
        F.lit("listing").alias("kind"),
        F.col("listing_id").cast("string").alias("key"),
        F.lit(0).cast("long").alias("offset"),
        F.expr(now_expr).alias("created_at"),
    )
    fetched = fetch_batch(work, fetcher, rate_per_sec=rate_per_sec)
    bronze = materialize(response_rows(fetched, "LST"))
    ok = bronze.filter(F.col("was_successful"))
    hosts = extract.listing_detail_hosts(ok)
    # one flag per host (a host may appear under several listings; any
    # payload marking it superhost wins deterministically)
    host_flags = hosts.groupBy(F.col("host_id").alias("user_id")).agg(
        F.max(F.coalesce("is_superhost", F.lit(False))).alias("is_superhost")
    )
    with_new = insert_if_absent(users, placeholder_users(host_flags), ["user_id"])
    users_out = (
        with_new.alias("u")
        .join(host_flags.alias("h"), "user_id", "left")
        .select(
            *[
                F.coalesce(F.col("h.is_superhost"), F.col("u.is_superhost")).alias(c)
                if c == "is_superhost"
                else F.col(f"u.{c}")
                for c in users.columns
            ]
        )
    )
    attempted = bronze.filter(~F.col("is_retriable")).select("listing_id")
    stamped = _stamp(listings, attempted, "listing_updated_at", now_expr)
    return ListingDetailsResult(bronze, hosts, users_out, stamped, n_due)


@dataclass
class UserUpdateResult:
    bronze: DataFrame
    users: DataFrame
    n_due: int


def run_user_update(
    spark: SparkSession,
    users: DataFrame,
    fetcher: Fetcher = mock_fetcher,
    how_many: int = 500_000,
    age_hours: int = 15 * 24,  # 2x/month cadence (ref core/celery.py:41-44)
    now_expr: str = "current_timestamp()",
    rate_per_sec: float | None = None,
) -> UserUpdateResult:
    """op_get_users_details periodical — the reference left its initiator
    unfinished (operations/users.py:10-18, TODO); this implements the
    intended composition over its worker task (tasks.py:314-335):

    1. due-selection: stalest profiles first, placeholders (never
       refreshed) leading — W1 nulls-first top-k;
    2. ``mapInPandas`` fetch of user payloads (S5);
    3. bronze append (_type USR);
    4. the placeholder -> disabled -> real state machine via
       :func:`user_state_merge` (X5 field mapping + picture-URL strip
       inside ``extract.user_profile``).
    """
    due = (
        users.orderBy(F.col("user_updated_at").asc_nulls_first(), F.col("user_id"))
        .limit(how_many)
        .select("user_id")
    )
    n_due = due.count()
    work = due.select(
        F.lit("user").alias("kind"),
        F.col("user_id").cast("string").alias("key"),
        F.lit(0).cast("long").alias("offset"),
        F.expr(now_expr).alias("created_at"),
    )
    fetched = fetch_batch(work, fetcher, rate_per_sec=rate_per_sec)
    bronze = materialize(response_rows(fetched, "USR"))
    attempted = bronze.filter(~F.col("is_retriable")).select(
        F.col("listing_id").alias("user_id")
    )
    profiles = extract.user_profile(bronze.filter(F.col("was_successful")))
    users_out = user_state_merge(users, attempted, profiles, now_expr=now_expr)
    return UserUpdateResult(bronze, users_out, n_due)
