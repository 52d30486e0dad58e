"""Join operators (SURVEY §2.3): semi/anti joins, bridge joins, and the
quadkey-prefix spatial join kernel.

Equi-joins are left to Catalyst (broadcast / sort-merge / AQE skew
handling). The custom piece is the prefix join: point-in-polygon at scale
becomes (a) broadcast the polygon's quadkey tile cover, (b) equi-join on
truncated quadkey — which Catalyst executes as a broadcast hash join with
no shuffle of the big side — then (c) an exact geometry test only for
boundary tiles."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def semi_join(df: DataFrame, other: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """J4/J5/J7: EXISTS / IN (ref operations/grids.py:130-139,
    bookings.py:53-56)."""
    return df.join(other, on, "left_semi")


def anti_join(df: DataFrame, other: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """J6: NOT IN in-flight dedup (ref operations/reviews.py:116-117)."""
    return df.join(other, on, "left_anti")


def bridge_join(
    left: DataFrame,
    bridge: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    broadcast_dims_below: int | None = None,
    left_sized_by: DataFrame | None = None,
    right_sized_by: DataFrame | None = None,
) -> DataFrame:
    """J9: M2M traversal through a two-column bridge table
    (ref models.py:478,517-518).

    ``broadcast_dims_below`` (r11, guide §3.1 "pick the strategy
    deliberately"): the bridge is by construction at least as large as
    either dim (one row per link), so when a broadcast join fires the
    build side should be the DIM and the bridge should stream.
    Catalyst's post-join size estimates routinely invert that at modest
    scale — measured at sf0.1 it broadcast the 600k-row bridge and
    streamed the 150k-row dim side (A/B best-of-5: 0.547 s auto vs
    0.365 s dim-build). When this arg is set, a dim whose
    source-cardinality estimate (parquet footers, falling back to
    optimizer-stats rowCount, ``sources.tables._approx_rows``) is
    KNOWN and below the row cap gets an explicit broadcast hint; an
    unknown or larger estimate falls through to planner choice, so at
    cluster scale where dims exceed the broadcast cap this is a no-op
    and the planner's shuffle join stands. A derived dim (e.g. a
    fact⋈small-dim projection) reports no rowCount; the caller then
    passes ``left_sized_by``/``right_sized_by`` — a frame whose
    cardinality UPPER-BOUNDS the dim (for j9, the raw orders table
    bounds orders⋈customer, an FK join that cannot expand)."""
    if broadcast_dims_below is not None:
        from ..sources.tables import _approx_rows

        lrows = _approx_rows(left_sized_by if left_sized_by is not None else left)
        if lrows is not None and lrows < broadcast_dims_below:
            left = broadcast(left)
        rrows = _approx_rows(right_sized_by if right_sized_by is not None else right)
        if rrows is not None and rrows < broadcast_dims_below:
            right = broadcast(right)
    return left.join(bridge, left_key).join(right, right_key)


def prefix_filter(
    points: DataFrame, prefixes: list[str], qk_col: str = "quadkey"
) -> DataFrame:
    """J1 fast path: driver-resident cover → pure codegen'd filter
    ``substring(qk,1,len) IN <hash-set>`` per distinct length. No join,
    no shuffle, no dedup; the predicate is pushed into the scan stage."""
    per_len: dict[int, list[str]] = {}
    for p in prefixes:
        per_len.setdefault(len(p), []).append(p)
    cond = None
    for ln, ps in sorted(per_len.items()):
        piece = F.substring(F.col(qk_col), 1, ln).isin(ps)
        cond = piece if cond is None else (cond | piece)
    return points.filter(cond) if cond is not None else points.limit(0)


def packed_prefix_predicate(
    qk_packed: str | F.Column, prefixes: list[str], z: int
) -> F.Column:
    """J1 fast path over a PACKED quadkey (``tile_to_quadkey_packed``):
    a length-L prefix match is ``qk >> 2*(z-L) == int(prefix, 4)`` — one
    shift + one integer compare per distinct prefix LENGTH (grouped into
    an IN set per length), zero string work. Bit-for-bit the same rows
    as ``prefix_filter`` over the string quadkey (pytest-asserted)."""
    col = F.col(qk_packed) if isinstance(qk_packed, str) else qk_packed
    per_len: dict[int, list[int]] = {}
    for p in prefixes:
        per_len.setdefault(len(p), []).append(int(p, 4))
    cond = None
    for ln, vals in sorted(per_len.items()):
        piece = F.shiftright(col, 2 * (z - ln)).isin(vals)
        cond = piece if cond is None else (cond | piece)
    return cond if cond is not None else F.lit(False)


def prefix_semi_join(
    points: DataFrame,
    covers: DataFrame,
    qk_col: str = "quadkey",
    prefix_col: str = "qk_prefix",
    keep: Sequence[str] | None = None,
) -> DataFrame:
    """J1 kernel: keep points whose quadkey has any cover prefix as an
    ancestor (point-in-tile-cover; ref AOIShape.listings models.py:196-198
    via PostGIS ST_Intersects).

    Implementation for scale: the probe is grouped by distinct prefix
    *length* so membership becomes ``substring(quadkey, 1, len) IN
    <set>``. When the cover fits on the driver (the designed case — tile
    covers are thousands of keys) this compiles to a pure codegen'd
    hash-set filter over the scan: zero shuffles, zero joins, and no
    dedup pass (each point is emitted once regardless of how many
    prefixes match). Covers too big to collect fall back to a broadcast
    equi-join on the exploded per-length truncations.
    """
    cover_rows = covers.select(prefix_col).distinct()
    sample = cover_rows.take(100_001)  # one job: fetch-or-overflow probe
    if not sample:
        return points.limit(0)
    if len(sample) <= 100_000:
        return prefix_filter(points, [r[0] for r in sample], qk_col)
    # big-cover fallback: explode per-length truncations, one broadcast semi-join
    lengths = [r[0] for r in cover_rows.select(F.length(prefix_col).alias("l")).distinct().collect()]
    truncs = F.array(*[F.substring(F.col(qk_col), 1, ln) for ln in sorted(lengths)])
    probe = points.withColumn("__trunc", F.explode(truncs))
    hit = probe.join(
        broadcast(cover_rows), probe["__trunc"] == cover_rows[prefix_col], "left_semi"
    ).drop("__trunc")
    key = keep or [points.columns[0]]
    return hit.dropDuplicates(list(key))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-mitigating equi-join: salt the big side's key with a
    deterministic bucket (``pmod(hash(row), salt)``) and replicate the
    small side across all salt values, so one hot key spreads over
    ``salt`` reducers instead of melting a single task.

    Use when a key's frequency is pathological and AQE's skew-join split
    (enabled in session.py) isn't available — e.g. non-sort-merge plans
    or deliberate pre-partitioning. Results are identical to a plain
    join on ``key``."""
    salted_big = big.withColumn(
        "__salt", F.pmod(F.hash(*[F.col(c) for c in big.columns]), F.lit(salt))
    )
    replicated = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = salted_big.join(replicated, [key, "__salt"], how)
    return out.drop("__salt")


def flagged_cover_semi_join(
    points: DataFrame,
    aoi_covers: DataFrame,
    flag_col: str,
    qk_col: str = "quadkey",
    prefix_col: str = "qk_prefix",
    keep: Sequence[str] | None = None,
) -> DataFrame:
    """J2: ``for_purpose(purpose)`` — union the covers of AOIs with the
    given flag set, then one semi-join (ref managers.py:200-224: ST_Union
    of flagged-AOI geoms + intersects). Union-of-covers = distinct prefix
    set, so the "geometric union aggregate" (A3) degenerates to a cheap
    dropDuplicates on the broadcast side."""
    cover = aoi_covers.filter(F.col(flag_col)).select(prefix_col).distinct()
    return prefix_semi_join(points, cover, qk_col, prefix_col, keep)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    tolerance: str | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Backward as-of join: every left row gets the LATEST right row of
    the same key with ``right_ts <= left_ts`` (inclusive), optionally
    only if it lies within ``tolerance`` (an INTERVAL expression, e.g.
    ``"INTERVAL 1 HOUR"``); unmatched right columns are NULL.

    Spark has no ASOF JOIN; the naive range join explodes into a
    per-key cross product. This is the scalable formulation: tag both
    sides, union, one window sorted by (ts, side[, tiebreak]) per key,
    and ``last(right_col, ignorenulls)`` carries the most recent right
    row forward onto each left row. Cost: ONE shuffle of each side on
    ``key`` and a per-key sort — no join node at all, so there is
    nothing to explode (plan-asserted in tests). Right-side ties on
    (key, ts) are resolved by ``tiebreak`` (largest wins); pre-dedup the
    right side for full determinism without one.

    Output: all left columns + every right column except ``key``
    (right's ts column included) — right columns keep their names, so
    rename collisions on the caller's side first.
    """
    rcols = [c for c in right.columns if c != key]
    lcols = left.columns
    overlap = set(rcols) & set(lcols)
    if overlap:
        raise ValueError(f"rename right columns colliding with left: {sorted(overlap)}")
    tb = (
        F.col(tiebreak).cast("long")
        if tiebreak is not None
        else F.lit(0).cast("long")
    )
    l_tagged = left.select(
        F.col(key),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(0).cast("long").alias("__tb"),
        *[F.col(c) for c in lcols if c != key],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in rcols],
    )
    r_tagged = right.select(
        F.col(key),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        tb.alias("__tb"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c != key],
        *[F.col(c) for c in rcols],
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key)
        .orderBy("__ts", "__side", "__tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l_tagged.unionByName(r_tagged).select(
        F.col(key),
        "__ts",
        "__side",
        *[F.col(c) for c in lcols if c != key],
        *[F.last(F.col(c), ignorenulls=True).over(w).alias(c) for c in rcols],
    )
    out = carried.filter(F.col("__side") == 1)
    if tolerance is not None:
        # right's ts must be among the carried right columns
        if right_ts not in rcols:
            raise ValueError("tolerance requires right's ts column in its output columns")
        in_tol = F.col(right_ts).isNotNull() & (
            F.col(right_ts) >= F.col("__ts") - F.expr(tolerance)
        )
        out = out.select(
            F.col(key),
            "__ts",
            *[F.col(c) for c in lcols if c != key],
            *[F.when(in_tol, F.col(c)).otherwise(F.lit(None)).alias(c) for c in rcols],
        )
    return out.select(*lcols, *rcols)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    upper: str,
    lower: str = "INTERVAL 0 SECOND",
    bucket_seconds: int = 600,
) -> DataFrame:
    """Range (interval) join: pairs where
    ``left_ts + lower <= right_ts <= left_ts + upper`` for the same
    ``key`` — inclusive on both ends.

    A naive inequality join is a per-key cross product. This is the
    banded formulation: both sides bucket to ``bucket_seconds`` bins of
    the timeline; each left row explodes to the (bounded, ~window/bin+1)
    bins its window covers; the join is then a plain EQUI-join on
    (key, bin) with the exact range check as a residual filter. One
    shuffle per side on (key, bin), no Cartesian/nested-loop node
    (plan-asserted). Pick ``bucket_seconds`` ≈ the window span so each
    left row probes ~2 bins.

    Output: all left columns + all right columns except ``key`` (rename
    collisions on the caller's side first).
    """
    rcols = [c for c in right.columns if c != key]
    overlap = set(rcols) & set(left.columns)
    if overlap:
        raise ValueError(f"rename right columns colliding with left: {sorted(overlap)}")
    bucket_us = bucket_seconds * 1_000_000
    lo = F.col(left_ts) + F.expr(lower)
    hi = F.col(left_ts) + F.expr(upper)
    l_binned = left.select(
        "*",
        lo.alias("__lo"),
        hi.alias("__hi"),
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(lo) / F.lit(bucket_us)).cast("long"),
                F.floor(F.unix_micros(hi) / F.lit(bucket_us)).cast("long"),
            )
        ).alias("__bin"),
    )
    r_binned = right.select(
        "*",
        F.floor(F.unix_micros(F.col(right_ts)) / F.lit(bucket_us)).cast("long").alias("__bin"),
    )
    # each right row lives in exactly one bin, so every qualifying pair
    # joins exactly once — no dedup pass needed
    joined = l_binned.join(r_binned, [key, "__bin"]).filter(
        F.col(right_ts).between(F.col("__lo"), F.col("__hi"))
    )
    return joined.select(*left.columns, *rcols)
