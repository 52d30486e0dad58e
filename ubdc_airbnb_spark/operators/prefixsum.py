"""Two-pass range-partitioned prefix sums / ranks — the scale-safe
replacement for ``Window.orderBy(...)`` with no ``partitionBy``.

An unpartitioned window forces Spark to move the ENTIRE input into one
partition (WindowExec plans ``Exchange SinglePartition``): at 100 TB that
is one task doing the whole cumulative sum. The classic distributed fix
is the two-pass (scan) algorithm:

1. **Bucketize** rows by a numeric key that is monotone non-decreasing
   along the global sort order. Bucket boundaries come from a
   ``percentile_approx`` sketch (one cheap aggregate job; the collected
   boundary list is bounded by ``num_buckets``, never by data size).
   Because the bucket is a pure function of the row's own key value —
   NOT of ``spark_partition_id()`` — the assignment is deterministic and
   identical in every subtree that re-computes it; rows with equal keys
   always share a bucket, so no sort-order tie ever straddles a bucket.
2. **Per-bucket totals** (map-side-combinable groupBy, ``num_buckets``
   output rows) → running offsets via a window over that *bounded*
   bucket list → broadcast back.
3. **Within-bucket window** (``partitionBy(bucket)``) + offset = the
   exact global prefix sum, computed by ``num_buckets`` parallel tasks.

Cost at scale: two scans of the input and ONE hash exchange of the big
table (on the bucket id) — versus the single-partition sort the naive
plan ships everything through. Results are bit-identical to the global
window for exact (integer) value types.

Degenerate inputs (all keys equal, or fewer distinct keys than buckets)
collapse into fewer buckets and in the worst case one partition — i.e.
never worse than the plan this module replaces.

**Adaptive plan choice**: below ``SINGLE_PARTITION_MAX_BYTES`` of
estimated input the plain single-partition window IS the optimal
physical plan — one task, zero extra jobs — so it is picked from
Catalyst's size estimate, exactly as Spark picks broadcast over shuffle
joins by stats. Above the threshold (always, at cluster scale) the
two-pass plan runs. Results are bit-identical either way; only the
physical strategy changes.

Reference analog: the reference serializes this work through Postgres
sequences / Python loops (single-node by construction); these operators
are the distributed re-expression.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 64

#: plan cutover: inputs whose Catalyst size estimate is below this
#: run the plain global window (optimal for one task's worth of data)
SINGLE_PARTITION_MAX_BYTES = 64 << 20


def _estimated_bytes(df: DataFrame) -> int | None:
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def _go_single(df: DataFrame, size_of: DataFrame | None = None) -> bool:
    """True → emit the single-partition window. Unknown size falls back
    to the two-pass plan (the scale-safe default)."""
    est = _estimated_bytes(size_of if size_of is not None else df)
    return est is not None and est <= SINGLE_PARTITION_MAX_BYTES


#: live pin handles, keyed by (session id, semantic plan hash) so a
#: re-entry with the SAME logical plan (a re-run of the same query in
#: one session, or an operator pinning a plan that is already pinned)
#: reuses the existing handle instead of asking the CacheManager to
#: cache already-cached data. release_pins() drains it.
_PINNED: dict[tuple[int, int], DataFrame] = {}


def _pin(df: DataFrame) -> DataFrame:
    """Persist the operator input (MEMORY_AND_DISK) — every two-pass
    algorithm here reads its input 3-4 times (boundary sketch, bucket
    totals, main pass), and without a pin each pass re-evaluates the
    full upstream projection (e.g. a SimHash or quality score over the
    corpus). Callers pass NARROW projections by contract (a handful of
    numeric/sketch columns), so the pinned footprint is a small multiple
    of the key width, spilling to executor-local disk past memory — the
    standard shape for multi-pass jobs.

    Pins are registered (deduped by semantic plan hash) and live until
    ``release_pins()`` — long sessions (the 221-query gate, cmd_report)
    MUST call it after each query's terminal action or dead cache
    entries accumulate and compete with live pins for storage memory."""
    from pyspark.storagelevel import StorageLevel

    key = (id(df.sparkSession), df.semanticHash())
    cached = _PINNED.get(key)
    if cached is not None and cached.sameSemantics(df):
        return cached
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PINNED[key] = df
    return df


def unpin(df: DataFrame) -> bool:
    """Unpersist ONE ``_pin`` handle early and drop its registry entry.
    Callers that manage a pin's lifecycle themselves (e.g. the curation
    plan's stage-by-stage pinning) must release through here, not via
    ``df.unpersist()`` directly: a direct unpersist leaves the registry
    entry behind, so a later ``_pin`` of a semantically identical plan
    would return the already-dead handle (believing it cached) and every
    downstream pass would silently recompute the full upstream — the
    exact quadratic recompute pinning exists to prevent. A failed
    unpersist propagates and leaves the entry registered. Returns
    whether ``df`` was a registered pin."""
    df.unpersist(blocking=False)
    hit = False
    for key, cached in list(_PINNED.items()):
        if cached is df:
            del _PINNED[key]
            hit = True
    return hit


def release_pins() -> int:
    """Unpersist every live ``_pin`` handle (non-blocking) and drop it
    from the registry; returns how many were released. Call after the
    terminal action of a query — the gate runner, bench harness, and
    report CLI all do, so a multi-query session holds at most one
    query's pins. An entry leaves the registry only once its unpersist
    succeeds: a failure propagates and the entry stays registered, so a
    leaked cache entry is never hidden."""
    n = 0
    for key, df in list(_PINNED.items()):
        df.unpersist(blocking=False)
        del _PINNED[key]
        n += 1
    return n


def range_boundaries(
    df: DataFrame, key: Column, num_buckets: int = DEFAULT_BUCKETS
) -> list[float]:
    """Sorted, de-duplicated interior bucket boundaries for ``key``
    (cast to double) via a ``percentile_approx`` sketch. Returns at most
    ``num_buckets - 1`` values — bounded by construction, independent of
    row count, so the driver collect is safe at any scale."""
    if num_buckets < 2:
        return []
    probs = [i / num_buckets for i in range(1, num_buckets)]
    row = df.select(
        F.percentile_approx(key.try_cast("double"), probs, 10000).alias("b")
    ).first()
    vals = row["b"] if row and row["b"] is not None else []
    out: list[float] = []
    for v in vals:
        if v is None or not math.isfinite(v):
            continue
        if not out or v > out[-1]:
            out.append(float(v))
    return out


def bucket_of(key: Column, boundaries: Sequence[float]) -> Column:
    """Bucket id = number of boundaries strictly below ``key`` — a
    monotone non-decreasing function of the key, so global sort order is
    preserved across bucket ids and ties never split buckets. NULL or
    non-numeric keys land in bucket 0, matching Spark's NULLS FIRST
    ascending order; a fully non-numeric key degrades to one bucket
    (the plan this module replaces), it never errors or reorders."""
    b = F.lit(0)
    k = key.try_cast("double")
    for bound in boundaries:
        b = b + F.when(k > F.lit(bound), 1).otherwise(0)
    return b.cast("int")


def _with_buckets(
    df: DataFrame, bucket_key: Column, num_buckets: int, col: str = "__rb"
) -> DataFrame:
    from pyspark.sql.types import DateType, NumericType, TimestampType

    # Bucketing is only order-preserving when the double cast is monotone
    # in the key's own sort order — true for numeric/temporal keys. Any
    # other type degrades to ONE bucket (exactly the single-partition
    # plan this module replaces — never wrong, only unscaled).
    dt = df.select(bucket_key.alias("__k")).schema[0].dataType
    if isinstance(dt, (NumericType, TimestampType, DateType)):
        bounds = range_boundaries(df, bucket_key, num_buckets)
    else:
        bounds = []
    return df.withColumn(col, bucket_of(bucket_key, bounds))


def partitioned_cumsum(
    df: DataFrame,
    order: Sequence[Column],
    value: Column,
    out_col: str,
    bucket_key: Column,
    num_buckets: int = DEFAULT_BUCKETS,
    size_of: DataFrame | None = None,
) -> DataFrame:
    """Exact running sum of ``value`` over the global sort ``order``,
    without a single-partition window (above the size threshold).

    ``bucket_key`` must be numeric and monotone NON-DECREASING along
    ``order`` (negate it for a descending leading sort key). Ties in
    ``bucket_key`` are safe — they land in one bucket and the
    within-bucket window resolves them with the full ``order``.
    ``size_of`` overrides the frame whose Catalyst estimate drives the
    plan choice (useful when ``df`` carries a join that inflates the estimate).
    """
    if _go_single(df, size_of):
        w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return df.withColumn(out_col, F.sum(value).over(w))
    d = _with_buckets(_pin(df), bucket_key, num_buckets)
    totals = d.groupBy("__rb").agg(F.sum(value).alias("__bt"))
    # Window over <= num_buckets rows: bounded by construction, not by data.
    w_off = Window.orderBy("__rb").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "__rb", F.coalesce(F.sum("__bt").over(w_off), F.lit(0)).alias("__boff")
    )
    w_in = Window.partitionBy("__rb").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        d.join(F.broadcast(offs), "__rb")
        .withColumn(out_col, F.sum(value).over(w_in) + F.col("__boff"))
        .drop("__rb", "__boff")
    )


def partitioned_row_number(
    df: DataFrame,
    order: Sequence[Column],
    out_col: str,
    bucket_key: Column,
    num_buckets: int = DEFAULT_BUCKETS,
    size_of: DataFrame | None = None,
) -> DataFrame:
    """Exact global ``row_number()`` over ``order`` as a two-pass rank:
    per-bucket ``row_number`` + broadcast bucket row-count offsets."""
    if _go_single(df, size_of):
        w = Window.orderBy(*order)
        return df.withColumn(out_col, F.row_number().over(w).cast("long"))
    d = _with_buckets(_pin(df), bucket_key, num_buckets)
    totals = d.groupBy("__rb").agg(F.count(F.lit(1)).alias("__bt"))
    w_off = Window.orderBy("__rb").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "__rb", F.coalesce(F.sum("__bt").over(w_off), F.lit(0)).alias("__boff")
    )
    w_in = Window.partitionBy("__rb").orderBy(*order)
    return (
        d.join(F.broadcast(offs), "__rb")
        .withColumn(out_col, (F.row_number().over(w_in) + F.col("__boff")).cast("long"))
        .drop("__rb", "__boff")
    )


def neighborhood_with_carry(
    df: DataFrame,
    order: Sequence[Column],
    bucket_key: Column,
    window: int,
    num_buckets: int = DEFAULT_BUCKETS,
    size_of: DataFrame | None = None,
) -> tuple[DataFrame, str, str]:
    """Prepare a sorted-neighborhood sweep without a global window: rows
    are range-bucketed, and each bucket's LAST ``window`` rows are also
    shipped ("carried") into the NEXT occupied bucket, where the global
    sort order places them ahead of that bucket's own rows — so a
    ``lag(1..window)`` inside ``partitionBy(bucket)`` sees exactly the
    same predecessors a global sort would give. Pairs are emitted only
    for non-carry rows (each row is non-carry in exactly one bucket), so
    nothing is duplicated and nothing is missed.

    Carries target the next *occupied* bucket — looked up from the
    bounded per-bucket list with a LEAD window — so empty buckets (only
    possible via sketch-boundary ties) cannot drop boundary pairs.

    Returns ``(augmented_df, bucket_col, carry_col)``; the caller runs
    its lag sweep partitioned by ``bucket_col`` ordered by ``order`` and
    filters output rows to ``carry_col == false``.
    """
    if _go_single(df, size_of):
        # single-partition plan: one constant bucket, no carries needed
        return (
            df.withColumn("__rb", F.lit(0)).withColumn("__carry", F.lit(False)),
            "__rb",
            "__carry",
        )
    d = _with_buckets(_pin(df), bucket_key, num_buckets)
    occupied = d.groupBy("__rb").agg(F.count(F.lit(1)).alias("__n")).select("__rb")
    # Per-bucket tail = last min(window, |bucket|) rows — so the union of
    # all tails from buckets < b provably contains the last ``window``
    # GLOBAL predecessors of bucket b (a predecessor outside its bucket's
    # tail has >= window closer successors in that same bucket). Tail set
    # size is bounded by window * num_buckets, independent of data size.
    # (``order`` must be plain ascending columns for this reversal.)
    w_rev = Window.partitionBy("__rb").orderBy(*[c.desc() for c in order])
    tails = (
        d.withColumn("__rn_end", F.row_number().over(w_rev))
        .filter(F.col("__rn_end") <= window)
        .drop("__rn_end")
        .withColumnRenamed("__rb", "__src_rb")
    )
    # For each occupied bucket, keep the window closest predecessors among
    # all earlier-bucket tails (a bounded broadcast nested-loop + a window
    # over <= window*num_buckets rows per bucket).
    w_near = Window.partitionBy("__rb").orderBy(*[c.desc() for c in order])
    carries = (
        tails.join(F.broadcast(occupied), F.col("__src_rb") < F.col("__rb"))
        .withColumn("__near", F.row_number().over(w_near))
        .filter(F.col("__near") <= window)
        .drop("__src_rb", "__near")
        .withColumn("__carry", F.lit(True))
    )
    base = d.withColumn("__carry", F.lit(False))
    aug = base.unionByName(carries)
    return aug, "__rb", "__carry"
