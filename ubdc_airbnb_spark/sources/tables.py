"""Parquet table loaders for the driver's synthetic TPC-H-ish tables.

See TESTDATA.md: tables live at ``{sf_dir}/{name}.parquet``. At cluster
scale these would be catalog (Delta/Iceberg) tables partitioned by date /
quadkey-prefix; the loader keeps the scan declarative so Catalyst pushes
filters and prunes columns into the parquet reader.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pyarrow.dataset as ds

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: (sf_dir, name) -> cached DataFrame. Populated by :func:`warm_cache`;
#: ``load_table`` serves from here when present.
_CACHE: dict[tuple[str, str], DataFrame] = {}


def warm_cache(spark: SparkSession, sf_dir: str, partitions: int | None = None) -> None:
    """Materialize every table in executor memory, repartitioned across
    cores. The driver-generated parquet files are single-row-group, so a
    cold scan is single-threaded no matter what ``maxPartitionBytes``
    says; production tables would be written with many row groups /
    files. Benchmarks run warm-cache (disclosed in bench.py).

    The tables materialize concurrently, one driver thread per table:
    each is a small job whose cost is mostly driver-side planning and
    scheduling, which overlaps across threads."""
    n = partitions or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

    def materialize(name: str) -> DataFrame:
        df = load_table(spark, sf_dir, name, use_cache=False).repartition(n).cache()
        df.count()
        return df

    with ThreadPoolExecutor(max_workers=len(TABLE_NAMES)) as pool:
        futures = [(name, pool.submit(materialize, name)) for name in TABLE_NAMES]
    # every cached table is registered, even when another one failed,
    # so no materialized cache is left unowned; then the failure raises
    for name, fut in futures:
        if fut.exception() is None:
            _CACHE[(sf_dir, name)] = fut.result()
    for _, fut in futures:
        fut.result()


def load_table(spark: SparkSession, sf_dir: str, name: str, use_cache: bool = True) -> DataFrame:
    """Read one parquet table (served from the warm cache when primed).

    Spark refuses TIMESTAMP(NANOS) parquet columns (the ``events.ts``
    column is nanos). We read those as raw int64 via the documented
    ``nanosAsLong`` escape hatch and truncate to microseconds with exact
    integer division — the same ns→µs truncation DuckDB's reader applies,
    so oracle comparisons stay bit-identical. A missing or unreadable
    table raises, naming its path.
    """
    if use_cache and (sf_dir, name) in _CACHE:
        return _CACHE[(sf_dir, name)]
    path = os.path.join(sf_dir, f"{name}.parquet")
    # a dataset schema reads a single file or a directory of part files
    schema = ds.dataset(path, format="parquet").schema
    ns_cols = [f.name for f in schema if str(f.type) == "timestamp[ns]"]
    if not ns_cols:
        return _ntz_to_ltz(spark, spark.read.parquet(path))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # timestamp_micros() produces a session-tz TIMESTAMP from epoch micros;
    # downstream date_trunc/unix_timestamp must agree with DuckDB's naive-
    # UTC view of the same data, so pin the session to UTC (idempotent).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _ntz_to_ltz(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Parquet µs timestamps with isAdjustedToUTC=false arrive as
    TIMESTAMP_NTZ, which half the timestamp builtins (unix_micros,
    window, ...) reject. With the session pinned to UTC the NTZ→LTZ cast
    is value-identical to DuckDB's naive reading, so normalize every
    NTZ column to the session-tz TIMESTAMP type once at the scan."""
    ntz = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    if not ntz:
        return df
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def _footer_rows(df: DataFrame):
    """Source-cardinality estimate from parquet footers — metadata only,
    no Spark job. ``inputFiles()`` walks the LOGICAL plan, so this works
    on derived and warm-cached frames alike (the cache substitution
    happens at physical planning). Returns None when any input is not a
    local parquet file; callers then treat the frame as large, the safe
    direction at scale."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq

    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("file", ""):
            return None
        path = unquote(parsed.path)
        try:
            total += pq.ParquetFile(path).metadata.num_rows
        except Exception:
            return None
    return total


def _plan_stats_rows(df: DataFrame):
    """Optimizer-stats row count — the estimate source for frames whose
    file lineage is hidden behind a cache: a MATERIALIZED
    InMemoryRelation (``warm_cache`` tables) reports its EXACT row
    count, and a LocalRelation its literal length. The size-only stats
    visitor drops rowCount at the first Project even though a
    projection cannot change cardinality (r11: found via the fused
    fixture stages, whose ``ids.select(id)`` over a cached table read
    None and mis-classified a 5k-row input as BIG), so walk down
    through row-preserving Project nodes until a rowCount appears.
    Anything else (Filter, Join, Aggregate — genuinely cardinality-
    changing) stops the walk.
    No job is run: this reads driver-side plan statistics only.

    Returns ``(rows, stop)``. ``rows`` is the stats row count or None.
    When it is None, ``stop`` is the simple class name of the node the
    walk ended at (None if the plan could not be read), so a caller can
    tell a bare file relation from a cardinality-changing node."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        for _ in range(32):
            rc = plan.stats().rowCount()
            if rc.isDefined():
                return int(str(rc.get())), None
            name = plan.getClass().getSimpleName()
            if name != "Project":
                return None, name
            plan = plan.children().apply(0)
    except Exception:
        pass
    return None, None


def _approx_rows(df: DataFrame):
    """Best-effort source-cardinality estimate, cheapest first: parquet
    footers (scan-backed frames), then optimizer-stats rowCount
    (cached / driver-local frames). None = unknown = assume BIG."""
    rows = _footer_rows(df)
    if rows is not None:
        return rows
    return _plan_stats_rows(df)[0]
