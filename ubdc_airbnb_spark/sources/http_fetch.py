"""Production-shaped distributed fetch stage (SURVEY §2.1 S1-S7, §4
rate-limiting row): execute HTTP-style work items inside ``mapInPandas``
partitions with a per-partition token-bucket rate limiter.

This is the piece the reference scales with 75 Celery workers at ~17k
req/h (ref operations/calendars.py:80-82, README.md:48-52); here an
executor partition plays the role of a worker. The fetcher itself is
pluggable — tests and this container use a deterministic mock
(sources/mock_api), a deployment drops in a requests/proxy-backed
callable with the same (kind, key, offset) → (status, body, url)
contract. Retriable statuses (429/503) are NOT retried inside the task
(side-effecting HTTP must not ride Spark task retries — ref persists
the response *then* raises, task_managers.py:24-30); they come back
flagged and the ledger's retry loop (plans/ledger.py) resubmits them.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

FETCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("offset", T.LongType()),
        T.StructField("status_code", T.IntegerType()),
        T.StructField("body", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("seconds_to_complete", T.IntegerType()),
    ]
)

#: fetcher contract: (kind, key, offset) -> (status_code, body, url)
Fetcher = Callable[[str, str, int], tuple[int, str, str]]


def mock_fetcher(kind: str, key: str, offset: int) -> tuple[int, str, str]:
    """Deterministic fetcher over the synthetic payload generators —
    the in-container stand-in for the HTTP client."""
    from . import payloads

    if kind == "search":
        return 200, payloads.search_payload(key, items_offset=offset), f"mock://search/{key}"
    if kind == "calendar":
        return 200, payloads.calendar_payload(int(key)), f"mock://calendar/{key}"
    if kind == "reviews":
        return 200, payloads.review_payload(int(key), offset=offset), f"mock://reviews/{key}"
    if kind == "user":
        return 200, payloads.user_payload(int(key)), f"mock://user/{key}"
    if kind == "listing":
        return 200, payloads.listing_detail_payload(int(key)), f"mock://listing/{key}"
    return 404, "", f"mock://{kind}/{key}"


def fetch_batch(
    work: DataFrame,
    fetcher: Fetcher = mock_fetcher,
    rate_per_sec: float | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Fetch every work item (columns: kind, key, offset) with bounded
    per-partition request rate. Any further work columns (the ops' and
    discovery's ``created_at``) ride through to the result row as data.

    The work set is repartitioned so each partition is an independent
    rate-limited "worker"; total throughput = partitions × rate_per_sec,
    mirroring the reference's worker-count × per-worker-rate model.

    ``partitions=None`` defaults to the session's default parallelism
    (one worker per core) rather than inheriting the upstream layout:
    every due-selection plan ends in ``orderBy().limit(k)`` —
    TakeOrderedAndProject — whose output is ONE partition, so an
    inheriting fetch stage would run the whole harvest single-threaded
    (caught by the r07 pipeline smoke: a 20k-listing calendar harvest
    fetched and exploded 7.2M day rows in one task). Explicitly pass
    ``partitions`` to model a fixed worker fleet."""
    carry = [f for f in work.schema if f.name not in ("kind", "key", "offset")]
    work = work.repartition(
        partitions or work.sparkSession.sparkContext.defaultParallelism
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        min_interval = (1.0 / rate_per_sec) if rate_per_sec else 0.0
        last_request = 0.0
        for pdf in batches:
            out = {k: [] for k in ("status_code", "body", "url", "seconds_to_complete")}
            for kind, key, offset in zip(pdf["kind"], pdf["key"], pdf["offset"]):
                if min_interval:
                    now = time.monotonic()
                    wait = last_request + min_interval - now
                    if wait > 0:
                        time.sleep(wait)
                    last_request = time.monotonic()
                t0 = time.monotonic()
                status, body, url = fetcher(str(kind), str(key), int(offset))
                out["status_code"].append(status)
                out["body"].append(body)
                out["url"].append(url)
                out["seconds_to_complete"].append(int(time.monotonic() - t0))
            yield pdf.assign(**out)

    return work.mapInPandas(run, T.StructType(FETCH_RESULT_SCHEMA.fields + carry))


def materialize(df: DataFrame) -> DataFrame:
    """Execute a side-effecting stage exactly once and sever its lineage.

    ``fetch_batch`` returns a lazy plan; without a barrier every downstream
    action would re-run the HTTP stage (re-issuing requests, and yielding a
    *different* bronze per action — timestamps/status drift). The reference
    persists the response before anything else consumes it
    (ref task_managers.py:24-30); the Spark analog is an eager
    ``localCheckpoint``: the fetch runs once, its results are stored in the
    block manager (memory + disk), and the returned frame's lineage starts
    at the checkpoint — a lost executor can NOT silently re-fetch, which is
    exactly the failure semantics side-effecting HTTP needs (fail loudly,
    let the ledger's retry loop resubmit). Production jobs additionally
    write bronze to durable storage immediately after this barrier."""
    return df.localCheckpoint(eager=True)
