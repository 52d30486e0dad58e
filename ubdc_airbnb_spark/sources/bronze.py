"""Bronze response sink (S11, X9, X10, T5 classification; ref
app/managers.py:99-195 ``create_from_response``).

One builder, :func:`response_rows`, turns every harvest op's fetch
results into bronze rows, so the row format lives here only.

Semantics reproduced:
- every fetch gets its own row id: ``response_id`` hashes the request
  (kind, key, offset) together with the row's ``created_at``, so a
  request repeated in a later run (a daily calendar, a retried 429)
  appends a new, distinct response instead of reusing an id;
- JSON-decode the body; non-JSON bodies are encapsulated as
  ``{context_text, base64_str}`` (X10, ref managers.py:110-139);
- NUL escapes stripped before store (X9, ref models.py:418-425);
- status routing: 200/403 persisted as final; 429/503 persisted AND
  flagged retriable (the reference raises UBDCRetriableError *after*
  persisting — ref managers.py:141-195); other codes persisted as failed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from ..functions.jsonutils import sanitize_payload

RETRIABLE_CODES = (429, 503)


def make_response_rows(df: DataFrame, *carry: str) -> DataFrame:
    """Normalize raw fetch results into bronze ``responses`` rows.

    Input columns: response_id, listing_id, _type, status_code, body
    (raw text), url, seconds_to_complete, task_id, created_at. The
    ``carry`` columns are passed through unchanged after the bronze ones.
    """
    is_json = F.try_parse_json(F.col("body")).isNotNull()
    payload = F.when(is_json, sanitize_payload(F.col("body"))).otherwise(
        F.to_json(
            F.struct(
                F.lit("non-json response body").alias("context_text"),
                F.base64(F.col("body").cast("binary")).alias("base64_str"),
            )
        )
    )
    return df.select(
        "response_id",
        "listing_id",
        "_type",
        "status_code",
        payload.alias("payload"),
        F.coalesce(F.col("url"), F.lit("")).alias("url"),
        "seconds_to_complete",
        "created_at",
        "task_id",
        (F.col("status_code") == 200).alias("was_successful"),  # P11 (ref models.py:401-405)
        F.col("status_code").isin(*RETRIABLE_CODES).alias("is_retriable"),  # T5
        *carry,
    )


def response_rows(fetched: DataFrame, _type: str) -> DataFrame:
    """Bronze rows of one fetch batch.

    ``fetched`` is ``http_fetch.fetch_batch``'s output (kind, key,
    offset, status_code, body, url, seconds_to_complete) over work that
    carried its ``created_at`` — as data, so the fetch stage's generated
    code does not change from one run or discovery wave to the next. The
    asset id slot ``listing_id`` is the request key as a long — a listing
    or a user id — and NULL for searches, whose key is a quadkey. The
    request ``key`` and ``offset`` ride along after the bronze columns,
    for the op's own joins; they are not persisted."""
    request = F.concat_ws("#", "kind", "key", "offset", F.unix_micros("created_at"))
    raw = fetched.select(
        md5_long(request).alias("response_id"),
        F.when(F.col("kind") != "search", F.col("key").cast("long")).alias("listing_id"),
        F.lit(_type).alias("_type"),
        "status_code",
        "body",
        "url",
        "seconds_to_complete",
        "created_at",
        F.lit(None).cast("string").alias("task_id"),
        "key",
        "offset",
    )
    return make_response_rows(raw, "key", "offset")


def partitioned_bronze_writer(df: DataFrame, path: str) -> None:
    """Append to the bronze table partitioned by ``_type`` and day —
    the lakehouse analog of the reference's indexed ``responses`` table
    (SURVEY §1.3): partition pruning replaces the B-tree on
    (_type, timestamp)."""
    (
        df.withColumn("created_date", F.to_date("created_at"))
        .write.mode("append")
        .partitionBy("_type", "created_date")
        .parquet(path)
    )
