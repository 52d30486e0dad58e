"""Payload → silver extraction operators (SURVEY §2.8 X1-X12).

The reference walks every payload with jsonpath-ng per row (ref
app/utils/json_parsers.py, app/utils/spatial.py:153-171); here each known
path is compiled to ``from_json`` with a declared schema + native
explode/field access, so extraction is JVM-side columnar work. The raw
payload string stays in bronze for the generic JSONPath escape hatch
(X7, extract_generic below).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import schemas
from ..functions.jsonutils import strip_url_query
from ..functions.quadkey import lonlat_to_quadkey

QK_DEPTH = 22  # MAX_GRID_LEVEL (ref core/settings.py:14)


def _parsed(df: DataFrame, schema, payload_col: str = "payload") -> DataFrame:
    return df.withColumn("__p", F.from_json(F.col(payload_col), schema))


def search_listings_array(payload: Column) -> Column:
    """X1 as one array per response: the ``$..listing[id_str,lat,lng]``
    walk (ref utils/spatial.py:153-171) — explore_tabs → sections with
    listings → listings — over a payload parsed with
    ``schemas.SEARCH_PAYLOAD``. Each element is a struct of
    (listing_id, lon, lat, host_id, city), in payload order; a NULL
    ``explore_tabs`` or ``sections`` gives no elements."""
    entries = F.flatten(
        F.transform(
            F.coalesce(payload["explore_tabs"], F.array()),
            lambda t: F.flatten(
                F.coalesce(
                    F.transform(
                        F.filter(t["sections"], lambda s: s["listings"].isNotNull()),
                        lambda s: s["listings"],
                    ),
                    F.array(),
                )
            ),
        )
    )
    return F.transform(
        entries,
        lambda e: F.named_struct(
            F.lit("listing_id"), e["listing"]["id"],
            F.lit("lon"), e["listing"]["lng"],
            F.lit("lat"), e["listing"]["lat"],
            F.lit("host_id"), e["listing"]["user"]["id"],
            F.lit("city"), e["listing"]["city"],
        ),
    )


def search_tab_pagination(payload: Column) -> Column:
    """X3: the first explore_tab's pagination struct (has_next_page,
    items_offset, previous_page_items_offset) — the reference's
    exactly-one-match reading (ref json_parsers.py:16-47)."""
    return payload["explore_tabs"][0]["pagination_metadata"]


def search_listings(responses: DataFrame, payload_col: str = "payload") -> DataFrame:
    """X1: one row per listing of each search payload
    (:func:`search_listings_array` exploded), with the engine's depth-22
    quadkey bucketing column."""
    p = _parsed(responses, schemas.SEARCH_PAYLOAD, payload_col)
    return (
        p.select("response_id", F.explode(search_listings_array(F.col("__p"))).alias("l"))
        .select("response_id", "l.listing_id", "l.lon", "l.lat", "l.city", "l.host_id")
        .withColumn("quadkey", lonlat_to_quadkey("lon", "lat", QK_DEPTH))
    )


def search_pagination(responses: DataFrame, payload_col: str = "payload") -> DataFrame:
    """X3/X4: pagination + session metadata (exactly-one-match semantics of
    the reference's parser — first explore_tab; ref json_parsers.py:16-47)."""
    p = _parsed(responses, schemas.SEARCH_PAYLOAD, payload_col)
    tab0 = F.col("__p.explore_tabs")[0]
    page = search_tab_pagination(F.col("__p"))
    return p.select(
        "response_id",
        page["has_next_page"].alias("has_next_page"),
        page["items_offset"].alias("items_offset"),
        page["previous_page_items_offset"].alias("previous_page_items_offset"),
        F.col("__p.metadata.federated_search_session_id").alias("search_session_id"),
        tab0["home_tab_metadata"]["listings_count"].alias("listings_count"),
        F.col("__p.metadata.geography.ne_lat").alias("ne_lat"),
        F.col("__p.metadata.geography.ne_lng").alias("ne_lng"),
        F.col("__p.metadata.geography.sw_lat").alias("sw_lat"),
        F.col("__p.metadata.geography.sw_lng").alias("sw_lng"),
    )


def price_histogram_sum(responses: DataFrame, payload_col: str = "payload") -> Column:
    """A4: sum of the metadata-search price histogram
    (ref json_parsers.py:68-73) — native array fold."""
    p = F.from_json(F.col(payload_col), schemas.SEARCH_PAYLOAD)
    return F.aggregate(
        p["price_histogram"]["histogram"], F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def calendar_days(responses: DataFrame, payload_col: str = "payload") -> DataFrame:
    """X11: calendar payload → silver calendar_days rows (ref
    airbnb_api.py:447-480 walk; samples/calendar_response.sample.json)."""
    p = _parsed(responses, schemas.CALENDAR_PAYLOAD, payload_col)
    months = p.select(
        "response_id", "listing_id", F.explode("__p.calendar_months").alias("m")
    )
    return months.select(
        "response_id",
        "listing_id",
        F.explode("m.days").alias("d"),
    ).select(
        "response_id",
        "listing_id",
        F.to_date("d.date", "yyyy-MM-dd").alias("date"),
        F.col("d.available").alias("available"),
        F.col("d.available_for_checkin").alias("available_for_checkin"),
        F.col("d.min_nights").alias("min_nights"),
        F.col("d.max_nights").alias("max_nights"),
        F.col("d.price.local_price").alias("local_price"),
        F.col("d.price.native_price").alias("native_price"),
        F.col("d.price.local_currency").alias("local_currency"),
        F.col("d.price.native_currency").alias("native_currency"),
    )


def review_rows(responses: DataFrame, payload_col: str = "payload") -> DataFrame:
    """X12: review payload → review rows + author/recipient ids (ref
    tasks.py:55-94). NOTE: the reference builds these rows but never saves
    them (tasks.py:85-94 has no .save()); we persist them — the intended
    behavior per its own tests (SURVEY §3.3)."""
    p = _parsed(responses, schemas.REVIEW_PAYLOAD, payload_col)
    r = p.select(
        "response_id", "listing_id", F.explode("__p.reviews").alias("rv")
    )
    return r.select(
        F.col("rv.id").alias("review_id"),
        "listing_id",
        F.col("rv.author.id").alias("author_id"),
        F.col("rv.recipient.id").alias("recipient_id"),
        "response_id",
        F.to_timestamp(F.col("rv.created_at")).alias("review_created_at"),
        F.col("rv.comments").alias("review_text"),
        F.coalesce(F.col("rv.language"), F.lit("")).alias("language"),
    )


def review_users(responses: DataFrame, payload_col: str = "payload") -> DataFrame:
    """X5: placeholder users scraped from review payloads (author +
    recipient; ref managers.py:241-264 get_or_create defaults). Picture
    URLs lose their query string (ref managers.py:285)."""
    p = _parsed(responses, schemas.REVIEW_PAYLOAD, payload_col)
    rv = p.select(F.explode("__p.reviews").alias("rv"))
    author = rv.select(
        F.col("rv.author.id").alias("user_id"),
        F.col("rv.author.first_name").alias("first_name"),
        strip_url_query(F.col("rv.author.picture_url")).alias("picture_url"),
    )
    recipient = rv.select(
        F.col("rv.recipient.id").alias("user_id"),
        F.col("rv.recipient.first_name").alias("first_name"),
        strip_url_query(F.col("rv.recipient.picture_url")).alias("picture_url"),
    )
    return author.unionByName(recipient).dropDuplicates(["user_id"])


def reviews_count(responses: DataFrame, payload_col: str = "payload") -> DataFrame:
    """X12 fan-out driver: metadata.reviews_count → number of pages
    (ref tasks.py:55-60)."""
    p = _parsed(responses, schemas.REVIEW_PAYLOAD, payload_col)
    return p.select(
        "response_id",
        "listing_id",
        F.col("__p.metadata.reviews_count").alias("reviews_count"),
    )


def user_profile(responses: DataFrame, payload_col: str = "payload") -> DataFrame:
    """X5/S5: user payload → user row (ref models.py:522-536
    update_from_response field mapping, picture-URL strip)."""
    p = _parsed(responses, schemas.USER_PAYLOAD, payload_col)
    u = F.col("__p.user")
    return p.select(
        u["id"].alias("user_id"),
        u["first_name"].alias("first_name"),
        u["about"].alias("about"),
        u["location"].alias("location"),
        u["listings_count"].alias("airbnb_listing_count"),
        u["verifications"].alias("verifications"),
        strip_url_query(u["picture_url"]).alias("picture_url"),
        u["is_superhost"].alias("is_superhost"),
        F.to_timestamp(u["created_at"]).alias("profile_created_at"),
    )


def listing_detail_hosts(responses: DataFrame, payload_col: str = "payload") -> DataFrame:
    """X2: primary + additional hosts from listing-detail payloads
    (ref tasks.py:183-197, json_parsers.py:10-11)."""
    p = _parsed(responses, schemas.LISTING_DETAIL_PAYLOAD, payload_col)
    d = F.col("__p.pdp_listing_detail")
    primary = p.select(
        d["id"].alias("listing_id"),
        d["primary_host"]["id"].alias("host_id"),
        d["primary_host"]["is_superhost"].alias("is_superhost"),
        F.lit(True).alias("is_primary"),
    )
    additional = p.select(
        d["id"].alias("listing_id"), F.explode(d["additional_hosts"]).alias("h")
    ).select(
        "listing_id",
        F.col("h.id").alias("host_id"),
        F.col("h.is_superhost").alias("is_superhost"),
        F.lit(False).alias("is_primary"),
    )
    return primary.unionByName(additional).filter(F.col("host_id").isNotNull())


def extract_generic(responses: DataFrame, jsonpath: str, payload_col: str = "payload") -> DataFrame:
    """X7: the dynamic-JSONPath escape hatch (ref json_parsers.py:49-54).
    Only for truly dynamic paths — every known path above is native. Uses
    a per-partition Python walk (slow path by design)."""
    import json as _json

    from pyspark.sql import types as T

    parts = [p for p in jsonpath.strip("$.").split(".") if p]

    def walk(obj, keys):
        if not keys:
            yield obj
            return
        head, *rest = keys
        if head == "*":
            items = obj.values() if isinstance(obj, dict) else (obj if isinstance(obj, list) else [])
            for v in items:
                yield from walk(v, rest)
        elif isinstance(obj, dict) and head in obj:
            yield from walk(obj[head], rest)
        elif isinstance(obj, list):
            for v in obj:
                yield from walk(v, keys)

    @F.udf(T.ArrayType(T.StringType()))
    def matches(payload: str):
        try:
            doc = _json.loads(payload)
        except Exception:
            return []
        return [_json.dumps(m) for m in walk(doc, parts)]

    return responses.select(
        "response_id", F.explode(matches(F.col(payload_col))).alias("match_json")
    )
