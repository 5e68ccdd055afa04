"""Refinement of parsed offers — pure Spark expressions, no Python.

Implements, JVM-side (whole-stage codegen), the reference's post-parse
semantics chain:

- F5  offer-id extraction regexes per source (otodom.py:27, morizon.py:71-73,
       gratka.py:846-848, trojmiasto.py:59-61)
- F19 price fill-in = round(ppm2 × area) when the page shows ppm2 + area but
       no price, currency forced PLN (otodom.py:158-165)
- P5  PL-bbox plausibility gate (morizon.py:23,54-58) — out-of-bbox coords are
       treated as absent, not clamped
- F18 area back-solve when area is MISSING or displayed ppm2 disagrees with
       price/area by >8% (morizon.py:581-593: `(ar is None) or ... > 0.08`)
- F17 ppm2 fill-in = round(price/area, 2) only when the page showed none;
       a displayed ppm2 is kept verbatim (morizon.py:572-578)
- P2  completeness gate (detail.py:21,30-31) — rejects go to the quarantine
       table with a reason (replaces offers_debug.jsonl, detail.py:207-212)
- W1/W2 photo sequence numbering + per-offer limit via posexplode
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# morizon.py:23 bbox (the engine standardizes on the morizon constants; the
# gratka variant 48.5..55.5 is strictly looser, so this is the tight gate).
PL_BBOX = {"lat_min": 49.0, "lat_max": 54.9, "lon_min": 14.0, "lon_max": 24.5}

# J8 snap threshold (morizon.py:472 `max_dist_m: float = 800.0`)
GEO_SNAP_MAX_DIST_M = 800.0

OFFER_ID_PATTERNS = [
    ("otodom", r"-ID(\w{4,})"),
    ("morizon", r"(mzn\d{6,})"),
    ("gratka", r"/ob/(\d+)"),
    ("trojmiasto", r"(ogl\d{5,})"),
]


def offer_id_expr(url: Column, source: Column) -> Column:
    """F5: per-source offer-id regex dispatch (O10) as a when-chain."""
    expr = F.lit(None).cast("string")
    for src, pat in reversed(OFFER_ID_PATTERNS):
        extracted = F.regexp_extract(url, pat, 1)
        expr = F.when(
            (source == src) & (extracted != ""), extracted
        ).otherwise(expr)
    return expr


def in_pl_bbox(lat: Column, lon: Column) -> Column:
    return (
        lat.between(PL_BBOX["lat_min"], PL_BBOX["lat_max"])
        & lon.between(PL_BBOX["lon_min"], PL_BBOX["lon_max"])
    )


def city_from_slug(url: Column) -> Column:
    """F8: recover the city from URL slug tokens (morizon.py:245-286).

    Synth slug shape mirrors the portals: `{kind}-{city}-{ordinal}`; the city
    token sits between the kind token and the trailing ordinal/id. Pure
    expressions: take the slug segment, split on '-', pick token 2, title-case.
    """
    # last path segment without extension/id suffixes
    seg = F.regexp_extract(url, r"/([a-z0-9-]+?)(?:-ID\w+|-mzn\d+|-ogl\d+\.html|/ob/\d+)?/?$", 1)
    tokens = F.split(seg, "-")
    city = F.element_at(tokens, 2)
    return F.when(
        (F.size(tokens) >= 3) & (city != ""), F.initcap(city)
    )


def timestamp_cascade(c: Column) -> Column:
    """F11/F12: multi-format parse — ISO-T (otodom.py:210-217), Polish
    dd.MM.yyyy with/without seconds (gratka.py:43-74), bare date. First
    matching format wins; all-JVM try_to_timestamp coalesce."""
    return F.coalesce(
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(c, F.lit("dd.MM.yyyy HH:mm:ss")),
        F.try_to_timestamp(c, F.lit("dd.MM.yyyy HH:mm")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(c, F.lit("dd.MM.yyyy")),
    )


def features_clean(c: Column) -> Column:
    """F28 (validate.py:47-50): trim every entry, drop empties — the array
    analogue of pydantic's strip_features validator, as transform+filter."""
    return F.filter(
        F.transform(c, lambda x: F.trim(x)), lambda x: x != F.lit("")
    )


def range_ok_expr() -> Column:
    """P3: pydantic's numeric range constraints (validate.py:25-28) as one
    predicate — a violation rejects the WHOLE offer (detail.py:92 raises).
    rooms ∈ [0,20], floor ∈ [-2,200], floors ∈ [0,200],
    year_built ∈ [1800, year(now)+1]."""
    def ok(col, lo, hi):
        return col.isNull() | col.between(lo, hi)

    return (
        ok(F.col("raw_rooms"), 0, 20)
        & ok(F.col("raw_floor"), -2, 200)
        & ok(F.col("raw_floors"), 0, 200)
        & ok(F.col("raw_year"), 1800, F.year(F.current_date()) + 1)
    )


_REFINED_COLS: dict[str, Column] | None = None


def _refined_col_map() -> dict[str, Column]:
    """The refinement projection as a reusable ``{name: Column}`` map.

    Built ONCE per process: every expression references only the parsed
    ``raw_*`` input columns (never a sibling derived column — derived values
    are shared as local Column objects), so the same immutable Columns apply
    to every round's batch via a single ``withColumns`` call. Plan
    CONSTRUCTION (~70 py4j expression builds) is paid once, not per crawl
    round — at depth, rounds are driver-latency-bound and this was a
    measured ~0.75 s/round of pure expression-tree rebuilding.
    """
    global _REFINED_COLS
    if _REFINED_COLS is not None:
        return _REFINED_COLS
    from realestate_scraper_spark.operators.spatial import haversine_m

    lat0, lon0 = F.col("raw_lat"), F.col("raw_lon")
    geo_ok = in_pl_bbox(lat0, lon0)
    page_lat = F.when(geo_ok, lat0)
    page_lon = F.when(geo_ok, lon0)
    # J8 snap override (_snap_geo_if_far, morizon.py:472-487): when the
    # streetwise OSM memo resolved a plausible point (dim_lat/dim_lon joined
    # upstream on (city, street) — null columns when no dim is configured),
    # REPLACE the page geo if it is implausible or >800 m away. Runs BEFORE
    # the completeness gate, exactly like the reference snaps at parse time
    # before pydantic validation (detail.py:92).
    dim_lat, dim_lon = F.col("dim_lat"), F.col("dim_lon")
    dim_ok = dim_lat.isNotNull() & in_pl_bbox(dim_lat, dim_lon)
    snap_dist = haversine_m(page_lat, page_lon, dim_lat, dim_lon)
    snap = dim_ok & (
        page_lat.isNull() | (snap_dist > F.lit(GEO_SNAP_MAX_DIST_M))
    )
    lat = F.when(snap, dim_lat).otherwise(page_lat)
    lon = F.when(snap, dim_lon).otherwise(page_lon)

    raw_area = F.col("raw_area")
    # F19 first (otodom.py:158-165): when the page shows ppm2 + area but NO
    # price, derive price = float(int(round(ppm2 × area))) and force currency
    # to PLN (the reference sets it whenever price_amount lands). rint() is
    # half-even — exactly Python's round(), NOT Spark's HALF_UP F.round.
    derived_price = F.when(
        F.col("raw_price").isNull()
        & F.col("raw_ppm2").isNotNull()
        & (F.col("raw_ppm2") > 0)
        & raw_area.isNotNull()
        & (raw_area > 0),
        F.expr("rint(raw_ppm2 * raw_area)"),
    )
    price = F.coalesce(F.col("raw_price"), derived_price)
    # currency default: whenever a price landed (page-sourced OR derived)
    # and the page yielded no parsable currency, the reference normalizes to
    # PLN — otodom.py:656-657 and morizon.py:533-534 both apply the rule at
    # the end of their cascade, not only on the derived-price branch.
    currency = F.coalesce(
        F.col("raw_currency"), F.when(price.isNotNull(), F.lit("PLN"))
    )
    # F17 fill-in first (morizon.py:572-578, gratka.py:916-923): when the
    # page shows no ppm2, derive it from price / RAW area; a displayed ppm2
    # is KEPT — the reference never recomputes it from the corrected area.
    ppm2 = F.coalesce(
        F.col("raw_ppm2"),
        F.when(
            price.isNotNull() & (price != 0) & (raw_area > 0),
            F.round(price / raw_area, 2),
        ),
    )
    # F18 back-solve (morizon.py:589-593): `(ar is None) or >8% disagreement`
    # — fires for MISSING area too, not only for the disagreeing one.
    implied_area = price / ppm2
    area = F.when(
        price.isNotNull()
        & (price != 0)
        & ppm2.isNotNull()
        & (ppm2 > 0)
        & (
            raw_area.isNull()
            | (F.abs(raw_area - implied_area) / implied_area > 0.08)
        ),
        F.round(implied_area, 2),
    ).otherwise(raw_area)

    # city waterfall (L6-style coalesce cascade): page value first, URL
    # slug token fallback second (F8)
    city = F.coalesce(F.col("raw_city"), city_from_slug(F.col("url")))
    rooms = F.col("raw_rooms").cast("int")
    offer_id = offer_id_expr(F.col("url"), F.col("source"))
    range_ok = range_ok_expr()
    # completeness gate (P2) + reject reason, inlined over the SAME derived
    # Column objects (a withColumns projection resolves everything against
    # the input frame, so siblings can't reference each other by name)
    complete = range_ok
    for c in (price, city, area, rooms, lat, lon, offer_id):
        complete = complete & c.isNotNull()
    complete = complete & (city != "") & (offer_id != "")
    reason = (
        F.when(~F.col("parse_ok"), "parse_fail")
        # pydantic raises before the completeness gate runs (detail.py:92,94)
        .when(~range_ok, "range")
        .when(price.isNull(), "no_price")
        .when(lat.isNull() | lon.isNull(), "no_geo")
        .when(offer_id.isNull() | (offer_id == ""), "no_offer_id")
        .otherwise("incomplete")
    )
    _REFINED_COLS = {
        "lat": lat,
        "lon": lon,
        "area_m2": area,
        "price_amount": price,
        "price_currency": currency,
        "city": city,
        "rooms": rooms,
        "offer_id": offer_id,
        # displayed-or-derived ppm2 travels as-is (see fill-in above)
        "price_per_m2": ppm2,
        # validated-model breadth (validate.py:25-40): timestamps through
        # the F11/F12 cascade, year_built, trimmed features array (F28)
        "posted_at": timestamp_cascade(F.col("raw_posted")),
        "updated_at": timestamp_cascade(F.col("raw_updated")),
        "year_built": F.col("raw_year").cast("int"),
        "features": F.when(
            F.col("raw_features").isNotNull(),
            features_clean(F.col("raw_features")),
        ),
        "range_ok": range_ok,
        "is_valid": complete,
        "reject_reason": F.when(~complete, reason),
    }
    return _REFINED_COLS


def refined(parsed: DataFrame) -> DataFrame:
    """parsed raw fields → canonical columns + is_valid + reject_reason.

    Single expression pass (one ``withColumns`` over the memoized projection
    map); callers project the offers / quarantine views from it (and the
    engine stages exactly this frame once per round). Callers that ran the
    OSM memo join supply ``dim_lat``/``dim_lon``; otherwise the snap
    columns are nulled here so the memoized map applies unchanged."""
    for c in ("dim_lat", "dim_lon"):
        if c not in parsed.columns:
            parsed = parsed.withColumn(c, F.lit(None).cast("double"))
    return parsed.withColumns(_refined_col_map())


def explode_photos(parsed: DataFrame, per_offer_limit: int | None = None) -> DataFrame:
    """photo structs → (offer_id, seq, url, image_id, width, height) rows.

    W1: seq = gallery position (posexplode keeps array order — the same
    0,1,2… numbering the reference assigns at otodom.py:723).
    W2: per-offer limit applied on seq (photos.py:71-75).
    W4: the srcset best-variant WIDTH lands in the table (validate.py:58-60
    Photo.width); height is null until the decode stage measures it.
    F5-style image-id extraction from the URL for the images-table join.
    """
    out = (
        parsed.withColumn(
            "offer_id", offer_id_expr(F.col("url"), F.col("source"))
        )
        .select(
            "offer_id",
            F.posexplode("photo_urls").alias("seq", "photo"),
        )
        .withColumn("url", F.col("photo.url"))
        .withColumn("width", F.col("photo.w"))
        .withColumn("height", F.lit(None).cast("int"))
        .withColumn(
            "image_id", F.regexp_extract("url", r"(img\d{6}_\d+)", 1)
        )
        .withColumn(
            "image_id",
            F.when(F.col("image_id") != "", F.col("image_id")),
        )
    )
    if per_offer_limit is not None:
        out = out.filter(F.col("seq") < per_offer_limit)
    return out.select("offer_id", "seq", "url", "image_id", "width", "height")
