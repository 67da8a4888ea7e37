"""Geo column expressions — pure ``pyspark.sql.functions``, no UDFs.

Everything here stays inside whole-stage codegen. All expressions are
ANSI-mode safe (no int64 overflow, no division by zero) because the
driver's verify session may run with ``spark.sql.ansi.enabled=true``
(Spark 4 default).

Reference parity notes:
- The phash→(lat,lon) geotag rule generalizes the reference's bbox
  ingest (changesetmd.py:240-254) per BASELINE.json north_star: "split
  int64 into two 32-bit halves → scale to lat/lon ranges".
- ``clamp_lat`` implements the reference's out-of-range-latitude sanity
  rule (README.md:187-188: "bounding latitudes outside [-90;90]") —
  the engine analog of PostGIS ``ST_MakeValid`` (changesetmd.py:166).
- ``bbox_area_km2`` replaces ``ST_Area(ST_Transform(geom, 3410))``
  (README.md:186): an equal-area (cylindrical) box area, exact for a
  lat/lon-aligned box on the sphere.
- containment/overlap predicates implement ``ST_CoveredBy`` /
  ``ST_Intersects`` for box-vs-box (README.md:232-234) as interval
  arithmetic — exact, no geometry library needed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088

# The synthetic geotag maps the high half of phash to latitude over
# [-95, 95] (deliberately 5° out of range at the tails, so the clamp
# rule B8 is exercised by real data) and the low half to [-180, 180].
# phash is a non-negative int64, so bit 63 is always 0; the "halves"
# are therefore bits 62..31 (32 bits) and 30..0 (31 bits) — both spans
# fully exercised. The same rule is expressible in ANSI SQL for the
# DuckDB oracle: (phash >> 31) and (phash & 2147483647).
LAT_SPAN = 190.0
LON_SPAN = 360.0
_TWO32 = 4294967296.0  # 2^32
_TWO31 = 2147483648.0  # 2^31


def phash_hi(phash: Column) -> Column:
    """Bits 62..31 of a non-negative phash (32-bit value), as long."""
    return F.shiftrightunsigned(phash, 31)


def phash_lo(phash: Column) -> Column:
    """Bits 30..0 of phash (31-bit value, ANSI-safe bitwise AND)."""
    return phash.bitwiseAND(F.lit(0x7FFFFFFF))


def phash_to_lat(phash: Column) -> Column:
    """Deterministic latitude in [-95, 95) from the phash high half."""
    return phash_hi(phash) / F.lit(_TWO32) * F.lit(LAT_SPAN) - F.lit(LAT_SPAN / 2)


def phash_to_lon(phash: Column) -> Column:
    """Deterministic longitude in [-180, 180) from the phash low half."""
    return phash_lo(phash) / F.lit(_TWO31) * F.lit(LON_SPAN) - F.lit(LON_SPAN / 2)


def clamp_lat(lat: Column) -> Column:
    """B8: clamp latitude into [-90, 90] before any cell encode. A NULL
    latitude stays NULL: ``greatest``/``least`` skip NULLs in both
    engines, so the usual nesting would clamp it to the North Pole."""
    return F.when(lat < -90.0, -90.0).when(lat > 90.0, 90.0).otherwise(lat)


def CLAMP_LAT_SQL(lat: str) -> str:
    return f"(CASE WHEN {lat} < -90.0 THEN -90.0 WHEN {lat} > 90.0 THEN 90.0 ELSE {lat} END)"


def wrap_lon(lon: Column) -> Column:
    """Normalize longitude into [-180, 180): ((x+180) mod 360) - 180."""
    return F.pmod(lon + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)


def haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Great-circle distance (km) as a pure column expression."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.pow(F.sin(dlon / 2), 2)
    )
    # clamp guards fp noise at antipodes; asin form is stable for small a
    return (
        F.lit(2.0 * EARTH_RADIUS_KM)
        * F.asin(F.least(F.lit(1.0), F.sqrt(a)))
    )


def bbox_area_km2(
    min_lat: Column, max_lat: Column, min_lon: Column, max_lon: Column
) -> Column:
    """Exact spherical area of a lat/lon-aligned box, in km².

    Area = R² · Δλ · (sin φ₂ − sin φ₁). Replaces the reference's
    equal-area projection filter (README.md:186, SRID 3410).
    """
    return (
        F.lit(EARTH_RADIUS_KM * EARTH_RADIUS_KM)
        * F.radians(max_lon - min_lon)
        * (F.sin(F.radians(max_lat)) - F.sin(F.radians(min_lat)))
    )


def box_covered_by(
    inner_min_lat: Column,
    inner_max_lat: Column,
    inner_min_lon: Column,
    inner_max_lon: Column,
    outer_min_lat: Column,
    outer_max_lat: Column,
    outer_min_lon: Column,
    outer_max_lon: Column,
) -> Column:
    """ST_CoveredBy(inner_box, outer_box) ≡ interval containment."""
    return (
        (inner_min_lat >= outer_min_lat)
        & (inner_max_lat <= outer_max_lat)
        & (inner_min_lon >= outer_min_lon)
        & (inner_max_lon <= outer_max_lon)
    )


def point_in_box(
    lat: Column,
    lon: Column,
    min_lat: Column,
    max_lat: Column,
    min_lon: Column,
    max_lon: Column,
) -> Column:
    """Point-in-envelope refine predicate (closed box, PostGIS
    ST_Covers convention: boundary counts as inside)."""
    return (lat >= min_lat) & (lat <= max_lat) & (lon >= min_lon) & (lon <= max_lon)


def boxes_overlap(
    a_min_lat: Column,
    a_max_lat: Column,
    a_min_lon: Column,
    a_max_lon: Column,
    b_min_lat: Column,
    b_max_lat: Column,
    b_min_lon: Column,
    b_max_lon: Column,
) -> Column:
    """ST_Intersects for two boxes: NOT disjoint on either axis."""
    return ~(
        (a_max_lon < b_min_lon)
        | (b_max_lon < a_min_lon)
        | (a_max_lat < b_min_lat)
        | (b_max_lat < a_min_lat)
    )


# ---------------------------------------------------------------------------
# Slippy-map raster tiles (z/x/y) — pure column math, used by the
# raster-tile ↔ vector-bbox overlay operator (SURVEY.md §2.c).
# ---------------------------------------------------------------------------

def tile_x(lon: Column, zoom: int) -> Column:
    """Web-mercator tile column index at ``zoom`` (int, 0..2^z-1)."""
    n = float(1 << zoom)
    raw = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    return F.greatest(F.lit(0), F.least(F.lit(int(n) - 1), raw.cast("long")))


def tile_y(lat: Column, zoom: int) -> Column:
    """Web-mercator tile row index at ``zoom``; lat clamped to the
    mercator domain ±85.05113° before projecting."""
    n = float(1 << zoom)
    lat_c = F.greatest(F.lit(-85.05112878), F.least(F.lit(85.05112878), lat))
    lat_rad = F.radians(lat_c)
    merc = F.log(F.tan(lat_rad) + F.lit(1.0) / F.cos(lat_rad))
    raw = F.floor((F.lit(1.0) - merc / F.lit(3.141592653589793)) / F.lit(2.0) * F.lit(n))
    return F.greatest(F.lit(0), F.least(F.lit(int(n) - 1), raw.cast("long")))


def tile_id(x: Column, y: Column, zoom: int) -> Column:
    """Pack (z, x, y) into one long: z<<58 | x<<29 | y (z≤29)."""
    return (
        F.lit(zoom).cast("long") * F.lit(1 << 58).cast("long")
        + x * F.lit(1 << 29).cast("long")
        + y
    )
