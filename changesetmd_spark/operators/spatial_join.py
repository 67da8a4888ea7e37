"""Spatial containment join — the engine's flagship operator.

Generalizes the reference's ``ST_CoveredBy`` cookbook query
(README.md:232-234, backed by the GiST index queries.py:57-59) into a
Spark-native two-phase join (SURVEY.md §2.b B4):

  phase 1 (coarse): boxes → hex-cell covers (``hex_cell_cover``,
    array<long>) → ``explode`` → hash equi-join against the points'
    single ``hex_cell`` id. This is the index probe; the GiST tree is
    replaced by shuffle-or-broadcast hash partitioning on cell id.
  phase 2 (refine): exact interval containment evaluated *inside the
    join condition*, so false cover candidates die before leaving the
    join operator.

Correctness notes:
- A point maps to exactly one cell and a cover lists each cell once,
  so a (point, box) pair can meet in at most one cell → **no distinct
  / dedup shuffle is needed** (proved by test_spatial_join.py against
  a brute-force oracle).
- Boxes are normalized first (lat clamp + min/max swap) — the engine's
  ``ST_MakeValid`` (changesetmd.py:166, README.md:187-188).

Scale notes (the 100 TB plan):
- Callers must pass SLIM inputs: (point_id, lat, lon) and
  (box_id, bounds). Binary image payloads never enter this operator;
  re-attach by key afterwards (SURVEY.md §4, rule #1). A helper for
  the full images pipeline lives in ``assign_images``.
- ``broadcast`` hint: query polygon sets are usually ≪ the image table
  → broadcast the exploded cover and the join is shuffle-free (map-side
  hash join; verified by .explain in tests).
- ``salt_buckets``: for non-broadcast joins with hot cells, salt the
  point side and explode the cover side (plans/strategy.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import geo, hexgrid
from ..plans import strategy

DEFAULT_RES = 4


def normalize_boxes(
    boxes: DataFrame,
    min_lat: str = "min_lat",
    max_lat: str = "max_lat",
    min_lon: str = "min_lon",
    max_lon: str = "max_lon",
) -> DataFrame:
    """ST_MakeValid for envelopes: clamp latitudes to [-90, 90] and
    swap inverted min/max per axis. Idempotent."""
    lo_lat = geo.clamp_lat(F.least(F.col(min_lat), F.col(max_lat)))
    hi_lat = geo.clamp_lat(F.greatest(F.col(min_lat), F.col(max_lat)))
    lo_lon = F.least(F.col(min_lon), F.col(max_lon))
    hi_lon = F.greatest(F.col(min_lon), F.col(max_lon))
    return (
        boxes.withColumn("_lo_lat", lo_lat)
        .withColumn("_hi_lat", hi_lat)
        .withColumn("_lo_lon", lo_lon)
        .withColumn("_hi_lon", hi_lon)
        .drop(min_lat, max_lat, min_lon, max_lon)
        .withColumnRenamed("_lo_lat", min_lat)
        .withColumnRenamed("_hi_lat", max_lat)
        .withColumnRenamed("_lo_lon", min_lon)
        .withColumnRenamed("_hi_lon", max_lon)
    )


def split_antimeridian(
    boxes: DataFrame,
    min_lat: str = "min_lat",
    max_lat: str = "max_lat",
    min_lon: str = "min_lon",
    max_lon: str = "max_lon",
) -> DataFrame:
    """Antimeridian support: a box given with ``min_lon > max_lon``
    WRAPS across ±180° (the geographic convention; the reference's
    ST_MakeValid instead swaps the edges, which silently turns a
    narrow Pacific box into its world-wide complement). Each wrapping
    box is split into its two non-wrapping halves
    ``[min_lon, 180]`` and ``[−180, max_lon]`` — same box_id — so every
    downstream operator (cover join, overlay, area) works unchanged.
    The halves are disjoint in lon, so a point still matches a box at
    most once: no dedup shuffle is introduced. Non-wrapping boxes pass
    through untouched; the transform is a narrow union, no shuffle."""
    wrap = F.col(min_lon) > F.col(max_lon)
    east = boxes.withColumn(
        "_mx", F.when(wrap, F.lit(180.0)).otherwise(F.col(max_lon))
    ).drop(max_lon).withColumnRenamed("_mx", max_lon)
    west = (
        boxes.filter(wrap)
        .withColumn("_mn", F.lit(-180.0))
        .drop(min_lon)
        .withColumnRenamed("_mn", min_lon)
    )
    return east.unionByName(west.select(east.columns))


def tile_points(
    points: DataFrame, lat: str = "lat", lon: str = "lon", res: int = DEFAULT_RES,
    out: str = "hex_cell",
) -> DataFrame:
    """Attach the hex cell id (pure column expr — codegen, no UDF)."""
    return points.withColumn(
        out, hexgrid.hex_cell(F.col(lat), F.col(lon), res)
    )


def cover_boxes(
    boxes: DataFrame,
    res: int = DEFAULT_RES,
    min_lat: str = "min_lat",
    max_lat: str = "max_lat",
    min_lon: str = "min_lon",
    max_lon: str = "max_lon",
    out: str = "hex_cell",
) -> DataFrame:
    """Explode each (normalized) box into its covering cells."""
    return boxes.withColumn(
        out,
        F.explode(
            hexgrid.hex_cell_cover(
                F.col(min_lat), F.col(max_lat), F.col(min_lon), F.col(max_lon), res
            )
        ),
    )


def contains_join(
    points: DataFrame,
    boxes: DataFrame,
    *,
    res: int = DEFAULT_RES,
    lat: str = "lat",
    lon: str = "lon",
    broadcast_boxes: bool | None = None,
    salt_buckets: int = 0,
    point_salt_key: str | None = None,
    normalize: bool = True,
    compact_build: bool = False,
) -> DataFrame:
    """Inner join of points with every box that contains them.

    Returns points columns + boxes columns (cell/salt helpers dropped).
    ``broadcast_boxes=None`` probes the box side size (strategy module);
    ``salt_buckets>0`` salts the shuffle (needs ``point_salt_key``).
    ``compact_build`` (broadcast path only): broadcast just
    (hex_cell, box_id) pairs — ~3× smaller build relation, better
    cache behavior on wide-core machines — and refine via a second
    broadcast join on the raw (unexploded) box table. Same result set
    (verified against the brute-force oracle); measured ~15-20% faster
    at 32 cores on the bench workload. REQUIRES unique box_id rows:
    with duplicate ids (e.g. antimeridian split halves) the re-join on
    box_id would cross-match a candidate with every same-id row and
    duplicate pairs — those callers use the direct path.
    """
    if normalize:
        boxes = normalize_boxes(boxes)
    if compact_build:
        if salt_buckets:
            raise ValueError("compact_build is a broadcast-path optimization")
        if "box_id" not in boxes.columns:
            raise ValueError("compact_build requires a box_id key column")
        pts = tile_points(points, lat=lat, lon=lon, res=res)
        cov = cover_boxes(
            boxes.select("box_id", "min_lat", "max_lat", "min_lon", "max_lon"),
            res=res,
        ).select("box_id", "hex_cell")
        cand = pts.join(F.broadcast(cov), "hex_cell")
        refined = cand.join(F.broadcast(boxes), "box_id").filter(
            geo.point_in_box(
                F.col(lat), F.col(lon),
                F.col("min_lat"), F.col("max_lat"), F.col("min_lon"), F.col("max_lon"),
            )
        )
        return refined.drop("hex_cell")
    pts = tile_points(points, lat=lat, lon=lon, res=res)
    cov = cover_boxes(boxes, res=res)

    join_keys = [pts["hex_cell"] == cov["hex_cell"]]
    if salt_buckets > 0:
        if broadcast_boxes:
            raise ValueError("salting is pointless for a broadcast join")
        if point_salt_key is None:
            raise ValueError("salt_buckets needs point_salt_key")
        pts = strategy.with_salt(pts, point_salt_key, salt_buckets)
        cov = strategy.explode_salt(cov, salt_buckets)
        join_keys.append(pts["_salt"] == cov["_salt"])
        # shuffle-hash, not sort-merge: the exploded cover side hashes
        # per partition (covers/shuffle_partitions rows — bounded), so
        # sorting the BIG point side — SMJ's dominant cost — is pure
        # waste. Measured 2.3x faster at sf0.1/local[32] (14s → 5-6s),
        # identical row set; skew is already handled by the salt.
        cov = cov.hint("shuffle_hash")

    refine = geo.point_in_box(
        pts[lat], pts[lon],
        cov["min_lat"], cov["max_lat"], cov["min_lon"], cov["max_lon"],
    )
    cov = strategy.maybe_broadcast(cov, hint=broadcast_boxes)
    cond = join_keys[0]
    for k in join_keys[1:]:
        cond = cond & k
    joined = pts.join(cov, cond & refine, "inner")
    drop_cols = [pts["hex_cell"], cov["hex_cell"]]
    if salt_buckets > 0:
        drop_cols += [pts["_salt"], cov["_salt"]]
    return joined.drop(*drop_cols)


def assign_images(
    images: DataFrame,
    boxes: DataFrame,
    *,
    res: int = DEFAULT_RES,
    broadcast_boxes: bool | None = None,
    keep_payload: bool = False,
) -> DataFrame:
    """Full image pipeline: phash → geotag → clamp → cell → containment
    join. Emits (image_id, lat, lon, box columns…).

    The binary payload is pruned *before* the join (#1 physical rule,
    SURVEY.md §4); with ``keep_payload=True`` it is re-attached by a
    final key join on image_id, so bytes cross exactly one shuffle —
    never the cover join.
    """
    slim = images.select(
        "image_id",
        geo.clamp_lat(geo.phash_to_lat(F.col("phash"))).alias("lat"),
        geo.phash_to_lon(F.col("phash")).alias("lon"),
    )
    matched = contains_join(
        slim, boxes, res=res, broadcast_boxes=broadcast_boxes
    )
    if keep_payload:
        matched = matched.join(images, "image_id")
    return matched
