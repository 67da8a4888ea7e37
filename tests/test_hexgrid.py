"""Hex-grid tiling tests: Spark-expr vs numpy twin, cover invariant,
disk geometry, parent hierarchy (SURVEY.md §2.c grid operators)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from changesetmd_spark.functions import hexgrid as hg


def _rand_points(n=2000, seed=42):
    rng = np.random.default_rng(seed)
    lat = rng.uniform(-89.9, 89.9, n)
    lon = rng.uniform(-179.9, 179.9, n)
    return lat, lon


def test_spark_expr_matches_numpy_twin(spark):
    lat, lon = _rand_points()
    pdf = list(zip(lat.tolist(), lon.tolist()))
    df = spark.createDataFrame(pdf, "lat double, lon double")
    for res in (3, 7):
        got = np.array(
            [r.c for r in df.select(hg.hex_cell(F.col("lat"), F.col("lon"), res).alias("c")).collect()]
        )
        want = hg.hex_cell_np(lat, lon, res)
        assert (got == want).all()


def test_cover_superset_invariant(spark):
    """cover(box) must contain the cell of every point in the box —
    the correctness contract of the coarse phase of the spatial join."""
    rng = np.random.default_rng(7)
    res = 5
    for _ in range(50):
        clat = rng.uniform(-80, 80)
        clon = rng.uniform(-170, 170)
        dlat, dlon = rng.uniform(0, 2.0, 2)
        box = tuple(float(v) for v in (clat - dlat, clat + dlat, clon - dlon, clon + dlon))
        df = spark.createDataFrame([box], "min_lat double,max_lat double,min_lon double,max_lon double")
        cover = set(
            df.select(
                hg.hex_cell_cover(F.col("min_lat"), F.col("max_lat"), F.col("min_lon"), F.col("max_lon"), res).alias("c")
            ).collect()[0].c
        )
        # sample interior + corner points
        plat = rng.uniform(box[0], box[1], 200)
        plon = rng.uniform(box[2], box[3], 200)
        plat = np.concatenate([plat, [box[0], box[0], box[1], box[1]]])
        plon = np.concatenate([plon, [box[2], box[3], box[2], box[3]]])
        cells = hg.hex_cell_np(plat, plon, res)
        assert set(cells.tolist()) <= cover


def test_grid_disk_counts_and_membership(spark):
    # disk k has 1+3k(k+1) cells; k=0 is the cell itself
    assert len(hg.disk_offsets(0)) == 1
    assert len(hg.disk_offsets(1)) == 7
    assert len(hg.disk_offsets(2)) == 19
    df = spark.createDataFrame([(10.0, 20.0)], "lat double, lon double").select(
        hg.hex_cell(F.col("lat"), F.col("lon"), 7).alias("cell")
    )
    disk = df.select(hg.grid_disk(F.col("cell"), 2).alias("d"), "cell").collect()[0]
    assert len(disk.d) == 19
    assert disk.cell in disk.d
    # nearby point's cell is inside the disk of a close point
    near = df.select(hg.hex_cell(F.lit(10.005), F.lit(20.005), 7).alias("c")).collect()[0].c
    assert near in disk.d


def test_cell_center_roundtrip(spark):
    """center(cell(p)) re-encodes to the same cell."""
    lat, lon = _rand_points(500, seed=3)
    df = spark.createDataFrame(list(zip(lat.tolist(), lon.tolist())), "lat double, lon double")
    res = 6
    cells = df.select(hg.hex_cell(F.col("lat"), F.col("lon"), res).alias("cell"))
    clat, clon = hg.cell_center(F.col("cell"), res)
    back = cells.select(
        F.col("cell"), hg.hex_cell(clat, clon, res).alias("cell2")
    ).where(F.col("cell") != F.col("cell2"))
    assert back.count() == 0


def test_out_of_range_lat_clamps_not_errors(spark):
    df = spark.createDataFrame([(93.5, 10.0), (-120.0, 10.0)], "lat double, lon double")
    got = df.select(hg.hex_cell(F.col("lat"), F.col("lon"), 7).alias("c")).collect()
    want = df.select(hg.hex_cell(F.lit(90.0), F.col("lon"), 7).alias("c")).collect()
    assert got[0].c == want[0].c


def test_null_coordinates_get_cell_zero_in_both_twins(spark):
    """A NULL latitude must not clamp to the pole: any NULL coordinate
    gives the "no cell" id 0, in the Column expression and in its SQL
    twin alike. A valid row keeps the two engines honest."""
    import duckdb
    import pandas as pd

    pdf = pd.DataFrame(
        {"id": [0, 1, 2, 3], "lat": [None, 10.0, None, 10.0], "lon": [5.0, None, None, 5.0]}
    )
    df = spark.createDataFrame(pdf, "id long, lat double, lon double")
    con = duckdb.connect()
    con.register("pts", pdf)
    for res in (3, 7):
        got = {
            r.id: r.c
            for r in df.select("id", hg.hex_cell(F.col("lat"), F.col("lon"), res).alias("c")).collect()
        }
        want = dict(
            con.execute(f"SELECT id, {hg.HEX_CELL_SQL('lat', 'lon', res)} FROM pts").fetchall()
        )
        assert got == want
        assert got[0] == got[1] == got[2] == 0 and got[3] != 0


def test_cell_to_parent_contains_child_center(spark):
    """Re-encoding a fine cell's center at a coarser res gives the
    coarse cell of that center (hierarchy consistency)."""
    lat, lon = _rand_points(300, seed=9)
    df = spark.createDataFrame(list(zip(lat.tolist(), lon.tolist())), "lat double, lon double")
    fine = df.select(
        hg.hex_cell(F.col("lat"), F.col("lon"), 7).alias("cell"),
    )
    got = fine.select(hg.cell_to_parent(F.col("cell"), 7, 3).alias("p")).collect()
    clat, clon = hg.cell_center(F.col("cell"), 7)
    want = fine.select(hg.hex_cell(clat, clon, 3).alias("p")).collect()
    assert [r.p for r in got] == [r.p for r in want]
