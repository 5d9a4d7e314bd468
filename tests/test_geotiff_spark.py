"""Spark surfaces of the GeoTIFF source: tile-parallel single-file
scan vs driver read, nodata -> NaN semantics."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from wrf_to_geodataframe_spark.sources.geotiff import (
    read_geotiff_dist,
    read_geotiff_grid,
    write_geotiff,
)


_NORTH_UP = (0.25, 0, 10.0, 0, -0.25, 60.0)


def _raster(tmp, name="r.tif", h=40, w=56, **kw):
    rng = np.random.default_rng(13)
    arr = np.round(rng.standard_normal((h, w)) * 8).astype("float32") / 8
    p = os.path.join(str(tmp), name)
    kw = {"transform": _NORTH_UP, "tiled": True, "tile": (16, 16), **kw}
    write_geotiff(p, arr, epsg=4326, compression=8, **kw)
    return p, arr


@pytest.mark.parametrize(
    "kw",
    [
        {},
        # 40 rows in strips of 16: the last strip holds 8 rows
        {"tiled": False, "rows_per_strip": 16},
        {"transform": (0.2, 0.1, 5.0, -0.1, 0.2, 7.0)},
    ],
    ids=["tiled", "strips_ragged", "rotated"],
)
def test_dist_matches_driver(spark, tmp_path, kw):
    p, arr = _raster(tmp_path, **kw)
    a, b, c, d, e, f = kw.get("transform", _NORTH_UP)
    dist = read_geotiff_dist(spark, p)
    assert dist.rdd.getNumPartitions() > 1
    got = {
        (r["y_idx"], r["x_idx"]): (r["lon"], r["lat"], r["value"])
        for r in dist.collect()
    }
    drv = {
        (r["y_idx"], r["x_idx"]): (r["lon"], r["lat"], r["value"])
        for r in read_geotiff_grid(spark, p).collect()
    }
    assert got == drv
    assert len(got) == 40 * 56
    for (y, x), (lon, lat, v) in got.items():
        assert lon == a * x + b * y + c
        assert lat == d * x + e * y + f
        assert v == arr[y, x]


def test_dist_block_count(spark, tmp_path):
    p, _ = _raster(tmp_path)
    dist = read_geotiff_dist(spark, p)
    # ceil(40/16) x ceil(56/16) tiles
    assert dist.select("block_id").distinct().count() == 3 * 4


def test_nodata_becomes_null(spark, tmp_path):
    """nodata cells surface as NULL (pandas NaN -> Arrow null at the
    mapInPandas boundary) — the engine's missing-value convention
    (P7 null-fill composes directly)."""
    rng = np.random.default_rng(5)
    arr = rng.standard_normal((20, 20)).astype("float32")
    arr[3, 4] = -9999.0
    arr[17, 2] = -9999.0
    p = os.path.join(str(tmp_path), "n.tif")
    write_geotiff(p, arr, nodata=-9999.0, tiled=True, tile=(16, 16))
    df = read_geotiff_dist(spark, p)
    nulls = df.filter(F.col("value").isNull())
    assert nulls.count() == 2
    got = {(r["y_idx"], r["x_idx"]) for r in nulls.collect()}
    assert got == {(3, 4), (17, 2)}
    drv = read_geotiff_grid(spark, p).filter(F.col("value").isNull())
    assert {(r["y_idx"], r["x_idx"]) for r in drv.collect()} == got


def test_dist_overview_level(spark, tmp_path):
    """level=1 scans the overview IFD: quarter the cells, doubled
    pixel scale, decimated values."""
    rng = np.random.default_rng(31)
    arr = np.round(rng.standard_normal((32, 32)) * 8).astype("float32") / 8
    p = os.path.join(str(tmp_path), "ov.tif")
    write_geotiff(p, arr, transform=(0.25, 0, 10.0, 0, -0.25, 60.0),
                  tiled=True, tile=(16, 16), overviews=1)
    df = read_geotiff_dist(spark, p, level=1)
    got = {
        (r["y_idx"], r["x_idx"]): (r["lon"], r["lat"], r["value"])
        for r in df.collect()
    }
    assert len(got) == 16 * 16
    for (y, x), (lon, lat, v) in got.items():
        assert v == arr[2 * y, 2 * x]
        assert lon == 10.0 + 0.5 * x
        assert lat == 60.0 - 0.5 * y
