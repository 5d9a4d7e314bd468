"""Spark surfaces of the zarr source (sources/zarr.py): chunk-parallel
distributed scan vs driver read, missing-chunk fill, time selection,
and the partitioning/scale-shape assertions."""

from __future__ import annotations

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from wrf_to_geodataframe_spark.sources.zarr import (
    read_zarr_dist,
    read_zarr_grid,
    read_zarr_store,
    write_zarr,
)


def _demo_store(path: str, nt=3, ny=10, nx=14, **kw) -> np.ndarray:
    rng = np.random.default_rng(42)
    vals = np.round(rng.standard_normal((nt, ny, nx)) * 8) / 8
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    write_zarr(
        path,
        {"t": nt, "y": ny, "x": nx},
        {
            "T2": {"dims": ["t", "y", "x"], "data": vals},
            "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
            "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
        },
        chunks={"T2": (2, 4, 5), "XLAT": (4, 5), "XLONG": (4, 5)},
        **kw,
    )
    return vals


def _collect_map(df):
    rows = df.select("t_idx", "y_idx", "x_idx", "lat", "lon", "value").collect()
    return {
        (r["t_idx"], r["y_idx"], r["x_idx"]): (r["lat"], r["lon"], r["value"])
        for r in rows
    }


def test_dist_matches_driver_read(spark, tmp_path):
    store = str(tmp_path / "s")
    vals = _demo_store(store)
    dist = _collect_map(read_zarr_dist(spark, store, "T2", "XLAT", "XLONG"))
    assert len(dist) == 3 * 10 * 14
    for (t, y, x), (lat, lon, v) in dist.items():
        assert lat == 50.0 + y * 0.25
        assert lon == -3.0 + x * 0.125
        assert v == vals[t, y, x]


def test_dist_time_index_selection(spark, tmp_path):
    store = str(tmp_path / "s")
    vals = _demo_store(store)
    df = read_zarr_dist(spark, store, "T2", "XLAT", "XLONG", time_index=1)
    m = _collect_map(df)
    assert len(m) == 10 * 14
    assert {t for (t, _, _) in m} == {1}
    for (t, y, x), (_la, _lo, v) in m.items():
        assert v == vals[1, y, x]


def test_dist_2d_variable(spark, tmp_path):
    store = str(tmp_path / "s")
    _demo_store(store)
    df = read_zarr_dist(spark, store, "XLAT", "XLAT", "XLONG")
    m = _collect_map(df)
    assert len(m) == 10 * 14
    assert {t for (t, _, _) in m} == {0}
    for (_t, y, _x), (_la, _lo, v) in m.items():
        assert v == 50.0 + y * 0.25


def test_dist_missing_chunk_yields_fill(spark, tmp_path):
    store = str(tmp_path / "s")
    _demo_store(store)
    os.remove(os.path.join(store, "T2", "0.1.2"))
    df = read_zarr_dist(spark, store, "T2", "XLAT", "XLONG")
    got = df.filter(F.isnan("value") | F.col("value").isNull()).count()
    # fill_value 0.0 (writer default) -> deleted chunk reads as 0, not
    # NaN; count exact zeros in the deleted tile instead
    tile = df.filter(
        (F.col("t_idx") < 2)
        & F.col("y_idx").between(4, 7)
        & F.col("x_idx").between(10, 13)
    )
    assert got == 0
    assert tile.filter(F.col("value") == 0.0).count() == 2 * 4 * 4
    # driver read agrees
    ds = read_zarr_store(store)
    assert (ds["variables"]["T2"]["data"][:2, 4:8, 10:14] == 0).all()


def test_dist_scan_is_chunk_parallel(spark, tmp_path):
    """Scale shape: the manifest has one row per chunk and the scan
    runs as multiple tasks — parsing happens executor-side, nothing
    data-sized on the driver."""
    store = str(tmp_path / "s")
    _demo_store(store)
    df = read_zarr_dist(spark, store, "T2", "XLAT", "XLONG")
    nparts = df.rdd.getNumPartitions()
    assert nparts > 1
    per_key = (
        df.groupBy("chunk_key").count().collect()
    )
    assert len(per_key) == math.prod((2, 3, 3))  # ceil(3/2)*ceil(10/4)*ceil(14/5)


@pytest.mark.parametrize(
    "sep,packed", [(".", False), ("/", False), (".", True)],
    ids=[".", "/", "packed"],
)
def test_dist_read_separator_and_cf_packed_coordinate(
    spark, tmp_path, sep, packed
):
    """Both chunk-key separators, with ``chunk_key`` in the store's
    native separator, and CF mask-and-scale on a packed value AND a
    packed coordinate array."""
    store = str(tmp_path / "live")
    rng = np.random.default_rng(11)
    nt, ny, nx = 2, 6, 8
    vals = np.round(rng.standard_normal((nt, ny, nx)) * 8) / 8
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    variables = {
        "T2": {"dims": ["t", "y", "x"], "data": vals},
        "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
        "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
    }
    if packed:
        raw = np.arange(nt * ny * nx, dtype="int16").reshape(nt, ny, nx)
        raw[0, 0, 0] = -999
        variables["T2"] = {
            "dims": ["t", "y", "x"], "data": raw,
            "attrs": {"scale_factor": 0.5, "add_offset": 100.0,
                      "_FillValue": -999},
        }
        variables["XLAT"] = {
            "dims": ["y", "x"], "data": (yy * 4).astype("int16"),
            "attrs": {"scale_factor": 0.0625, "add_offset": 50.0},
        }
    write_zarr(
        store,
        {"t": nt, "y": ny, "x": nx},
        variables,
        chunks={"T2": (1, 4, 3), "XLAT": (4, 3), "XLONG": (4, 3)},
        dimension_separator=sep,
    )
    rows = read_zarr_dist(spark, store, "T2", "XLAT", "XLONG").collect()
    assert len(rows) == nt * ny * nx
    cells = {(r["t_idx"], r["y_idx"], r["x_idx"]): r for r in rows}
    for (t, y, x), r in cells.items():
        assert r["chunk_key"] == sep.join(map(str, (t, y // 4, x // 3)))
        assert r["lat"] == 50.0 + y * 0.25
        assert r["lon"] == -3.0 + x * 0.125
        if packed:
            masked = (t, y, x) == (0, 0, 0)
            want = None if masked else raw[t, y, x] * 0.5 + 100.0
        else:
            want = vals[t, y, x]
        assert r["value"] == want


def test_driver_grid_matches_store(spark, tmp_path):
    store = str(tmp_path / "s")
    vals = _demo_store(store, nt=1)
    df = read_zarr_grid(spark, store, "T2", "XLAT", "XLONG", time_index=0)
    rows = df.collect()
    assert len(rows) == 10 * 14
    for r in rows:
        assert r["value"] == vals[0, r["y_idx"], r["x_idx"]]


def test_dist_mismatched_coordinate_shapes_is_a_named_error(spark, tmp_path):
    """A 2-D latitude next to a 1-D longitude cannot be paired cell by
    cell: the read itself names both shapes, before any task runs."""
    store = str(tmp_path / "s")
    yy, xx = np.meshgrid(np.arange(10), np.arange(14), indexing="ij")
    write_zarr(
        store,
        {"t": 2, "y": 10, "x": 14},
        {
            "T2": {"dims": ["t", "y", "x"], "data": np.zeros((2, 10, 14))},
            "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
            "XLONG": {"dims": ["x"], "data": -3.0 + np.arange(14) * 0.125},
        },
        chunks={"T2": (1, 5, 7), "XLAT": (5, 7), "XLONG": (7,)},
    )
    with pytest.raises(ValueError, match=r"\(10, 14\).*\(14,\)"):
        read_zarr_dist(spark, store, "T2", "XLAT", "XLONG")
