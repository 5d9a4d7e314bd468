"""``time_index`` dispatch on every chunk-parallel gridded scan
(zarr v2, zarr v3, chunked NetCDF-4) + consolidated zarr metadata."""

from __future__ import annotations

import os

import numpy as np
import pytest


def _grid(nt=2, ny=4, nx=5):
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    tt = np.arange(nt)
    vals = (tt[:, None, None] * 100 + yy * nx + xx).astype("float64")
    return vals, (50.0 + yy * 0.25), (-3.0 + xx * 0.125)


def test_consolidated_metadata_roundtrip(tmp_path):
    from wrf_to_geodataframe_spark.sources.zarr import (
        read_consolidated_metadata,
        read_zarr_store,
        write_zarr,
    )

    vals, lat, lon = _grid()
    store = str(tmp_path / "s")
    write_zarr(
        store, {"t": 2, "y": 4, "x": 5},
        {
            "T2": {"dims": ["t", "y", "x"], "data": vals,
                   "attrs": {"units": "K"}},
            "XLAT": {"dims": ["y", "x"], "data": lat},
            "XLONG": {"dims": ["y", "x"], "data": lon},
        },
        attrs={"title": "demo"}, chunks={"T2": (1, 2, 3)},
    )
    md = read_consolidated_metadata(store)
    assert md is not None
    assert md["T2/.zarray"]["chunks"] == [1, 2, 3]
    assert md["T2/.zattrs"]["units"] == "K"
    # consolidated read must not touch per-array JSONs: corrupt them
    for name in ("T2", "XLAT", "XLONG"):
        with open(os.path.join(store, name, ".zarray"), "w") as f:
            f.write("NOT JSON")
    ds = read_zarr_store(store)
    assert ds["attrs"]["title"] == "demo"
    assert ds["variables"]["T2"]["attrs"]["units"] == "K"
    np.testing.assert_array_equal(ds["variables"]["T2"]["data"], vals)


def _three_step_stores(tmp_path):
    """The same 3x4x4 (t, y, x) grid as a zarr v2 store, a zarr v3
    store and one chunked NetCDF-4 file (one time step per chunk)."""
    from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4
    from wrf_to_geodataframe_spark.sources.zarr import write_zarr
    from wrf_to_geodataframe_spark.sources.zarr3 import write_zarr3

    vals, lat, lon = _grid(nt=3, ny=4, nx=4)
    dims = {"t": 3, "y": 4, "x": 4}
    variables = {
        "T2": {"dims": ["t", "y", "x"], "data": vals},
        "XLAT": {"dims": ["y", "x"], "data": lat},
        "XLONG": {"dims": ["y", "x"], "data": lon},
    }
    paths = {
        "zarr2": str(tmp_path / "v2"),
        "zarr3": str(tmp_path / "v3"),
        "netcdf": str(tmp_path / "one.nc"),
    }
    write_zarr(paths["zarr2"], dims, variables, chunks={"T2": (1, 2, 4)})
    write_zarr3(paths["zarr3"], dims, variables, chunks={"T2": (1, 2, 4)})
    write_netcdf4(paths["netcdf"], dims, variables, compress=True,
                  chunk={"T2": (1, 2, 4)})
    return vals, paths


def test_dispatch_time_index_every_chunk_scan(spark, tmp_path):
    """time_index selects one step on every chunk-parallel route —
    zarr v3 included (it used to be dropped there, returning all
    three steps)."""
    from wrf_to_geodataframe_spark.sources.netcdf import read_netcdf_chunks
    from wrf_to_geodataframe_spark.sources.zarr import read_zarr_dist
    from wrf_to_geodataframe_spark.sources.zarr3 import read_zarr3_dist

    vals, paths = _three_step_stores(tmp_path)
    readers = {
        "zarr2": read_zarr_dist,
        "zarr3": read_zarr3_dist,
        "netcdf": read_netcdf_chunks,
    }
    for fmt, path in paths.items():
        rows = readers[fmt](
            spark, path, "T2", "XLAT", "XLONG", time_index=1
        ).collect()
        assert len(rows) == 16, fmt
        assert {r["t_idx"] for r in rows} == {1}, fmt
        for r in rows:
            assert r["value"] == vals[1, r["y_idx"], r["x_idx"]], fmt


def test_out_of_range_time_index_named_error(spark, tmp_path):
    """An out-of-range time_index raises the same named ValueError,
    giving the valid range, on all three chunk scans and the driver
    read — before any Spark job runs."""
    from wrf_to_geodataframe_spark.sources.netcdf import (
        read_netcdf_chunks,
        read_netcdf_grid,
    )
    from wrf_to_geodataframe_spark.sources.zarr import read_zarr_dist
    from wrf_to_geodataframe_spark.sources.zarr3 import read_zarr3_dist

    _vals, paths = _three_step_stores(tmp_path)
    readers = [
        (read_zarr_dist, paths["zarr2"]),
        (read_zarr3_dist, paths["zarr3"]),
        (read_netcdf_chunks, paths["netcdf"]),
        (read_netcdf_grid, paths["netcdf"]),
    ]
    for reader, path in readers:
        for bad in (99, 3, -1):
            with pytest.raises(
                ValueError, match=r"time_index -?\d+ out of range; "
                r"valid indices are 0\.\.2"
            ):
                reader(spark, path, "T2", "XLAT", "XLONG", time_index=bad)
