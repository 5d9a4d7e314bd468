"""Format-dispatching gridded ingest (sources/gridded.py) +
consolidated zarr metadata + the streaming GeoTIFF mirror."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from wrf_to_geodataframe_spark.sources.gridded import (
    read_grid_any,
    sniff_grid_format,
)


def _grid(nt=2, ny=4, nx=5):
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    tt = np.arange(nt)
    vals = (tt[:, None, None] * 100 + yy * nx + xx).astype("float64")
    return vals, (50.0 + yy * 0.25), (-3.0 + xx * 0.125)


def _expected_sum(nt=2, ny=4, nx=5):
    return float(
        sum(t * 100 + y * nx + x
            for t in range(nt) for y in range(ny) for x in range(nx))
    )


def test_sniff_and_dispatch_every_format(spark, tmp_path):
    from wrf_to_geodataframe_spark.sources.geotiff import write_geotiff
    from wrf_to_geodataframe_spark.sources.grib2 import write_grib2
    from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4
    from wrf_to_geodataframe_spark.sources.netcdf import write_netcdf
    from wrf_to_geodataframe_spark.sources.zarr import write_zarr
    from wrf_to_geodataframe_spark.sources.zarr3 import write_zarr3

    vals, lat, lon = _grid()
    want = _expected_sum()
    variables = {
        "T2": {"dims": ["t", "y", "x"], "data": vals},
        "XLAT": {"dims": ["y", "x"], "data": lat},
        "XLONG": {"dims": ["y", "x"], "data": lon},
    }
    dims = {"t": 2, "y": 4, "x": 5}

    z2 = str(tmp_path / "store_v2")
    write_zarr(z2, dims, variables, chunks={"T2": (1, 2, 3)})
    z3 = str(tmp_path / "store_v3")
    write_zarr3(z3, dims, variables, chunks={"T2": (1, 2, 3)})
    nc4 = str(tmp_path / "one.nc")
    write_netcdf4(nc4, dims, variables, compress=True,
                  chunk={"T2": (1, 2, 3)})
    ncdir = str(tmp_path / "ncdir")
    os.makedirs(ncdir)
    for t in range(2):
        write_netcdf(
            os.path.join(ncdir, f"s{t}.nc"), {"y": 4, "x": 5},
            {
                "T2": {"dims": ["y", "x"], "data": vals[t]},
                "XLAT": {"dims": ["y", "x"], "data": lat},
                "XLONG": {"dims": ["y", "x"], "data": lon},
            },
        )
    gb = str(tmp_path / "m.grib2")
    write_grib2(
        gb,
        [{"values": vals[t], "lat0": 50.0, "lon0": 357.0,
          "dlat": -0.25, "dlon": 0.125,
          "packing": {"template": 0, "ref": 0.0, "e": -3, "d": 0,
                      "nbits": 16}} for t in range(2)],
    )
    tif = str(tmp_path / "r.tif")
    write_geotiff(tif, vals[0].astype("float32"),
                  transform=(0.125, 0, -3.0, 0, -0.25, 50.75),
                  tiled=True, tile=(16, 16))

    cases = {
        z2: ("zarr2", want),
        z3: ("zarr3", want),
        nc4: ("netcdf", want),
        ncdir: ("netcdf_dir", want),
        gb: ("grib2", want),
        tif: ("geotiff", _expected_sum(nt=1)),
    }
    for path, (fmt, total) in cases.items():
        assert sniff_grid_format(path) == fmt, path
        df = read_grid_any(spark, path)
        got = df.agg(F.sum("value")).collect()[0][0]
        assert got == total, (fmt, got, total)
        assert {"y_idx", "x_idx", "value"} <= set(df.columns)


def test_sniff_rejects_unknown(tmp_path):
    p = str(tmp_path / "x.bin")
    open(p, "wb").write(b"\x00" * 64)
    with pytest.raises(ValueError):
        sniff_grid_format(p)


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


def test_streaming_geotiff_matches_batch(spark, tmp_path):
    from wrf_to_geodataframe_spark.sources.geotiff import (
        read_geotiff_dir,
        write_geotiff,
    )
    from wrf_to_geodataframe_spark.streaming.ingest import (
        stream_geotiff_dir,
    )

    d = str(tmp_path / "scenes")
    os.makedirs(d)
    rng = np.random.default_rng(4)
    for k in range(2):
        write_geotiff(
            os.path.join(d, f"s{k}.tif"),
            rng.standard_normal((16, 16)).astype("float32"),
            tiled=True, tile=(16, 16),
        )
    frames = []

    def _sink(batch_df, _bid):
        frames.append(batch_df.toPandas())

    q = (
        stream_geotiff_dir(spark, d)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    import pandas as pd

    got = pd.concat(frames, ignore_index=True)
    batch = read_geotiff_dir(spark, d).toPandas()
    key = lambda df: {
        (os.path.basename(r["file"]), r["y_idx"], r["x_idx"]): r["value"]
        for _, r in df.iterrows()
    }
    assert key(got) == key(batch)
    assert len(got) == 2 * 256


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
    vals, paths = _three_step_stores(tmp_path)
    for fmt, path in paths.items():
        assert sniff_grid_format(path) == fmt
        rows = read_grid_any(spark, path, time_index=1).collect()
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
