"""CF packed-variable decode (mask-and-scale) across every scan path.

The reference opens WRF output through ``xr.open_dataset``
(wrf_voronoi.py:115), whose default ``mask_and_scale=True`` turns
``int16 raw`` + ``scale_factor``/``add_offset`` attributes into
physical floats and ``_FillValue``/``missing_value`` matches into NaN.
Every S1 scan path must agree on that decode:

- whole-file driver reads (classic + NetCDF-4/HDF5),
- the per-file ``binaryFile`` scan of a classic file,
- the virtual (kerchunk-style) manifest layer, which is also the
  chunk-parallel scan of one NetCDF-4 file (a one-file manifest).
"""

from __future__ import annotations

import numpy as np
import pytest

from wrf_to_geodataframe_spark.sources.netcdf import (
    cf_mask_and_scale,
    read_netcdf_dir,
    read_netcdf_grid,
    write_netcdf,
)
from wrf_to_geodataframe_spark.sources.virtual import (
    build_virtual_manifest,
    read_virtual,
)

SF, AO, FILL = 0.01, 270.0, -32767


def _raw(nt: int, ny: int, nx: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    raw = rng.integers(-2000, 2000, (nt, ny, nx)).astype("int16")
    raw[:, 0, 0] = FILL  # one fill cell per slice
    return raw


def _packed_attrs():
    return {
        "scale_factor": np.float64(SF),
        "add_offset": np.float64(AO),
        "_FillValue": np.int16(FILL),
        "units": "K",
    }


def _expected(raw: np.ndarray) -> np.ndarray:
    out = raw.astype("float64") * SF + AO
    out[raw == FILL] = np.nan
    return out


def _check(rows, exp: np.ndarray, lat0: float = 50.0, lon0: float = -3.0):
    got = {(r["t_idx"], r["y_idx"], r["x_idx"]): r for r in rows}
    nt, ny, nx = exp.shape
    assert len(got) == nt * ny * nx
    for t in range(nt):
        for y in range(ny):
            for x in range(nx):
                r = got[(t, y, x)]
                e = exp[t, y, x]
                if np.isnan(e):
                    assert r["value"] is None
                else:
                    assert r["value"] == pytest.approx(e, abs=1e-9)
                assert r["lat"] == pytest.approx(lat0 + y * 0.25)
                assert r["lon"] == pytest.approx(lon0 + x * 0.125)


def _coords(ny: int, nx: int):
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    return 50.0 + yy * 0.25, -3.0 + xx * 0.125


def test_unit_kernel_matches_cf_semantics():
    raw = np.array([[1, FILL], [-3, 0]], dtype="int16")
    out = cf_mask_and_scale(raw, _packed_attrs())
    assert out.dtype == np.float64
    assert out[0, 0] == pytest.approx(1 * SF + AO)
    assert np.isnan(out[0, 1])
    # fill compared on RAW integers, not scaled values
    assert out[1, 1] == pytest.approx(AO)
    # no packing attrs -> identity, dtype preserved
    same = cf_mask_and_scale(raw, {"units": "K"})
    assert same.dtype == np.int16 and np.array_equal(same, raw)


def _check2d(rows, exp2: np.ndarray):
    got = {(r["y_idx"], r["x_idx"]): r["value"] for r in rows}
    ny, nx = exp2.shape
    assert len(got) == ny * nx
    for y in range(ny):
        for x in range(nx):
            e = exp2[y, x]
            if np.isnan(e):
                assert got[(y, x)] is None
            else:
                assert got[(y, x)] == pytest.approx(e, abs=1e-9)


def test_unsigned_reinterpret():
    """NC_BYTE + _Unsigned='true' (the netCDF-classic unsigned-byte
    convention xarray honors): signed storage reinterprets as
    unsigned, and a negative signed _FillValue shifts with it."""
    raw = np.array([-1, -128, 127, 0], dtype="int8")  # u8: 255,128,127,0
    out = cf_mask_and_scale(raw, {"_Unsigned": "true"})
    assert out.dtype == np.uint8
    assert list(out) == [255, 128, 127, 0]
    # -1 signed == 255 unsigned is the fill
    out = cf_mask_and_scale(
        raw,
        {"_Unsigned": "true", "_FillValue": np.int8(-1),
         "scale_factor": 0.5},
    )
    assert np.isnan(out[0])
    assert out[1] == pytest.approx(64.0)
    # unsigned kinds pass through untouched
    u = np.array([3], dtype="uint16")
    assert cf_mask_and_scale(u, {"_Unsigned": "true"}).dtype == np.uint16


def test_unsigned_through_classic_grid(spark, tmp_path):
    ny, nx = 2, 2
    raw = np.array([[-1, -2], [100, 0]], dtype="int8")  # u8: 255,254
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    p = str(tmp_path / "unsigned.nc")
    write_netcdf(
        p,
        {"y": ny, "x": nx},
        {
            "B": {"dims": ["y", "x"], "data": raw,
                  "attrs": {"_Unsigned": "true",
                            "scale_factor": 0.5}},
            "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
            "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
        },
    )
    rows = read_netcdf_grid(spark, p, "B", "XLAT", "XLONG").collect()
    got = {(r["y_idx"], r["x_idx"]): r["value"] for r in rows}
    assert got[(0, 0)] == pytest.approx(255 * 0.5)
    assert got[(0, 1)] == pytest.approx(254 * 0.5)
    assert got[(1, 0)] == pytest.approx(50.0)


def test_classic_grid_read_applies_packing(spark, tmp_path):
    ny, nx = 2, 4
    raw = _raw(1, ny, nx)[0]
    lat, lon = _coords(ny, nx)
    p = str(tmp_path / "packed2.nc")
    write_netcdf(
        p,
        {"y": ny, "x": nx},
        {
            "T2": {"dims": ["y", "x"], "data": raw,
                   "attrs": _packed_attrs()},
            "XLAT": {"dims": ["y", "x"], "data": lat},
            "XLONG": {"dims": ["y", "x"], "data": lon},
        },
    )
    rows = read_netcdf_grid(spark, p, "T2", "XLAT", "XLONG").collect()
    _check2d(rows, _expected(raw[None])[0])


def test_classic_slab_scan_matches_driver_read(spark, tmp_path):
    nt, ny, nx = 6, 3, 4
    raw = _raw(nt, ny, nx, seed=11)
    lat, lon = _coords(ny, nx)
    p = str(tmp_path / "packed_rec.nc")
    write_netcdf(
        p,
        {"t": nt, "y": ny, "x": nx},
        {
            "T2": {"dims": ["t", "y", "x"], "data": raw,
                   "attrs": _packed_attrs()},
            "XLAT": {"dims": ["y", "x"], "data": lat},
            "XLONG": {"dims": ["y", "x"], "data": lon},
        },
    )
    rows = read_netcdf_dir(spark, p, "T2", "XLAT", "XLONG").collect()
    _check(rows, _expected(raw))


def test_netcdf4_grid_read_applies_packing(spark, tmp_path):
    from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4

    ny, nx = 3, 3
    raw = _raw(1, ny, nx, seed=3)[0]
    lat, lon = _coords(ny, nx)
    p = str(tmp_path / "packed.nc4")
    write_netcdf4(
        p,
        {"y": ny, "x": nx},
        {
            "T2": {"dims": ["y", "x"], "data": raw,
                   "attrs": _packed_attrs()},
            "XLAT": {"dims": ["y", "x"], "data": lat},
            "XLONG": {"dims": ["y", "x"], "data": lon},
        },
    )
    rows = read_netcdf_grid(spark, p, "T2", "XLAT", "XLONG").collect()
    _check2d(rows, _expected(raw[None])[0])


def test_netcdf4_chunk_scan_matches_driver_read(spark, tmp_path):
    from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4

    nt, ny, nx = 4, 5, 6
    raw = _raw(nt, ny, nx, seed=5)
    lat, lon = _coords(ny, nx)
    p = str(tmp_path / "packed_chunked.nc4")
    write_netcdf4(
        p,
        {"t": nt, "y": ny, "x": nx},
        {
            "T2": {"dims": ["t", "y", "x"], "data": raw,
                   "attrs": _packed_attrs()},
            "XLAT": {"dims": ["y", "x"], "data": lat},
            "XLONG": {"dims": ["y", "x"], "data": lon},
        },
        compress=True,
        chunk={"T2": (2, 2, 3)},
    )
    man = build_virtual_manifest(
        spark, [p], "T2", "XLAT", "XLONG", str(tmp_path / "man")
    )
    _check(read_virtual(spark, man).collect(), _expected(raw))


def test_netcdf4_ea_chunk_scan_applies_packing(spark, tmp_path):
    """Packed + APPENDABLE: the Extensible-Array layout (libver-latest
    v2 object headers) must surface the packing attributes through the
    chunk manifest exactly like the v1-B-tree layout."""
    from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4

    nt, ny, nx = 3, 4, 4
    raw = _raw(nt, ny, nx, seed=8)
    lat, lon = _coords(ny, nx)
    p = str(tmp_path / "packed_ea.nc4")
    write_netcdf4(
        p,
        {"t": nt, "y": ny, "x": nx},
        {
            "T2": {"dims": ["t", "y", "x"], "data": raw,
                   "attrs": _packed_attrs()},
            "XLAT": {"dims": ["y", "x"], "data": lat},
            "XLONG": {"dims": ["y", "x"], "data": lon},
        },
        compress=True,
        chunk={"T2": (1, 2, 4)},
        unlimited="t",
    )
    man = build_virtual_manifest(
        spark, [p], "T2", "XLAT", "XLONG", str(tmp_path / "man")
    )
    _check(read_virtual(spark, man).collect(), _expected(raw))


def test_virtual_manifest_applies_packing(spark, tmp_path):
    from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4

    nt, ny, nx = 3, 4, 4
    lat, lon = _coords(ny, nx)
    raws = {}
    for i, fmt in enumerate(("classic", "hdf5")):
        raw = _raw(nt, ny, nx, seed=20 + i)
        variables = {
            "T2": {"dims": ["t", "y", "x"], "data": raw,
                   "attrs": _packed_attrs()},
            "XLAT": {"dims": ["y", "x"], "data": lat},
            "XLONG": {"dims": ["y", "x"], "data": lon},
        }
        if fmt == "classic":
            p = str(tmp_path / "shard_classic.nc")
            write_netcdf(p, {"t": nt, "y": ny, "x": nx}, variables)
        else:
            p = str(tmp_path / "shard_hdf5.nc")
            write_netcdf4(
                p, {"t": nt, "y": ny, "x": nx}, variables,
                compress=True, chunk={"T2": (2, 2, 2)},
            )
        raws[p.split("/")[-1]] = raw
    man = str(tmp_path / "manifest")
    build_virtual_manifest(spark, str(tmp_path), "T2", "XLAT", "XLONG", man)
    df = read_virtual(spark, man)
    by_file: dict[str, list] = {}
    for r in df.collect():
        by_file.setdefault(r["file"].split("/")[-1], []).append(r)
    assert set(by_file) == set(raws)
    for fname, rows in by_file.items():
        exp = _expected(raws[fname])
        got = {(r["t_idx"] % nt, r["y_idx"], r["x_idx"]): r for r in rows}
        assert len(got) == nt * ny * nx
        # global t_idx concatenates files; map back via modulo (both
        # files share nt) and check values independently per file
        for (t, y, x), r in got.items():
            e = exp[t, y, x]
            if np.isnan(e):
                assert r["value"] is None
            else:
                assert r["value"] == pytest.approx(e, abs=1e-9)


def test_zarr_dist_applies_packing(spark, tmp_path):
    """xarray applies mask-and-scale to zarr stores too (.zattrs):
    the chunk-parallel v2 scan must agree with the closed form."""
    from wrf_to_geodataframe_spark.sources.zarr import (
        read_zarr_dist,
        write_zarr,
    )

    nt, ny, nx = 3, 4, 4
    raw = _raw(nt, ny, nx, seed=31)
    lat, lon = _coords(ny, nx)
    d = str(tmp_path / "store")
    write_zarr(
        d,
        {"t": nt, "y": ny, "x": nx},
        {
            "T2": {"dims": ["t", "y", "x"], "data": raw,
                   "attrs": {"scale_factor": SF, "add_offset": AO,
                             "_FillValue": FILL}},
            "XLAT": {"dims": ["y", "x"], "data": lat},
            "XLONG": {"dims": ["y", "x"], "data": lon},
        },
        chunks={"T2": (2, 2, 2)},
    )
    rows = read_zarr_dist(spark, d, "T2", "XLAT", "XLONG").collect()
    _check(rows, _expected(raw))


def test_zarr3_dist_applies_packing(spark, tmp_path):
    from wrf_to_geodataframe_spark.sources.zarr3 import (
        read_zarr3_dist,
        write_zarr3,
    )

    nt, ny, nx = 2, 4, 4
    raw = _raw(nt, ny, nx, seed=33)
    lat, lon = _coords(ny, nx)
    d = str(tmp_path / "store3")
    write_zarr3(
        d,
        {"t": nt, "y": ny, "x": nx},
        {
            "T2": {"dims": ["t", "y", "x"], "data": raw,
                   "attrs": {"scale_factor": SF, "add_offset": AO,
                             "_FillValue": FILL}},
            "XLAT": {"dims": ["y", "x"], "data": lat},
            "XLONG": {"dims": ["y", "x"], "data": lon},
        },
        chunks={"T2": (1, 2, 4)},
    )
    rows = read_zarr3_dist(spark, d, "T2", "XLAT", "XLONG").collect()
    _check(rows, _expected(raw))


def test_old_manifest_without_packing_column_still_reads(spark, tmp_path):
    """Manifests built before the packing column existed must keep
    reading (as raw/unpacked data, their build-time semantics)."""
    import os

    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.sources.virtual import (
        build_virtual_manifest,
        read_virtual,
    )

    nt, ny, nx = 2, 3, 3
    raw = _raw(nt, ny, nx, seed=9)
    lat, lon = _coords(ny, nx)
    p = str(tmp_path / "plain.nc")
    write_netcdf(
        p,
        {"t": nt, "y": ny, "x": nx},
        {
            "T2": {"dims": ["t", "y", "x"], "data": raw.astype("float64")},
            "XLAT": {"dims": ["y", "x"], "data": lat},
            "XLONG": {"dims": ["y", "x"], "data": lon},
        },
    )
    man = str(tmp_path / "manifest")
    build_virtual_manifest(spark, str(tmp_path), "T2", "XLAT", "XLONG", man)
    # strip the packing column, as a pre-upgrade manifest would be
    chunks_dir = os.path.join(man, "chunks")
    old = spark.read.parquet(chunks_dir).drop("packing")
    old.write.mode("overwrite").parquet(chunks_dir + "_old")
    import shutil

    shutil.rmtree(chunks_dir)
    shutil.move(chunks_dir + "_old", chunks_dir)
    rows = read_virtual(spark, man).collect()
    assert len(rows) == nt * ny * nx
    vals = {(r["t_idx"], r["y_idx"], r["x_idx"]): r["value"] for r in rows}
    assert vals[(0, 1, 1)] == float(raw[0, 1, 1])
