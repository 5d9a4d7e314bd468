"""Chunk-parallel single-file NetCDF-4/HDF5 scan (sources/hdf5.py::
hdf5_chunk_manifest behind a one-file virtual manifest,
sources/virtual.py::read_virtual): manifest correctness, dist ==
driver equality over compressed chunked and contiguous layouts, time
selection."""

from __future__ import annotations

import numpy as np

from wrf_to_geodataframe_spark.sources.hdf5 import (
    hdf5_chunk_manifest,
    read_netcdf_any,
)
from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4
from wrf_to_geodataframe_spark.sources.virtual import (
    build_virtual_manifest,
    read_virtual,
)


def _scan(spark, tmp_path, p, var, time_range=None):
    """Chunk-parallel scan of one file: a one-file virtual manifest."""
    man = build_virtual_manifest(
        spark, [p], var, "XLAT", "XLONG", str(tmp_path / "man")
    )
    return read_virtual(spark, man, time_range=time_range)


def _write_file(path: str, nt=5, ny=9, nx=11, compress=True, chunk=None):
    rng = np.random.default_rng(3)
    vals = np.round(rng.standard_normal((nt, ny, nx)) * 8) / 8
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    write_netcdf4(
        path,
        {"t": nt, "y": ny, "x": nx},
        {
            "T2": {"dims": ["t", "y", "x"], "data": vals},
            "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
            "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
        },
        compress=compress,
        chunk=chunk,
    )
    return vals


def test_manifest_lists_every_chunk(tmp_path):
    p = str(tmp_path / "a.nc")
    _write_file(p, compress=True, chunk=(2, 4, 4))
    man = hdf5_chunk_manifest(p, "T2", aux_vars=("XLAT", "XLONG"))
    assert man["shape"] == (5, 9, 11)
    assert man["chunks"] == (2, 4, 4)
    # ceil(5/2) * ceil(9/4) * ceil(11/4) stored chunks
    assert len(man["entries"]) == 3 * 3 * 3
    assert [f[0] for f in man["filters"]] == [2, 1]  # shuffle, deflate
    assert man["aux"]["XLAT"].shape == (9, 11)
    # every entry chunk-aligned and byte-range plausible
    import os

    fsize = os.path.getsize(p)
    for offs, addr, nbytes, mask in man["entries"]:
        assert all(o % c == 0 for o, c in zip(offs, man["chunks"]))
        assert 0 < addr < fsize and addr + nbytes <= fsize


def test_chunks_scan_matches_whole_file_read(spark, tmp_path):
    p = str(tmp_path / "b.nc")
    vals = _write_file(p, compress=True, chunk=(2, 4, 4))
    df = _scan(spark, tmp_path, p, "T2")
    assert df.rdd.getNumPartitions() > 1
    rows = df.collect()
    assert len(rows) == 5 * 9 * 11
    for r in rows:
        assert r["value"] == vals[r["t_idx"], r["y_idx"], r["x_idx"]]
        assert r["lat"] == 50.0 + r["y_idx"] * 0.25
        assert r["lon"] == -3.0 + r["x_idx"] * 0.125
    # truth cross-check through the independent whole-file reader
    ds = read_netcdf_any(p)
    np.testing.assert_array_equal(ds["variables"]["T2"]["data"], vals)


def test_chunks_scan_contiguous_pseudo_chunk(spark, tmp_path):
    p = str(tmp_path / "c.nc")
    vals = _write_file(p, nt=2, ny=4, nx=6, compress=False)
    man = hdf5_chunk_manifest(p, "T2")
    assert man["chunks"] == (2, 4, 6)
    assert len(man["entries"]) == 1
    assert man["filters"] == []
    df = _scan(spark, tmp_path, p, "T2")
    got = {
        (r["t_idx"], r["y_idx"], r["x_idx"]): r["value"]
        for r in df.collect()
    }
    assert len(got) == 2 * 4 * 6
    for (t, y, x), v in got.items():
        assert v == vals[t, y, x]


def test_chunks_scan_time_index(spark, tmp_path):
    p = str(tmp_path / "d.nc")
    vals = _write_file(p, compress=True, chunk=(2, 4, 4))
    df = _scan(spark, tmp_path, p, "T2", time_range=(3, 3))
    rows = df.collect()
    assert len(rows) == 9 * 11
    assert {r["t_idx"] for r in rows} == {3}
    for r in rows:
        assert r["value"] == vals[3, r["y_idx"], r["x_idx"]]


def test_chunks_scan_2d_variable(spark, tmp_path):
    p = str(tmp_path / "e.nc")
    _write_file(p, compress=True, chunk=(2, 4, 4))
    df = _scan(spark, tmp_path, p, "XLAT")
    rows = df.collect()
    assert len(rows) == 9 * 11
    assert {r["t_idx"] for r in rows} == {0}
    for r in rows:
        assert r["value"] == 50.0 + r["y_idx"] * 0.25


def test_netcdf4_szip_write_roundtrip(tmp_path):
    """compress="szip" stores chunks through H5Z_FILTER_SZIP (NN+LSB,
    4-byte LE size prefix) using the pure-python CCSDS codec — read
    back by the companion reader's filter pipeline; 64-bit samples are
    rejected like real libhdf5."""
    import pytest as _pytest

    rng = np.random.default_rng(6)
    for dt in ("int16", "int32", "float32", "uint8"):
        if dt.startswith(("int", "uint")):
            data = rng.integers(0, 200, (9, 13)).astype(dt)
        else:
            data = (rng.integers(0, 1000, (9, 13)) / 8).astype(dt)
        p = str(tmp_path / f"sz_{dt}.nc")
        write_netcdf4(p, {"y": 9, "x": 13},
                      {"v": {"dims": ["y", "x"], "data": data}},
                      compress="szip", chunk=(4, 5))
        ds = read_netcdf_any(p)
        np.testing.assert_array_equal(ds["variables"]["v"]["data"], data)
    with _pytest.raises(ValueError):
        write_netcdf4(str(tmp_path / "bad.nc"), {"y": 4},
                      {"v": {"dims": ["y"],
                             "data": np.ones(4, "float64")}},
                      compress="szip")


def test_chunk_manifest_szip_written_file(spark, tmp_path):
    """The distributed chunk scan decodes szip-filtered chunks in
    executors (full filter-pipeline parity on the scale path)."""
    rng = np.random.default_rng(12)
    vals = (rng.integers(0, 4000, (4, 8, 9)) / 8.0).astype("float32")
    yy, xx = np.meshgrid(np.arange(8), np.arange(9), indexing="ij")
    p = str(tmp_path / "sz3.nc")
    write_netcdf4(
        p,
        {"t": 4, "y": 8, "x": 9},
        {
            "T2": {"dims": ["t", "y", "x"], "data": vals},
            "XLAT": {"dims": ["y", "x"],
                     "data": (50.0 + yy * 0.25).astype("float32")},
            "XLONG": {"dims": ["y", "x"],
                      "data": (-3.0 + xx * 0.125).astype("float32")},
        },
        compress="szip",
        chunk={"T2": (2, 4, 4), "XLAT": (4, 4), "XLONG": (4, 4)},
    )
    man = hdf5_chunk_manifest(p, "T2")
    assert [f[0] for f in man["filters"]] == [4]
    df = _scan(spark, tmp_path, p, "T2")
    rows = df.collect()
    assert len(rows) == 4 * 8 * 9
    for r in rows:
        assert r["value"] == float(vals[r["t_idx"], r["y_idx"],
                                         r["x_idx"]])
