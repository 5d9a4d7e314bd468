"""NPY source: both-direction interop against numpy itself, header
versions, dtypes/orders, distributed shard scan."""

from __future__ import annotations

import io
import os

import numpy as np
import pytest

from wrf_to_geodataframe_spark.sources.npy import (
    npy_info,
    read_npy,
    read_npy_bytes,
    read_npy_dir,
    write_npy,
)


@pytest.mark.parametrize(
    "dtype", ["<f4", "<f8", "<i4", "<i8", ">f8", ">i4", "|u1"]
)
def test_reads_what_numpy_saves(tmp_path, dtype):
    arr = (np.arange(60).reshape(5, 12) * 3).astype(dtype)
    p = str(tmp_path / "a.npy")
    np.save(p, arr)
    got = read_npy(p)
    assert got.shape == arr.shape
    assert np.array_equal(got, arr)


def test_numpy_loads_what_we_write(tmp_path):
    for arr in (
        np.linspace(0, 1, 24).reshape(4, 6),
        np.arange(7, dtype="int32"),
        np.zeros((0, 3), dtype="float32"),
        np.float64(3.5).reshape(()),
    ):
        p = str(tmp_path / "b.npy")
        write_npy(p, np.asarray(arr))
        got = np.load(p)
        assert got.shape == np.asarray(arr).shape
        assert np.array_equal(got, arr)


def test_fortran_order_roundtrip(tmp_path):
    arr = np.asfortranarray(np.arange(12).reshape(3, 4).astype("f8"))
    p = str(tmp_path / "f.npy")
    np.save(p, arr)
    assert np.array_equal(read_npy(p), arr)


def test_v2_header(tmp_path):
    arr = np.arange(6, dtype="f8").reshape(2, 3)
    buf = io.BytesIO()
    np.lib.format.write_array(buf, arr, version=(2, 0))
    assert buf.getvalue()[6] == 2
    assert np.array_equal(read_npy_bytes(buf.getvalue()), arr)


def test_malformed_inputs(tmp_path):
    with pytest.raises(ValueError, match="not an NPY"):
        npy_info(b"nope" * 4)
    bad = bytearray()
    bad += b"\x93NUMPY" + bytes([9, 0]) + b"\x00\x00"
    with pytest.raises(ValueError, match="version"):
        npy_info(bytes(bad))
    rec = np.zeros(3, dtype=[("a", "f8"), ("b", "i4")])
    p = str(tmp_path / "rec.npy")
    np.save(p, rec)
    with pytest.raises(ValueError, match="structured"):
        read_npy(p)


def test_dir_scan_matches_driver_reads(spark, tmp_path):
    d = str(tmp_path / "shards")
    os.makedirs(d)
    want = []
    for f in range(3):
        arr = (np.arange(20, dtype="f8").reshape(4, 5) + f * 100) / 8.0
        np.save(os.path.join(d, f"shard_{f}.npy"), arr)
        for i, row in enumerate(arr):
            want.append((f, i, tuple(row)))
    rows = read_npy_dir(spark, d).collect()
    got = sorted(
        (int(r["file"].split("shard_")[1][0]), r["row_idx"],
         tuple(r["embedding"]))
        for r in rows
    )
    assert got == sorted(want)


from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    shape=st.lists(st.integers(0, 7), min_size=0, max_size=3),
    dtype=st.sampled_from(["<f8", "<f4", "<i8", "<i4", "<u2", "|u1"]),
    version=st.sampled_from([(1, 0), (2, 0)]),
)
@settings(max_examples=120, deadline=None)
def test_fuzz_roundtrip_vs_numpy(tmp_path_factory, shape, dtype, version):
    """Random shape/dtype/header-version arrays serialized by NUMPY
    must decode identically here, and ours must load in numpy."""
    rng = np.random.default_rng(hash((tuple(shape), dtype)) % 2**32)
    n = int(np.prod(shape, initial=1))
    arr = (rng.integers(0, 250, n).astype(dtype)).reshape(shape)
    buf = io.BytesIO()
    np.lib.format.write_array(buf, arr, version=version)
    got = read_npy_bytes(buf.getvalue())
    assert got.shape == arr.shape and np.array_equal(got, arr)
    d = tmp_path_factory.mktemp("fz")
    p = str(d / "x.npy")
    write_npy(p, arr)
    back = np.load(p)
    assert back.shape == arr.shape and np.array_equal(back, arr)


def test_truncated_npy_raises(tmp_path):
    p = str(tmp_path / "t.npy")
    np.save(p, np.arange(100, dtype="f8"))
    whole = open(p, "rb").read()
    for cut in (3, 8, 60):
        try:
            read_npy_bytes(whole[:cut])
        except ValueError:
            continue
        raise AssertionError(f"no error at cut={cut}")
