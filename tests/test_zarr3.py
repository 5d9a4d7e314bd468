"""Zarr v3 source/sink tests (sources/zarr3.py): crc32c published
vectors, hand-built spec goldens (default/v2 key encodings, endian,
transpose, sharding index at both locations), writer round-trips
incl. sharded layouts, and the shard-parallel Spark scan."""

from __future__ import annotations

import json
import os
import shutil
import struct
import subprocess

import numpy as np
import pytest

from wrf_to_geodataframe_spark.sources.zarr import ZarrError
from wrf_to_geodataframe_spark.sources.zarr3 import (
    crc32c,
    read_zarr3_array,
    read_zarr3_dist,
    read_zarr3_store,
    write_zarr3,
)


def test_crc32c_published_vectors():
    assert crc32c(b"") == 0
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"\x00" * 32) == 0x8A9136AA       # RFC 3720 vector
    assert crc32c(b"\xff" * 32) == 0x62A8AB43       # RFC 3720 vector


def _mkarray(d, meta: dict, chunks: dict[str, bytes]):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "zarr.json"), "w") as f:
        json.dump(meta, f)
    for key, blob in chunks.items():
        p = os.path.join(d, key)
        os.makedirs(os.path.dirname(p), exist_ok=True) if "/" in key else None
        with open(p, "wb") as f:
            f.write(blob)


def _meta(shape, chunk, dtype="int32", codecs=None, cke=None, fill=0,
          dims=None):
    m = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(shape),
        "data_type": dtype,
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": list(chunk)},
        },
        "fill_value": fill,
        "codecs": codecs or [
            {"name": "bytes", "configuration": {"endian": "little"}}
        ],
        "attributes": {},
    }
    if cke:
        m["chunk_key_encoding"] = cke
    if dims:
        m["dimension_names"] = dims
    return m


def test_golden_default_keys_and_fill(tmp_path):
    # 2x3 int32, chunks 2x2, only chunk c/0/1 present, fill -7
    edge = struct.pack("<4i", 13, 999, 23, 999)
    _mkarray(tmp_path / "v", _meta((2, 3), (2, 2), fill=-7),
             {"c/0/1": edge})
    _m, arr = read_zarr3_array(str(tmp_path / "v"))
    np.testing.assert_array_equal(
        arr, [[-7, -7, 13], [-7, -7, 23]]
    )


def test_golden_v2_keys_dot_separator(tmp_path):
    blob = struct.pack("<4i", 1, 2, 3, 4)
    cke = {"name": "v2", "configuration": {"separator": "."}}
    _mkarray(tmp_path / "v", _meta((2, 2), (2, 2), cke=cke),
             {"0.0": blob})
    _m, arr = read_zarr3_array(str(tmp_path / "v"))
    np.testing.assert_array_equal(arr, [[1, 2], [3, 4]])


def test_unrecognised_float_fill_is_named_error(tmp_path):
    """A float fill string the reader does not decode (here a
    hex-encoded NaN bit pattern) is a ZarrError, not a KeyError."""
    _mkarray(tmp_path / "v",
             _meta((2,), (2,), dtype="float32", fill="0x7fc00000"),
             {"c/0": struct.pack("<2f", 1.0, 2.0)})
    with pytest.raises(ZarrError, match="fill_value"):
        read_zarr3_array(str(tmp_path / "v"))


def test_unknown_chunk_key_encoding_is_named_error(tmp_path):
    cke = {"name": "mystery", "configuration": {"separator": "."}}
    _mkarray(tmp_path / "v", _meta((2, 2), (2, 2), cke=cke),
             {"0.0": struct.pack("<4i", 1, 2, 3, 4)})
    with pytest.raises(ZarrError, match="chunk key encoding"):
        read_zarr3_array(str(tmp_path / "v"))


def test_golden_big_endian_bytes_codec(tmp_path):
    blob = struct.pack(">4d", 1.5, 2.5, 3.5, 4.5)
    codecs = [{"name": "bytes", "configuration": {"endian": "big"}}]
    _mkarray(tmp_path / "v",
             _meta((4,), (4,), dtype="float64", codecs=codecs),
             {"c/0": blob})
    _m, arr = read_zarr3_array(str(tmp_path / "v"))
    np.testing.assert_array_equal(arr, [1.5, 2.5, 3.5, 4.5])


def test_golden_transpose_codec(tmp_path):
    # stored F-order via transpose order [1, 0]
    vals = np.arange(6, dtype="<i4").reshape(2, 3)
    blob = vals.T.copy().tobytes()  # stored as (3, 2) C-order
    codecs = [
        {"name": "transpose", "configuration": {"order": [1, 0]}},
        {"name": "bytes", "configuration": {"endian": "little"}},
    ]
    _mkarray(tmp_path / "v", _meta((2, 3), (2, 3), codecs=codecs),
             {"c/0/0": blob})
    _m, arr = read_zarr3_array(str(tmp_path / "v"))
    np.testing.assert_array_equal(arr, vals)


def test_golden_gzip_crc32c_pipeline(tmp_path):
    import zlib

    vals = struct.pack("<6h", 10, 20, 30, 40, 50, 60)
    co = zlib.compressobj(5, zlib.DEFLATED, 31)
    gz = co.compress(vals) + co.flush()
    blob = gz + struct.pack("<I", crc32c(gz))
    codecs = [
        {"name": "bytes", "configuration": {"endian": "little"}},
        {"name": "gzip", "configuration": {"level": 5}},
        {"name": "crc32c"},
    ]
    _mkarray(tmp_path / "v",
             _meta((6,), (6,), dtype="int16", codecs=codecs),
             {"c/0": blob})
    _m, arr = read_zarr3_array(str(tmp_path / "v"))
    np.testing.assert_array_equal(arr, [10, 20, 30, 40, 50, 60])
    # corrupt the checksum -> loud failure
    bad = blob[:-1] + bytes([blob[-1] ^ 1])
    _mkarray(tmp_path / "w",
             _meta((6,), (6,), dtype="int16", codecs=codecs),
             {"c/0": bad})
    with pytest.raises(ZarrError):
        read_zarr3_array(str(tmp_path / "w"))


def test_golden_zstd_codec(tmp_path):
    zstd_cli = shutil.which("zstd")
    if zstd_cli is None:
        pytest.skip("no zstd CLI")
    vals = np.arange(32, dtype="<f4").tobytes()
    comp = subprocess.run([zstd_cli, "-7", "-c"], input=vals,
                          stdout=subprocess.PIPE, check=True).stdout
    codecs = [
        {"name": "bytes", "configuration": {"endian": "little"}},
        {"name": "zstd", "configuration": {"level": 7}},
    ]
    _mkarray(tmp_path / "v",
             _meta((32,), (32,), dtype="float32", codecs=codecs),
             {"c/0": comp})
    _m, arr = read_zarr3_array(str(tmp_path / "v"))
    np.testing.assert_array_equal(arr, np.arange(32, dtype="float32"))


def _shard_golden_blob(index_location="end"):
    """Two inner 2-element int32 chunks in a 4-element shard; second
    inner chunk missing.  Index offsets are ABSOLUTE within the shard
    object (spec), so a start-located index shifts chunk 0's offset by
    the index size."""
    c0 = struct.pack("<2i", 11, 22)
    idx_len = 2 * 16 + 4  # two (offset, nbytes) pairs + crc32c
    off0 = idx_len if index_location == "start" else 0
    index = np.array([[off0, len(c0)], [(1 << 64) - 1, (1 << 64) - 1]],
                     dtype="<u8").tobytes()
    index += struct.pack("<I", crc32c(index))
    return index + c0 if index_location == "start" else c0 + index


@pytest.mark.parametrize("loc", ["end", "start"])
def test_golden_sharding_indexed(tmp_path, loc):
    codecs = [{
        "name": "sharding_indexed",
        "configuration": {
            "chunk_shape": [2],
            "codecs": [
                {"name": "bytes", "configuration": {"endian": "little"}}
            ],
            "index_codecs": [
                {"name": "bytes", "configuration": {"endian": "little"}},
                {"name": "crc32c"},
            ],
            "index_location": loc,
        },
    }]
    _mkarray(tmp_path / "v",
             _meta((4,), (4,), codecs=codecs, fill=-1),
             {"c/0": _shard_golden_blob(loc)})
    _m, arr = read_zarr3_array(str(tmp_path / "v"))
    np.testing.assert_array_equal(arr, [11, 22, -1, -1])


def test_golden_shard_index_out_of_range(tmp_path):
    body = struct.pack("<2i", 1, 2)
    index = np.array([[0, 8], [500, 8]], dtype="<u8").tobytes()
    index += struct.pack("<I", crc32c(index))
    codecs = [{
        "name": "sharding_indexed",
        "configuration": {
            "chunk_shape": [2],
            "codecs": [
                {"name": "bytes", "configuration": {"endian": "little"}}
            ],
            "index_codecs": [
                {"name": "bytes", "configuration": {"endian": "little"}},
                {"name": "crc32c"},
            ],
            "index_location": "end",
        },
    }]
    _mkarray(tmp_path / "v", _meta((4,), (4,), codecs=codecs),
             {"c/0": body + index})
    with pytest.raises(ZarrError):
        read_zarr3_array(str(tmp_path / "v"))


# -- writer round-trips --------------------------------------------------

@pytest.mark.parametrize("dtype", ["float64", "float32", "int32",
                                   "int16", "uint8", "bool"])
@pytest.mark.parametrize("comp", [None, "gzip"])
def test_roundtrip_dtypes(tmp_path, dtype, comp):
    rng = np.random.default_rng(3)
    dt = np.dtype(_np_name(dtype))
    if dt.kind == "f":
        data = rng.standard_normal((5, 7)).astype(dt)
    elif dt.kind == "b":
        data = rng.integers(0, 2, (5, 7)).astype(dt)
    else:
        data = rng.integers(0, 100, (5, 7)).astype(dt)
    store = str(tmp_path / "s")
    write_zarr3(store, {"y": 5, "x": 7},
                {"v": {"dims": ["y", "x"], "data": data}},
                chunks={"v": (2, 3)}, compressor=comp)
    ds = read_zarr3_store(store)
    assert ds["variables"]["v"]["dims"] == ["y", "x"]
    assert ds["dims"] == {"y": 5, "x": 7}
    np.testing.assert_array_equal(ds["variables"]["v"]["data"], data)


def _np_name(v3name: str) -> str:
    return {"bool": "?"}.get(v3name, v3name)


def test_roundtrip_sharded(tmp_path):
    rng = np.random.default_rng(8)
    data = rng.standard_normal((6, 10, 9))
    store = str(tmp_path / "s")
    write_zarr3(
        store, {"t": 6, "y": 10, "x": 9},
        {"T2": {"dims": ["t", "y", "x"], "data": data}},
        chunks={"T2": (1, 2, 2)}, shards={"T2": (2, 4, 4)},
    )
    # storage objects are SHARDS: ceil(6/2)*ceil(10/4)*ceil(9/4)
    nobj = sum(
        len(files) for _r, _d, files in os.walk(os.path.join(store, "T2"))
    ) - 1  # minus zarr.json
    assert nobj == 3 * 3 * 3
    ds = read_zarr3_store(store)
    np.testing.assert_array_equal(ds["variables"]["T2"]["data"], data)


def test_roundtrip_sharded_missing_shard_fill(tmp_path):
    data = np.ones((4, 4))
    store = str(tmp_path / "s")
    write_zarr3(store, {"y": 4, "x": 4},
                {"v": {"dims": ["y", "x"], "data": data}},
                chunks={"v": (1, 2)}, shards={"v": (2, 2)})
    os.remove(os.path.join(store, "v", "c", "1", "1"))
    _m, arr = read_zarr3_array(os.path.join(store, "v"))
    assert (arr[:2] == 1).all()
    assert (arr[2:, 2:] == 0).all()


def test_shard_shape_must_divide(tmp_path):
    with pytest.raises(ZarrError):
        write_zarr3(str(tmp_path / "s"), {"y": 4},
                    {"v": {"dims": ["y"], "data": np.ones(4)}},
                    chunks={"v": (3,)}, shards={"v": (4,)})


def test_fuzz_roundtrip_layouts(tmp_path):
    rng = np.random.default_rng(0x333)
    for i in range(25):
        ndim = int(rng.integers(1, 4))
        shape = tuple(int(rng.integers(1, 9)) for _ in range(ndim))
        chunks = tuple(int(rng.integers(1, s + 2)) for s in shape)
        sharded = bool(rng.integers(2))
        shards = None
        if sharded:
            shards = tuple(
                c * int(rng.integers(1, 3)) for c in chunks
            )
        comp = [None, "gzip"][int(rng.integers(2))]
        data = rng.standard_normal(shape)
        store = str(tmp_path / f"s{i}")
        dims = {f"d{j}": s for j, s in enumerate(shape)}
        write_zarr3(
            store, dims, {"v": {"dims": list(dims), "data": data}},
            chunks={"v": chunks},
            shards={"v": shards} if shards else None,
            compressor=comp,
        )
        _m, arr = read_zarr3_array(os.path.join(store, "v"))
        np.testing.assert_array_equal(arr, data, err_msg=f"case {i}")


# -- Spark surface -------------------------------------------------------

def test_dist_scan_sharded_matches_driver(spark, tmp_path):
    rng = np.random.default_rng(77)
    nt, ny, nx = 3, 8, 12
    vals = np.round(rng.standard_normal((nt, ny, nx)) * 8) / 8
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    store = str(tmp_path / "s")
    write_zarr3(
        store, {"t": nt, "y": ny, "x": nx},
        {
            "T2": {"dims": ["t", "y", "x"], "data": vals},
            "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
            "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
        },
        chunks={"T2": (1, 2, 3), "XLAT": (4, 6), "XLONG": (4, 6)},
        shards={"T2": (1, 4, 6)},
    )
    df = read_zarr3_dist(spark, store, "T2", "XLAT", "XLONG")
    rows = df.collect()
    assert len(rows) == nt * ny * nx
    # one manifest row per SHARD
    assert df.select("chunk_key").distinct().count() == 3 * 2 * 2
    for r in rows:
        assert r["value"] == vals[r["t_idx"], r["y_idx"], r["x_idx"]]
        assert r["lat"] == 50.0 + r["y_idx"] * 0.25
        assert r["lon"] == -3.0 + r["x_idx"] * 0.125
