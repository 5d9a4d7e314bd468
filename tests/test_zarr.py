"""Zarr v2 source/sink tests (sources/zarr.py).

Three evidence layers:

1. Spec-golden stores: ``.zarray`` JSON and chunk bytes hand-built
   with json/struct/zlib directly (independent of the module's own
   writer) — C/F order, big-endian dtypes, edge chunks, missing-chunk
   fill, "/" separator, NaN fill, gzip.
2. Round-trip + seeded fuzz through the writer across dtypes, orders,
   codecs, filters and chunk layouts.
3. Blosc containers: hand-built per c-blosc's documented chunk format,
   with inner streams produced by CLI-validated codecs (lz4 block from
   the system ``lz4`` CLI frame, zlib/zstd from stdlib/CLI) — the
   closest available cross-validation with no blosc library present.

Spark surfaces (distributed chunk scan / chunk sink) are covered in
tests/test_zarr_spark.py.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import subprocess
import zlib

import numpy as np
import pytest

from wrf_to_geodataframe_spark.sources.zarr import (
    ZarrError,
    _blosc_decompress,
    read_zarr_array,
    read_zarr_store,
    write_zarr,
)


# -- spec goldens (hand-built, writer-independent) -----------------------

def _mkarray(d, meta: dict, chunks: dict[str, bytes]):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, ".zarray"), "w") as f:
        json.dump(meta, f)
    for key, blob in chunks.items():
        if "/" in key:
            os.makedirs(os.path.join(d, os.path.dirname(key)), exist_ok=True)
        with open(os.path.join(d, key), "wb") as f:
            f.write(blob)


def test_golden_c_order_edge_chunks_and_fill(tmp_path):
    # 2x3 int32 LE, chunks 2x2 -> chunk grid 1x2; chunk "0.1" is the
    # edge chunk (stored FULL SIZE with padding); chunk "0.0" missing
    # -> fill_value -1
    meta = {
        "zarr_format": 2,
        "shape": [2, 3],
        "chunks": [2, 2],
        "dtype": "<i4",
        "compressor": None,
        "fill_value": -1,
        "order": "C",
        "filters": None,
    }
    edge = struct.pack("<4i", 13, 999, 23, 999)  # col 2 values + pad
    _mkarray(tmp_path / "v", meta, {"0.1": edge})
    m, arr = read_zarr_array(str(tmp_path / "v"))
    want = np.array([[-1, -1, 13], [-1, -1, 23]], dtype="int32")
    assert arr.dtype == np.dtype("int32")
    np.testing.assert_array_equal(arr, want)


def test_golden_f_order_and_big_endian(tmp_path):
    # 2x2 >f8 in F order: serialized column-major
    vals = np.array([[1.5, 2.5], [3.5, 4.5]])
    blob = vals.astype(">f8").tobytes(order="F")
    meta = {
        "zarr_format": 2,
        "shape": [2, 2],
        "chunks": [2, 2],
        "dtype": ">f8",
        "compressor": None,
        "fill_value": "NaN",
        "order": "F",
    }
    _mkarray(tmp_path / "v", meta, {"0.0": blob})
    _m, arr = read_zarr_array(str(tmp_path / "v"))
    np.testing.assert_array_equal(arr, vals)


def test_golden_slash_separator_gzip_and_nan_fill(tmp_path):
    gz = zlib.compressobj(6, zlib.DEFLATED, 31)
    chunk = gz.compress(struct.pack("<4d", 1, 2, 3, 4)) + gz.flush()
    meta = {
        "zarr_format": 2,
        "shape": [4, 2],
        "chunks": [2, 2],
        "dtype": "<f8",
        "compressor": {"id": "gzip", "level": 6},
        "fill_value": "NaN",
        "order": "C",
        "dimension_separator": "/",
    }
    _mkarray(tmp_path / "v", meta, {"1/0": chunk})
    _m, arr = read_zarr_array(str(tmp_path / "v"))
    assert np.isnan(arr[:2]).all()
    np.testing.assert_array_equal(arr[2:], [[1, 2], [3, 4]])


def test_golden_shuffle_filter_zlib(tmp_path):
    # numcodecs shuffle(elementsize=4): byte-plane transpose
    vals = np.arange(6, dtype="<i4") * 1_000_003
    raw = vals.tobytes()
    planes = np.frombuffer(raw, "u1").reshape(6, 4).T.reshape(-1).tobytes()
    meta = {
        "zarr_format": 2,
        "shape": [6],
        "chunks": [6],
        "dtype": "<i4",
        "compressor": {"id": "zlib", "level": 1},
        "fill_value": 0,
        "order": "C",
        "filters": [{"id": "shuffle", "elementsize": 4}],
    }
    _mkarray(tmp_path / "v", meta, {"0": zlib.compress(planes, 1)})
    _m, arr = read_zarr_array(str(tmp_path / "v"))
    np.testing.assert_array_equal(arr, vals)


def test_golden_delta_filter(tmp_path):
    vals = np.array([10, 13, 11, 20], dtype="<i8")
    deltas = np.array([10, 3, -2, 9], dtype="<i8")
    meta = {
        "zarr_format": 2,
        "shape": [4],
        "chunks": [4],
        "dtype": "<i8",
        "compressor": None,
        "fill_value": 0,
        "order": "C",
        "filters": [{"id": "delta", "dtype": "<i8"}],
    }
    _mkarray(tmp_path / "v", meta, {"0": deltas.tobytes()})
    _m, arr = read_zarr_array(str(tmp_path / "v"))
    np.testing.assert_array_equal(arr, vals)


def test_rejects_bad_metadata(tmp_path):
    base = {
        "zarr_format": 2, "shape": [1], "chunks": [1], "dtype": "<i4",
        "compressor": None, "fill_value": 0, "order": "C",
    }
    for patch in [
        {"zarr_format": 3},
        {"order": "Z"},
        {"dtype": "|O"},
        {"compressor": {"id": "mystery"}},
        {"filters": [{"id": "mystery"}]},
        {"dimension_separator": ":"},
    ]:
        d = tmp_path / f"v{len(os.listdir(tmp_path))}"
        _mkarray(d, {**base, **patch}, {"0": b"\x01\x00\x00\x00"})
        with pytest.raises(ZarrError):
            read_zarr_array(str(d))


# -- writer round-trips --------------------------------------------------

_DTYPES = ["<f8", "<f4", "<i4", "<i2", "|i1", "<u8", "|b1"]


@pytest.mark.parametrize("dtype", _DTYPES)
@pytest.mark.parametrize("comp", [None, {"id": "zlib", "level": 3},
                                  {"id": "gzip", "level": 1},
                                  {"id": "bz2", "level": 1},
                                  {"id": "lzma"}])
def test_roundtrip_dtypes_codecs(tmp_path, dtype, comp):
    rng = np.random.default_rng(7)
    dt = np.dtype(dtype)
    if dt.kind == "f":
        data = rng.standard_normal((5, 7)).astype(dt)
    elif dt.kind == "b":
        data = rng.integers(0, 2, (5, 7)).astype(dt)
    else:
        info = np.iinfo(dt)
        data = rng.integers(info.min, info.max, (5, 7), dtype=dt.str.lstrip("|<>"))
    store = str(tmp_path / "s")
    write_zarr(store, {"y": 5, "x": 7},
               {"v": {"dims": ["y", "x"], "data": data}},
               compressor=comp, chunks={"v": (2, 3)})
    ds = read_zarr_store(store)
    assert ds["variables"]["v"]["dims"] == ["y", "x"]
    np.testing.assert_array_equal(ds["variables"]["v"]["data"], data)


def test_roundtrip_f_order_separator_filters(tmp_path):
    data = np.arange(24, dtype="<i4").reshape(4, 6) * 100003
    store = str(tmp_path / "s")
    write_zarr(
        store, {"y": 4, "x": 6},
        {"v": {"dims": ["y", "x"], "data": data}},
        chunks={"v": (3, 4)}, order="F", dimension_separator="/",
        filters=[{"id": "shuffle", "elementsize": 4}],
    )
    assert os.path.exists(os.path.join(store, "v", "0/0"))
    ds = read_zarr_store(store)
    np.testing.assert_array_equal(ds["variables"]["v"]["data"], data)


def test_roundtrip_3d_and_attrs(tmp_path):
    data = np.arange(2 * 3 * 4, dtype="<f8").reshape(2, 3, 4)
    store = str(tmp_path / "s")
    write_zarr(
        store, {"t": 2, "y": 3, "x": 4},
        {"T2": {"dims": ["t", "y", "x"], "data": data,
                "attrs": {"units": "K"}}},
        attrs={"title": "demo"}, chunks={"T2": (1, 2, 3)},
    )
    ds = read_zarr_store(store)
    assert ds["attrs"]["title"] == "demo"
    assert ds["variables"]["T2"]["attrs"]["units"] == "K"
    assert ds["variables"]["T2"]["dims"] == ["t", "y", "x"]
    assert ds["dims"] == {"t": 2, "y": 3, "x": 4}
    np.testing.assert_array_equal(ds["variables"]["T2"]["data"], data)


def test_missing_chunk_reads_fill(tmp_path):
    data = np.ones((4, 4), dtype="<f8")
    store = str(tmp_path / "s")
    write_zarr(store, {"y": 4, "x": 4},
               {"v": {"dims": ["y", "x"], "data": data}},
               chunks={"v": (2, 2)})
    os.remove(os.path.join(store, "v", "1.1"))
    _m, arr = read_zarr_array(os.path.join(store, "v"))
    assert np.isfinite(arr[:2]).all()
    assert (arr[2:, 2:] == 0).all()  # int-zero fill written by writer


def test_fuzz_roundtrip_layouts(tmp_path):
    rng = np.random.default_rng(0xA55)
    for i in range(40):
        ndim = int(rng.integers(1, 4))
        shape = tuple(int(rng.integers(1, 9)) for _ in range(ndim))
        chunks = tuple(int(rng.integers(1, s + 3)) for s in shape)
        dtype = np.dtype(str(rng.choice(["<f8", "<f4", "<i4", "<i2"])))
        order = str(rng.choice(["C", "F"]))
        sep = str(rng.choice([".", "/"]))
        comp = [None, {"id": "zlib", "level": 1}][int(rng.integers(2))]
        filters = [[], [{"id": "shuffle", "elementsize": dtype.itemsize}]][
            int(rng.integers(2))
        ]
        if dtype.kind == "f":
            data = rng.standard_normal(shape).astype(dtype)
        else:
            data = rng.integers(-1000, 1000, shape).astype(dtype)
        store = str(tmp_path / f"s{i}")
        dims = {f"d{j}": s for j, s in enumerate(shape)}
        write_zarr(
            store, dims,
            {"v": {"dims": list(dims), "data": data}},
            compressor=comp, chunks={"v": chunks}, order=order,
            dimension_separator=sep, filters=filters,
        )
        _m, arr = read_zarr_array(os.path.join(store, "v"))
        np.testing.assert_array_equal(arr, data, err_msg=f"case {i}")


# -- blosc container -----------------------------------------------------

def _blosc_header(flags, typesize, nbytes, blocksize, cbytes):
    return bytes([2, 1, flags, typesize]) + struct.pack(
        "<III", nbytes, blocksize, cbytes
    )


def _blosc_build(payload_blocks, flags, typesize, nbytes, blocksize):
    """Assemble container: header + bstarts + blocks (each block a
    b"".join of int32-prefixed streams)."""
    nblocks = len(payload_blocks)
    pos = 16 + 4 * nblocks
    starts, body = [], b""
    for blk in payload_blocks:
        starts.append(pos)
        body += blk
        pos += len(blk)
    cbytes = pos
    return (
        _blosc_header(flags, typesize, nbytes, blocksize, cbytes)
        + struct.pack(f"<{nblocks}i", *starts)
        + body
    )


def _stream_raw(data: bytes) -> bytes:
    return struct.pack("<i", len(data)) + data


def _lz4_literal_block(data: bytes) -> bytes:
    """A valid LZ4 block that stores ``data`` as one literal run —
    hand-buildable without an encoder."""
    n = len(data)
    if n < 15:
        return bytes([n << 4]) + data
    ext = n - 15
    out = [0xF0]
    while ext >= 255:
        out.append(255)
        ext -= 255
    out.append(ext)
    return bytes(out) + data


def test_blosc_memcpy_mode():
    data = os.urandom(100)
    buf = _blosc_header(0x02, 8, 100, 100, 116) + data
    assert _blosc_decompress(buf) == data


def test_blosc_zlib_codec_single_stream():
    data = (b"spam" * 50) + b"eggs"
    comp = zlib.compress(data, 6)
    blk = _stream_raw(comp)
    # codec 4 (zlib) in bits 5-7
    buf = _blosc_build([blk], 4 << 5, 1, len(data), len(data))
    assert _blosc_decompress(buf) == data


def test_blosc_zstd_codec_two_blocks():
    zstd_cli = shutil.which("zstd")
    if zstd_cli is None:
        pytest.skip("no zstd CLI")
    b1, b2 = b"A" * 64, b"B" * 48
    blks = []
    for part in (b1, b2):
        comp = subprocess.run(
            [zstd_cli, "-5", "-c"], input=part, stdout=subprocess.PIPE,
            check=True,
        ).stdout
        blks.append(_stream_raw(comp))
    buf = _blosc_build(blks, 5 << 5, 1, 112, 64)
    assert _blosc_decompress(buf) == b1 + b2


def test_blosc_lz4_raw_stream_when_incompressible():
    data = os.urandom(64)
    # csize == outsize -> stored raw, no codec invoked
    buf = _blosc_build([_stream_raw(data)], 1 << 5, 8, 64, 64)
    assert _blosc_decompress(buf) == data


def test_blosc_lz4_whole_block_stream():
    data = b"0123456789abcdef" * 8  # 128 bytes
    blk = _stream_raw(_lz4_literal_block(data))
    buf = _blosc_build([blk], 1 << 5, 4, 128, 128)
    assert _blosc_decompress(buf) == data


def test_blosc_lz4_cli_compressed_stream():
    """Real LZ4-compressed bytes (system CLI) inside a hand-built
    blosc container: extract the single data block from a CLI frame
    (magic+FLG+BD+HC header, 4-byte block size, block) and wrap it."""
    if shutil.which("lz4") is None:
        pytest.skip("no lz4 CLI")
    data = (b"the quick brown fox " * 40)[:640]
    frame = subprocess.run(
        ["lz4", "-z", "-c", "-9", "--no-frame-crc"], input=data,
        stdout=subprocess.PIPE, check=True,
    ).stdout
    assert struct.unpack_from("<I", frame, 0)[0] == 0x184D2204
    flg = frame[4]
    pos = 4 + 2 + (8 if flg & 0x08 else 0) + (4 if flg & 0x01 else 0) + 1
    (bsz,) = struct.unpack_from("<I", frame, pos)
    assert not (bsz & 0x80000000), "CLI stored block uncompressed"
    block = frame[pos + 4:pos + 4 + bsz]
    buf = _blosc_build([_stream_raw(block)], 1 << 5, 8, len(data), len(data))
    assert _blosc_decompress(buf) == data


def test_blosc_lz4_split_streams_with_shuffle():
    """Split mode: a shuffled int32 block stored as typesize=4
    int32-prefixed streams (one per byte plane)."""
    vals = np.arange(32, dtype="<i4") * 9973
    raw = vals.tobytes()
    planes = np.frombuffer(raw, "u1").reshape(32, 4).T.copy()
    streams = b"".join(
        _stream_raw(_lz4_literal_block(planes[j].tobytes()))
        for j in range(4)
    )
    buf = _blosc_build([streams], (1 << 5) | 0x01, 4, 128, 128)
    out = _blosc_decompress(buf)
    np.testing.assert_array_equal(np.frombuffer(out, "<i4"), vals)


def test_blosc_two_blocks_shuffle_roundtrip_layout():
    """Shuffle is per-block: two 32-byte blocks of int64, each
    shuffled and stored independently."""
    vals = np.arange(8, dtype="<i8") * 123457
    raw = vals.tobytes()
    blks = []
    for off in (0, 32):
        part = raw[off:off + 32]
        planes = np.frombuffer(part, "u1").reshape(4, 8).T.copy()
        blks.append(_stream_raw(_lz4_literal_block(planes.tobytes())))
    buf = _blosc_build(blks, (1 << 5) | 0x01, 8, 64, 32)
    out = _blosc_decompress(buf)
    np.testing.assert_array_equal(np.frombuffer(out, "<i8"), vals)


def test_blosc_in_zarr_chunk(tmp_path):
    """End to end: a .zarray declaring blosc compression, chunk built
    by hand (memcpy mode container)."""
    vals = np.array([3.0, 1.0, 4.0, 1.5], dtype="<f8")
    payload = vals.tobytes()
    buf = _blosc_header(0x02, 8, 32, 32, 48) + payload
    meta = {
        "zarr_format": 2,
        "shape": [4],
        "chunks": [4],
        "dtype": "<f8",
        "compressor": {
            "id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1,
        },
        "fill_value": 0.0,
        "order": "C",
    }
    _mkarray(tmp_path / "v", meta, {"0": buf})
    _m, arr = read_zarr_array(str(tmp_path / "v"))
    np.testing.assert_array_equal(arr, vals)


def test_blosc_malformed():
    with pytest.raises(ZarrError):
        _blosc_decompress(b"\x02\x01")  # truncated header
    with pytest.raises(ZarrError):
        _blosc_decompress(_blosc_header(0x04, 8, 8, 8, 16) + b"x" * 8)  # bitshuffle
    with pytest.raises(ZarrError):
        # declares 100 nbytes but memcpy payload truncated
        _blosc_decompress(_blosc_header(0x02, 8, 100, 100, 116) + b"x")
    with pytest.raises(ZarrError):
        # expect_nbytes mismatch
        _blosc_decompress(
            _blosc_header(0x02, 1, 4, 4, 20) + b"abcd", expect_nbytes=7
        )
