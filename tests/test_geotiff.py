"""GeoTIFF raster source/sink tests (sources/geotiff.py): round-trip
fuzz across dtypes/codecs/predictors/layouts/classic-vs-BigTIFF,
geo-transform goldens, and TWO-DIRECTION interop with the system
libtiff (ctypes): libtiff reads this writer's tiled files
tile-for-tile, and this reader decodes libtiff-written files."""

from __future__ import annotations

import ctypes
import ctypes.util
import os
import struct

import numpy as np
import pytest

from wrf_to_geodataframe_spark.sources.geotiff import (
    GeoTiffError,
    geotiff_info,
    read_geotiff,
    write_geotiff,
)


def _libtiff():
    for name in ("libtiff.so.6", "libtiff.so.5",
                 ctypes.util.find_library("tiff")):
        if not name:
            continue
        try:
            lib = ctypes.CDLL(name)
        except OSError:
            continue
        lib.TIFFOpen.restype = ctypes.c_void_p
        lib.TIFFOpen.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
        lib.TIFFSetWarningHandler.restype = ctypes.c_void_p
        lib.TIFFSetWarningHandler.argtypes = [ctypes.c_void_p]
        lib.TIFFSetWarningHandler(None)
        return lib
    return None


_LIB = _libtiff()


def test_roundtrip_basic_float32(tmp_path):
    rng = np.random.default_rng(1)
    arr = rng.standard_normal((40, 56)).astype("float32")
    p = str(tmp_path / "a.tif")
    write_geotiff(p, arr, transform=(0.25, 0, 10.0, 0, -0.25, 60.0),
                  epsg=4326)
    info, back = read_geotiff(p)
    assert (info["width"], info["height"], info["bands"]) == (56, 40, 1)
    assert info["epsg"] == 4326
    assert info["transform"] == (0.25, 0.0, 10.0, 0.0, -0.25, 60.0)
    np.testing.assert_array_equal(back[:, :, 0], arr)


@pytest.mark.parametrize("dtype,pred", [
    ("uint8", 1), ("uint8", 2), ("uint16", 2), ("int16", 2),
    ("uint32", 2), ("int32", 1), ("float32", 1), ("float32", 3),
    ("float64", 3),
])
@pytest.mark.parametrize("comp", [1, 5, 8, 32773])
def test_roundtrip_dtypes_predictors_codecs(tmp_path, dtype, pred, comp):
    rng = np.random.default_rng(hash((dtype, pred, comp)) % 2**31)
    dt = np.dtype(dtype)
    if dt.kind == "f":
        arr = (rng.standard_normal((35, 49)) * 100).astype(dt)
    else:
        info_ = np.iinfo(dt)
        arr = rng.integers(info_.min, info_.max, (35, 49), dtype=dt)
    p = str(tmp_path / "x.tif")
    write_geotiff(p, arr, tiled=True, tile=(16, 16), compression=comp,
                  predictor=pred)
    _i, back = read_geotiff(p)
    np.testing.assert_array_equal(back[:, :, 0], arr)


@pytest.mark.parametrize("tiled", [True, False])
@pytest.mark.parametrize("bigtiff", [True, False])
def test_roundtrip_layouts(tmp_path, tiled, bigtiff):
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 10000, (50, 33), dtype="uint16")
    p = str(tmp_path / "y.tif")
    write_geotiff(p, arr, tiled=tiled, tile=(32, 16), rows_per_strip=7,
                  compression=8, predictor=2, bigtiff=bigtiff)
    info, back = read_geotiff(p)
    assert info["bigtiff"] == bigtiff
    assert info["tiled"] == tiled
    np.testing.assert_array_equal(back[:, :, 0], arr)


def test_roundtrip_multiband_and_nodata(tmp_path):
    rng = np.random.default_rng(9)
    arr = rng.standard_normal((20, 24, 3)).astype("float32")
    p = str(tmp_path / "m.tif")
    write_geotiff(p, arr, tiled=True, tile=(16, 16), nodata=-9999.0)
    info, back = read_geotiff(p)
    assert info["bands"] == 3
    assert info["nodata"] == -9999.0
    np.testing.assert_array_equal(back, arr)


def test_geo_transform_golden(tmp_path):
    """North-up affine emitted as PixelScale+Tiepoint and recovered:
    lon = 10 + 0.25*col, lat = 60 - 0.5*row."""
    arr = np.zeros((4, 4), dtype="float32")
    p = str(tmp_path / "g.tif")
    write_geotiff(p, arr, transform=(0.25, 0, 10.0, 0, -0.5, 60.0))
    raw = open(p, "rb").read()
    info = geotiff_info(raw)
    a, b, c, d, e, f = info["transform"]
    assert (a, b, c) == (0.25, 0.0, 10.0)
    assert (d, e, f) == (0.0, -0.5, 60.0)
    # and a rotated affine goes through ModelTransformation
    p2 = str(tmp_path / "g2.tif")
    write_geotiff(p2, arr, transform=(0.2, 0.1, 5.0, -0.1, 0.2, 7.0))
    info2 = geotiff_info(open(p2, "rb").read())
    assert info2["transform"] == (0.2, 0.1, 5.0, -0.1, 0.2, 7.0)


def test_hand_built_strip_tiff_golden():
    """Reader-independent golden: minimal little-endian classic TIFF,
    one uncompressed strip of 2x3 uint16, assembled by hand."""
    w, h = 3, 2
    px = struct.pack("<6H", 10, 20, 30, 40, 50, 60)
    entries = [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 16),
        (259, 3, 1, 1), (262, 3, 1, 1),
        (273, 4, 1, None), (277, 3, 1, 1), (278, 4, 1, h),
        (279, 4, 1, len(px)), (339, 3, 1, 1),
    ]
    ifd_off = 8
    n = len(entries)
    data_off = ifd_off + 2 + n * 12 + 4
    blob = b"II" + struct.pack("<HI", 42, ifd_off)
    blob += struct.pack("<H", n)
    for tag, typ, cnt, val in entries:
        if val is None:
            val = data_off
        blob += struct.pack("<HHI", tag, typ, cnt)
        blob += struct.pack("<I", val) if typ == 4 else struct.pack(
            "<HH", val, 0
        )
    blob += struct.pack("<I", 0)
    blob += px
    info, arr = read_geotiff(blob)
    assert (info["width"], info["height"]) == (3, 2)
    np.testing.assert_array_equal(
        arr[:, :, 0], [[10, 20, 30], [40, 50, 60]]
    )


def test_malformed_rejected(tmp_path):
    with pytest.raises(GeoTiffError):
        geotiff_info(b"XX\x00\x00")
    with pytest.raises(GeoTiffError):
        geotiff_info(b"II\x2b\x00\x04\x00\x00\x00")  # bigtiff osize 4
    arr = np.zeros((8, 8), dtype="float32")
    with pytest.raises(GeoTiffError):
        write_geotiff(str(tmp_path / "z.tif"), arr, tiled=True,
                      tile=(20, 16))  # not multiple of 16
    with pytest.raises(GeoTiffError):
        write_geotiff(str(tmp_path / "z.tif"), arr, predictor=2)


def test_overview_chain_roundtrip(tmp_path):
    """COG overview IFDs: write with 2 overview levels, read each
    level; overview k is the 2^k decimation with doubled pixel
    scale."""
    rng = np.random.default_rng(44)
    arr = rng.standard_normal((64, 80)).astype("float32")
    p = str(tmp_path / "ov.tif")
    write_geotiff(p, arr, transform=(0.25, 0, 10.0, 0, -0.25, 60.0),
                  epsg=4326, tiled=True, tile=(32, 32), overviews=2)
    raw = open(p, "rb").read()
    info0 = geotiff_info(raw, level=0)
    assert info0["n_levels"] == 3
    _i0, full = read_geotiff(p, level=0)
    np.testing.assert_array_equal(full[:, :, 0], arr)
    info1, ov1 = read_geotiff(p, level=1)
    assert (info1["height"], info1["width"]) == (32, 40)
    np.testing.assert_array_equal(ov1[:, :, 0], arr[::2, ::2])
    assert info1["transform"] == (0.5, 0.0, 10.0, 0.0, -0.5, 60.0)
    info2, ov2 = read_geotiff(p, level=2)
    assert (info2["height"], info2["width"]) == (16, 20)
    np.testing.assert_array_equal(ov2[:, :, 0], arr[::4, ::4])
    with pytest.raises(GeoTiffError):
        read_geotiff(p, level=3)


@pytest.mark.skipif(_LIB is None, reason="no libtiff")
def test_libtiff_sees_overview_directories(tmp_path):
    """libtiff counts the same IFD chain our writer emits."""
    arr = np.zeros((64, 64), dtype="float32")
    p = str(tmp_path / "ovl.tif")
    write_geotiff(p, arr, tiled=True, tile=(32, 32), overviews=2)
    t = _LIB.TIFFOpen(p.encode(), b"r")
    assert t
    th = ctypes.c_void_p(t)
    _LIB.TIFFNumberOfDirectories.restype = ctypes.c_uint16
    _LIB.TIFFNumberOfDirectories.argtypes = [ctypes.c_void_p]
    assert _LIB.TIFFNumberOfDirectories(th) == 3
    _LIB.TIFFClose(ctypes.c_void_p(t))


# -- libtiff interop -----------------------------------------------------

requires_libtiff = pytest.mark.skipif(_LIB is None, reason="no libtiff")

_TT = {
    "IMAGEWIDTH": 256, "IMAGELENGTH": 257, "BITSPERSAMPLE": 258,
    "COMPRESSION": 259, "PHOTOMETRIC": 262, "SAMPLESPERPIXEL": 277,
    "ROWSPERSTRIP": 278, "PLANARCONFIG": 284, "PREDICTOR": 317,
    "TILEWIDTH": 322, "TILELENGTH": 323, "SAMPLEFORMAT": 339,
}


@requires_libtiff
@pytest.mark.parametrize("pred", [1, 3])
def test_libtiff_reads_our_tiled_float(tmp_path, pred):
    rng = np.random.default_rng(21)
    arr = (rng.standard_normal((64, 64)) * 10).astype("float32")
    p = str(tmp_path / "ours.tif")
    write_geotiff(p, arr, tiled=True, tile=(32, 32), compression=8,
                  predictor=pred)
    t = _LIB.TIFFOpen(p.encode(), b"r")
    assert t, "libtiff refused our file"
    th = ctypes.c_void_p(t)
    _LIB.TIFFReadEncodedTile.restype = ctypes.c_ssize_t
    _LIB.TIFFReadEncodedTile.argtypes = [
        ctypes.c_void_p, ctypes.c_uint32, ctypes.c_void_p,
        ctypes.c_ssize_t,
    ]
    tile_bytes = 32 * 32 * 4
    got = np.zeros((64, 64), dtype="float32")
    buf = (ctypes.c_char * tile_bytes)()
    idx = 0
    for by in range(2):
        for bx in range(2):
            n = _LIB.TIFFReadEncodedTile(th, idx, buf, tile_bytes)
            assert n == tile_bytes, f"tile {idx} read {n}"
            tile = np.frombuffer(
                bytes(buf), dtype="<f4"
            ).reshape(32, 32)
            got[by * 32:(by + 1) * 32, bx * 32:(bx + 1) * 32] = tile
            idx += 1
    _LIB.TIFFClose(ctypes.c_void_p(t))
    np.testing.assert_array_equal(got, arr)


@requires_libtiff
@pytest.mark.parametrize("pred,comp", [(1, 8), (2, 8), (2, 5), (3, 8)])
def test_our_reader_decodes_libtiff_file(tmp_path, pred, comp):
    rng = np.random.default_rng(31)
    if pred == 3:
        arr = (rng.standard_normal((40, 48)) * 7).astype("float32")
        bits, sfmt = 32, 3
        data = arr.astype("<f4")
    else:
        arr = rng.integers(0, 60000, (40, 48), dtype="uint16")
        bits, sfmt = 16, 1
        data = arr.astype("<u2")
    p = str(tmp_path / "theirs.tif")
    t = _LIB.TIFFOpen(p.encode(), b"w")
    assert t
    th = ctypes.c_void_p(t)
    _LIB.TIFFSetField(th, _TT["IMAGEWIDTH"], 48)
    _LIB.TIFFSetField(th, _TT["IMAGELENGTH"], 40)
    _LIB.TIFFSetField(th, _TT["BITSPERSAMPLE"], bits)
    _LIB.TIFFSetField(th, _TT["SAMPLESPERPIXEL"], 1)
    _LIB.TIFFSetField(th, _TT["SAMPLEFORMAT"], sfmt)
    _LIB.TIFFSetField(th, _TT["PHOTOMETRIC"], 1)
    _LIB.TIFFSetField(th, _TT["PLANARCONFIG"], 1)
    _LIB.TIFFSetField(th, _TT["COMPRESSION"], comp)
    if pred != 1:
        _LIB.TIFFSetField(th, _TT["PREDICTOR"], pred)
    _LIB.TIFFSetField(th, _TT["ROWSPERSTRIP"], 16)
    _LIB.TIFFWriteEncodedStrip.restype = ctypes.c_ssize_t
    _LIB.TIFFWriteEncodedStrip.argtypes = [
        ctypes.c_void_p, ctypes.c_uint32, ctypes.c_void_p,
        ctypes.c_ssize_t,
    ]
    for si, r0 in enumerate(range(0, 40, 16)):
        strip = data[r0:r0 + 16].tobytes()
        n = _LIB.TIFFWriteEncodedStrip(th, si, strip, len(strip))
        assert n == len(strip)
    _LIB.TIFFClose(ctypes.c_void_p(t))

    _info, back = read_geotiff(p)
    np.testing.assert_array_equal(back[:, :, 0], arr)
