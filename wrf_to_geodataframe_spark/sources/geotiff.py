"""GeoTIFF raster scan + sink (SURVEY.md §2 S1 at raster-archive
shape).

The reference's ecosystem reads gridded geospatial rasters through
GDAL/rasterio (geopandas' raster side); the interchange format is
GeoTIFF, and its cloud-native profile (COG) is exactly the
chunk-object layout this engine's distributed scans are built around.
Pure-python/numpy implementation of the public TIFF 6.0 + BigTIFF +
GeoTIFF specs, raster-oriented (the image-oriented 8-bit decoder in
sources/tiff.py stays untouched; its CLI-validated LZW/PackBits
codecs are reused):

* Classic (magic 42, 32-bit offsets) AND BigTIFF (magic 43, 64-bit)
  IFDs, either endianness.
* Samples: u8/u16/u32, i8/i16/i32, f32/f64 (BitsPerSample x
  SampleFormat), multi-band chunky (PlanarConfiguration 1).
* Layouts: strips and TILES (the COG unit — tiles are always stored
  full-size, edge tiles padded, the zarr-chunk analogy).
* Compression: none / deflate (8, 32946) / LZW (5) / PackBits
  (32773); predictor 1 (none), 2 (horizontal differencing over
  SAMPLES, any integer width) and 3 (floating-point: byte-plane
  split + byte differencing, per the TIFF Technical Note).
* Geo-referencing: ModelPixelScale + ModelTiepoint (the north-up
  affine) or the full ModelTransformation matrix;
  GeoKeyDirectory EPSG extraction (GeographicType 2048 /
  ProjectedCSType 3072); GDAL_NODATA — nodata cells surface as NULL
  in the Spark long tables (pandas NaN -> Arrow null at the
  mapInPandas/createDataFrame boundary), the engine's missing-value
  convention, so P7 null-fill composes directly.

Cross-validated BOTH directions against the system libtiff via ctypes
(tests/test_geotiff.py): libtiff reads this writer's tiled float
files tile-for-tile, and this reader decodes libtiff-written files —
the same interop discipline as every other codec in the repo.

Scale path: ``read_geotiff_dist`` extracts the tile manifest from the
IFD (mmap, metadata pages only — an IFD indexes the whole raster in
KBs) and executors seek directly to their tiles' byte ranges.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from wrf_to_geodataframe_spark.sources.tiff import (
    packbits_decode,
    packbits_encode,
    tlzw_decode,
    tlzw_encode,
)

__all__ = [
    "GeoTiffError",
    "geotiff_info",
    "read_geotiff",
    "write_geotiff",
    "read_geotiff_grid",
    "read_geotiff_dist",
]


class GeoTiffError(ValueError):
    """Malformed or unsupported GeoTIFF content."""


_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
              10: 8, 11: 4, 12: 8, 13: 4, 16: 8, 17: 8, 18: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i", 11: "f",
             12: "d", 13: "I", 16: "Q", 17: "q", 18: "Q"}

_T_WIDTH, _T_HEIGHT = 256, 257
_T_BITS, _T_COMP, _T_PHOTO = 258, 259, 262
_T_STRIP_OFF, _T_SPP, _T_ROWS_PER_STRIP, _T_STRIP_CNT = 273, 277, 278, 279
_T_PLANAR, _T_PREDICTOR = 284, 317
_T_TILE_W, _T_TILE_H, _T_TILE_OFF, _T_TILE_CNT = 322, 323, 324, 325
_T_SAMPLE_FMT = 339
_T_PIXEL_SCALE, _T_TIEPOINT, _T_TRANSFORM = 33550, 33922, 34264
_T_GEO_DIR, _T_GEO_DOUBLES, _T_GEO_ASCII = 34735, 34736, 34737
_T_GDAL_NODATA = 42113


def _parse_ifds(buf, max_ifds: int = 64) -> tuple[list[dict], str, bool]:
    """Follow the IFD chain -> ([tags {tag: list/str} per IFD], endian
    prefix, bigtiff).  IFD 0 is the full raster; further IFDs are
    overviews in a COG.  Accepts any buffer supporting slicing (bytes
    or mmap).  Truncated structures surface as GeoTiffError."""
    try:
        return _parse_ifds_inner(buf, max_ifds)
    except (struct.error, IndexError) as e:
        raise GeoTiffError(f"truncated TIFF structure: {e}") from e


def _parse_ifds_inner(buf, max_ifds: int) -> tuple[list[dict], str, bool]:
    if buf[:2] == b"II":
        e = "<"
    elif buf[:2] == b"MM":
        e = ">"
    else:
        raise GeoTiffError("not a TIFF (bad byte-order mark)")
    (magic,) = struct.unpack_from(e + "H", buf, 2)
    if magic == 42:
        big = False
        (ifd_off,) = struct.unpack_from(e + "I", buf, 4)
    elif magic == 43:
        big = True
        osize, zero = struct.unpack_from(e + "HH", buf, 4)
        if osize != 8 or zero != 0:
            raise GeoTiffError(f"BigTIFF offset size {osize}")
        (ifd_off,) = struct.unpack_from(e + "Q", buf, 8)
    else:
        raise GeoTiffError(f"bad TIFF magic {magic}")

    if big:
        entry_sz, cnt_fmt, inline, nfmt = 20, "Q", 8, "Q"
    else:
        entry_sz, cnt_fmt, inline, nfmt = 12, "I", 4, "H"
    cnt_len = struct.calcsize(cnt_fmt)
    out = []
    seen = set()
    while ifd_off and len(out) < max_ifds:
        if ifd_off in seen:
            raise GeoTiffError("IFD chain loop")
        seen.add(ifd_off)
        (n,) = struct.unpack_from(e + nfmt, buf, ifd_off)
        p = ifd_off + struct.calcsize(nfmt)
        tags: dict[int, object] = {}
        for _ in range(int(n)):
            tag, typ = struct.unpack_from(e + "HH", buf, p)
            (count,) = struct.unpack_from(e + cnt_fmt, buf, p + 4)
            voff = p + 4 + cnt_len
            size = _TYPE_SIZE.get(typ, 0) * count
            if size == 0:
                p += entry_sz
                continue
            if size <= inline:
                data_off = voff
            else:
                (data_off,) = struct.unpack_from(e + cnt_fmt, buf, voff)
            raw = bytes(buf[data_off:data_off + size])
            if typ == 2:
                tags[tag] = raw.split(b"\x00")[0].decode("ascii", "replace")
            elif typ in (5, 10):  # rational: numerator/denominator pairs
                base = "Ii"[typ == 10]
                vals = struct.unpack(e + base * (2 * count), raw)
                tags[tag] = [
                    vals[2 * i] / (vals[2 * i + 1] or 1)
                    for i in range(count)
                ]
            elif typ in (7,):  # UNDEFINED: raw bytes
                tags[tag] = raw
            else:
                fmt = _TYPE_FMT.get(typ)
                if fmt is None:
                    p += entry_sz
                    continue
                tags[tag] = list(struct.unpack(e + fmt * count, raw))
            p += entry_sz
        out.append(tags)
        (ifd_off,) = struct.unpack_from(e + cnt_fmt, buf, p)
    if not out:
        raise GeoTiffError("no IFDs")
    return out, e, big


def _dtype_of(tags, e: str) -> np.dtype:
    spp = tags.get(_T_SPP, [1])[0]
    bits = tags.get(_T_BITS, [8] * spp)
    fmts = tags.get(_T_SAMPLE_FMT, [1] * spp)
    if len(set(bits)) != 1 or len(set(fmts)) != 1:
        raise GeoTiffError(f"mixed per-band formats: {bits} x {fmts}")
    b, f = bits[0], fmts[0]
    kind = {1: "u", 2: "i", 3: "f"}.get(f)
    if kind is None:
        raise GeoTiffError(f"sample format {f} not supported")
    if kind == "f" and b not in (32, 64):
        raise GeoTiffError(f"{b}-bit float samples")
    if kind != "f" and b not in (8, 16, 32):
        raise GeoTiffError(f"{b}-bit integer samples")
    return np.dtype(f"{e}{kind}{b // 8}")


def _transform_of(tags) -> tuple:
    """-> affine (a, b, c, d, e, f): X = a*col + b*row + c;
    Y = d*col + e*row + f (GeoTIFF raster-space to model-space)."""
    if _T_TRANSFORM in tags:
        m = tags[_T_TRANSFORM]
        if len(m) < 16:
            raise GeoTiffError("short ModelTransformation")
        return (m[0], m[1], m[3], m[4], m[5], m[7])
    if _T_PIXEL_SCALE in tags and _T_TIEPOINT in tags:
        sx, sy = tags[_T_PIXEL_SCALE][0], tags[_T_PIXEL_SCALE][1]
        tp = tags[_T_TIEPOINT]
        if len(tp) < 6:
            raise GeoTiffError("short ModelTiepoint")
        i, j, _k, x, y, _z = tp[:6]
        # raster rows run north->south: Y decreases with row
        return (sx, 0.0, x - i * sx, 0.0, -sy, y + j * sy)
    return (1.0, 0.0, 0.0, 0.0, 1.0, 0.0)  # pixel coords


def _epsg_of(tags) -> int | None:
    d = tags.get(_T_GEO_DIR)
    if not d or len(d) < 4:
        return None
    nkeys = d[3]
    epsg = None
    for k in range(nkeys):
        ent = d[4 + 4 * k:8 + 4 * k]
        if len(ent) < 4:
            break
        key, loc, _cnt, val = ent
        if key in (2048, 3072) and loc == 0:
            epsg = val
            if key == 3072:
                return val  # projected CS wins when both present
    return epsg


def geotiff_info(buf, level: int = 0) -> dict:
    """Raster metadata for one IFD ``level`` (0 = full resolution;
    higher levels are COG overviews): width, height, bands, dtype
    (str), tiled, block shape, blocks-per-row/col, compression,
    predictor, affine transform, epsg, nodata, n_levels."""
    ifds, e, big = _parse_ifds(buf)
    if not (0 <= level < len(ifds)):
        raise GeoTiffError(
            f"overview level {level} out of range ({len(ifds)} IFDs)"
        )
    tags = ifds[level]
    n_levels = len(ifds)
    w = tags.get(_T_WIDTH, [0])[0]
    h = tags.get(_T_HEIGHT, [0])[0]
    if not w or not h:
        raise GeoTiffError("missing dimensions")
    spp = tags.get(_T_SPP, [1])[0]
    planar = tags.get(_T_PLANAR, [1])[0]
    if planar != 1:
        raise GeoTiffError(f"planar configuration {planar} not supported")
    comp = tags.get(_T_COMP, [1])[0]
    pred = tags.get(_T_PREDICTOR, [1])[0]
    if comp not in (1, 5, 8, 32773, 32946):
        raise GeoTiffError(f"compression {comp} not supported")
    if pred not in (1, 2, 3):
        raise GeoTiffError(f"predictor {pred} not supported")
    dt = _dtype_of(tags, e)
    if pred == 3 and dt.kind != "f":
        raise GeoTiffError("floating-point predictor on integer samples")
    tiled = _T_TILE_OFF in tags
    if tiled:
        bw, bh = tags[_T_TILE_W][0], tags[_T_TILE_H][0]
        offs, cnts = tags[_T_TILE_OFF], tags[_T_TILE_CNT]
        if bw % 16 or bh % 16:
            raise GeoTiffError("tile dims must be multiples of 16")
    else:
        bw = w
        bh = tags.get(_T_ROWS_PER_STRIP, [h])[0] or h
        offs, cnts = tags.get(_T_STRIP_OFF, []), tags.get(_T_STRIP_CNT, [])
    if not offs or len(offs) != len(cnts):
        raise GeoTiffError("bad block offset/count tables")
    nbx = -(-w // bw)
    nby = -(-h // bh)
    if len(offs) < nbx * nby:
        raise GeoTiffError(
            f"{len(offs)} blocks < {nbx}x{nby} grid (planar/overviews?)"
        )
    nodata = None
    if _T_GDAL_NODATA in tags:
        try:
            nodata = float(str(tags[_T_GDAL_NODATA]).strip())
        except ValueError:
            pass
    return {
        "width": int(w),
        "height": int(h),
        "bands": int(spp),
        "dtype": dt.str,
        "tiled": tiled,
        "block_w": int(bw),
        "block_h": int(bh),
        "nbx": nbx,
        "nby": nby,
        "offsets": [int(o) for o in offs[: nbx * nby]],
        "counts": [int(c) for c in cnts[: nbx * nby]],
        "compression": int(comp),
        "predictor": int(pred),
        "transform": _transform_of(tags),
        "epsg": _epsg_of(tags),
        "nodata": nodata,
        "bigtiff": big,
        "n_levels": n_levels,
        "level": level,
    }


# -- block codec ---------------------------------------------------------

def _predict2_decode(arr: np.ndarray) -> None:
    """Horizontal differencing over samples, in place: (rows, w, spp)."""
    np.cumsum(arr, axis=1, out=arr)


def _predict2_encode(arr: np.ndarray) -> np.ndarray:
    out = arr.copy()
    out[:, 1:, :] -= arr[:, :-1, :]
    return out


def _predict3_decode(raw: bytes, rows: int, row_elems: int,
                     itemsize: int) -> bytes:
    """TIFF TechNote floating-point predictor, decode: per row, undo
    byte differencing, then re-interleave the byte planes (stored
    most-significant plane first, big-endian order)."""
    a = np.frombuffer(raw, dtype="u1").reshape(rows, itemsize, row_elems)
    a = np.cumsum(a.reshape(rows, itemsize * row_elems), axis=1,
                  dtype="u1").reshape(rows, itemsize, row_elems)
    # planes -> big-endian byte stream per element
    return a.transpose(0, 2, 1).tobytes()


def _predict3_encode(arr_be_bytes: np.ndarray, rows: int, row_elems: int,
                     itemsize: int) -> bytes:
    a = arr_be_bytes.reshape(rows, row_elems, itemsize)
    planes = a.transpose(0, 2, 1).reshape(rows, itemsize * row_elems).copy()
    planes[:, 1:] -= planes[:, :-1].copy()
    return planes.tobytes()


def _decode_block(raw: bytes, info: dict, rows: int) -> np.ndarray:
    """One tile/strip -> (rows, block_w, bands) ndarray (native order).
    Tiles arrive full-size; the caller trims edge overhang."""
    bw, bands = info["block_w"], info["bands"]
    dt = np.dtype(info["dtype"])
    n = rows * bw * bands
    expected = n * dt.itemsize
    comp = info["compression"]
    if comp == 1:
        data = raw[:expected]
    elif comp in (8, 32946):
        try:
            data = zlib.decompress(raw)[:expected]
        except zlib.error as e:
            raise GeoTiffError(f"corrupt deflate block: {e}") from e
    elif comp == 5:
        data = tlzw_decode(raw, expected)
    elif comp == 32773:
        data = packbits_decode(raw, expected)
    if len(data) < expected:
        raise GeoTiffError("block under-decoded")
    if info["predictor"] == 3:
        data = _predict3_decode(data, rows, bw * bands, dt.itemsize)
        arr = np.frombuffer(data, dtype=dt.newbyteorder(">"), count=n)
    else:
        arr = np.frombuffer(data, dtype=dt, count=n)
    arr = arr.reshape(rows, bw, bands)
    if info["predictor"] == 2:
        arr = arr.astype(dt.newbyteorder("="), copy=True)
        _predict2_decode(arr)
        return arr
    return arr.astype(dt.newbyteorder("="), copy=False)


def read_geotiff(path_or_buf, level: int = 0) -> tuple[dict, np.ndarray]:
    """-> (info, array (height, width, bands) in native order) for
    overview ``level`` (0 = full resolution)."""
    if isinstance(path_or_buf, (bytes, bytearray, memoryview)):
        buf = path_or_buf
    else:
        with open(path_or_buf, "rb") as f:
            buf = f.read()
    info = geotiff_info(buf, level=level)
    h, w = info["height"], info["width"]
    bw, bh = info["block_w"], info["block_h"]
    out = np.zeros((h, w, info["bands"]),
                   dtype=np.dtype(info["dtype"]).newbyteorder("="))
    for bi, (off, cnt) in enumerate(zip(info["offsets"], info["counts"])):
        by, bx = divmod(bi, info["nbx"])
        rows = bh if info["tiled"] else min(bh, h - by * bh)
        block = _decode_block(bytes(buf[off:off + cnt]), info, rows)
        y0, x0 = by * bh, bx * bw
        ny = min(bh, h - y0)
        nx = min(bw, w - x0)
        out[y0:y0 + ny, x0:x0 + nx] = block[:ny, :nx]
    return info, out


# -- writer --------------------------------------------------------------

def write_geotiff(
    path: str,
    array: np.ndarray,
    transform: tuple | None = None,
    epsg: int | None = None,
    tiled: bool = True,
    tile: tuple[int, int] = (64, 64),
    rows_per_strip: int = 64,
    compression: int = 8,
    predictor: int = 1,
    nodata: float | None = None,
    bigtiff: bool = False,
    overviews: int = 0,
) -> None:
    """Write a (height, width[, bands]) raster as GeoTIFF (little-
    endian; classic or BigTIFF).  ``transform`` is the affine
    (a, b, c, d, e, f) — north-up affines (b == d == 0) are emitted as
    PixelScale+Tiepoint (the common GDAL layout), others as the full
    ModelTransformation matrix.  ``overviews=N`` appends up to N
    chained overview IFDs, each a 2x decimation of the previous level
    with its pixel scale doubled — the COG layout
    ``geotiff_info(level=k)`` reads back."""
    arr0 = np.asarray(array)
    if arr0.ndim == 2:
        arr0 = arr0[:, :, None]
    levels = [arr0]
    for _ in range(max(0, overviews)):
        prev = levels[-1]
        if min(prev.shape[0], prev.shape[1]) < 2:
            break
        levels.append(prev[::2, ::2])

    e = "<"
    if bigtiff:
        header_len = 16
        entry_sz, cnt_fmt, inline = 20, "Q", 8
        nfmt = "Q"
    else:
        header_len = 8
        entry_sz, cnt_fmt, inline = 12, "I", 4
        nfmt = "H"

    def enc_values(typ, vals) -> bytes:
        if typ == 2:
            return bytes(vals)
        return struct.pack(e + _TYPE_FMT[typ] * len(vals), *vals)

    def build_segment(arr, tf, li: int, base: int) -> tuple[bytes, int]:
        """One IFD + its tag overflow + its blocks, laid out at file
        offset ``base``.  Returns (segment bytes, position of the
        next-IFD pointer within the segment)."""
        h, w, bands = arr.shape
        dt = arr.dtype.newbyteorder("<")
        arr = np.ascontiguousarray(arr, dtype=dt)
        fmt = {"u": 1, "i": 2, "f": 3}[dt.kind]
        if predictor == 3 and dt.kind != "f":
            raise GeoTiffError("predictor 3 needs float samples")
        if predictor == 2 and dt.kind == "f":
            raise GeoTiffError("predictor 2 needs integer samples")
        if tiled:
            bw, bh = tile
            if bw % 16 or bh % 16:
                raise GeoTiffError("tile dims must be multiples of 16")
        else:
            bw, bh = w, rows_per_strip
        nbx, nby = -(-w // bw), -(-h // bh)

        blocks = []
        for by in range(nby):
            for bx in range(nbx):
                y0, x0 = by * bh, bx * bw
                rows = bh if tiled else min(bh, h - y0)
                block = np.zeros((rows, bw, bands), dtype=dt)
                ny, nx = min(bh, h - y0), min(bw, w - x0)
                block[:ny, :nx] = arr[y0:y0 + ny, x0:x0 + nx]
                if predictor == 2:
                    enc = _predict2_encode(
                        block.astype(dt.newbyteorder("="))
                    ).astype(dt)
                    raw = enc.tobytes()
                elif predictor == 3:
                    be = block.astype(dt.newbyteorder(">")).view("u1")
                    raw = _predict3_encode(
                        be.reshape(rows, bw * bands * dt.itemsize)
                        .reshape(rows, bw * bands, dt.itemsize),
                        rows, bw * bands, dt.itemsize,
                    )
                else:
                    raw = block.tobytes()
                if compression == 1:
                    out = raw
                elif compression in (8, 32946):
                    out = zlib.compress(raw, 6)
                elif compression == 5:
                    out = tlzw_encode(raw)
                elif compression == 32773:
                    out = packbits_encode(raw)
                else:
                    raise GeoTiffError(
                        f"write: compression {compression}"
                    )
                blocks.append(out)

        tags: list[tuple[int, int, list]] = [
            (_T_WIDTH, 4, [w]),
            (_T_HEIGHT, 4, [h]),
            (_T_BITS, 3, [dt.itemsize * 8] * bands),
            (_T_COMP, 3, [compression]),
            (_T_PHOTO, 3, [1]),
            (_T_SPP, 3, [bands]),
            (_T_PLANAR, 3, [1]),
            (_T_SAMPLE_FMT, 3, [fmt] * bands),
        ]
        if li > 0:
            tags.append((254, 4, [1]))  # NewSubfileType: reduced image
        if predictor != 1:
            tags.append((_T_PREDICTOR, 3, [predictor]))
        if tiled:
            tags += [(_T_TILE_W, 3, [bw]), (_T_TILE_H, 3, [bh])]
        else:
            tags.append((_T_ROWS_PER_STRIP, 4, [bh]))
        if tf is not None:
            a, b_, c, d, e_, f_ = tf
            if b_ == 0 and d == 0 and e_ < 0:
                tags += [
                    (_T_PIXEL_SCALE, 12, [a, -e_, 0.0]),
                    (_T_TIEPOINT, 12, [0.0, 0.0, 0.0, c, f_, 0.0]),
                ]
            else:
                m = [a, b_, 0.0, c, d, e_, 0.0, f_,
                     0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0]
                tags.append((_T_TRANSFORM, 12, m))
        if epsg is not None and li == 0:
            # minimal GeoKey directory: version 1.1.0, one key (2048
            # geographic <32767, else 3072 projected)
            key = 2048 if epsg < 32767 and 4000 <= epsg < 5000 else 3072
            tags.append((_T_GEO_DIR, 3, [1, 1, 0, 1, key, 0, 1, epsg]))
        if nodata is not None:
            s = repr(float(nodata)).encode() + b"\x00"
            tags.append((_T_GDAL_NODATA, 2, list(s)))

        off_type = 16 if bigtiff else 4
        tags.append((_T_TILE_OFF if tiled else _T_STRIP_OFF, off_type,
                     [0] * len(blocks)))
        tags.append((_T_TILE_CNT if tiled else _T_STRIP_CNT, off_type,
                     [len(b) for b in blocks]))
        tags.sort(key=lambda t: t[0])

        ifd_len = struct.calcsize(nfmt) + entry_sz * len(tags) + \
            struct.calcsize(cnt_fmt)
        # segment layout: IFD | overflow tag data | blocks
        pos_overflow = base + ifd_len
        tag_payloads = {}
        for tag, typ, vals in tags:
            size = _TYPE_SIZE[typ] * len(vals)
            if size > inline:
                tag_payloads[tag] = size
        data_start = pos_overflow + sum(
            (s + 1) & ~1 for s in tag_payloads.values()
        )
        block_offsets = []
        bpos = data_start
        for blk in blocks:
            block_offsets.append(bpos)
            bpos += (len(blk) + 1) & ~1
        tags = [
            (tag, typ,
             block_offsets if tag in (_T_TILE_OFF, _T_STRIP_OFF)
             else vals)
            for tag, typ, vals in tags
        ]
        # assemble: IFD entries + next-IFD pointer, overflow, blocks
        overflow: list[bytes] = []
        ifd = struct.pack(e + nfmt, len(tags))
        opos = pos_overflow
        for tag, typ, vals in tags:
            raw = enc_values(typ, vals)
            entry = struct.pack(e + "HH", tag, typ)
            entry += struct.pack(e + cnt_fmt, len(vals))
            if len(raw) <= inline:
                entry += raw.ljust(inline, b"\x00")
            else:
                entry += struct.pack(e + cnt_fmt, opos)
                overflow.append(
                    raw if len(raw) % 2 == 0 else raw + b"\x00"
                )
                opos += (len(raw) + 1) & ~1
            ifd += entry
        next_ptr_rel = len(ifd)
        ifd += struct.pack(e + cnt_fmt, 0)  # next IFD (patched later)
        seg = bytearray(ifd)
        for ov in overflow:
            seg += ov
        for blk in blocks:
            seg += blk if len(blk) % 2 == 0 else blk + b"\x00"
        return bytes(seg), next_ptr_rel

    segments: list[tuple[bytes, int, int]] = []  # (seg, base, next_rel)
    pos = header_len
    for li, lv in enumerate(levels):
        tf = None
        if transform is not None:
            a, b_, c, d, e_, f_ = transform
            s = 1 << li
            tf = (a * s, b_ * s, c, d * s, e_ * s, f_)
        seg, next_rel = build_segment(lv, tf, li, pos)
        segments.append((seg, pos, next_rel))
        pos += len(seg)

    if bigtiff:
        header = b"II" + struct.pack("<HHHQ", 43, 8, 0, header_len)
        nxt_fmt = "<Q"
    else:
        header = b"II" + struct.pack("<HI", 42, header_len)
        nxt_fmt = "<I"
    with open(path, "wb") as f:
        f.write(header)
        for i, (seg, _base, next_rel) in enumerate(segments):
            if i + 1 < len(segments):
                seg = bytearray(seg)
                struct.pack_into(
                    nxt_fmt, seg, next_rel, segments[i + 1][1]
                )
                seg = bytes(seg)
            f.write(seg)


# -- Spark surfaces ------------------------------------------------------

def _affine_cols(transform):
    a, b, c, d, e, f = transform

    def lon(col, row):
        return a * col + b * row + c

    def lat(col, row):
        return d * col + e * row + f

    return lon, lat


def _geotiff_frame(info: dict, arr: np.ndarray, band: int):
    """One decoded raster's ``band`` -> (y_idx, x_idx, lon, lat, value)
    frame; ``nodata`` cells become NaN."""
    import pandas as pd

    h, w = info["height"], info["width"]
    yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    lon_f, lat_f = _affine_cols(info["transform"])
    vals = arr[:, :, band].astype("float64")
    if info["nodata"] is not None:
        vals = np.where(vals == info["nodata"], np.nan, vals)
    gx = xx.ravel().astype("float64")
    gy = yy.ravel().astype("float64")
    return pd.DataFrame(
        {
            "y_idx": gy.astype("int64"),
            "x_idx": gx.astype("int64"),
            "lon": lon_f(gx, gy),
            "lat": lat_f(gx, gy),
            "value": vals.ravel(),
        }
    )


def read_geotiff_grid(spark, path: str, band: int = 0):
    """Driver-side S1 ingest: one GeoTIFF -> long DataFrame
    (y_idx, x_idx, lon, lat, value) for ``band``."""
    return spark.createDataFrame(_geotiff_frame(*read_geotiff(path), band))


def read_geotiff_dist(spark, path: str, band: int = 0, level: int = 0):
    """Tile-parallel scan of ONE large (Big)GeoTIFF/COG — the raster
    twin of the zarr/HDF5 chunk scans: the driver reads ONLY the IFD
    (mmap; a COG's tile index is KBs for a raster of any size) and
    each executor task seeks to its tiles' byte ranges and decodes
    them itself.  ``level`` selects an overview IFD (0 = full
    resolution) — reading a decimated pyramid level is the COG way to
    scan a continental raster at reduced cost.  Emits (block_id,
    y_idx, x_idx, lon, lat, value); requires a path every executor
    can open."""
    import mmap

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    with open(path, "rb") as fh:
        mm = mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ)
        try:
            info = geotiff_info(mm, level=level)
        finally:
            mm.close()
    binfo = spark.sparkContext.broadcast(
        {k: v for k, v in info.items() if k not in ("offsets", "counts")}
    )
    rows = [
        (bi, off, cnt)
        for bi, (off, cnt) in enumerate(zip(info["offsets"],
                                            info["counts"]))
    ]
    mdf = spark.createDataFrame(
        rows, "block_id long, off long, cnt long"
    ).repartition(
        max(1, min(len(rows), spark.sparkContext.defaultParallelism * 2)),
        "block_id",
    )
    schema = StructType(
        [
            StructField("block_id", LongType()),
            StructField("y_idx", LongType()),
            StructField("x_idx", LongType()),
            StructField("lon", DoubleType()),
            StructField("lat", DoubleType()),
            StructField("value", DoubleType()),
        ]
    )

    def _scan(it):
        m = binfo.value
        h, w = m["height"], m["width"]
        bw, bh = m["block_w"], m["block_h"]
        lon_f, lat_f = _affine_cols(m["transform"])
        with open(path, "rb") as fh:
            for pdf in it:
                for row in pdf.itertuples(index=False):
                    bi = int(row.block_id)
                    by, bx = divmod(bi, m["nbx"])
                    y0, x0 = by * bh, bx * bw
                    rows_n = bh if m["tiled"] else min(bh, h - y0)
                    fh.seek(int(row.off))
                    block = _decode_block(
                        fh.read(int(row.cnt)), m, rows_n
                    )
                    ny, nx = min(bh, h - y0), min(bw, w - x0)
                    vals = block[:ny, :nx, band].astype("float64")
                    if m["nodata"] is not None:
                        vals = np.where(
                            vals == m["nodata"], np.nan, vals
                        )
                    yy, xx = np.meshgrid(
                        np.arange(ny), np.arange(nx), indexing="ij"
                    )
                    gx = (xx.ravel() + x0).astype("float64")
                    gy = (yy.ravel() + y0).astype("float64")
                    yield pd.DataFrame(
                        {
                            "block_id": np.full(ny * nx, bi, "int64"),
                            "y_idx": gy.astype("int64"),
                            "x_idx": gx.astype("int64"),
                            "lon": lon_f(gx, gy),
                            "lat": lat_f(gx, gy),
                            "value": vals.ravel(),
                        }
                    )

    return mdf.mapInPandas(_scan, schema)

