"""Zarr v2 store scan + sink (SURVEY.md §2 S1/S4 at cloud-archive
shape).

The reference opens model output through ``xr.open_dataset``
(wrf_voronoi.py:115); the cloud-native serialization of exactly that
data model is Zarr v2 (``xarray.to_zarr``): per-array JSON metadata
(``.zarray``) plus one object per chunk, named by its chunk-grid
coordinates.  Pure-python/numpy implementation of the public zarr v2
spec (zarr-specs, storage spec v2) — no zarr/numcodecs dependency.

Why Zarr is the BEST 100-TB ingest surface the engine has: unlike
NetCDF/HDF5 (one opaque file, parallelized per-file in
``read_netcdf_dir`` or through a chunk index in ``read_virtual``),
a Zarr store is ALREADY a flat namespace of independently-compressed
chunk objects.  ``read_zarr_dist`` builds the chunk manifest by
arithmetic from the tiny ``.zarray`` JSON (no directory listing), so
the scan is one task per chunk with zero driver involvement in data —
the native layout of every object store.

Codecs (numcodecs ids): ``null`` (raw), ``zlib``, ``gzip``, ``bz2``,
``lzma`` (stdlib), ``zstd`` (from-scratch RFC 8878 decoder,
sources/zstd.py), ``blosc`` (container decode over the from-scratch
LZ4 block decoder, sources/lz4.py — see ``_blosc_decompress``).
Filters: ``shuffle`` (byte shuffle) and ``delta``.  The WRITE side
emits ``zlib`` (or raw) — readable by every zarr implementation.

Conventions honored: xarray's ``_ARRAY_DIMENSIONS`` attribute names
dims; ``dimension_separator`` "." (default) and "/"; C and F chunk
order; missing chunks read as ``fill_value``; edge chunks stored
full-size.
"""

from __future__ import annotations

import base64
import bz2
import json
import lzma
import math
import os
import struct
import zlib

import numpy as np

__all__ = [
    "ZarrError",
    "read_zarr_array",
    "read_zarr_store",
    "write_zarr",
    "read_zarr_grid",
    "read_zarr_dist",
]


class ZarrError(ValueError):
    """Malformed or unsupported zarr store content."""


# -- metadata ------------------------------------------------------------

def _parse_dtype(spec) -> np.dtype:
    if not isinstance(spec, str):
        raise ZarrError(f"unsupported structured dtype {spec!r}")
    dt = np.dtype(spec)
    if dt.kind in ("O",):
        raise ZarrError(f"unsupported object dtype {spec!r}")
    return dt


def _parse_fill(fill, dt: np.dtype):
    if fill is None:
        return np.zeros((), dtype=dt)[()]
    if isinstance(fill, str):
        if dt.kind == "f":
            if fill == "NaN":
                return dt.type(np.nan)
            if fill == "Infinity":
                return dt.type(np.inf)
            if fill == "-Infinity":
                return dt.type(-np.inf)
            raise ZarrError(f"bad float fill_value {fill!r}")
        if dt.kind in ("S", "V"):
            return np.frombuffer(
                base64.standard_b64decode(fill).ljust(dt.itemsize, b"\x00"),
                dtype=dt,
            )[0]
        if dt.kind == "U":
            return dt.type(fill)
        raise ZarrError(f"bad fill_value {fill!r} for dtype {dt}")
    return dt.type(fill)


def _meta_from_dicts(adir: str, meta: dict, attrs: dict) -> dict:
    if meta.get("zarr_format") != 2:
        raise ZarrError(f"{adir}: zarr_format {meta.get('zarr_format')}")
    dt = _parse_dtype(meta["dtype"])
    order = meta.get("order", "C")
    if order not in ("C", "F"):
        raise ZarrError(f"{adir}: bad order {order!r}")
    sep = meta.get("dimension_separator", ".")
    if sep not in (".", "/"):
        raise ZarrError(f"{adir}: bad dimension_separator {sep!r}")
    return {
        "shape": tuple(int(s) for s in meta["shape"]),
        "chunks": tuple(int(c) for c in meta["chunks"]),
        "dtype": dt,
        "order": order,
        "sep": sep,
        "fill": _parse_fill(meta.get("fill_value"), dt),
        "compressor": meta.get("compressor"),
        "filters": meta.get("filters") or [],
        "attrs": attrs,
    }


def _load_array_meta(adir: str) -> dict:
    with open(os.path.join(adir, ".zarray"), "rb") as f:
        meta = json.loads(f.read())
    attrs = {}
    zattrs = os.path.join(adir, ".zattrs")
    if os.path.exists(zattrs):
        with open(zattrs, "rb") as f:
            attrs = json.loads(f.read())
    return _meta_from_dicts(adir, meta, attrs)


def read_consolidated_metadata(path: str) -> dict | None:
    """zarr v2 consolidated metadata (``.zmetadata``, the
    zarr-python/xarray convention): ONE JSON object holding every
    ``.zgroup``/``.zarray``/``.zattrs`` — at archive scale this is the
    difference between one GET and thousands when opening a store.
    Returns the ``metadata`` mapping, or None when absent."""
    p = os.path.join(path, ".zmetadata")
    if not os.path.exists(p):
        return None
    with open(p, "rb") as f:
        doc = json.loads(f.read())
    if doc.get("zarr_consolidated_format") != 1:
        raise ZarrError(
            f"{p}: zarr_consolidated_format "
            f"{doc.get('zarr_consolidated_format')}"
        )
    return doc.get("metadata", {})


# -- codecs --------------------------------------------------------------

def _blosc_decompress(buf: bytes, expect_nbytes: int | None = None) -> bytes:
    """Decode a c-blosc (BLOSC1) container — the default numcodecs
    compressor real-world zarr stores use, typically wrapping LZ4.

    Format per c-blosc's README_CHUNK_FORMAT.rst: 16-byte header
    (version, versionlz, flags, typesize, nbytes, blocksize, cbytes,
    all LE), then — unless the memcpy flag is set — one int32 start
    offset per block, then the blocks, each a sequence of streams
    prefixed by an int32 compressed size (a stream whose compressed
    size equals its uncompressed size is stored raw).

    Split handling is SELF-CHECKING rather than a re-implementation of
    c-blosc's split heuristic: a block is tried as one whole-block
    stream and as ``typesize`` split streams; LZ4 block decoding to an
    exact output size with exact input consumption disambiguates.  The
    byte-shuffle flag undoes numcodecs' shuffle per block.  Bit-shuffle
    and snappy are rejected loudly.  No blosc library exists in this
    environment to cross-validate against (disclosed, as with szip);
    the container layout is pinned by hand-built fixtures whose inner
    LZ4/zlib/zstd streams come from CLI-validated codecs.
    """
    from wrf_to_geodataframe_spark.sources.lz4 import (
        Lz4Error,
        lz4_block_decompress,
    )
    from wrf_to_geodataframe_spark.sources.zstd import (
        ZstdError,
        zstd_decompress,
    )

    if len(buf) < 16:
        raise ZarrError("blosc: truncated header")
    version, _versionlz, flags, typesize = buf[0], buf[1], buf[2], buf[3]
    nbytes, blocksize, cbytes = struct.unpack_from("<III", buf, 4)
    if version < 1 or version > 2:
        raise ZarrError(f"blosc: unsupported version {version}")
    if cbytes > len(buf):
        raise ZarrError("blosc: cbytes past end of buffer")
    if expect_nbytes is not None and nbytes != expect_nbytes:
        raise ZarrError(
            f"blosc: nbytes {nbytes} != expected {expect_nbytes}"
        )
    doshuffle = bool(flags & 0x01)
    memcpyed = bool(flags & 0x02)
    bitshuffle = bool(flags & 0x04)
    codec = (flags >> 5) & 0x07
    if bitshuffle:
        raise ZarrError("blosc: bit-shuffle not supported")
    if memcpyed:
        if len(buf) < 16 + nbytes:
            raise ZarrError("blosc: truncated memcpy payload")
        return bytes(buf[16:16 + nbytes])
    if blocksize == 0 or nbytes == 0:
        return b""
    nblocks = -(-nbytes // blocksize)
    starts = list(
        struct.unpack_from(f"<{nblocks}i", buf, 16)
    )
    out = bytearray()

    def _stream(pos: int, outsize: int) -> tuple[bytes, int]:
        (csize,) = struct.unpack_from("<i", buf, pos)
        pos += 4
        if csize < 0 or pos + csize > len(buf):
            raise ZarrError("blosc: bad stream size")
        raw = buf[pos:pos + csize]
        pos += csize
        if csize == outsize:
            return bytes(raw), pos
        if codec == 1 or codec == 2:  # lz4 / lz4hc (same block format)
            try:
                dec = lz4_block_decompress(bytes(raw), outsize)
            except Lz4Error as e:
                raise ZarrError(f"blosc: lz4 stream: {e}") from e
        elif codec == 4:  # zlib
            dec = zlib.decompress(bytes(raw))
        elif codec == 5:  # zstd
            try:
                dec = zstd_decompress(bytes(raw))
            except ZstdError as e:
                raise ZarrError(f"blosc: zstd stream: {e}") from e
        elif codec == 0:
            raise ZarrError("blosc: blosclz codec not supported")
        else:
            raise ZarrError(f"blosc: unsupported codec id {codec}")
        if len(dec) != outsize:
            raise ZarrError(
                f"blosc: stream decoded {len(dec)} != {outsize}"
            )
        return dec, pos

    for i in range(nblocks):
        pos = starts[i]
        neblock = min(blocksize, nbytes - i * blocksize)
        block = None
        # try whole-block stream first, then typesize-way split
        try:
            data, endpos = _stream(pos, neblock)
            block = data
        except (ZarrError, struct.error):
            block = None
        if block is None:
            if typesize < 2 or neblock % typesize:
                raise ZarrError(f"blosc: cannot decode block {i}")
            parts = []
            p = pos
            for _ in range(typesize):
                data, p = _stream(p, neblock // typesize)
                parts.append(data)
            block = b"".join(parts)
        if doshuffle and typesize > 1:
            whole = (neblock // typesize) * typesize
            arr = np.frombuffer(block[:whole], dtype="u1")
            arr = (
                arr.reshape(typesize, whole // typesize).T.reshape(whole)
            )
            block = arr.tobytes() + block[whole:]
        out += block
    if len(out) != nbytes:
        raise ZarrError(f"blosc: decoded {len(out)} != nbytes {nbytes}")
    return bytes(out)


def _decompress(raw: bytes, compressor, nbytes: int) -> bytes:
    if compressor is None:
        return raw
    cid = compressor.get("id")
    if cid == "zlib":
        return zlib.decompress(raw)
    if cid == "gzip":
        return zlib.decompress(raw, wbits=31)
    if cid == "bz2":
        return bz2.decompress(raw)
    if cid == "lzma":
        return lzma.decompress(raw)
    if cid == "zstd":
        from wrf_to_geodataframe_spark.sources.zstd import zstd_decompress

        return zstd_decompress(raw)
    if cid == "blosc":
        return _blosc_decompress(raw, expect_nbytes=nbytes)
    raise ZarrError(f"unsupported compressor {cid!r}")


def _compress(raw: bytes, compressor) -> bytes:
    if compressor is None:
        return raw
    cid = compressor.get("id")
    level = int(compressor.get("level", 6))
    if cid == "zlib":
        return zlib.compress(raw, level)
    if cid == "gzip":
        co = zlib.compressobj(level, zlib.DEFLATED, 31)
        return co.compress(raw) + co.flush()
    if cid == "bz2":
        return bz2.compress(raw, max(1, min(level, 9)))
    if cid == "lzma":
        return lzma.compress(raw)
    raise ZarrError(f"unsupported write compressor {cid!r}")


def _unfilter(raw: bytes, filters: list, dt: np.dtype) -> bytes:
    """Reverse the filter chain (decode order = reverse of encode)."""
    for flt in reversed(filters):
        fid = flt.get("id")
        if fid == "shuffle":
            es = int(flt.get("elementsize", dt.itemsize))
            if es > 1:
                whole = (len(raw) // es) * es
                arr = np.frombuffer(raw[:whole], dtype="u1")
                arr = arr.reshape(es, whole // es).T.reshape(whole)
                raw = arr.tobytes() + raw[whole:]
        elif fid == "delta":
            wdt = np.dtype(flt.get("dtype", dt.str))
            arr = np.frombuffer(raw, dtype=wdt)
            raw = np.cumsum(arr, dtype=wdt).astype(
                np.dtype(flt.get("astype", wdt.str))
            ).tobytes()
        else:
            raise ZarrError(f"unsupported filter {fid!r}")
    return raw


def _filter(raw: bytes, filters: list, dt: np.dtype) -> bytes:
    for flt in filters:
        fid = flt.get("id")
        if fid == "shuffle":
            es = int(flt.get("elementsize", dt.itemsize))
            if es > 1:
                whole = (len(raw) // es) * es
                arr = np.frombuffer(raw[:whole], dtype="u1")
                arr = arr.reshape(whole // es, es).T.reshape(whole)
                raw = arr.tobytes() + raw[whole:]
        elif fid == "delta":
            wdt = np.dtype(flt.get("dtype", dt.str))
            arr = np.frombuffer(raw, dtype=np.dtype(flt.get("astype", wdt.str))).astype(wdt)
            out = np.empty_like(arr)
            out[0:1] = arr[0:1]
            out[1:] = arr[1:] - arr[:-1]
            raw = out.tobytes()
        else:
            raise ZarrError(f"unsupported filter {fid!r}")
    return raw


def _decode_chunk(raw: bytes, meta: dict) -> np.ndarray:
    """Compressed chunk bytes -> full-size chunk ndarray (edge chunks
    are stored full-size per spec; the caller slices)."""
    cshape = meta["chunks"]
    dt = meta["dtype"]
    nbytes = int(np.prod(cshape, initial=1)) * dt.itemsize
    data = _decompress(raw, meta["compressor"], nbytes)
    data = _unfilter(data, meta["filters"], dt)
    if len(data) != nbytes:
        raise ZarrError(f"chunk decoded to {len(data)} bytes, want {nbytes}")
    arr = np.frombuffer(data, dtype=dt).reshape(cshape, order=meta["order"])
    return arr.astype(dt.newbyteorder("="), copy=False)


def _encode_chunk(arr: np.ndarray, meta: dict) -> bytes:
    raw = np.asarray(
        arr, dtype=meta["dtype"]
    ).tobytes(order=meta["order"])
    raw = _filter(raw, meta["filters"], meta["dtype"])
    return _compress(raw, meta["compressor"])


# -- driver-side store read/write ----------------------------------------

def _chunk_grid(shape, chunks):
    return tuple(-(-s // c) for s, c in zip(shape, chunks)) or (1,)


def _chunk_key(idx: tuple, sep: str, encoding: str = "v2") -> str:
    """Chunk object key: the v2 encoding (``0.1.2``; zarr v3's ``v2``
    chunk_key_encoding too) or zarr v3's ``default`` (``c/0/1/2``)."""
    if encoding == "default":
        return sep.join(["c", *(str(i) for i in idx)]) if idx else "c"
    if encoding != "v2":
        raise ZarrError(f"chunk key encoding {encoding!r}")
    return sep.join(str(i) for i in idx) if idx else "0"


def read_zarr_array(
    adir: str, meta: dict | None = None
) -> tuple[dict, np.ndarray]:
    """Read one zarr v2 array directory -> (meta, ndarray).  Missing
    chunks read as ``fill_value`` per spec.  ``meta`` may come from
    consolidated metadata (skips the per-array JSON reads)."""
    meta = meta or _load_array_meta(adir)
    shape, chunks = meta["shape"], meta["chunks"]
    out = np.full(shape if shape else (), meta["fill"],
                  dtype=meta["dtype"].newbyteorder("="))
    grid = _chunk_grid(shape, chunks)
    for idx in np.ndindex(*grid):
        key = _chunk_key(idx if shape else (), meta["sep"])
        cpath = os.path.join(adir, key)
        if not os.path.exists(cpath):
            continue
        with open(cpath, "rb") as f:
            carr = _decode_chunk(f.read(), meta)
        if not shape:
            out = carr.reshape(())
            continue
        sel = tuple(
            slice(i * c, min((i + 1) * c, s))
            for i, c, s in zip(idx, chunks, shape)
        )
        trim = tuple(slice(0, sl.stop - sl.start) for sl in sel)
        out[sel] = carr[trim]
    return meta, out


def read_zarr_store(path: str) -> dict:
    """Read a zarr v2 GROUP (one level, the xarray dataset layout) ->
    the same ``{attrs, variables: {name: {dims, attrs, data}}}`` shape
    ``read_netcdf`` returns, so every downstream unnest helper works
    unchanged.  Dims come from xarray's ``_ARRAY_DIMENSIONS``."""
    if not os.path.isdir(path):
        raise ZarrError(f"{path}: not a directory")
    cons = read_consolidated_metadata(path)
    if cons is not None:
        attrs = cons.get(".zattrs", {})
        entries = [
            (
                name,
                _meta_from_dicts(
                    name,
                    cons[f"{name}/.zarray"],
                    cons.get(f"{name}/.zattrs", {}),
                ),
            )
            for name in sorted(
                k.split("/")[0] for k in cons if k.endswith("/.zarray")
            )
        ]
    else:
        attrs = {}
        zattrs = os.path.join(path, ".zattrs")
        if os.path.exists(zattrs):
            with open(zattrs, "rb") as f:
                attrs = json.loads(f.read())
        entries = [
            (name, None)
            for name in sorted(os.listdir(path))
            if os.path.isdir(os.path.join(path, name))
            and os.path.exists(os.path.join(path, name, ".zarray"))
        ]
    variables = {}
    dims: dict[str, int] = {}
    for name, pre_meta in entries:
        adir = os.path.join(path, name)
        meta, data = read_zarr_array(adir, pre_meta)
        vdims = meta["attrs"].get(
            "_ARRAY_DIMENSIONS",
            [f"{name}_d{i}" for i in range(data.ndim)],
        )
        for d, s in zip(vdims, data.shape):
            dims[d] = int(s)
        variables[name] = {
            "dims": list(vdims),
            "attrs": {
                k: v
                for k, v in meta["attrs"].items()
                if k != "_ARRAY_DIMENSIONS"
            },
            "data": data,
        }
    return {"dims": dims, "attrs": attrs, "variables": variables}


def write_zarr(
    path: str,
    dims: dict[str, int],
    variables: dict[str, dict],
    attrs: dict | None = None,
    compressor: dict | None = {"id": "zlib", "level": 5},
    chunks: dict[str, tuple] | None = None,
    order: str = "C",
    dimension_separator: str = ".",
    filters: list | None = None,
    consolidated: bool = True,
) -> None:
    """Write a zarr v2 group (the S4 sink at cloud-archive shape;
    signature mirrors ``write_netcdf``).  ``variables``: name ->
    {dims: [names], data: ndarray}.  ``chunks`` optionally maps
    variable name -> chunk shape (default: one chunk per array).
    Writes xarray's ``_ARRAY_DIMENSIONS`` so the store round-trips
    through xarray/zarr-python unchanged, and (``consolidated``)
    the ``.zmetadata`` single-GET metadata document."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)
    if attrs:
        with open(os.path.join(path, ".zattrs"), "w") as f:
            json.dump(attrs, f)
    for name, spec in variables.items():
        arr = np.asarray(spec["data"])
        vdims = list(spec["dims"])
        cshape = tuple((chunks or {}).get(name) or arr.shape or (1,))
        _write_zarr_array(
            os.path.join(path, name),
            arr,
            vdims,
            cshape,
            compressor,
            order,
            dimension_separator,
            filters or [],
            var_attrs=spec.get("attrs"),
        )
    if consolidated:
        md: dict = {".zgroup": {"zarr_format": 2}}
        if attrs:
            md[".zattrs"] = attrs
        for name in variables:
            for suffix in (".zarray", ".zattrs"):
                p = os.path.join(path, name, suffix)
                if os.path.exists(p):
                    with open(p, "rb") as f:
                        md[f"{name}/{suffix}"] = json.loads(f.read())
        with open(os.path.join(path, ".zmetadata"), "w") as f:
            json.dump(
                {"zarr_consolidated_format": 1, "metadata": md}, f
            )


def _json_fill(fill, dt: np.dtype):
    if dt.kind == "f":
        f = float(fill)
        if math.isnan(f):
            return "NaN"
        if math.isinf(f):
            return "Infinity" if f > 0 else "-Infinity"
        return f
    if dt.kind in ("S", "V"):
        return base64.standard_b64encode(bytes(fill)).decode()
    if dt.kind in ("i", "u"):
        return int(fill)
    if dt.kind == "b":
        return bool(fill)
    return fill


def _write_zarr_array(
    adir: str,
    arr: np.ndarray,
    vdims: list,
    cshape: tuple,
    compressor,
    order: str,
    sep: str,
    filters: list,
    fill=0,
    var_attrs: dict | None = None,
) -> None:
    os.makedirs(adir, exist_ok=True)
    dt = arr.dtype.newbyteorder("<") if arr.dtype.byteorder != "|" else arr.dtype
    meta = {
        "zarr_format": 2,
        "shape": [int(s) for s in arr.shape],
        "chunks": [int(c) for c in cshape],
        "dtype": dt.str,
        "compressor": compressor,
        "fill_value": _json_fill(np.zeros((), dt)[()] if fill == 0 else fill, dt),
        "order": order,
        "filters": filters or None,
        "dimension_separator": sep,
    }
    with open(os.path.join(adir, ".zarray"), "w") as f:
        json.dump(meta, f)
    zattrs = dict(var_attrs or {})
    zattrs["_ARRAY_DIMENSIONS"] = list(vdims)
    with open(os.path.join(adir, ".zattrs"), "w") as f:
        json.dump(zattrs, f)
    emeta = {
        "chunks": tuple(int(c) for c in cshape),
        "dtype": dt,
        "order": order,
        "compressor": compressor,
        "filters": filters or [],
    }
    grid = _chunk_grid(arr.shape, cshape)
    fill_scalar = _parse_fill(meta["fill_value"], dt)
    for idx in np.ndindex(*grid):
        if arr.shape:
            sel = tuple(
                slice(i * c, min((i + 1) * c, s))
                for i, c, s in zip(idx, cshape, arr.shape)
            )
            part = arr[sel]
            if part.shape != emeta["chunks"]:
                full = np.full(emeta["chunks"], fill_scalar, dtype=dt)
                full[tuple(slice(0, n) for n in part.shape)] = part
                part = full
        else:
            part = arr.reshape(1)[:1].reshape(emeta["chunks"] or (1,))
        key = _chunk_key(idx if arr.shape else (), sep)
        if sep == "/" and "/" in key:
            os.makedirs(
                os.path.dirname(os.path.join(adir, key)), exist_ok=True
            )
        with open(os.path.join(adir, key), "wb") as f:
            f.write(_encode_chunk(part, emeta))


# -- Spark surfaces ------------------------------------------------------

def read_zarr_grid(
    spark,
    path: str,
    var: str,
    lat_var: str,
    lon_var: str,
    time_index: int | None = None,
):
    """Driver-side S1 ingest of a zarr store -> the engine's long
    table with explicit (y_idx, x_idx) keys (same contract as
    ``read_netcdf_grid``)."""
    import pandas as pd

    from wrf_to_geodataframe_spark.sources.netcdf import _unnest_grid

    ds = read_zarr_store(path)
    frames = list(_unnest_grid(ds, var, lat_var, lon_var, time_index))
    pdf = pd.concat(frames, ignore_index=True).drop(columns=["t_idx"])
    return spark.createDataFrame(pdf)


def read_zarr_dist(
    spark,
    path: str,
    var: str,
    lat_var: str,
    lon_var: str,
    time_index: int | None = None,
):
    """Chunk-parallel distributed S1 scan of a zarr store — the 100-TB
    path.  The driver reads ONLY the ``.zarray`` JSON (bytes, not
    data) plus the small coordinate arrays (broadcast once); the chunk
    manifest is pure arithmetic over the chunk grid (no listing), and
    each executor task opens exactly its own chunk objects.  Missing
    chunks yield ``fill_value`` cells, per spec; CF packing attributes
    in ``.zattrs`` are decoded executor-side, as xarray does.

    Emits (chunk_key, t_idx, y_idx, x_idx, lat, lon, value).  Requires
    a path every executor can open (local mode, NFS/Lustre — or an
    object-store mount; chunk objects are independent, so there is no
    cross-task coordination of any kind).  The scan itself is the
    shared kernel in ``sources/chunkscan.py``."""
    from wrf_to_geodataframe_spark.sources.chunkscan import (
        grid_coords,
        scan_chunks,
    )

    adir = os.path.join(path, var)
    meta = _load_array_meta(adir)
    lm, lat = read_zarr_array(os.path.join(path, lat_var))
    om, lon = read_zarr_array(os.path.join(path, lon_var))

    def _decode(m, rows):
        for row in rows:
            cpath = os.path.join(adir, row.key)
            if not os.path.exists(cpath):
                yield row, None
                continue
            with open(cpath, "rb") as f:
                yield row, _decode_chunk(f.read(), m)

    return scan_chunks(
        spark, var, meta, grid_coords(lat, lm["attrs"], lon, om["attrs"]),
        time_index, "key string",
        lambda idx: (_chunk_key(idx, meta["sep"]),), _decode, keyed=True,
    )

