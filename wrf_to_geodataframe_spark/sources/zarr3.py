"""Zarr v3 store scan + sink (SURVEY.md §2 S1/S4, cloud-archive shape
— the CURRENT zarr spec, ZEP 1/2).

Companion to the v2 implementation (sources/zarr.py); pure
python/numpy over the public zarr v3 core + sharding specs:

* ``zarr.json`` node metadata (group / array), regular chunk grid,
  ``default`` ("c/1/0"-style) and ``v2`` chunk-key encodings, any
  separator, ``dimension_names`` (v3's native replacement for
  xarray's ``_ARRAY_DIMENSIONS``).
* Codec pipelines: ``transpose`` (array->array), ``bytes`` (endian,
  array->bytes), ``gzip`` / ``zstd`` (from-scratch RFC 8878 decoder,
  sources/zstd.py) / ``blosc`` (container decode over the
  from-scratch LZ4, sources/zarr.py) / ``crc32c`` (bytes->bytes;
  Castagnoli CRC verified on read).
* **``sharding_indexed``** — the v3 scale feature: one storage object
  packs a grid of inner chunks plus a (offset, nbytes) uint64 index
  at the object's start or end.  At 100 TB this is what makes object
  counts sane (thousands of chunks per object) while keeping
  byte-range parallel reads — the engine's distributed scan
  (``read_zarr3_dist``) hands each executor task one SHARD and the
  task range-decodes its inner chunks locally.

Write side: ``write_zarr3`` emits gzip (or raw) ``bytes``-codec
arrays, optionally sharded with a crc32c-protected end-located index
— readable by zarr-python 3.  No zarr implementation exists in this
container; correctness rests on spec goldens + round-trip fuzz
(tests/test_zarr3.py), with crc32c pinned to its published test
vectors.
"""

from __future__ import annotations

import json
import math
import os
import struct
import zlib

import numpy as np

from wrf_to_geodataframe_spark.sources.zarr import (
    ZarrError,
    _blosc_decompress,
    _chunk_key,
    _parse_fill,
)

__all__ = [
    "crc32c",
    "read_zarr3_array",
    "read_zarr3_store",
    "write_zarr3",
    "read_zarr3_dist",
]

_DTYPES = {
    "bool": "|b1",
    "int8": "|i1", "int16": "<i2", "int32": "<i4", "int64": "<i8",
    "uint8": "|u1", "uint16": "<u2", "uint32": "<u4", "uint64": "<u8",
    "float16": "<f2", "float32": "<f4", "float64": "<f8",
}
_DTYPE_NAMES = {np.dtype(v): k for k, v in _DTYPES.items()}

_CRC_TABLE = None


def _crc_table():
    global _CRC_TABLE
    if _CRC_TABLE is None:
        poly = 0x82F63B78  # reflected Castagnoli
        tbl = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ poly if c & 1 else c >> 1
            tbl.append(c)
        _CRC_TABLE = tbl
    return _CRC_TABLE


def crc32c(data: bytes, crc: int = 0) -> int:
    """CRC-32C (Castagnoli) — the v3 ``crc32c`` codec checksum."""
    tbl = _crc_table()
    c = crc ^ 0xFFFFFFFF
    for b in data:
        c = tbl[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def _json_fill(fill, dt: np.dtype):
    if dt.kind == "f":
        f = float(fill)
        if math.isnan(f):
            return "NaN"
        if math.isinf(f):
            return "Infinity" if f > 0 else "-Infinity"
        return f
    if dt.kind == "b":
        return bool(fill)
    return int(fill)


def _load_meta(adir: str) -> dict:
    p = os.path.join(adir, "zarr.json")
    with open(p, "rb") as f:
        meta = json.loads(f.read())
    if meta.get("zarr_format") != 3:
        raise ZarrError(f"{p}: zarr_format {meta.get('zarr_format')}")
    return meta


def _array_meta(adir: str) -> dict:
    meta = _load_meta(adir)
    if meta.get("node_type") != "array":
        raise ZarrError(f"{adir}: not an array node")
    dts = meta["data_type"]
    if dts not in _DTYPES:
        raise ZarrError(f"{adir}: data_type {dts!r} not supported")
    dt = np.dtype(_DTYPES[dts])
    grid = meta["chunk_grid"]
    if grid.get("name") != "regular":
        raise ZarrError(f"{adir}: chunk grid {grid.get('name')!r}")
    chunks = tuple(int(c) for c in grid["configuration"]["chunk_shape"])
    cke = meta.get(
        "chunk_key_encoding",
        {"name": "default", "configuration": {"separator": "/"}},
    )
    return {
        "shape": tuple(int(s) for s in meta["shape"]),
        "chunks": chunks,
        "dtype": dt,
        "fill": _parse_fill(meta.get("fill_value"), dt),
        "codecs": meta.get("codecs") or [
            {"name": "bytes", "configuration": {"endian": "little"}}
        ],
        "key_name": cke.get("name", "default"),
        "key_sep": cke.get("configuration", {}).get(
            "separator", "/" if cke.get("name", "default") == "default"
            else "."
        ),
        "dimension_names": meta.get("dimension_names"),
        "attrs": meta.get("attributes", {}),
    }


# -- codec pipeline ------------------------------------------------------

def _split_codecs(codecs: list) -> tuple[list, dict, list]:
    """-> (array->array list, the bytes codec, bytes->bytes list)."""
    aa, ab, bb = [], None, []
    for c in codecs:
        name = c.get("name")
        if name == "transpose":
            if ab is not None:
                raise ZarrError("transpose after bytes codec")
            aa.append(c)
        elif name in ("bytes", "endian"):
            if ab is not None:
                raise ZarrError("two array->bytes codecs")
            ab = c
        elif name == "sharding_indexed":
            raise ZarrError("nested sharding handled by caller")
        else:
            if ab is None:
                raise ZarrError(f"unknown array->array codec {name!r}")
            bb.append(c)
    if ab is None:
        raise ZarrError("codec pipeline has no bytes codec")
    return aa, ab, bb


def _decode_bb(raw: bytes, codec: dict) -> bytes:
    name = codec.get("name")
    cfg = codec.get("configuration") or {}
    if name == "gzip":
        return zlib.decompress(raw, wbits=31)
    if name == "zlib":
        return zlib.decompress(raw)
    if name == "zstd":
        from wrf_to_geodataframe_spark.sources.zstd import zstd_decompress

        return zstd_decompress(raw)
    if name == "blosc":
        return _blosc_decompress(raw)
    if name == "crc32c":
        if len(raw) < 4:
            raise ZarrError("crc32c codec: short payload")
        body, stored = raw[:-4], struct.unpack("<I", raw[-4:])[0]
        if crc32c(body) != stored:
            raise ZarrError("crc32c mismatch")
        return body
    raise ZarrError(f"unknown bytes->bytes codec {name!r}")


def _encode_bb(raw: bytes, codec: dict) -> bytes:
    name = codec.get("name")
    cfg = codec.get("configuration") or {}
    if name == "gzip":
        co = zlib.compressobj(int(cfg.get("level", 5)), zlib.DEFLATED, 31)
        return co.compress(raw) + co.flush()
    if name == "zlib":
        return zlib.compress(raw, int(cfg.get("level", 5)))
    if name == "crc32c":
        return raw + struct.pack("<I", crc32c(raw))
    raise ZarrError(f"unsupported write codec {name!r}")


def _decode_chunk(raw: bytes, meta: dict, cshape: tuple) -> np.ndarray:
    aa, ab, bb = _split_codecs(meta["codecs"])
    for codec in reversed(bb):
        raw = _decode_bb(raw, codec)
    endian = (ab.get("configuration") or {}).get("endian", "little")
    dt = meta["dtype"].newbyteorder("<" if endian == "little" else ">")
    n = int(np.prod(cshape, initial=1))
    if len(raw) < n * dt.itemsize:
        raise ZarrError(
            f"chunk decoded to {len(raw)} bytes, want {n * dt.itemsize}"
        )
    arr = np.frombuffer(raw, dt, count=n)
    # array->array codecs undone in reverse
    shape = cshape
    for codec in reversed(aa):
        if codec["name"] == "transpose":
            order = tuple(codec["configuration"]["order"])
            t_shape = tuple(cshape[o] for o in order)
            arr = arr.reshape(t_shape).transpose(
                tuple(np.argsort(order))
            )
            return np.ascontiguousarray(arr).astype(
                meta["dtype"].newbyteorder("="), copy=False
            )
    return arr.reshape(shape).astype(
        meta["dtype"].newbyteorder("="), copy=False
    )


def _encode_chunk(arr: np.ndarray, meta: dict) -> bytes:
    aa, ab, bb = _split_codecs(meta["codecs"])
    if aa:
        raise ZarrError("write path does not emit transpose codecs")
    endian = (ab.get("configuration") or {}).get("endian", "little")
    dt = meta["dtype"].newbyteorder("<" if endian == "little" else ">")
    raw = np.ascontiguousarray(arr, dtype=dt).tobytes()
    for codec in bb:
        raw = _encode_bb(raw, codec)
    return raw


# -- sharding ------------------------------------------------------------

def _shard_layout(meta: dict) -> dict | None:
    """When the TOP-LEVEL codec is sharding_indexed, return its
    configuration (inner chunk shape, inner codecs, index codecs,
    index location); else None."""
    codecs = meta["codecs"]
    if len(codecs) == 1 and codecs[0].get("name") == "sharding_indexed":
        cfg = codecs[0].get("configuration") or {}
        return {
            "inner": tuple(int(c) for c in cfg["chunk_shape"]),
            "codecs": cfg.get("codecs") or [
                {"name": "bytes", "configuration": {"endian": "little"}}
            ],
            "index_codecs": cfg.get("index_codecs") or [
                {"name": "bytes", "configuration": {"endian": "little"}},
                {"name": "crc32c"},
            ],
            "index_location": cfg.get("index_location", "end"),
        }
    return None


def _decode_shard_index(blob: bytes, n_inner: int, shard: dict
                        ) -> np.ndarray:
    """-> (n_inner, 2) uint64 [offset, nbytes]; 2^64-1 = missing."""
    idx_bytes = n_inner * 16
    for c in shard["index_codecs"]:
        if c.get("name") == "crc32c":
            idx_bytes += 4
    raw = (
        blob[-idx_bytes:] if shard["index_location"] == "end"
        else blob[:idx_bytes]
    )
    for codec in reversed(
        [c for c in shard["index_codecs"] if c.get("name") != "bytes"]
    ):
        raw = _decode_bb(raw, codec)
    bcodec = next(
        (c for c in shard["index_codecs"] if c.get("name") == "bytes"),
        {"configuration": {"endian": "little"}},
    )
    endian = (bcodec.get("configuration") or {}).get("endian", "little")
    dt = np.dtype("u8").newbyteorder("<" if endian == "little" else ">")
    return np.frombuffer(raw, dt, count=n_inner * 2).reshape(n_inner, 2)


_MISSING = (1 << 64) - 1


def _read_shard(blob: bytes, meta: dict, shard: dict,
                shard_cshape: tuple) -> np.ndarray:
    """Decode one shard object -> full shard-sized ndarray (missing
    inner chunks filled)."""
    inner = shard["inner"]
    grid = tuple(s // i for s, i in zip(shard_cshape, inner))
    n_inner = int(np.prod(grid, initial=1))
    index = _decode_shard_index(blob, n_inner, shard)
    out = np.full(
        shard_cshape, meta["fill"],
        dtype=meta["dtype"].newbyteorder("="),
    )
    imeta = dict(meta, codecs=shard["codecs"])
    for k, idx in enumerate(np.ndindex(*grid)):
        off, nb = int(index[k, 0]), int(index[k, 1])
        if off == _MISSING and nb == _MISSING:
            continue
        if off + nb > len(blob):
            raise ZarrError("shard index points past object end")
        carr = _decode_chunk(blob[off:off + nb], imeta, inner)
        sel = tuple(
            slice(i * c, (i + 1) * c) for i, c in zip(idx, inner)
        )
        out[sel] = carr
    return out


# -- store read ----------------------------------------------------------

def read_zarr3_array(adir: str) -> tuple[dict, np.ndarray]:
    meta = _array_meta(adir)
    shape, chunks = meta["shape"], meta["chunks"]
    shard = _shard_layout(meta)
    out = np.full(
        shape if shape else (), meta["fill"],
        dtype=meta["dtype"].newbyteorder("="),
    )
    grid = tuple(-(-s // c) for s, c in zip(shape, chunks)) or (1,)
    for idx in np.ndindex(*grid):
        key = _chunk_key(
            idx if shape else (), meta["key_sep"], meta["key_name"]
        )
        cpath = os.path.join(adir, key.replace("/", os.sep))
        if not os.path.exists(cpath):
            continue
        with open(cpath, "rb") as f:
            blob = f.read()
        if shard is not None:
            carr = _read_shard(blob, meta, shard, chunks)
        else:
            carr = _decode_chunk(blob, meta, chunks)
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


def read_zarr3_store(path: str) -> dict:
    """Read a zarr v3 group -> the engine's ``{dims, attrs,
    variables}`` dataset dict (same shape as the v2/NetCDF readers);
    dims resolved from ``dimension_names``."""
    root = _load_meta(path)
    if root.get("node_type") != "group":
        raise ZarrError(f"{path}: root is not a group")
    attrs = root.get("attributes", {})
    variables = {}
    dims: dict[str, int] = {}
    for name in sorted(os.listdir(path)):
        adir = os.path.join(path, name)
        if not os.path.isdir(adir):
            continue
        if not os.path.exists(os.path.join(adir, "zarr.json")):
            continue
        meta, data = read_zarr3_array(adir)
        vdims = meta["dimension_names"] or [
            f"{name}_d{i}" for i in range(data.ndim)
        ]
        for d, s in zip(vdims, data.shape):
            dims[d] = int(s)
        variables[name] = {
            "dims": list(vdims),
            "attrs": meta["attrs"],
            "data": data,
        }
    return {"dims": dims, "attrs": attrs, "variables": variables}


# -- store write ---------------------------------------------------------

def write_zarr3(
    path: str,
    dims: dict[str, int],
    variables: dict[str, dict],
    attrs: dict | None = None,
    chunks: dict[str, tuple] | None = None,
    shards: dict[str, tuple] | None = None,
    compressor: str | None = "gzip",
    separator: str = "/",
) -> None:
    """Write a zarr v3 group (same call shape as ``write_zarr``).
    ``chunks[name]`` sets the (inner) chunk shape; when
    ``shards[name]`` is given it becomes the SHARD shape (a multiple
    of the chunk shape) and the array is stored through
    ``sharding_indexed`` with a crc32c-protected end-located index —
    the scale layout.  ``compressor``: "gzip", "zlib", or None."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "zarr.json"), "w") as f:
        json.dump(
            {
                "zarr_format": 3,
                "node_type": "group",
                "attributes": attrs or {},
            },
            f,
        )
    for name, spec in variables.items():
        arr = np.asarray(spec["data"])
        _write_array(
            os.path.join(path, name), arr, list(spec["dims"]),
            (chunks or {}).get(name) or arr.shape or (1,),
            (shards or {}).get(name),
            compressor, separator, spec.get("attrs"),
        )


def _codec_list(compressor: str | None) -> list:
    codecs = [{"name": "bytes", "configuration": {"endian": "little"}}]
    if compressor == "gzip":
        codecs.append({"name": "gzip", "configuration": {"level": 5}})
    elif compressor == "zlib":
        codecs.append({"name": "zlib", "configuration": {"level": 5}})
    elif compressor is not None:
        raise ZarrError(f"write compressor {compressor!r}")
    return codecs


def _meta_dict(shape, cshape, sshape, dt, vdims, separator, compressor,
               var_attrs, fill):
    """Build the array ``zarr.json`` dict (shared by the driver and
    distributed writers).  Returns (meta, store_cshape) where
    store_cshape is the chunk-grid unit — the SHARD shape when
    sharded."""
    if dt not in _DTYPE_NAMES:
        raise ZarrError(f"dtype {dt} has no v3 name")
    cshape = tuple(int(c) for c in cshape)
    inner_codecs = _codec_list(compressor)
    if sshape is not None:
        sshape = tuple(int(s) for s in sshape)
        if any(s % c for s, c in zip(sshape, cshape)):
            raise ZarrError("shard shape must be a chunk-shape multiple")
        codecs = [
            {
                "name": "sharding_indexed",
                "configuration": {
                    "chunk_shape": list(cshape),
                    "codecs": inner_codecs,
                    "index_codecs": [
                        {
                            "name": "bytes",
                            "configuration": {"endian": "little"},
                        },
                        {"name": "crc32c"},
                    ],
                    "index_location": "end",
                },
            }
        ]
        store_cshape = sshape
    else:
        codecs = inner_codecs
        store_cshape = cshape
    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": [int(s) for s in shape],
        "data_type": _DTYPE_NAMES[dt],
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": list(store_cshape)},
        },
        "chunk_key_encoding": {
            "name": "default",
            "configuration": {"separator": separator},
        },
        "fill_value": _json_fill(fill, dt),
        "codecs": codecs,
        "attributes": var_attrs or {},
        "dimension_names": list(vdims),
    }
    return meta, store_cshape


def _write_array(adir, arr, vdims, cshape, sshape, compressor,
                 separator, var_attrs):
    os.makedirs(adir, exist_ok=True)
    dt = arr.dtype.newbyteorder("<") if arr.dtype.byteorder != "|" \
        else arr.dtype
    fill = np.zeros((), dt)[()]
    meta, store_cshape = _meta_dict(
        arr.shape, cshape, sshape, dt, vdims, separator, compressor,
        var_attrs, fill,
    )
    cshape = tuple(int(c) for c in cshape)
    if sshape is not None:
        sshape = tuple(int(s) for s in sshape)
    inner_codecs = _codec_list(compressor)
    with open(os.path.join(adir, "zarr.json"), "w") as f:
        json.dump(meta, f)
    emeta = {"dtype": dt, "codecs": inner_codecs}
    grid = tuple(
        -(-s // c) for s, c in zip(arr.shape, store_cshape)
    ) or (1,)
    for idx in np.ndindex(*grid):
        if arr.shape:
            sel = tuple(
                slice(i * c, min((i + 1) * c, s))
                for i, c, s in zip(idx, store_cshape, arr.shape)
            )
            part = arr[sel]
            if part.shape != store_cshape:
                full = np.full(store_cshape, fill, dtype=dt)
                full[tuple(slice(0, n) for n in part.shape)] = part
                part = full
        else:
            part = arr.reshape(store_cshape or (1,))
        if sshape is not None:
            blob = _encode_shard(part, cshape, emeta)
        else:
            blob = _encode_chunk(part, emeta)
        key = _chunk_key(idx if arr.shape else (), separator, "default")
        cpath = os.path.join(adir, key.replace("/", os.sep))
        os.makedirs(os.path.dirname(cpath), exist_ok=True)
        with open(cpath, "wb") as f:
            f.write(blob)


def _encode_shard(part: np.ndarray, inner: tuple, emeta: dict) -> bytes:
    grid = tuple(s // i for s, i in zip(part.shape, inner))
    n_inner = int(np.prod(grid, initial=1))
    body = bytearray()
    index = np.empty((n_inner, 2), dtype="<u8")
    for k, idx in enumerate(np.ndindex(*grid)):
        sel = tuple(
            slice(i * c, (i + 1) * c) for i, c in zip(idx, inner)
        )
        blob = _encode_chunk(part[sel], emeta)
        index[k] = (len(body), len(blob))
        body += blob
    raw = index.tobytes()
    raw += struct.pack("<I", crc32c(raw))
    return bytes(body) + raw


# -- Spark surface -------------------------------------------------------

def read_zarr3_dist(
    spark,
    path: str,
    var: str,
    lat_var: str,
    lon_var: str,
    time_index: int | None = None,
):
    """Shard-parallel distributed scan of a zarr v3 store: one task
    per storage object (a SHARD when sharding_indexed is in play — the
    task decodes the object's index and its inner chunks locally,
    byte-range style; a plain chunk otherwise).  Manifest by
    arithmetic from ``zarr.json`` (pruned to the objects holding
    ``time_index``); coords broadcast once.  Emits the same
    (chunk_key, t_idx, y_idx, x_idx, lat, lon, value) table as the v2
    scan, through the same kernel (``sources/chunkscan.py``)."""
    from wrf_to_geodataframe_spark.sources.chunkscan import (
        grid_coords,
        scan_chunks,
    )

    adir = os.path.join(path, var)
    meta = _array_meta(adir)
    lm, lat = read_zarr3_array(os.path.join(path, lat_var))
    om, lon = read_zarr3_array(os.path.join(path, lon_var))

    def _decode(m, rows):
        shard = _shard_layout(m)
        for row in rows:
            cpath = os.path.join(adir, row.chunk_key.replace("/", os.sep))
            if not os.path.exists(cpath):
                yield row, None
                continue
            with open(cpath, "rb") as f:
                blob = f.read()
            if shard is not None:
                yield row, _read_shard(blob, m, shard, m["chunks"])
            else:
                yield row, _decode_chunk(blob, m, m["chunks"])

    return scan_chunks(
        spark, var, meta, grid_coords(lat, lm["attrs"], lon, om["attrs"]),
        time_index, "chunk_key string",
        lambda idx: (_chunk_key(idx, meta["key_sep"], meta["key_name"]),),
        _decode,
    )
