"""NumPy ``.npy`` source+sink — the de-facto exchange format
embedding dumps and model activations arrive in (the `embeddings`
side-channel of the LLM-pipeline brief).

From-scratch implementation of the NPY format spec (versions 1.0/2.0/
3.0: magic, little-endian header length u2/u4, Python-literal header
dict with ``descr``/``fortran_order``/``shape``).  numpy itself is the
in-container validator: every test round-trips BOTH directions against
``np.save``/``np.load`` (the codec-interop discipline, cf.
tests/test_png_interop.py).

Distributed scan: ``read_npy_dir``, one task per shard file (the
``np.save``-per-worker layout embedding jobs emit).
"""

from __future__ import annotations

import ast
import glob
import os
import struct

import numpy as np

_MAGIC = b"\x93NUMPY"

__all__ = [
    "npy_info",
    "read_npy",
    "read_npy_bytes",
    "read_npy_dir",
    "write_npy",
]


def npy_info(buf: bytes, name: str = "<bytes>") -> dict:
    """Parse the NPY header -> {dtype (np.dtype), shape, fortran,
    offset (first data byte)} without touching the data."""
    if len(buf) < 10 or buf[:6] != _MAGIC:
        raise ValueError(f"{name}: not an NPY file")
    major = buf[6]
    if major == 1:
        (hlen,) = struct.unpack_from("<H", buf, 8)
        off = 10 + hlen
    elif major in (2, 3):
        if len(buf) < 12:
            raise ValueError(f"{name}: truncated NPY header")
        (hlen,) = struct.unpack_from("<I", buf, 8)
        off = 12 + hlen
    else:
        raise ValueError(f"{name}: NPY version {major} unsupported")
    if len(buf) < off:
        raise ValueError(f"{name}: truncated NPY header")
    header = buf[off - hlen:off].decode(
        "latin1" if major < 3 else "utf-8"
    )
    try:
        meta = ast.literal_eval(header)
    except (ValueError, SyntaxError) as e:
        raise ValueError(f"{name}: bad NPY header: {e}") from e
    descr = meta["descr"]
    if not isinstance(descr, str):
        raise ValueError(f"{name}: structured dtypes unsupported")
    return {
        "dtype": np.dtype(descr),
        "shape": tuple(int(s) for s in meta["shape"]),
        "fortran": bool(meta["fortran_order"]),
        "offset": off,
    }


def read_npy_bytes(buf: bytes, name: str = "<bytes>") -> np.ndarray:
    info = npy_info(buf, name)
    n = int(np.prod(info["shape"], initial=1))
    arr = np.frombuffer(buf, info["dtype"], count=n, offset=info["offset"])
    order = "F" if info["fortran"] else "C"
    return arr.reshape(info["shape"], order=order)


def read_npy(path: str) -> np.ndarray:
    with open(path, "rb") as f:
        return np.array(read_npy_bytes(f.read(), path))


def write_npy(path: str, arr: np.ndarray) -> None:
    """Version-1.0 writer (header < 64 KiB covers any sane shape);
    little-endian data like np.save's default on this platform."""
    # asarray(order="C"), not ascontiguousarray: the latter promotes
    # 0-d scalars to shape (1,)
    arr = np.asarray(arr, order="C")
    dt = arr.dtype.newbyteorder("<") if arr.dtype.byteorder == ">" else arr.dtype
    arr = arr.astype(dt, copy=False)
    descr = arr.dtype.str if arr.dtype.byteorder != "=" else (
        "<" + arr.dtype.str.lstrip("=<>|")
        if arr.dtype.itemsize > 1 else arr.dtype.str
    )
    header = (
        "{'descr': %r, 'fortran_order': False, 'shape': %r, }"
        % (descr, tuple(arr.shape))
    )
    pad = -(len(_MAGIC) + 4 + len(header) + 1) % 64
    header = header + " " * pad + "\n"
    with open(path, "wb") as f:
        f.write(_MAGIC + bytes([1, 0]))
        f.write(struct.pack("<H", len(header)))
        f.write(header.encode("latin1"))
        f.write(arr.tobytes())


def _emit_rows(arr: np.ndarray, fname: str, base: int):
    import pandas as pd

    if arr.ndim != 2:
        raise ValueError(f"{fname}: expected 2-D (n, d), got {arr.shape}")
    return pd.DataFrame(
        {
            "file": fname,
            "row_idx": np.arange(base, base + arr.shape[0], dtype="int64"),
            "embedding": list(arr.astype("float64")),
        }
    )


_SCHEMA = "file string, row_idx long, embedding array<double>"


def read_npy_dir(spark, src: str | list[str], pattern: str = "*.npy"):
    """Distributed scan of a directory of 2-D ``.npy`` shards -> (file,
    row_idx, embedding) — one task per shard, executor-side header
    parse + decode (no numpy-I/O on the driver)."""
    files = (
        sorted(glob.glob(os.path.join(src, pattern)))
        if isinstance(src, str)
        else list(src)
    )
    if not files:
        raise ValueError(f"no npy files under {src!r}")
    sc = spark.sparkContext
    fdf = spark.createDataFrame(
        [(p,) for p in files], "path string"
    ).repartition(max(1, min(len(files), sc.defaultParallelism * 2)))

    def _scan(it):
        for pdf in it:
            for row in pdf.itertuples(index=False):
                yield _emit_rows(read_npy(row.path), row.path, 0)

    return fdf.mapInPandas(_scan, _SCHEMA)

