"""The one chunk-parallel scan kernel behind every chunked-array source
(zarr v2 chunks, zarr v3 shards, NetCDF-4/HDF5 chunks).

A chunked (t, y, x) or (y, x) variable becomes the engine's long table
(t_idx, y_idx, x_idx, lat, lon, value) the same way whatever the
container:

1. the driver CF-scales the small coordinate arrays, broadcasts them
   to 2-D (rectilinear 1-D axes are meshed) and ships them with the
   array metadata in ONE broadcast;
2. the chunk manifest is pure chunk-grid arithmetic — one row per
   chunk origin, pruned to the chunks holding ``time_index`` — and is
   spread over ``min(n, 2 * defaultParallelism)`` tasks;
3. each executor task decodes its chunks (the only per-format step),
   CF mask-and-scales them, clips edge chunks to the array shape and
   emits one long frame per time slice.

A format supplies only ``locate`` (chunk index -> manifest fields,
driver side) and ``decode`` (manifest rows -> decoded chunk arrays,
executor side).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "check_grid",
    "chunk_frames",
    "chunk_origin",
    "chunk_schema",
    "grid_coords",
    "scan_chunks",
]


def grid_coords(lat, lat_attrs: dict, lon, lon_attrs: dict):
    """CF-decoded (lat, lon) as 2-D float64 arrays (1-D rectilinear
    axes broadcast by meshgrid)."""
    from wrf_to_geodataframe_spark.sources.netcdf import cf_mask_and_scale

    lat = np.asarray(cf_mask_and_scale(lat, lat_attrs or {}), "float64")
    lon = np.asarray(cf_mask_and_scale(lon, lon_attrs or {}), "float64")
    if lat.ndim == 1 and lon.ndim == 1:
        lon, lat = np.meshgrid(lon, lat)
    return lat, lon


def check_grid(var: str, shape, time_index: int | None = None) -> None:
    """Named errors for a variable that is not (t, y, x) or (y, x),
    and for a ``time_index`` outside a (t, y, x) variable's time axis
    (2-D variables ignore ``time_index``)."""
    if len(shape) not in (2, 3):
        raise ValueError(f"{var}: expected (t,y,x) or (y,x), got {shape}")
    if time_index is not None and len(shape) == 3 and not (
        0 <= time_index < shape[0]
    ):
        raise ValueError(
            f"{var}: time_index {time_index} out of range; valid "
            f"indices are 0..{shape[0] - 1}"
        )


def chunk_schema(keyed: bool):
    """([chunk_key,] t_idx, y_idx, x_idx, lat, lon, value)."""
    return StructType(
        ([StructField("chunk_key", StringType())] if keyed else [])
        + [StructField(c, LongType()) for c in ("t_idx", "y_idx", "x_idx")]
        + [StructField(c, DoubleType()) for c in ("lat", "lon", "value")]
    )


def chunk_origin(idx, chunks) -> tuple:
    """(t0, y0, x0) cell origin of chunk ``idx`` (t0 = 0 for 2-D)."""
    origin = tuple(int(i * c) for i, c in zip(idx, chunks))
    return origin if len(origin) == 3 else (0,) + origin


def chunk_frames(m: dict, lat_g, lon_g, carr, origin,
                 time_index: int | None = None):
    """Yield one (t_idx, y_idx, x_idx, lat, lon, value) frame per time
    slice of one decoded chunk at ``origin`` (``chunk_origin``), edge
    chunks clipped to the array.  ``carr`` None is an unwritten chunk
    (``fill`` cells); ``m`` carries shape, chunks, dtype, fill and the
    CF ``attrs``."""
    import pandas as pd

    from wrf_to_geodataframe_spark.sources.netcdf import cf_mask_and_scale

    shape, csh = tuple(m["shape"]), tuple(m["chunks"])
    if carr is None:
        carr = np.full(csh, m["fill"], m["dtype"].newbyteorder("="))
    carr = np.asarray(cf_mask_and_scale(carr, m.get("attrs") or {}))
    if len(shape) == 2:
        shape, csh, carr = (1,) + shape, (1,) + csh, carr[None]
        time_index = None
    t0, y0, x0 = origin = tuple(int(o) for o in origin)
    nt, ny, nx = (min(c, s - o) for c, s, o in zip(csh, shape, origin))
    block = carr[:nt, :ny, :nx]
    ts = range(t0, t0 + nt)
    if time_index is not None:
        block = block[time_index - t0:time_index - t0 + 1]
        ts = [time_index]
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    y_idx = (yy.ravel() + y0).astype("int64")
    x_idx = (xx.ravel() + x0).astype("int64")
    lat_c = lat_g[y0:y0 + ny, x0:x0 + nx].ravel()
    lon_c = lon_g[y0:y0 + ny, x0:x0 + nx].ravel()
    for t, sl in zip(ts, block):
        yield pd.DataFrame(
            {
                "t_idx": np.full(ny * nx, t, "int64"),
                "y_idx": y_idx,
                "x_idx": x_idx,
                "lat": lat_c,
                "lon": lon_c,
                "value": sl.ravel().astype("float64"),
            }
        )


def scan_chunks(spark, var: str, meta: dict, coords, time_index,
                fields: str, locate, decode, keyed: bool):
    """Chunk-parallel scan of one chunked variable -> long DataFrame.

    ``meta`` (shape, chunks, dtype, fill, attrs + whatever ``decode``
    needs) and ``coords`` (the 2-D lat/lon from ``grid_coords``) ship
    in one broadcast.  ``fields`` is the DDL of the per-chunk manifest
    columns ``locate(idx)`` returns (the first one is the partition
    key); the kernel appends the chunk origin (t0, y0, x0).
    ``decode(meta, rows)`` maps an iterator of manifest rows to
    ``(row, ndarray | None)`` pairs.  ``keyed`` emits the first
    manifest field as a leading ``chunk_key`` column."""
    shape, chunks = tuple(meta["shape"]), tuple(meta["chunks"])
    check_grid(var, shape, time_index)
    tsel = time_index if len(shape) == 3 else None
    state = spark.sparkContext.broadcast((meta,) + tuple(coords))

    grid = tuple(-(-s // c) for s, c in zip(shape, chunks))
    rows = []
    for idx in np.ndindex(*grid):
        origin = chunk_origin(idx, chunks)
        if tsel is not None and not (
            origin[0] <= tsel < origin[0] + chunks[0]
        ):
            continue
        rows.append(tuple(locate(idx)) + origin)
    manifest = spark.createDataFrame(
        rows, fields + ", t0 long, y0 long, x0 long"
    ).repartition(
        max(1, min(len(rows), spark.sparkContext.defaultParallelism * 2)),
        fields.split()[0],
    )

    def _scan(it):
        m, lat_g, lon_g = state.value
        rows = (r for pdf in it for r in pdf.itertuples(index=False))
        for row, carr in decode(m, rows):
            for frame in chunk_frames(
                m, lat_g, lon_g, carr, (row.t0, row.y0, row.x0), tsel
            ):
                if keyed:
                    frame.insert(0, "chunk_key", row[0])
                yield frame

    return manifest.mapInPandas(_scan, chunk_schema(keyed))
