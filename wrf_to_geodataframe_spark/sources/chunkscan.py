"""The one chunk-to-rows kernel of the gridded sources.

``chunk_frames`` is the only code under ``sources/`` that builds the
engine's long ``(t_idx, y_idx, x_idx, lat, lon, value)`` frame.  Every
gridded reader hands it a decoded block and nothing else:

- the zarr v2/v3 scans (``read_zarr_dist``, ``read_zarr3_dist``) and
  the tile-parallel GeoTIFF scan (``read_geotiff_dist``) through
  ``scan_chunks`` below, supplying only ``locate`` and ``decode``;
- the virtual-dataset scan (``read_virtual``: NetCDF-4/HDF5, classic
  NetCDF, GRIB2 and GeoTIFF-mosaic chunks) after its per-row decode;
- the whole-variable readers (``read_netcdf_grid/dir``,
  ``read_zarr_grid``) with one chunk at origin 0, ``read_grib2_grid/
  dir`` with each message a ``(1, nj, ni)`` chunk at ``t0 = msg_idx``,
  and ``read_geotiff_grid`` with the raster as one chunk.

The kernel contract: a 3-D block ``carr`` whose cell ``[0, 0, 0]`` is
the global cell ``origin = (t0, y0, x0)``; the exclusive ``end =
(t1, y1, x1)`` clips edge overhang; optional inclusive ``windows``
``(t, y, x)``, each ``None`` or ``(lo, hi)``, trim the block by
slicing (rows keep their t-major, then y, then x order).  ``coords``
is either 2-D (lat, lon) grids of the whole variable
(``grid_coords``), sliced per block, or a 6-term affine ``(a, b, c,
d, e, f)`` evaluated per block as ``lon = a*x + b*y + c`` and ``lat =
d*x + e*y + f`` (the GeoTIFF convention), so no full-raster grid is
ever built.

``scan_chunks`` is the chunk-parallel scan around the kernel:

1. the driver ships the array metadata and the coordinates
   (2-D grids or the affine) in ONE broadcast;
2. the chunk manifest is pure chunk-grid arithmetic — one row per
   chunk origin, pruned to the chunks holding ``time_index`` — and is
   spread over ``min(n, 2 * defaultParallelism)`` tasks;
3. each executor task decodes its chunks (the only per-format step),
   fills unwritten chunks, CF mask-and-scales them (a GeoTIFF's
   nodata is its ``_FillValue``) and emits the kernel's frames under
   the manifest's leading key column.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

__all__ = [
    "check_grid",
    "chunk_frames",
    "chunk_schema",
    "grid_coords",
    "scan_chunks",
]


def grid_coords(lat, lat_attrs: dict, lon, lon_attrs: dict):
    """CF-decoded (lat, lon) as 2-D float64 arrays of one shape (1-D
    rectilinear axes broadcast by meshgrid); any other pairing is a
    ``ValueError`` naming both shapes."""
    from wrf_to_geodataframe_spark.sources.netcdf import cf_mask_and_scale

    lat = np.asarray(cf_mask_and_scale(lat, lat_attrs or {}), "float64")
    lon = np.asarray(cf_mask_and_scale(lon, lon_attrs or {}), "float64")
    if lat.ndim == 1 and lon.ndim == 1:
        lon, lat = np.meshgrid(lon, lat)
    if lat.shape != lon.shape or lat.ndim != 2:
        raise ValueError(
            f"coordinate shapes {lat.shape} (lat) vs {lon.shape} (lon): "
            "expected two 2-D grids of one shape or two 1-D axes"
        )
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


def chunk_schema():
    """(t_idx, y_idx, x_idx, lat, lon, value): the kernel's columns."""
    return StructType(
        [StructField(c, LongType()) for c in ("t_idx", "y_idx", "x_idx")]
        + [StructField(c, DoubleType()) for c in ("lat", "lon", "value")]
    )


def chunk_frames(carr, origin, end, coords, windows=(None, None, None)):
    """Yield one (t_idx, y_idx, x_idx, lat, lon, value) frame per time
    step of the 3-D block ``carr`` placed at ``origin``, clipped to
    ``end`` and trimmed to the inclusive ``windows``; ``coords`` is
    (lat, lon) grids or an affine (see the module docstring)."""
    import pandas as pd

    lo = [o if w is None else max(o, w[0]) for o, w in zip(origin, windows)]
    hi = [e if w is None else min(e, w[1] + 1) for e, w in zip(end, windows)]
    if any(h <= l for l, h in zip(lo, hi)):
        return
    block = carr[tuple(slice(l - o, h - o) for l, h, o in zip(lo, hi, origin))]
    yy, xx = np.meshgrid(np.arange(lo[1], hi[1]), np.arange(lo[2], hi[2]),
                         indexing="ij")
    y_idx = yy.ravel().astype("int64")
    x_idx = xx.ravel().astype("int64")
    if len(coords) == 6:
        a, b, c, d, e, f = coords
        gx, gy = x_idx.astype("float64"), y_idx.astype("float64")
        lon, lat = a * gx + b * gy + c, d * gx + e * gy + f
    else:
        lat = coords[0][lo[1]:hi[1], lo[2]:hi[2]].ravel()
        lon = coords[1][lo[1]:hi[1], lo[2]:hi[2]].ravel()
    for t, sl in zip(range(lo[0], hi[0]), block):
        yield pd.DataFrame(
            {
                "t_idx": np.full(y_idx.size, t, "int64"),
                "y_idx": y_idx,
                "x_idx": x_idx,
                "lat": lat,
                "lon": lon,
                "value": sl.ravel().astype("float64"),
            }
        )


def scan_chunks(spark, var: str, meta: dict, coords, time_index,
                fields: str, locate, decode):
    """Chunk-parallel scan of one chunked variable -> long DataFrame
    (key, t_idx, y_idx, x_idx, lat, lon, value).

    ``meta`` (shape, chunks, dtype, fill, attrs + whatever ``decode``
    needs) and ``coords`` (the 2-D lat/lon from ``grid_coords``, or an
    affine) ship in one broadcast.  ``fields`` is the DDL of the
    per-chunk manifest columns ``locate(idx)`` returns; the first one
    is the partition key and the output's leading column, and the
    kernel appends the chunk origin (t0, y0, x0).  ``decode(meta,
    rows)`` maps an iterator of manifest rows to ``(row, ndarray |
    None)`` pairs, None for an unwritten chunk (``fill`` cells)."""
    from wrf_to_geodataframe_spark.sources.netcdf import cf_mask_and_scale

    shape, chunks = tuple(meta["shape"]), tuple(meta["chunks"])
    check_grid(var, shape, time_index)
    flat = len(shape) == 2
    if flat:
        shape, chunks = (1,) + shape, (1,) + chunks
    tsel = None if flat or time_index is None else (time_index, time_index)
    windows = (tsel, None, None)
    state = spark.sparkContext.broadcast((meta, coords))

    grid = tuple(-(-s // c) for s, c in zip(shape, chunks))
    rows = []
    for idx in np.ndindex(*grid):
        origin = tuple(int(i * c) for i, c in zip(idx, chunks))
        if tsel is not None and not (
            origin[0] <= time_index < origin[0] + chunks[0]
        ):
            continue
        rows.append(tuple(locate(idx[flat:])) + origin)
    key, key_type = fields.split(",")[0].split()
    manifest = spark.createDataFrame(
        rows, fields + ", t0 long, y0 long, x0 long"
    ).repartition(
        max(1, min(len(rows), spark.sparkContext.defaultParallelism * 2)),
        key,
    )

    def _scan(it):
        m, xy = state.value
        attrs = m.get("attrs") or {}
        rows = (r for pdf in it for r in pdf.itertuples(index=False))
        for row, carr in decode(m, rows):
            if carr is None:
                carr = np.full(m["chunks"], m["fill"],
                               m["dtype"].newbyteorder("="))
            carr = np.asarray(cf_mask_and_scale(carr, attrs))
            origin = (row.t0, row.y0, row.x0)
            end = tuple(min(o + c, s)
                        for o, c, s in zip(origin, chunks, shape))
            for frame in chunk_frames(
                carr[None] if flat else carr, origin, end, xy, windows
            ):
                frame.insert(0, key, row[0])
                yield frame

    schema = StructType().add(key, key_type)
    return manifest.mapInPandas(
        _scan, StructType(schema.fields + chunk_schema().fields)
    )
