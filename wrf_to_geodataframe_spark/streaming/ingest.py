"""Streaming S1: structured-streaming ingest of ARRIVING model
output (SURVEY.md §2 S1 x §2.8 streaming).

The reference ingests a finished archive (``xr.open_dataset``,
wrf_voronoi.py:115); at production scale the archive is never
finished — a running model (or a dissemination feed) drops one more
NetCDF shard / GRIB2 cycle / zarr chunk every few minutes.  Each
source here is its batch reader with the ``binaryFile`` BATCH scan
swapped for a ``binaryFile`` FILE STREAM: the archive mirrors pass
the stream to the batch module's own per-file decoder
(``_decode_netcdf_files`` / ``_decode_netcdf_files_many`` /
``_decode_grib2_files`` / ``_decode_geotiff_files``), and the live
zarr tail runs the chunk kernel the batch chunk scans run
(``sources/chunkscan.chunk_frames``).  Stream == batch therefore
holds by construction — there is no second decode loop to drift —
and every downstream operator (resample, spatial join, regrid)
composes unchanged on the unbounded table.

Scale shape: file-stream sources discover new files per micro-batch
(bounded by ``max_files_per_trigger``) and parse them in executor
tasks — one task per file/chunk, nothing data-sized on the driver;
checkpointing makes ingest exactly-once per file.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_BINFILE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("modificationTime", TimestampType()),
        StructField("length", LongType()),
        StructField("content", BinaryType()),
    ]
)


def _binary_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None,
    recursive: bool = False,
) -> DataFrame:
    r = spark.readStream.format("binaryFile").schema(_BINFILE_SCHEMA)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    if recursive:
        # "/"-separated zarr chunk keys nest chunk objects in subdirs
        r = r.option("recursiveFileLookup", "true")
    return r.load(path)


def stream_netcdf_dir(
    spark: SparkSession,
    path: str,
    var: str,
    lat_var: str,
    lon_var: str,
    time_index: int | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded mirror of ``read_netcdf_dir``: each arriving
    ``.nc``/``.h5`` shard becomes long rows (file, t_idx, y_idx,
    x_idx, lat, lon, value) in the micro-batch that discovers it."""
    from wrf_to_geodataframe_spark.sources.netcdf import _decode_netcdf_files

    return _decode_netcdf_files(
        _binary_stream(spark, path, max_files_per_trigger),
        var, lat_var, lon_var, time_index,
    )


def stream_netcdf_dir_many(
    spark: SparkSession,
    path: str,
    variables: list[str],
    lat_var: str,
    lon_var: str,
    max_files_per_trigger: int | None = None,
    time_var: str | None = None,
) -> DataFrame:
    """Unbounded mirror of ``read_netcdf_dir_many``: each arriving
    wrfout-style shard is parsed ONCE and every requested same-grid
    variable becomes its own column — the ingest shape streaming
    diagnostics (tk/rh/theta-e over a landing zone) consume without
    stream-stream joins.

    ``time_var`` names the shard's time coordinate (the wrfout
    ``Times`` char array or a CF numeric coordinate) and stamps every
    row with the SHARD's decoded timestamp as a ``time`` column —
    the streaming twin of ``wrf_getvar(times=True)``, decoded in the
    same parse pass (no stream-static join, so late-landing shards
    can never see a stale time table).  The one-timestep-per-shard
    convention is enforced with a named error, exactly like
    ``wrf_times(single_step=True)``; the column is a real EVENT TIME,
    so ``withWatermark`` / ``stream_resample_daily`` compose on it
    directly."""
    from wrf_to_geodataframe_spark.sources.netcdf import (
        _decode_netcdf_files_many,
    )

    return _decode_netcdf_files_many(
        _binary_stream(spark, path, max_files_per_trigger),
        variables, lat_var, lon_var, time_var,
    )


def stream_grib2_dir(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded mirror of ``read_grib2_dir`` — the dissemination-feed
    shape (one GRIB2 file per model cycle, several messages each)."""
    from wrf_to_geodataframe_spark.sources.grib2 import _decode_grib2_files

    return _decode_grib2_files(
        _binary_stream(spark, path, max_files_per_trigger)
    )


def stream_geotiff_dir(
    spark: SparkSession,
    path: str,
    band: int = 0,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded mirror of ``read_geotiff_dir`` — the satellite-scene
    landing-zone shape (one raster per scene/date arriving over
    time)."""
    from wrf_to_geodataframe_spark.sources.geotiff import (
        _decode_geotiff_files,
    )

    return _decode_geotiff_files(
        _binary_stream(spark, path, max_files_per_trigger), band
    )


def stream_zarr_chunks(
    spark: SparkSession,
    store: str,
    var: str,
    lat_var: str,
    lon_var: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Tail a LIVE zarr store: a running simulation appends chunk
    objects under ``<store>/<var>/``; each arriving chunk becomes its
    cells' rows.  Metadata (``.zarray``/``.zattrs``) and the
    coordinate arrays are read once at stream definition and
    broadcast — only chunk objects flow through the stream.  Each
    chunk goes through the batch scan's kernel
    (``sources/chunkscan.chunk_frames``: CF mask-and-scale, edge
    clipping), so the tail emits exactly ``read_zarr_dist``'s rows."""
    from wrf_to_geodataframe_spark.sources.chunkscan import (
        check_grid,
        chunk_frames,
        chunk_origin,
        chunk_schema,
        grid_coords,
    )
    from wrf_to_geodataframe_spark.sources.zarr import (
        _load_array_meta,
        read_zarr_array,
    )

    adir = os.path.join(store, var)
    meta = _load_array_meta(adir)
    check_grid(var, meta["shape"])
    lm, lat = read_zarr_array(os.path.join(store, lat_var))
    om, lon = read_zarr_array(os.path.join(store, lon_var))
    state = spark.sparkContext.broadcast(
        (meta,) + grid_coords(lat, lm["attrs"], lon, om["attrs"])
    )

    # dot-metadata files (.zarray/.zattrs) are hidden to Hadoop file
    # listings, so only chunk objects enter the stream
    files = _binary_stream(
        spark, adir, max_files_per_trigger, recursive=(meta["sep"] == "/")
    )

    def _batches(it):
        from wrf_to_geodataframe_spark.sources.zarr import _decode_chunk

        m, lat_g, lon_g = state.value
        for pdf in it:
            for fname, buf in zip(pdf["path"], pdf["content"]):
                # rel is the chunk key in the store's NATIVE separator
                # (matching read_zarr_dist's chunk_key column)
                rel = fname.split("/" + var + "/", 1)[-1]
                idx = [int(p) for p in rel.replace("/", ".").split(".")]
                for frame in chunk_frames(
                    m, lat_g, lon_g, _decode_chunk(bytes(buf), m),
                    chunk_origin(idx, m["chunks"]),
                ):
                    frame.insert(0, "chunk_key", rel)
                    yield frame

    return files.select("path", "content").mapInPandas(
        _batches, chunk_schema(keyed=True)
    )


_NPY_SCHEMA = StructType(
    [
        StructField("file", StringType()),
        StructField("row_idx", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


def stream_npy_dir(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded mirror of ``read_npy_dir`` (sources/npy.py): each
    arriving 2-D ``.npy`` embedding shard — the np.save-per-worker
    output of a running embedding job — becomes (file, row_idx,
    embedding) rows in the micro-batch that discovers it, feeding the
    streaming side of the ANN/dedup operators while the batch side
    reads the same directory."""
    files = _binary_stream(spark, os.path.join(path, "*.npy"),
                           max_files_per_trigger)

    def _batches(it):
        from wrf_to_geodataframe_spark.sources.npy import (
            _emit_rows,
            read_npy_bytes,
        )

        for pdf in it:
            for fname, buf in zip(pdf["path"], pdf["content"]):
                arr = read_npy_bytes(bytes(buf), name=fname)
                yield _emit_rows(
                    np.array(arr, dtype="float64"), fname, 0
                )

    return files.select("path", "content").mapInPandas(
        _batches, _NPY_SCHEMA
    )
