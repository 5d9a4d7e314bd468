"""Conversion suite (SURVEY.md §2.2): the array <-> table reshapes at
the reference's ingest/egress edges, as queries.

C1 grid->table: the reference ravels 2-D coordinate arrays + meshgrids
the dim axes (wrf_voronoi.py:121-123) relying on positional alignment;
the Spark form is a crossJoin of the two (tiny) axis tables producing
explicit (y_idx, x_idx) keys — alignment by key, not by ravel order
(SURVEY.md §1.3 / J5).

C3 table->grid: ``to_xarray()`` (delphine/regrid.py:311) re-densifies a
keyed table; the Spark form is groupBy+pivot into one column per x
index — only ever used at the (small) sink edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wrf_to_geodataframe_spark.session import load_table
from wrf_to_geodataframe_spark.suite.core import GRID_W

_C1_NY = 4  # synthetic grid height for the unnest demo


def c1_grid_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: meshgrid of two axis tables -> one row per cell with analytic
    curvilinear coords (a sheared lattice, the WRF-grid shape).  The
    crossJoin multiplies two tiny dimension tables — broadcast, no
    shuffle of anything large."""
    xs = spark.range(GRID_W).select(F.col("id").alias("x_idx"))
    ys = spark.range(_C1_NY).select(F.col("id").alias("y_idx"))
    return (
        ys.crossJoin(xs)
        .select(
            "y_idx",
            "x_idx",
            (F.col("x_idx").cast("double") + 0.25 * F.col("y_idx").cast("double")).alias("lon"),
            (F.col("y_idx").cast("double") * 1.5).alias("lat"),
        )
    )


_C1_SQL = f"""
SELECT y.y AS y_idx, x.x AS x_idx,
       CAST(x.x AS DOUBLE) + 0.25 * CAST(y.y AS DOUBLE) AS lon,
       CAST(y.y AS DOUBLE) * 1.5 AS lat
FROM generate_series(0, {_C1_NY - 1}) AS y(y),
     generate_series(0, {GRID_W - 1}) AS x(x)
"""


_C3_XCOLS = 8  # pivot width: x_idx 0..7


def c3_table_to_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: keyed long table -> dense grid via groupBy + pivot (explicit
    value list keeps the schema static); one row per y_idx, one column
    per x index holding the cell's event count."""
    events = load_table(spark, sf_dir, "events")
    keyed = events.select(
        (F.col("user_id") % GRID_W).alias("x_idx"),
        F.floor(F.col("user_id") / GRID_W).alias("y_idx"),
    ).filter(F.col("x_idx") < _C3_XCOLS)
    return (
        keyed.groupBy("y_idx")
        .pivot("x_idx", list(range(_C3_XCOLS)))
        .agg(F.count(F.lit(1)))
        .na.fill(0, [str(k) for k in range(_C3_XCOLS)])
        .orderBy("y_idx")
    )


_C3_PIVOT_COLS = ", ".join(
    f'CAST(coalesce(sum(CASE WHEN user_id % {GRID_W} = {k} THEN 1 END), 0) '
    f'AS BIGINT) AS "{k}"'
    for k in range(_C3_XCOLS)
)

_C3_SQL = f"""
SELECT CAST(floor(user_id / {GRID_W}.0) AS BIGINT) AS y_idx,
       {_C3_PIVOT_COLS}
FROM events
GROUP BY 1
"""


_S1_FILES, _S1_NY, _S1_NX = 4, 8, 8


def s1_netcdf_dir_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 at archive shape (VERDICT r7 item #1): a directory of
    per-shard NetCDF files — half classic CDF-1, half NetCDF-4/HDF5 —
    ingested through the DISTRIBUTED source (``read_netcdf_dir``:
    binaryFile scan, one task per file, executor-side pure-numpy
    parse), then aggregated per shard.

    The files carry an analytically-defined grid (values and coords on
    a 2^-3 lattice, so every double sum is exact and order-free); the
    DuckDB oracle recomputes the same aggregates from the closed form,
    verifying the write -> archive -> distributed-scan -> unnest loop
    end to end without ever reading NetCDF itself."""
    import os
    import tempfile

    import numpy as np

    from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4
    from wrf_to_geodataframe_spark.sources.netcdf import (
        read_netcdf_dir,
        write_netcdf,
    )

    d = tempfile.mkdtemp(prefix="s1_archive_")
    ny, nx = _S1_NY, _S1_NX
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    lat = (50.0 + yy * 0.25).astype("float64")
    lon = (-3.0 + xx * 0.125).astype("float64")
    for fno in range(_S1_FILES):
        val = (fno * 1000 + yy * nx + xx).astype("float64")
        variables = {
            "T2": {"dims": ["y", "x"], "data": val},
            "XLAT": {"dims": ["y", "x"], "data": lat},
            "XLONG": {"dims": ["y", "x"], "data": lon},
        }
        writer = write_netcdf if fno % 2 == 0 else write_netcdf4
        writer(
            os.path.join(d, f"shard_{fno}.nc"),
            {"y": ny, "x": nx},
            variables,
        )
    df = read_netcdf_dir(spark, d, "T2", "XLAT", "XLONG")
    return (
        df.withColumn(
            "shard",
            F.regexp_extract("file", r"shard_(\d+)\.nc", 1).cast("bigint"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("value").alias("sum_val"),
            F.sum(F.col("lat") + F.col("lon")).alias("sum_coord"),
            F.max("value").alias("max_val"),
        )
    )


_S1_SQL = f"""
SELECT f.f AS shard,
       COUNT(*) AS n_cells,
       SUM(CAST(f.f * 1000 + y.y * {_S1_NX} + x.x AS DOUBLE)) AS sum_val,
       SUM((50.0 + y.y * 0.25) + (-3.0 + x.x * 0.125)) AS sum_coord,
       MAX(CAST(f.f * 1000 + y.y * {_S1_NX} + x.x AS DOUBLE)) AS max_val
FROM generate_series(0, {_S1_FILES - 1}) AS f(f),
     generate_series(0, {_S1_NY - 1}) AS y(y),
     generate_series(0, {_S1_NX - 1}) AS x(x)
GROUP BY 1
"""


_Z_NT, _Z_NY, _Z_NX = 3, 8, 8


def s1_zarr_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 at CLOUD-archive shape: a Zarr v2 store (the
    ``xarray.to_zarr`` serialization of the reference's data model,
    wrf_voronoi.py:115) scanned through the CHUNK-PARALLEL distributed
    source (``read_zarr_dist``: manifest by arithmetic from the
    ``.zarray`` JSON, one task per chunk object, executor-side
    decompress — zlib + byte-shuffle filter here), then aggregated per
    timestep.

    Values and coords sit on a 2^-3 lattice (every double sum exact
    and order-free); the DuckDB oracle recomputes the aggregates from
    the closed form, verifying chunked-write -> chunk-grid manifest ->
    distributed decode -> unnest end to end without reading zarr."""
    import tempfile

    import numpy as np

    from wrf_to_geodataframe_spark.sources.zarr import (
        read_zarr_dist,
        write_zarr,
    )

    d = tempfile.mkdtemp(prefix="s1_zarr_")
    nt, ny, nx = _Z_NT, _Z_NY, _Z_NX
    tt, yy, xx = np.meshgrid(
        np.arange(nt), np.arange(ny), np.arange(nx), indexing="ij"
    )
    vals = (tt * 1000 + yy * nx + xx).astype("float64")
    lat = (50.0 + yy[0] * 0.25).astype("float64")
    lon = (-3.0 + xx[0] * 0.125).astype("float64")
    write_zarr(
        d,
        {"t": nt, "y": ny, "x": nx},
        {
            "T2": {"dims": ["t", "y", "x"], "data": vals},
            "XLAT": {"dims": ["y", "x"], "data": lat},
            "XLONG": {"dims": ["y", "x"], "data": lon},
        },
        chunks={"T2": (2, 4, 4), "XLAT": (4, 4), "XLONG": (4, 4)},
        filters=[{"id": "shuffle", "elementsize": 8}],
    )
    df = read_zarr_dist(spark, d, "T2", "XLAT", "XLONG")
    return df.groupBy("t_idx").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("value").alias("sum_val"),
        F.sum(F.col("lat") + F.col("lon")).alias("sum_coord"),
        F.max("value").alias("max_val"),
    )


_SZ_SQL = f"""
SELECT t.t AS t_idx,
       COUNT(*) AS n_cells,
       SUM(CAST(t.t * 1000 + y.y * {_Z_NX} + x.x AS DOUBLE)) AS sum_val,
       SUM((50.0 + y.y * 0.25) + (-3.0 + x.x * 0.125)) AS sum_coord,
       MAX(CAST(t.t * 1000 + y.y * {_Z_NX} + x.x AS DOUBLE)) AS max_val
FROM generate_series(0, {_Z_NT - 1}) AS t(t),
     generate_series(0, {_Z_NY - 1}) AS y(y),
     generate_series(0, {_Z_NX - 1}) AS x(x)
GROUP BY 1
"""


_CF_NT, _CF_NY, _CF_NX = 8, 4, 4


def s1_cf_time_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 with CF TIME DECODING (the half of ``xr.open_dataset`` that
    isn't the array read): a NetCDF-4 file whose time coordinate
    carries ``units = "hours since 2020-03-01"`` is ingested with
    ``time_var`` so every cell row gets a real timestamp, then
    aggregated per DAY — the reference's ``resample(XTIME="1D")``
    prerequisite (delphine/regrid.py) exercised end to end from the
    on-disk attribute.  Values on an integer lattice; the DuckDB
    oracle rebuilds the same calendar with INTERVAL arithmetic."""
    import os
    import tempfile

    import numpy as np

    from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4
    from wrf_to_geodataframe_spark.sources.netcdf import read_netcdf_dir

    # load_table pins the session timezone to UTC (semantics-critical
    # for to_date bucketing; the driver uses a vanilla session)
    load_table(spark, sf_dir, "region")
    d = tempfile.mkdtemp(prefix="s1_cftime_")
    nt, ny, nx = _CF_NT, _CF_NY, _CF_NX
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    tt = np.arange(nt)
    vals = (tt[:, None, None] * 1000 + yy * nx + xx).astype("float64")
    write_netcdf4(
        os.path.join(d, "cf.nc"),
        {"t": nt, "y": ny, "x": nx},
        {
            # 6-hourly steps: 0,6,..,42 h -> 4 steps on 2020-03-01
            # and 4 on 2020-03-02
            "t": {"dims": ["t"], "data": tt.astype("float64") * 6.0,
                  "attrs": {"units": "hours since 2020-03-01 00:00:00",
                            "calendar": "standard"}},
            "T2": {"dims": ["t", "y", "x"], "data": vals},
            "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
            "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
        },
    )
    df = read_netcdf_dir(spark, d, "T2", "XLAT", "XLONG", time_var="t")
    return (
        df.groupBy(
            F.to_date("time").cast("string").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("value").alias("sum_val"),
            F.max("value").alias("max_val"),
        )
    )


_SCF_SQL = f"""
SELECT CAST(CAST(TIMESTAMP '2020-03-01 00:00:00'
            + t.t * 6 * INTERVAL 1 HOUR AS DATE) AS VARCHAR) AS day,
       COUNT(*) AS n_cells,
       SUM(CAST(t.t * 1000 + y.y * {_CF_NX} + x.x AS DOUBLE)) AS sum_val,
       MAX(CAST(t.t * 1000 + y.y * {_CF_NX} + x.x AS DOUBLE)) AS max_val
FROM generate_series(0, {_CF_NT - 1}) AS t(t),
     generate_series(0, {_CF_NY - 1}) AS y(y),
     generate_series(0, {_CF_NX - 1}) AS x(x)
GROUP BY 1
"""


_CP_FILES, _CP_NY, _CP_NX = 2, 8, 8
_CP_SF, _CP_AO = 0.125, 270.0  # 2^-3 scale: decoded doubles are exact


def s1_cf_packed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 with CF PACKED variables (the mask-and-scale half of
    ``xr.open_dataset``, reference wrf_voronoi.py:115): int16 storage
    + ``scale_factor``/``add_offset`` attributes decode to physical
    floats and the ``_FillValue`` cell surfaces as NULL — across BOTH
    on-disk formats (shard 0 classic CDF-1 attribute list, shard 1
    NetCDF-4/HDF5 compact attribute messages on a deflate-chunked
    dataset) through the distributed directory scan.

    scale_factor is 2^-3 and add_offset integral, so every decoded
    double (and their sums) is exact and order-free; the DuckDB
    oracle replays ``raw * sf + ao`` from the closed form with the
    fill cell nulled out."""
    import os
    import tempfile

    import numpy as np

    from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4
    from wrf_to_geodataframe_spark.sources.netcdf import (
        read_netcdf_dir,
        write_netcdf,
    )

    d = tempfile.mkdtemp(prefix="s1_packed_")
    ny, nx = _CP_NY, _CP_NX
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    lat = (50.0 + yy * 0.25).astype("float64")
    lon = (-3.0 + xx * 0.125).astype("float64")
    attrs = {
        "scale_factor": np.float64(_CP_SF),
        "add_offset": np.float64(_CP_AO),
        "_FillValue": np.int16(-32767),
        "units": "K",
    }
    for fno in range(_CP_FILES):
        raw = (fno * 100 + yy * nx + xx).astype("int16")
        raw[0, 0] = -32767  # one fill cell per shard
        variables = {
            "T2": {"dims": ["y", "x"], "data": raw, "attrs": attrs},
            "XLAT": {"dims": ["y", "x"], "data": lat},
            "XLONG": {"dims": ["y", "x"], "data": lon},
        }
        p = os.path.join(d, f"shard_{fno}.nc")
        if fno % 2 == 0:
            write_netcdf(p, {"y": ny, "x": nx}, variables)
        else:
            write_netcdf4(
                p, {"y": ny, "x": nx}, variables,
                compress=True, chunk={"T2": (4, 4)},
            )
    df = read_netcdf_dir(spark, d, "T2", "XLAT", "XLONG")
    return (
        df.withColumn(
            "shard",
            F.regexp_extract("file", r"shard_(\d+)\.nc", 1).cast("bigint"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.count("value").alias("n_valid"),
            F.sum("value").alias("sum_val"),
            F.max("value").alias("max_val"),
        )
    )


_SCP_SQL = f"""
SELECT f.f AS shard,
       COUNT(*) AS n_cells,
       COUNT(CASE WHEN NOT (y.y = 0 AND x.x = 0) THEN 1 END) AS n_valid,
       SUM(CASE WHEN y.y = 0 AND x.x = 0 THEN NULL
                ELSE (f.f * 100 + y.y * {_CP_NX} + x.x) * {_CP_SF}
                     + {_CP_AO} END) AS sum_val,
       MAX(CASE WHEN y.y = 0 AND x.x = 0 THEN NULL
                ELSE (f.f * 100 + y.y * {_CP_NX} + x.x) * {_CP_SF}
                     + {_CP_AO} END) AS max_val
FROM generate_series(0, {_CP_FILES - 1}) AS f(f),
     generate_series(0, {_CP_NY - 1}) AS y(y),
     generate_series(0, {_CP_NX - 1}) AS x(x)
GROUP BY 1
"""


_S2_N = 24


def s2_shapefile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 under the oracle: the engine's own shapefile SINK writes 24
    analytically-defined rectangles (.shp cw+closed rings, .shx
    offsets, dBase III C/N fields), the S2 SCAN reads them back
    (cw -> ccw, closing-vertex drop, attribute join), and the query
    computes per-polygon vertex counts + shoelace areas with a
    codegen HOF (zip_with/aggregate over the vertex array — no UDF).
    Widths sit on the 2^-3 lattice so every area is exact; the DuckDB
    oracle replays the closed form.  The reference's boundary-file
    loop is gpd.read_file at wrf_voronoi.py:185-187."""
    import os
    import tempfile

    from wrf_to_geodataframe_spark.sources.shapefile import (
        read_shapefile,
        write_shapefile,
    )

    d = tempfile.mkdtemp(prefix="s2_shp_")
    rings, attrs = [], []
    for i in range(_S2_N):
        x0, y0 = float(i % 6), float(i // 6) * 2.0
        w = 1.0 + (i % 4) * 0.125
        h = 1.0 + (i % 2) * 0.25
        rings.append([[x0, y0], [x0 + w, y0],
                      [x0 + w, y0 + h], [x0, y0 + h]])  # ccw
        attrs.append({"name": f"p{i}", "code": i * 7})
    path = os.path.join(d, "polys.shp")
    write_shapefile(path, rings, attrs)
    df = read_shapefile(spark, path)
    shoelace = F.expr(
        "0.5 * abs(aggregate(zip_with(geom, "
        "concat(slice(geom, 2, size(geom) - 1), slice(geom, 1, 1)), "
        "(a, b) -> a[0] * b[1] - b[0] * a[1]), "
        "0.0D, (acc, v) -> acc + v))"
    )
    return df.select(
        F.col("fid").cast("bigint").alias("fid"),
        "name",
        F.col("code").cast("bigint").alias("code"),
        F.size("geom").cast("bigint").alias("n_vertices"),
        shoelace.alias("area"),
    )


_S2_SQL = f"""
SELECT CAST(i + 1 AS BIGINT) AS fid,
       'p' || CAST(i AS VARCHAR) AS name,
       CAST(i * 7 AS BIGINT) AS code,
       CAST(4 AS BIGINT) AS n_vertices,
       (1.0 + (i % 4) * 0.125) * (1.0 + (i % 2) * 0.25) AS area
FROM generate_series(0, {_S2_N - 1}) AS t(i)
"""


_S3_N = 18


def s3_geopackage_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 under the oracle: the GPKG SINK writes 18 analytic
    rectangles (sqlite container, GP geometry blobs, typed attribute
    columns — the reference's output format at wrf_voronoi.py:181),
    the GPKG reader parses them back (header flags, envelope skip,
    WKB), and the query computes vertex counts + shoelace areas with
    the same codegen HOF as S2.  2^-3-lattice widths keep every
    double exact; DuckDB replays the closed form."""
    import os
    import tempfile

    from wrf_to_geodataframe_spark.sources.geopackage import (
        read_geopackage,
        write_geopackage,
    )

    import numpy as np

    d = tempfile.mkdtemp(prefix="s3_gpkg_")
    p = os.path.join(d, "polys.gpkg")
    rows = []
    for i in range(_S3_N):
        x0, y0 = float(i % 6) * 3.0, float(i // 6) * 3.0
        w = 1.0 + (i % 4) * 0.125
        h = 1.0 + (i % 3) * 0.25
        ring = np.array([[x0, y0], [x0 + w, y0],
                         [x0 + w, y0 + h], [x0, y0 + h]])
        rows.append({"geom": ring, "name": f"g{i}", "code": i * 3})
    write_geopackage(p, "polys", rows)
    back = read_geopackage(p)
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "name": [r["name"] for r in back],
            "code": [int(r["code"]) for r in back],
            "geom": [
                [[float(x), float(y)] for x, y in r["geom"]]
                for r in back
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    shoelace = F.expr(
        "0.5 * abs(aggregate(zip_with(geom, "
        "concat(slice(geom, 2, size(geom) - 1), slice(geom, 1, 1)), "
        "(a, b) -> a[0] * b[1] - b[0] * a[1]), "
        "0.0D, (acc, v) -> acc + v))"
    )
    return df.select(
        "name",
        F.col("code").cast("bigint").alias("code"),
        F.size("geom").cast("bigint").alias("n_vertices"),
        shoelace.alias("area"),
    )


_S3_SQL = f"""
SELECT 'g' || CAST(i AS VARCHAR) AS name,
       CAST(i * 3 AS BIGINT) AS code,
       CAST(4 AS BIGINT) AS n_vertices,
       (1.0 + (i % 4) * 0.125) * (1.0 + (i % 3) * 0.25) AS area
FROM generate_series(0, {_S3_N - 1}) AS t(i)
"""


_S4G_N = 40


def s4_geoparquet_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale geo sink under the oracle: 40 lattice-exact
    rectangles built ENTIRELY in-plan (array constructors, no driver
    geometry), written through the distributed GeoParquet 1.1 sink
    (WKB encoding + bbox covering column + geo footer), then read back
    with a covering-intersection bbox filter that prunes on row-group
    statistics, and reduced to exact areas from the covering struct —
    JVM-side end to end.  The query bbox's xmin sits strictly between
    the excluded column's xmax values and the kept ones, so the
    filter semantics are unambiguous; DuckDB replays the closed
    form."""
    import os
    import tempfile

    from wrf_to_geodataframe_spark.sources.geopackage import (
        read_geoparquet,
        write_geoparquet,
    )

    d = tempfile.mkdtemp(prefix="s4_geopq_")
    p = os.path.join(d, "polys.parquet")
    base = spark.range(_S4G_N).select(
        F.col("id").cast("bigint").alias("code"),
        (F.col("id") % 8).cast("double").alias("x0"),
        (F.floor(F.col("id") / 8) * 2).cast("double").alias("y0"),
        (F.lit(1.0) + (F.col("id") % 4) * 0.125).alias("w"),
        (F.lit(1.0) + (F.col("id") % 2) * 0.25).alias("h"),
    )
    polys = base.select(
        "code",
        F.array(
            F.array("x0", "y0"),
            F.array(F.col("x0") + F.col("w"), F.col("y0")),
            F.array(F.col("x0") + F.col("w"), F.col("y0") + F.col("h")),
            F.array("x0", F.col("y0") + F.col("h")),
        ).alias("geom"),
    )
    write_geoparquet(polys, p, mode="overwrite")
    # x0 = 0 rectangles end at xmax <= 1.375 < 1.75; everything else
    # starts at x0 >= 1 with xmax >= 2.0 > 1.75
    df, _meta = read_geoparquet(
        spark, p, bbox=(1.75, -100.0, 1000.0, 1000.0)
    )
    return df.select(
        "code",
        (
            (F.col("bbox.xmax") - F.col("bbox.xmin"))
            * (F.col("bbox.ymax") - F.col("bbox.ymin"))
        ).alias("area"),
    )


_S4G_SQL = f"""
SELECT CAST(i AS BIGINT) AS code,
       (1.0 + (i % 4) * 0.125) * (1.0 + (i % 2) * 0.25) AS area
FROM generate_series(0, {_S4G_N - 1}) AS t(i)
WHERE (i % 8) <> 0
"""


_VT_FILES, _VT_PER, _VT_NY, _VT_NX = 2, 4, 4, 4


def s1_virtual_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 virtual dataset with a decoded TIME AXIS: a 2-file archive
    whose per-file CF ``units`` attributes span one continuous
    6-hourly axis is indexed with ``time_var`` (the axis decodes at
    INDEX time into the metadata-sized ``times`` sidecar), then
    ``read_virtual`` emits real timestamps and the query buckets per
    DAY — the reference's ``resample(XTIME="1D")`` prerequisite at
    archive scale, without re-opening any source file for its time
    coordinate.  Values on an integer lattice; the DuckDB oracle
    rebuilds the calendar with INTERVAL arithmetic."""
    import os
    import tempfile

    import numpy as np

    from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4
    from wrf_to_geodataframe_spark.sources.netcdf import write_netcdf
    from wrf_to_geodataframe_spark.sources.virtual import (
        build_virtual_manifest,
        read_virtual,
    )

    load_table(spark, sf_dir, "region")  # pins UTC session timezone
    d = tempfile.mkdtemp(prefix="s1_vtime_")
    arch = os.path.join(d, "arch")
    os.makedirs(arch)
    per, ny, nx = _VT_PER, _VT_NY, _VT_NX
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    lt = np.arange(per)
    for fno in range(_VT_FILES):
        gt = fno * per + lt  # global steps: one continuous axis
        variables = {
            "t": {"dims": ["t"], "data": gt.astype("float64") * 6.0,
                  "attrs": {"units": "hours since 2020-03-01 00:00:00",
                            "calendar": "standard"}},
            "T2": {"dims": ["t", "y", "x"],
                   "data": (gt[:, None, None] * 1000
                            + yy * nx + xx).astype("float64")},
            "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
            "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
        }
        p = os.path.join(arch, f"shard_{fno}.nc")
        if fno % 2 == 0:
            write_netcdf(p, {"t": per, "y": ny, "x": nx}, variables)
        else:
            write_netcdf4(
                p, {"t": per, "y": ny, "x": nx}, variables,
                compress=True, chunk={"T2": (2, 2, 2)},
            )
    man = build_virtual_manifest(
        spark, arch, "T2", "XLAT", "XLONG",
        os.path.join(d, "manifest"), time_var="t",
    )
    df = read_virtual(spark, man)
    return (
        df.groupBy(F.to_date("time").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("value").alias("sum_val"),
            F.max("value").alias("max_val"),
        )
    )


_SVT_NT = _VT_FILES * _VT_PER
_SVT_SQL = f"""
SELECT CAST(CAST(TIMESTAMP '2020-03-01 00:00:00'
            + t.t * 6 * INTERVAL 1 HOUR AS DATE) AS VARCHAR) AS day,
       COUNT(*) AS n_cells,
       SUM(CAST(t.t * 1000 + y.y * {_VT_NX} + x.x AS DOUBLE)) AS sum_val,
       MAX(CAST(t.t * 1000 + y.y * {_VT_NX} + x.x AS DOUBLE)) AS max_val
FROM generate_series(0, {_SVT_NT - 1}) AS t(t),
     generate_series(0, {_VT_NY - 1}) AS y(y),
     generate_series(0, {_VT_NX - 1}) AS x(x)
GROUP BY 1
"""


def s1_zarr3_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 at zarr v3 SHARDED shape (the current spec's scale layout):
    a sharding_indexed store — one storage object per shard, many
    gzip inner chunks + a crc32c-protected (offset, nbytes) index per
    object — scanned through the SHARD-PARALLEL distributed source
    (``read_zarr3_dist``: one task per shard, the task range-decodes
    its inner chunks from the local index), then aggregated per
    timestep.  Same closed-form 2^-3 lattice as the v2 gate; the
    DuckDB oracle recomputes it."""
    import tempfile

    import numpy as np

    from wrf_to_geodataframe_spark.sources.zarr3 import (
        read_zarr3_dist,
        write_zarr3,
    )

    d = tempfile.mkdtemp(prefix="s1_zarr3_")
    nt, ny, nx = _Z_NT, _Z_NY, _Z_NX
    tt, yy, xx = np.meshgrid(
        np.arange(nt), np.arange(ny), np.arange(nx), indexing="ij"
    )
    vals = (tt * 1000 + yy * nx + xx).astype("float64")
    lat = (50.0 + yy[0] * 0.25).astype("float64")
    lon = (-3.0 + xx[0] * 0.125).astype("float64")
    write_zarr3(
        d,
        {"t": nt, "y": ny, "x": nx},
        {
            "T2": {"dims": ["t", "y", "x"], "data": vals},
            "XLAT": {"dims": ["y", "x"], "data": lat},
            "XLONG": {"dims": ["y", "x"], "data": lon},
        },
        chunks={"T2": (1, 2, 2), "XLAT": (4, 4), "XLONG": (4, 4)},
        shards={"T2": (2, 4, 4)},
    )
    df = read_zarr3_dist(spark, d, "T2", "XLAT", "XLONG")
    return df.groupBy("t_idx").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("value").alias("sum_val"),
        F.sum(F.col("lat") + F.col("lon")).alias("sum_coord"),
        F.max("value").alias("max_val"),
    )


_G_FILES, _G_MSGS, _G_NY, _G_NX = 2, 2, 6, 6


def s1_grib2_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 at MET-archive shape: a directory of GRIB2 files (the WMO
    exchange format WRF-ecosystem inputs arrive in — GFS/ERA5 cycles,
    several messages per file), ingested through the DISTRIBUTED
    source (``read_grib2_dir``: binaryFile scan, executor-side
    pure-numpy section/template decode), then aggregated per (file,
    message).  Message 0 of each file uses SIMPLE packing (template
    5.0, ``(R + X*2^E)/10^D``); message 1 uses COMPLEX packing with
    second-order spatial differencing (template 5.3 — the real
    GFS/NCEP layout), so both decode paths sit under the oracle.

    Packed integers X sit on a 2^-3 lattice (E=-3), so every double
    is exact; the DuckDB oracle recomputes the closed form."""
    import os
    import tempfile

    import numpy as np

    from wrf_to_geodataframe_spark.sources.grib2 import (
        read_grib2_dir,
        write_grib2,
    )

    d = tempfile.mkdtemp(prefix="s1_grib2_")
    ny, nx = _G_NY, _G_NX
    for fno in range(_G_FILES):
        msgs = []
        for k in range(_G_MSGS):
            base = (fno * _G_MSGS + k) * 1000
            x = base + np.arange(ny * nx).reshape(ny, nx)
            packing = (
                {"template": 0, "ref": 0.0, "e": -3, "d": 0, "nbits": 16}
                if k == 0
                else {"template": 3, "order": 2, "ref": 0.0, "e": -3,
                      "d": 0, "group_size": 7}
            )
            msgs.append(
                {
                    "values": x / 8.0,
                    "lat0": 50.0, "lon0": 357.0,
                    "dlat": -0.25, "dlon": 0.125,
                    "param_category": k,
                    "packing": packing,
                }
            )
        write_grib2(os.path.join(d, f"cycle_{fno}.grib2"), msgs)
    df = read_grib2_dir(spark, d)
    return (
        df.withColumn(
            "shard",
            F.regexp_extract("file", r"cycle_(\d+)\.grib2", 1).cast("bigint"),
        )
        .groupBy("shard", "msg_idx")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("value").alias("sum_val"),
            F.sum(F.col("lat") + F.col("lon")).alias("sum_coord"),
            F.max("value").alias("max_val"),
        )
    )


_SG_SQL = f"""
SELECT f.f AS shard, m.m AS msg_idx,
       COUNT(*) AS n_cells,
       SUM(((f.f * {_G_MSGS} + m.m) * 1000 + y.y * {_G_NX} + x.x) / 8.0)
           AS sum_val,
       SUM((50.0 - y.y * 0.25) + (357.0 + x.x * 0.125)) AS sum_coord,
       MAX(((f.f * {_G_MSGS} + m.m) * 1000 + y.y * {_G_NX} + x.x) / 8.0)
           AS max_val
FROM generate_series(0, {_G_FILES - 1}) AS f(f),
     generate_series(0, {_G_MSGS - 1}) AS m(m),
     generate_series(0, {_G_NY - 1}) AS y(y),
     generate_series(0, {_G_NX - 1}) AS x(x)
GROUP BY 1, 2
"""


_GT_H, _GT_W, _GT_TILE = 48, 48, 16


def s1_geotiff_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 at RASTER-archive shape: a tiled GeoTIFF (the COG layout —
    deflate tiles, float-predictor 3, north-up affine, EPSG tag)
    scanned through the TILE-PARALLEL distributed source
    (``read_geotiff_dist``: IFD-manifest from mmap'd metadata pages,
    one task per tile byte-range, executor-side inflate+unpredict),
    then aggregated per tile row.

    Values sit on a 2^-3 lattice and the affine on 2^-2/2^-3, so all
    double sums are exact; the DuckDB oracle recomputes the closed
    form, verifying write -> IFD manifest -> distributed tile decode
    -> affine georeferencing end to end."""
    import os
    import tempfile

    import numpy as np

    from wrf_to_geodataframe_spark.sources.geotiff import (
        read_geotiff_dist,
        write_geotiff,
    )

    d = tempfile.mkdtemp(prefix="s1_geotiff_")
    h, w = _GT_H, _GT_W
    yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    vals = ((yy * w + xx) / 8.0).astype("float32")
    p = os.path.join(d, "scene.tif")
    write_geotiff(
        p, vals, transform=(0.125, 0, 10.0, 0, -0.25, 60.0), epsg=4326,
        tiled=True, tile=(_GT_TILE, _GT_TILE), compression=8, predictor=3,
    )
    df = read_geotiff_dist(spark, p)
    return (
        df.withColumn("tile_row", (F.col("y_idx") / _GT_TILE).cast("long"))
        .groupBy("tile_row")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("value").alias("sum_val"),
            F.sum(F.col("lat") + F.col("lon")).alias("sum_coord"),
            F.max("value").alias("max_val"),
        )
    )


_SGT_SQL = f"""
SELECT CAST(floor(y.y / {_GT_TILE}.0) AS BIGINT) AS tile_row,
       COUNT(*) AS n_cells,
       SUM((y.y * {_GT_W} + x.x) / 8.0) AS sum_val,
       SUM((60.0 - y.y * 0.25) + (10.0 + x.x * 0.125)) AS sum_coord,
       MAX((y.y * {_GT_W} + x.x) / 8.0) AS max_val
FROM generate_series(0, {_GT_H - 1}) AS y(y),
     generate_series(0, {_GT_W - 1}) AS x(x)
GROUP BY 1
"""


_V_FILES, _V_NT, _V_NY, _V_NX = 3, 4, 6, 5
_V_TLO, _V_THI = 3, 9


def s1_virtual_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 at INDEXED-archive shape — the kerchunk/VirtualiZarr pattern
    over the reference's own entry format (wrf_voronoi.py:115): a
    mixed directory of NetCDF-4 (chunked+shuffle+deflate) and classic
    NetCDF-3 (two interleaved RECORD variables — the stride case)
    files is indexed ONCE by ``build_virtual_manifest`` (executor-side
    metadata-only walk -> parquet chunk table, range-partitioned and
    sorted on (t0, y0, x0); coordinate grids deduplicated by hash into
    a sidecar), then ``read_virtual`` answers a TIME-WINDOW query from
    byte ranges — the window prunes chunk rows inside the parquet scan
    (PushedFilters on t0/t1, asserted in tests/test_virtual.py) and
    the window straddles both chunk and file boundaries, so the
    row-level trim is under the oracle too.

    Values sit on a 2^-3 lattice (exact, order-free double sums); the
    DuckDB oracle recomputes the closed form over the selected window,
    including the file -> global-time concatenation arithmetic."""
    import os
    import tempfile

    import numpy as np

    from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4
    from wrf_to_geodataframe_spark.sources.netcdf import write_netcdf
    from wrf_to_geodataframe_spark.sources.virtual import (
        build_virtual_manifest,
        read_virtual,
    )

    d = tempfile.mkdtemp(prefix="s1_vds_src_")
    out = tempfile.mkdtemp(prefix="s1_vds_man_")
    nt, ny, nx = _V_NT, _V_NY, _V_NX
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    lat = (50.0 + yy * 0.25).astype("float64")
    lon = (-3.0 + xx * 0.125).astype("float64")
    tt = np.arange(nt)
    for fno in range(_V_FILES):
        vals = (
            (fno * 100000 + tt[:, None, None] * 1000 + yy * nx + xx) / 8.0
        ).astype("float64")
        path = os.path.join(d, f"shard_{fno}.nc")
        if fno % 2 == 1:  # classic, record dim, interleaved stride
            write_netcdf(
                path,
                {"t": 0, "y": ny, "x": nx},
                {
                    "T2": {"dims": ["t", "y", "x"], "data": vals},
                    "Q2": {"dims": ["t", "y", "x"], "data": vals * 0.5},
                    "XLAT": {"dims": ["y", "x"], "data": lat},
                    "XLONG": {"dims": ["y", "x"], "data": lon},
                },
            )
        else:  # NetCDF-4, chunked + shuffle + deflate; shard 2 is
            # TIME-APPENDABLE (unlimited t -> Extensible Array chunk
            # index, the libver-latest default the reference's entry
            # point opens), so the manifest covers both v4 index shapes
            write_netcdf4(
                path,
                {"t": nt, "y": ny, "x": nx},
                {
                    "T2": {"dims": ["t", "y", "x"], "data": vals},
                    "XLAT": {"dims": ["y", "x"], "data": lat},
                    "XLONG": {"dims": ["y", "x"], "data": lon},
                },
                compress=True,
                chunk={"T2": (2, 4, 3)},
                unlimited="t" if fno == 2 else None,
            )
    build_virtual_manifest(spark, d, "T2", "XLAT", "XLONG", out)
    df = read_virtual(spark, out, time_range=(_V_TLO, _V_THI))
    return df.groupBy("t_idx").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("value").alias("sum_val"),
        F.sum(F.col("lat") + F.col("lon")).alias("sum_coord"),
        F.max("value").alias("max_val"),
    )


_SV_SQL = f"""
SELECT t.t AS t_idx,
       COUNT(*) AS n_cells,
       SUM(((t.t // {_V_NT}) * 100000 + (t.t % {_V_NT}) * 1000
            + y.y * {_V_NX} + x.x) / 8.0) AS sum_val,
       SUM((50.0 + y.y * 0.25) + (-3.0 + x.x * 0.125)) AS sum_coord,
       MAX(((t.t // {_V_NT}) * 100000 + (t.t % {_V_NT}) * 1000
            + y.y * {_V_NX} + x.x) / 8.0) AS max_val
FROM generate_series({_V_TLO}, {_V_THI}) AS t(t),
     generate_series(0, {_V_NY - 1}) AS y(y),
     generate_series(0, {_V_NX - 1}) AS x(x)
GROUP BY 1
"""


_M_TILES, _M_H, _M_W = 2, 24, 24  # 2x2 scenes of 24x24, 16px tiles
_M_YLO, _M_YHI, _M_XLO, _M_XHI = 12, 35, 20, 27


def s1_virtual_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 at SATELLITE-mosaic shape: a 2x2 grid of north-up COG scenes
    (deflate tiles, float predictor 3) indexed by
    ``build_virtual_mosaic`` into GLOBAL pixel space, then a window
    straddling all four scene seams read through the same pruned
    byte-range path as the time archives, aggregated per global row.
    Values on a 2^-3 lattice; affine on 2^-2/2^-3 — every double
    exact.  The DuckDB oracle recomputes the closed form including the
    affine georeferencing, so scene placement, tile decode, and the
    window trim are all under the gate."""
    import os
    import tempfile

    import numpy as np

    from wrf_to_geodataframe_spark.sources.geotiff import write_geotiff
    from wrf_to_geodataframe_spark.sources.virtual import (
        build_virtual_mosaic,
        read_virtual,
    )

    d = tempfile.mkdtemp(prefix="s1_mosaic_src_")
    out = tempfile.mkdtemp(prefix="s1_mosaic_man_")
    h, w = _M_H, _M_W
    for r in range(_M_TILES):
        for c in range(_M_TILES):
            gy, gx = np.meshgrid(
                np.arange(h) + r * h, np.arange(w) + c * w,
                indexing="ij",
            )
            write_geotiff(
                os.path.join(d, f"scene_{r}_{c}.tif"),
                ((gy * 1000.0 + gx) / 8.0).astype("float64"),
                transform=(0.125, 0, 10.0 + c * w * 0.125,
                           0, -0.25, 60.0 - r * h * 0.25),
                epsg=4326,
                tiled=True,
                tile=(16, 16),
                compression=8,
                predictor=3,
            )
    build_virtual_mosaic(spark, d, out)
    df = read_virtual(
        spark, out,
        y_range=(_M_YLO, _M_YHI), x_range=(_M_XLO, _M_XHI),
    )
    return df.groupBy("y_idx").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("value").alias("sum_val"),
        F.sum(F.col("lat") + F.col("lon")).alias("sum_coord"),
        F.max("value").alias("max_val"),
    )


_SM_SQL = f"""
SELECT y.y AS y_idx,
       COUNT(*) AS n_cells,
       SUM((y.y * 1000.0 + x.x) / 8.0) AS sum_val,
       SUM((60.0 - y.y * 0.25) + (10.0 + x.x * 0.125)) AS sum_coord,
       MAX((y.y * 1000.0 + x.x) / 8.0) AS max_val
FROM generate_series({_M_YLO}, {_M_YHI}) AS y(y),
     generate_series({_M_XLO}, {_M_XHI}) AS x(x)
GROUP BY 1
"""


_N_SHARDS, _N_ROWS, _N_DIM = 3, 6, 5


def s1_npy_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 at EMBEDDING-dump shape: per-worker ``.npy`` shards (the
    layout a distributed embedding job emits via ``np.save``) scanned
    by the distributed source (``read_npy_dir``: one task per shard,
    executor-side from-scratch NPY header parse — numpy interop is
    pinned separately in tests/test_npy.py), then aggregated per
    shard.  Vector elements sit on a 2^-3 lattice (exact, order-free
    sums); the DuckDB oracle recomputes the closed form."""
    import os
    import tempfile

    import numpy as np

    from wrf_to_geodataframe_spark.sources.npy import read_npy_dir

    d = tempfile.mkdtemp(prefix="s1_npy_")
    n, dim = _N_ROWS, _N_DIM
    for f in range(_N_SHARDS):
        arr = (
            f * 1000 + np.arange(n * dim).reshape(n, dim)
        ).astype("float64") / 8.0
        np.save(os.path.join(d, f"shard_{f}.npy"), arr)
    df = read_npy_dir(spark, d)
    return (
        df.withColumn(
            "shard",
            F.regexp_extract("file", r"shard_(\d+)\.npy", 1).cast(
                "bigint"
            ),
        )
        .select(
            "shard",
            "row_idx",
            F.expr(
                "aggregate(embedding, 0.0D, (acc, v) -> acc + v)"
            ).alias("vec_sum"),
            F.array_max("embedding").alias("vec_max"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("vec_sum").alias("sum_all"),
            F.max("vec_max").alias("max_all"),
            F.sum("row_idx").alias("sum_idx"),
        )
    )


_SN_SQL = f"""
SELECT f.f AS shard,
       COUNT(DISTINCT r.r) AS n_vecs,
       SUM((f.f * 1000 + r.r * {_N_DIM} + c.c) / 8.0) AS sum_all,
       MAX((f.f * 1000 + r.r * {_N_DIM} + c.c) / 8.0) AS max_all,
       CAST(SUM(r.r) / {_N_DIM} AS BIGINT) AS sum_idx
FROM generate_series(0, {_N_SHARDS - 1}) AS f(f),
     generate_series(0, {_N_ROWS - 1}) AS r(r),
     generate_series(0, {_N_DIM - 1}) AS c(c)
GROUP BY 1
"""


_R_PW = 0.25
_R_W, _R_H = 30, 36  # canvas 7.5 x 9.0 world units: x clips, y just fits


def s5_render_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 (plot sink) under the oracle: the choropleth renderer's
    scanline even-odd rasterizer (sources/render.py — the kernel under
    every painted tile) run over 64 axis-aligned cells derived from
    ``events.user_id``, returning per-cell PAINTED-PIXEL counts.  Cell
    bounds are multiples of the pixel size, so no pixel center ever
    lies on an edge and the count has a closed form — the DuckDB
    oracle restates the ceil/floor center arithmetic including the
    canvas clamps (cells with x0 = 7 overhang the 7.5-unit canvas and
    must clip).  PNG bytes/colormap stay pytest-golden
    (tests/test_render.py); this row gates the geometry arithmetic."""
    import pandas as pd

    from wrf_to_geodataframe_spark.sources.render import (
        rasterize_polygon,
    )

    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select((F.col("user_id") % 64).alias("cell_id"))
        .distinct()
        .select(
            "cell_id",
            (F.col("cell_id") % 8).cast("double").alias("x0"),
            F.floor(F.col("cell_id") / 8).cast("double").alias("y0"),
            (0.5 + (F.col("cell_id") % 3) * 0.25).alias("w"),
            (0.5 + (F.col("cell_id") % 2) * 0.5).alias("h"),
        )
    )

    def _count(it):
        for pdf in it:
            n = []
            for r in pdf.itertuples(index=False):
                x0, y0 = float(r.x0), float(r.y0)
                x1, y1 = x0 + float(r.w), y0 + float(r.h)
                _r0, _c0, mask = rasterize_polygon(
                    [x0, x1, x1, x0], [y0, y0, y1, y1],
                    (_R_PW, _R_PW, 0.0, 0.0), _R_W, _R_H,
                )
                n.append(int(mask.sum()))
            yield pd.DataFrame(
                {"cell_id": pdf["cell_id"], "n_pixels": n}
            )

    return cells.mapInPandas(_count, "cell_id long, n_pixels long")


_S5_SQL = f"""
WITH ids AS (SELECT DISTINCT user_id % 64 AS cell_id FROM events),
b AS (
    SELECT cell_id,
           CAST(cell_id % 8 AS DOUBLE) AS x0,
           CAST(cell_id // 8 AS DOUBLE) AS y0,
           CAST(cell_id % 8 AS DOUBLE) + 0.5 + (cell_id % 3) * 0.25 AS x1,
           CAST(cell_id // 8 AS DOUBLE) + 0.5 + (cell_id % 2) * 0.5 AS y1
    FROM ids
), c AS (
    SELECT cell_id,
           GREATEST(CAST(CEIL(x0 / {_R_PW} - 0.5) AS BIGINT), 0) AS ca,
           LEAST(CAST(FLOOR(x1 / {_R_PW} - 0.5) AS BIGINT), {_R_W - 1}) AS cb,
           GREATEST(CAST(CEIL(y0 / {_R_PW} - 0.5) AS BIGINT), 0) AS ra,
           LEAST(CAST(FLOOR(y1 / {_R_PW} - 0.5) AS BIGINT), {_R_H - 1}) AS rb
    FROM b
)
SELECT cell_id,
       GREATEST(cb - ca + 1, CAST(0 AS BIGINT))
           * GREATEST(rb - ra + 1, CAST(0 AS BIGINT)) AS n_pixels
FROM c
"""


def s5_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 zoom pyramid under the oracle: the REAL render path —
    ``render_grid`` (one pixel per cell through the global-extent
    colormap) over a 16x16 grid derived from ``events.user_id``, then
    ``build_tile_pyramid`` level 1 (alpha-weighted integer 2x2 box
    filter over the four child tiles) — decoded back to per-pixel
    (r, g, b, a) rows.  Every step is exact integer arithmetic the
    DuckDB oracle restates in closed form: the colormap's segment
    interpolation, and the box filter's (255*sum_c + (255*n)//2) //
    (255*n) weighting with n = #present children (absent cells are
    transparent nodata, so partial 2x2 blocks exercise the alpha
    weighting at small SFs)."""
    import pandas as pd

    from wrf_to_geodataframe_spark.sources.png import decode_png
    from wrf_to_geodataframe_spark.sources.render import (
        build_tile_pyramid,
        render_grid,
    )

    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select((F.col("user_id") % 256).alias("k"))
        .distinct()
        .select(
            F.floor(F.col("k") / 16).cast("bigint").alias("y_idx"),
            (F.col("k") % 16).cast("bigint").alias("x_idx"),
            F.col("k").cast("double").alias("v"),
        )
    )
    tiles = render_grid(
        spark, cells, "v", "y_idx", "x_idx", width=16, height=16,
        tile=8,
    )
    pyr = build_tile_pyramid(spark, tiles, levels=1, tile=8)

    def _pixels(it):
        import numpy as np

        for pdf in it:
            frames = []
            for row in pdf.itertuples(index=False):
                w, h, ch, raw = decode_png(bytes(row.png))
                img = np.frombuffer(raw, "uint8").reshape(h, w, ch)
                ys, xs = np.nonzero(img[:, :, 3])
                frames.append(pd.DataFrame({
                    "tile_y": int(row.tile_y),
                    "tile_x": int(row.tile_x),
                    "py": ys.astype("int64"),
                    "px": xs.astype("int64"),
                    "r": img[ys, xs, 0].astype("int64"),
                    "g": img[ys, xs, 1].astype("int64"),
                    "b": img[ys, xs, 2].astype("int64"),
                    "a": img[ys, xs, 3].astype("int64"),
                }))
            yield (
                pd.concat(frames, ignore_index=True) if frames
                else pd.DataFrame({
                    c: pd.Series(dtype="int64")
                    for c in ("tile_y", "tile_x", "py", "px",
                              "r", "g", "b", "a")
                })
            )

    return (
        pyr.filter(F.col("level") == 1)
        .select("tile_y", "tile_x", "png")
        .mapInPandas(
            _pixels,
            "tile_y long, tile_x long, py long, px long, "
            "r long, g long, b long, a long",
        )
    )


# the oracle restates: cidx (global-extent scaling, clamped), the
# viridis-anchor integer colormap (segment s covers [s*255//4,
# (s+1)*255//4], rounded integer lerp), and the alpha-weighted 2x2 box
# filter over present children — all BIGINT arithmetic
_S5P_ANCHOR = {
    "r": (68, 59, 33, 94, 253),
    "g": (1, 82, 145, 201, 231),
    "b": (84, 139, 140, 98, 37),
}


def _s5p_channel_sql(ch: str) -> str:
    a = _S5P_ANCHOR[ch]
    c0 = (f"CASE seg WHEN 0 THEN {a[0]} WHEN 1 THEN {a[1]} "
          f"WHEN 2 THEN {a[2]} ELSE {a[3]} END")
    c1 = (f"CASE seg WHEN 0 THEN {a[1]} WHEN 1 THEN {a[2]} "
          f"WHEN 2 THEN {a[3]} ELSE {a[4]} END")
    return (f"({c0} * (td - tn) + {c1} * tn + td // 2) // td AS {ch}")


_S5P_SQL = f"""
WITH ks AS (SELECT DISTINCT user_id % 256 AS k FROM events),
ext AS (
    SELECT MIN(CAST(k AS DOUBLE)) AS vmin, MAX(CAST(k AS DOUBLE)) AS vmax
    FROM ks
),
cidx AS (
    SELECT CAST(k // 16 AS BIGINT) AS cy, CAST(k % 16 AS BIGINT) AS cx,
           CASE WHEN vmax > vmin THEN
               LEAST(GREATEST(CAST(FLOOR(
                   (CAST(k AS DOUBLE) - vmin) / (vmax - vmin) * 255.0
               ) AS BIGINT), 0), 255)
           ELSE 128 END AS idx
    FROM ks, ext
),
segs AS (
    SELECT cy, cx, idx, LEAST(idx * 4 // 255, 3) AS seg
    FROM cidx
),
lerp AS (
    SELECT cy, cx, seg,
           idx - (seg * 255 // 4) AS tn,
           GREATEST((seg + 1) * 255 // 4 - seg * 255 // 4, 1) AS td
    FROM segs
),
rgb AS (
    SELECT cy, cx,
           {_s5p_channel_sql('r')},
           {_s5p_channel_sql('g')},
           {_s5p_channel_sql('b')}
    FROM lerp
),
parent AS (
    SELECT cy // 2 AS pr, cx // 2 AS pc,
           COUNT(*) AS n,
           SUM(r) AS sr, SUM(g) AS sg, SUM(b) AS sb
    FROM rgb
    GROUP BY cy // 2, cx // 2
)
SELECT CAST(pr // 8 AS BIGINT) AS tile_y,
       CAST(pc // 8 AS BIGINT) AS tile_x,
       CAST(pr % 8 AS BIGINT) AS py,
       CAST(pc % 8 AS BIGINT) AS px,
       CAST((255 * sr + (255 * n) // 2) // (255 * n) AS BIGINT) AS r,
       CAST((255 * sg + (255 * n) // 2) // (255 * n) AS BIGINT) AS g,
       CAST((255 * sb + (255 * n) // 2) // (255 * n) AS BIGINT) AS b,
       CAST((255 * n + 2) // 4 AS BIGINT) AS a
FROM parent
"""


# ---------------------------------------------------------------------------
# Vertical operators (operators/vertical.py): the wrf-python staples

_VL_K = 10  # model levels per column


def v1_destagger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESTAGGER (wrf.destagger): an Arakawa-C staggered U field (one
    point per cell EDGE, GRID_W+1 per grid row) onto mass points via
    the adjacent-point mean — one lead window per grid row, thousands
    of parallel pencils, no global sort (operators/vertical.py).  The
    synthetic staggered values are exact rationals ((xs^2*7 + y*3)/4),
    so the mean is IEEE-bit-exact on both engines.

    Oracle-independence: the SQL is the CLOSED FORM of the mean at
    each mass point — no window search — so the engine's lead-window
    mechanics are checked against independent arithmetic."""
    from wrf_to_geodataframe_spark.operators.vertical import destagger

    events = load_table(spark, sf_dir, "events")
    ys = events.select(
        F.floor(F.col("user_id") / GRID_W).alias("y_idx")
    ).distinct()
    stag = ys.select(
        "y_idx", F.explode(F.sequence(F.lit(0), F.lit(GRID_W))).alias("xs")
    ).select(
        "y_idx", "xs",
        (
            (F.col("xs") * F.col("xs") * 7.0 + F.col("y_idx") * 3.0) / 4.0
        ).alias("u"),
    )
    return destagger(stag, "xs", "u", ["y_idx"]).select(
        "y_idx", F.col("xs").cast("long").alias("xs"), "u_m"
    )


_V1_SQL = f"""
WITH ys AS (
    SELECT DISTINCT CAST(floor(user_id / {GRID_W}.0) AS BIGINT) AS y_idx
    FROM events
)
SELECT y_idx, CAST(xs AS BIGINT) AS xs,
       ((xs * xs * 7.0 + y_idx * 3.0) / 4.0
        + ((xs + 1) * (xs + 1) * 7.0 + y_idx * 3.0) / 4.0) / 2.0 AS u_m
FROM ys, generate_series(0, {GRID_W - 1}) AS t(xs)
"""


_VL_TARGET = 995.0  # below some columns' bottom level -> NULL arm live


def v2_interplevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERPLEVEL (wrf.interplevel): interpolate a model-level field
    onto the constant pressure surface p = 995 hPa.  Each grid cell
    gets a 10-level synthetic column p(k) = 1000 - 90k - (x+y)%7
    (strictly decreasing, column-dependent surface pressure) and
    f(k) = (k^2 + 3x + 5y)/8; the operator finds the bracketing level
    pair with one lead window per column and interpolates linearly —
    columns whose surface sits above the target ((x+y)%7 == 6, i.e.
    p(0) = 994 < 995) return NULL, the wrf-python below-ground
    convention.  All arithmetic is exact-rounded double (+,-,*,/ on
    integer-valued inputs), so no quantization is needed.

    Oracle-independence: the SQL derives the bracketing pair in
    CLOSED FORM (the target always falls between k=0 and k=1 when in
    range) instead of replaying the window search — independent
    arithmetic checking the search mechanics."""
    from wrf_to_geodataframe_spark.operators.vertical import interplevel

    cells = load_table(spark, sf_dir, "events").select(
        F.col("user_id"),
        (F.col("user_id") % GRID_W).alias("x_idx"),
        F.floor(F.col("user_id") / GRID_W).alias("y_idx"),
    ).distinct()
    lev = cells.select(
        "user_id", "x_idx", "y_idx",
        F.explode(F.sequence(F.lit(0), F.lit(_VL_K - 1))).alias("k"),
    ).select(
        "user_id",
        (
            F.lit(1000.0)
            - F.lit(90.0) * F.col("k")
            - ((F.col("x_idx") + F.col("y_idx")) % 7).cast("double")
        ).alias("p"),
        (
            (
                F.col("k") * F.col("k")
                + F.col("x_idx") * 3.0
                + F.col("y_idx") * 5.0
            ) / 8.0
        ).alias("f"),
    )
    return interplevel(lev, "p", "f", _VL_TARGET, ["user_id"]).select(
        "user_id", F.col("f_interp").alias("f995")
    )


_V2_SQL = f"""
WITH cells AS (
    SELECT DISTINCT user_id,
           user_id % {GRID_W} AS x_idx,
           CAST(floor(user_id / {GRID_W}.0) AS BIGINT) AS y_idx
    FROM events
)
SELECT user_id,
       CASE WHEN (x_idx + y_idx) % 7 = 6 THEN NULL
            ELSE
              -- engine formula order: f1 + (f2-f1)*(p1-t)/(p1-p2)
              ((0*0 + x_idx * 3.0 + y_idx * 5.0) / 8.0)
              + (((1*1 + x_idx * 3.0 + y_idx * 5.0) / 8.0)
                 - ((0*0 + x_idx * 3.0 + y_idx * 5.0) / 8.0))
                * ((1000.0 - 90.0 * 0 - CAST((x_idx + y_idx) % 7 AS DOUBLE))
                   - {_VL_TARGET!r})
                / ((1000.0 - 90.0 * 0 - CAST((x_idx + y_idx) % 7 AS DOUBLE))
                   - (1000.0 - 90.0 * 1 - CAST((x_idx + y_idx) % 7 AS DOUBLE)))
       END AS f995
FROM cells
"""


# ---------------------------------------------------------------------------
# Meteorological diagnostics (functions/meteo.py): the getvar staples

_M_TL1, _M_TL2, _M_SLON = 30.0, 60.0, 5.0


def v6_vinterp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VINTERP (wrf-python `vinterp`): the v2 synthetic columns
    interpolated onto THREE constant surfaces at once (995 / 820 /
    400 hPa) through operators/vertical.vinterp — one lead window per
    column computed once, bracket rows crossed with the literal
    target array.  The 995 target goes NULL for (x+y)%7 == 6 columns
    (below ground, the v2 arm); 820 lands EXACTLY on model level k=2
    for (x+y)%7 == 0 columns, exercising the factor-0 tie rule at
    every SF; 400 interpolates the (6,7) pair everywhere.

    Oracle: per-target CLOSED-FORM brackets (the target pins which
    level pair is hit, so no window search is replayed) — v2's
    independence pattern extended across targets."""
    from wrf_to_geodataframe_spark.operators.vertical import vinterp

    cells = load_table(spark, sf_dir, "events").select(
        F.col("user_id"),
        (F.col("user_id") % GRID_W).alias("x_idx"),
        F.floor(F.col("user_id") / GRID_W).alias("y_idx"),
    ).distinct()
    lev = cells.select(
        "user_id", "x_idx", "y_idx",
        F.explode(F.sequence(F.lit(0), F.lit(_VL_K - 1))).alias("k"),
    ).select(
        "user_id",
        (
            F.lit(1000.0)
            - F.lit(90.0) * F.col("k")
            - ((F.col("x_idx") + F.col("y_idx")) % 7).cast("double")
        ).alias("p"),
        (
            (
                F.col("k") * F.col("k")
                + F.col("x_idx") * 3.0
                + F.col("y_idx") * 5.0
            ) / 8.0
        ).alias("f"),
    )
    out = vinterp(
        lev, "p", "f", [995.0, 820.0, 400.0], ["user_id"],
        out_coord="level", out_col="fv",
    )
    return out.select("user_id", "level", "fv")


def _v6_sql() -> str:
    def fk(k: str) -> str:
        return f"(({k})*({k}) + x_idx * 3.0 + y_idx * 5.0) / 8.0"

    def pk(k: str) -> str:
        return f"(1000.0 - 90.0 * ({k}) - CAST((x_idx + y_idx) % 7 AS DOUBLE))"

    def interp(k1: int, t: str) -> str:
        return (
            f"({fk(str(k1))})"
            f" + (({fk(str(k1 + 1))}) - ({fk(str(k1))}))"
            f" * (({pk(str(k1))}) - {t})"
            f" / (({pk(str(k1))}) - ({pk(str(k1 + 1))}))"
        )

    return f"""
WITH cells AS (
    SELECT DISTINCT user_id,
           user_id % {GRID_W} AS x_idx,
           CAST(floor(user_id / {GRID_W}.0) AS BIGINT) AS y_idx
    FROM events
)
SELECT user_id, t AS level,
       CASE
         WHEN t = 995.0 THEN
           CASE WHEN (x_idx + y_idx) % 7 = 6 THEN NULL
                ELSE {interp(0, '995.0')} END
         WHEN t = 820.0 THEN
           -- m = 0 hits level k = 2 exactly: the factor-0 tie rule
           -- returns the level's own value bit-for-bit
           CASE WHEN (x_idx + y_idx) % 7 = 0 THEN {fk('2')}
                ELSE {interp(1, '820.0')} END
         ELSE {interp(6, '400.0')}
       END AS fv
FROM cells, (VALUES (995.0), (820.0), (400.0)) AS tt(t)
"""


_V6_SQL = _v6_sql()


def m1_met_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wrf-python `getvar` DIAGNOSTICS as one scan (functions/
    meteo.py): temperature from theta (tk), relative humidity and
    dewpoint (Bolton 1980), earth-rotated winds (uvmet with the LCC
    cone constant), wind speed/direction, and hypsometric sea-level
    pressure — each a codegen JVM expression over synthetic per-cell
    surface fields.  Outputs rounded to 1e-6 (1e-4 for SLP's ~1e5 Pa
    magnitude): cross-engine libm drift is ~1e-12 relative.

    Oracle-independence class B: the SQL restates the formulas with
    identical literals; the independent evidence is
    tests/test_meteo.py (tk == theta at p0, rh == 100 at saturation,
    td == t at saturation, uvmet preserves speed and is identity on
    the standard longitude)."""
    from wrf_to_geodataframe_spark.functions.meteo import (
        dewpoint_k,
        lcc_cone,
        relative_humidity,
        slp_hypsometric,
        temperature_k,
        uvmet,
        wind_dir_met,
        wind_speed,
    )

    cells = load_table(spark, sf_dir, "events").select(
        F.col("user_id"),
        (F.col("user_id") % GRID_W).alias("x"),
        F.floor(F.col("user_id") / GRID_W).alias("y"),
    ).distinct()
    d = cells.select(
        "user_id",
        (F.lit(290.0) + (F.col("x") % 5) + F.col("y") * 0.5).alias("theta"),
        (F.lit(95000.0) + F.col("x") * 20.0 + F.col("y") * 10.0).alias("p"),
        (F.lit(0.004) + 0.0001 * ((F.col("x") + F.col("y")) % 10)).alias("qv"),
        (F.col("x") - 15.5).alias("u"),
        (F.col("y") - 7.0).alias("v"),
        (F.col("x") * 0.5 - 2.0).alias("lon"),
        (F.lit(100.0) + F.col("y") * 3.0).alias("z"),
    )
    cone = lcc_cone(_M_TL1, _M_TL2)
    tk = temperature_k(F.col("theta"), F.col("p"))
    ue, ve = uvmet(F.col("u"), F.col("v"), F.col("lon"), _M_SLON, cone)
    return d.select(
        "user_id",
        F.round(tk, 6).alias("tk"),
        F.round(relative_humidity(tk, F.col("p"), F.col("qv")), 6).alias("rh"),
        F.round(dewpoint_k(F.col("p"), F.col("qv")), 6).alias("td"),
        F.round(wind_speed(F.col("u"), F.col("v")), 6).alias("ws"),
        F.round(wind_dir_met(F.col("u"), F.col("v")), 6).alias("wdir"),
        F.round(ue, 6).alias("ue"),
        F.round(ve, 6).alias("ve"),
        F.round(slp_hypsometric(F.col("p"), F.col("z"), tk), 4).alias("slp"),
    )


def _m1_sql() -> str:
    from wrf_to_geodataframe_spark.functions.meteo import lcc_cone

    cone = lcc_cone(_M_TL1, _M_TL2)
    tk = "(theta * pow(p / 100000.0, 2.0/7.0))"
    e = "((p / 100.0) * qv / (0.622 + qv))"
    es = f"(6.112 * exp(17.67 * ({tk} - 273.15) / (({tk} - 273.15) + 243.5)))"
    loge = f"ln({e} / 6.112)"
    alpha = f"radians((lon - {_M_SLON!r}) * {cone!r})"
    return f"""
WITH cells AS (
    SELECT DISTINCT user_id,
           user_id % {GRID_W} AS x,
           CAST(floor(user_id / {GRID_W}.0) AS BIGINT) AS y
    FROM events
), d AS (
    SELECT user_id,
           290.0 + (x % 5) + y * 0.5 AS theta,
           95000.0 + x * 20.0 + y * 10.0 AS p,
           0.004 + 0.0001 * ((x + y) % 10) AS qv,
           x - 15.5 AS u,
           y - 7.0 AS v,
           x * 0.5 - 2.0 AS lon,
           100.0 + y * 3.0 AS z
    FROM cells
)
SELECT user_id,
       round({tk}, 6) AS tk,
       round(100.0 * {e} / {es}, 6) AS rh,
       round(243.5 * {loge} / (17.67 - {loge}) + 273.15, 6) AS td,
       round(sqrt(u * u + v * v), 6) AS ws,
       round(((270.0 - degrees(atan2(v, u))) % 360.0 + 360.0) % 360.0, 6)
           AS wdir,
       round(v * sin({alpha}) + u * cos({alpha}), 6) AS ue,
       round(v * cos({alpha}) - u * sin({alpha}), 6) AS ve,
       round(p * exp(9.81 * z / (287.047 * {tk})), 4) AS slp
FROM d
"""


_M1_SQL = _m1_sql()


def m2_thermo_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second tier of wrf-python `getvar` staples (functions/
    meteo.py): virtual temperature (`tv`), geopotential height (`z`
    from PH+PHB), Bolton (1980) equivalent potential temperature
    (`eth`), Stull (2011) closed-form wet-bulb (`twb`), and the RIP4
    CALDBZ simulated radar reflectivity (`dbz`, rain + snow + graupel
    with the ice dielectric factor) — all codegen JVM expressions over
    synthetic per-cell fields.  The hydrometeor fields have live zero
    arms, so precipitation-free cells exercise the -30 dBZ floor at
    every SF.

    Oracle-independence class B: the SQL restates the formulas with
    identical literals; independent evidence is tests/test_meteo.py
    (theta_e > tk always and == theta at qv->0/p0, wet-bulb between
    dewpoint and temperature, dbz floor and rain-only monotonicity)."""
    from wrf_to_geodataframe_spark.functions.meteo import (
        geopotential_height,
        reflectivity_dbz,
        relative_humidity,
        temperature_k,
        theta_e_bolton,
        virtual_temperature,
        wet_bulb_stull_c,
    )

    cells = load_table(spark, sf_dir, "events").select(
        F.col("user_id"),
        (F.col("user_id") % GRID_W).alias("x"),
        F.floor(F.col("user_id") / GRID_W).alias("y"),
    ).distinct()
    d = cells.select(
        "user_id",
        (F.lit(295.0) + (F.col("x") % 5) + F.col("y") * 0.5).alias("theta"),
        (F.lit(95000.0) + F.col("x") * 20.0 + F.col("y") * 10.0).alias("p"),
        (F.lit(0.004) + 0.0001 * ((F.col("x") + F.col("y")) % 10)).alias("qv"),
        (F.lit(50.0) + F.col("x") * 2.0).alias("ph"),
        (F.lit(1000.0) + F.col("y") * 10.0).alias("phb"),
        F.when(
            (F.col("x") + F.col("y")) % 4 == 0,
            ((F.col("x") + F.col("y")) % 5 + 1.0) / 8192.0,
        ).otherwise(F.lit(0.0)).alias("qr"),
        F.when(
            F.col("x") % 3 == 0, (F.col("y") % 4 + 1.0) / 16384.0
        ).otherwise(F.lit(0.0)).alias("qs"),
        F.when(
            F.col("y") % 5 == 0, (F.col("x") % 3 + 1.0) / 16384.0
        ).otherwise(F.lit(0.0)).alias("qg"),
    )
    tk = temperature_k(F.col("theta"), F.col("p"))
    rh = relative_humidity(tk, F.col("p"), F.col("qv"))
    return d.select(
        "user_id",
        F.round(virtual_temperature(tk, F.col("qv")), 6).alias("tv"),
        F.round(
            geopotential_height(F.col("ph"), F.col("phb")), 6
        ).alias("zgeo"),
        F.round(theta_e_bolton(tk, F.col("p"), F.col("qv")), 6).alias("the"),
        F.round(wet_bulb_stull_c(tk, rh), 6).alias("twb"),
        F.round(
            reflectivity_dbz(
                tk, F.col("p"), F.col("qv"),
                F.col("qr"), F.col("qs"), F.col("qg"),
            ),
            6,
        ).alias("dbz"),
    )


def _m2_sql() -> str:
    from wrf_to_geodataframe_spark.functions.meteo import _dbz_factor

    fr = _dbz_factor(1000.0, 8.0e6, False)
    fs = _dbz_factor(100.0, 2.0e7, True)
    fg = _dbz_factor(400.0, 4.0e6, True)
    tk = "(theta * pow(p / 100000.0, 2.0/7.0))"
    e = "((p / 100.0) * qv / (0.622 + qv))"
    es = f"(6.112 * exp(17.67 * ({tk} - 273.15) / (({tk} - 273.15) + 243.5)))"
    rh = f"(100.0 * {e} / {es})"
    tl = f"(2840.0 / (3.5 * ln({tk}) - ln({e}) - 4.805) + 55.0)"
    the = (
        f"{tk} * pow(1000.0 / (p / 100.0), 0.2854 * (1.0 - 0.28 * qv))"
        f" * exp((3.376 / {tl} - 0.00254) * 1000.0 * qv * (1.0 + 0.81 * qv))"
    )
    tc = f"({tk} - 273.15)"
    twb = (
        f"{tc} * atan(0.151977 * sqrt({rh} + 8.313659))"
        f" + atan({tc} + {rh}) - atan({rh} - 1.676331)"
        f" + 0.00391838 * pow({rh}, 1.5) * atan(0.023101 * {rh})"
        f" - 4.686035"
    )
    tv = f"({tk} * (0.622 + qv) / (0.622 * (1.0 + qv)))"
    rho = f"(p / (287.047 * {tv}))"
    z_e = (
        f"({fr!r} * pow({rho} * qr, 1.75)"
        f" + {fs!r} * pow({rho} * qs, 1.75)"
        f" + {fg!r} * pow({rho} * qg, 1.75))"
    )
    return f"""
WITH cells AS (
    SELECT DISTINCT user_id,
           user_id % {GRID_W} AS x,
           CAST(floor(user_id / {GRID_W}.0) AS BIGINT) AS y
    FROM events
), d AS (
    SELECT user_id,
           295.0 + (x % 5) + y * 0.5 AS theta,
           95000.0 + x * 20.0 + y * 10.0 AS p,
           0.004 + 0.0001 * ((x + y) % 10) AS qv,
           50.0 + x * 2.0 AS ph,
           1000.0 + y * 10.0 AS phb,
           CASE WHEN (x + y) % 4 = 0 THEN ((x + y) % 5 + 1.0) / 8192.0
                ELSE 0.0 END AS qr,
           CASE WHEN x % 3 = 0 THEN (y % 4 + 1.0) / 16384.0
                ELSE 0.0 END AS qs,
           CASE WHEN y % 5 = 0 THEN (x % 3 + 1.0) / 16384.0
                ELSE 0.0 END AS qg
    FROM cells
)
SELECT user_id,
       round({tv}, 6) AS tv,
       round((ph + phb) / 9.81, 6) AS zgeo,
       round({the}, 6) AS the,
       round({twb}, 6) AS twb,
       round(10.0 * ln(greatest({z_e}, 0.001)) / ln(10.0), 6) AS dbz
FROM d
"""


_M2_SQL = _m2_sql()


def v3_precipitable_water(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRECIPITABLE WATER (wrf-python `pw`): the per-column vertical
    integral sum(qv dp) / (g rho_w) in millimetres, folded per row
    over column-pencil arrays (operators/vertical.py).  The synthetic
    moisture profile uses DYADIC-rational qv (denominator 1024) and
    integer dp, so every product and partial sum is exactly
    representable — the level-order float sum is hash-exact with no
    quantization (the dyadic corollary of the suite's integer rule)."""
    from wrf_to_geodataframe_spark.operators.vertical import (
        precipitable_water,
    )

    cells = load_table(spark, sf_dir, "events").select(
        F.col("user_id"),
        (F.col("user_id") % GRID_W).alias("x"),
        F.floor(F.col("user_id") / GRID_W).alias("y"),
    ).distinct()
    ks = F.sequence(F.lit(0), F.lit(_VL_K - 1))
    lev = cells.select(
        "user_id",
        F.transform(
            ks,
            lambda k: (F.lit(4.0) + (F.col("x") + F.col("y") + k) % 10)
            / 1024.0,
        ).alias("qv"),
        F.transform(ks, lambda k: F.lit(9000.0) + k * 100.0).alias("dp"),
    )
    return precipitable_water(lev, "qv", "dp", ["user_id"])


_V3_SQL = f"""
WITH cells AS (
    SELECT DISTINCT user_id,
           user_id % {GRID_W} AS x,
           CAST(floor(user_id / {GRID_W}.0) AS BIGINT) AS y
    FROM events
), lev AS (
    SELECT user_id,
           (4.0 + (x + y + k) % 10) / 1024.0 AS qv,
           9000.0 + k * 100.0 AS dp
    FROM cells, generate_series(0, {_VL_K - 1}) AS t(k)
)
SELECT user_id, sum(qv * dp) / 9810.0 AS pw_mm
FROM lev GROUP BY user_id
"""


def v4_cloud_top_temp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOUD-TOP TEMPERATURE (the wrf-python `ctt` shape): per column,
    the temperature at the highest (lowest-pressure) level whose
    condensate exceeds 1e-6 kg/kg — one partial-agg ``min_by``
    groupBy, NULL for clear-sky columns (operators/vertical.py).  The
    synthetic cloud layer appears at k = (13 - (x+y) mod 13) mod 13
    when that k is inside the 10-level column, so both the cloudy and
    the clear-sky NULL arm are exercised at every SF; all arithmetic
    is exact-rounded double on integer-valued inputs."""
    from wrf_to_geodataframe_spark.operators.vertical import (
        cloud_top_temperature,
    )

    cells = load_table(spark, sf_dir, "events").select(
        F.col("user_id"),
        (F.col("user_id") % GRID_W).alias("x"),
        F.floor(F.col("user_id") / GRID_W).alias("y"),
    ).distinct()
    lev = cells.select(
        "user_id", "x", "y",
        F.explode(F.sequence(F.lit(0), F.lit(_VL_K - 1))).alias("k"),
    ).select(
        "user_id",
        (F.lit(1000.0) - F.col("k") * 90.0).alias("p"),
        (F.lit(280.0) - F.col("k") * 5.0 + (F.col("x") % 3)).alias("t"),
        F.when(
            (F.col("x") + F.col("y") + F.col("k")) % 13 == 0,
            (F.col("k") + 1.0) / 1024.0,
        ).otherwise(F.lit(0.0)).alias("qcl"),
    )
    return cloud_top_temperature(lev, "p", "t", "qcl", ["user_id"])


_V4_SQL = f"""
WITH cells AS (
    SELECT DISTINCT user_id,
           user_id % {GRID_W} AS x,
           CAST(floor(user_id / {GRID_W}.0) AS BIGINT) AS y
    FROM events
), lev AS (
    SELECT user_id,
           1000.0 - k * 90.0 AS p,
           280.0 - k * 5.0 + (x % 3) AS t,
           CASE WHEN (x + y + k) % 13 = 0 THEN (k + 1.0) / 1024.0
                ELSE 0.0 END AS qcl
    FROM cells, generate_series(0, {_VL_K - 1}) AS t2(k)
)
SELECT user_id,
       arg_min(CASE WHEN qcl > 1e-06 THEN t END,
               CASE WHEN qcl > 1e-06 THEN p END) AS ctt_k
FROM lev GROUP BY user_id
"""


def v5_vertcross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERTCROSS (wrf-python `vertcross`/`interpline`): bilinear
    samples of a model-level field along the line (0.25, 0.25) ->
    (2.75, 2.25) in grid-index space, at 9 points x 5 levels
    (operators/vertical.py).  The engine broadcasts the tiny
    point/corner table into one equi join against the grid (the grid
    never shuffles) and sums corner contributions per (sample,
    level); samples landing exactly on a grid line (s = 3, 7 here)
    exercise the zero-weight-corner filter.  Dyadic endpoints and a
    power-of-two step make every weight and weighted sum exact — the
    gate compares unquantized.

    Oracle: closed-form sample coordinates and weights in SQL, joined
    by DuckDB's own machinery — class A-minus (same spec, independent
    execution)."""
    from wrf_to_geodataframe_spark.operators.vertical import vertcross

    ys = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("user_id") / 4).alias("y")
    ).distinct()
    lev = ys.select(
        "y", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("x")
    ).select(
        "y", "x", F.explode(F.sequence(F.lit(0), F.lit(4))).alias("k")
    ).select(
        "y", "x", "k",
        (
            (F.col("x") * 3.0 + F.col("y") * 5.0 + F.col("k") * F.col("k"))
            / 8.0
        ).alias("f"),
    )
    out = vertcross(
        lev, "f", "k", "x", "y", (0.25, 0.25), (2.75, 2.25), 9
    )
    return out.select("s", F.col("k").cast("long").alias("k"), "vc")


_V5_SQL = """
WITH ys AS (
    SELECT DISTINCT CAST(floor(user_id / 4.0) AS BIGINT) AS y FROM events
),
lev AS (
    SELECT y, x, k,
           (x * 3.0 + y * 5.0 + k * k) / 8.0 AS f
    FROM ys, generate_series(0, 3) AS t(x), generate_series(0, 4) AS t2(k)
),
pts AS (
    SELECT s, 0.25 + s * 0.3125 AS xi, 0.25 + s * 0.25 AS yi
    FROM generate_series(0, 8) AS t(s)
),
corners AS (
    SELECT s,
           CAST(floor(xi) AS BIGINT) + dx AS cx,
           CAST(floor(yi) AS BIGINT) + dy AS cy,
           (CASE WHEN dx = 0 THEN 1.0 - (xi - floor(xi))
                 ELSE xi - floor(xi) END)
           * (CASE WHEN dy = 0 THEN 1.0 - (yi - floor(yi))
                   ELSE yi - floor(yi) END) AS w
    FROM pts, (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) AS c(dx, dy)
)
SELECT CAST(s AS BIGINT) AS s, k, sum(w * f) AS vc
FROM corners JOIN lev ON cx = lev.x AND cy = lev.y
WHERE w <> 0.0
GROUP BY s, k
"""


QUERIES = {
    "m1_met_diagnostics": m1_met_diagnostics,
    "m2_thermo_diagnostics": m2_thermo_diagnostics,
    "v5_vertcross": v5_vertcross,
    "v6_vinterp": v6_vinterp,
    "v1_destagger": v1_destagger,
    "v2_interplevel": v2_interplevel,
    "v3_precipitable_water": v3_precipitable_water,
    "v4_cloud_top_temp": v4_cloud_top_temp,
    "c1_grid_unnest": c1_grid_unnest,
    "c3_table_to_grid": c3_table_to_grid,
    "s1_netcdf_dir_ingest": s1_netcdf_dir_ingest,
    "s1_zarr_ingest": s1_zarr_ingest,
    "s1_zarr3_ingest": s1_zarr3_ingest,
    "s1_cf_time_ingest": s1_cf_time_ingest,
    "s1_cf_packed_ingest": s1_cf_packed_ingest,
    "s1_virtual_time": s1_virtual_time,
    "s2_shapefile_ingest": s2_shapefile_ingest,
    "s3_geopackage_ingest": s3_geopackage_ingest,
    "s4_geoparquet_ingest": s4_geoparquet_ingest,
    "s1_grib2_ingest": s1_grib2_ingest,
    "s1_geotiff_ingest": s1_geotiff_ingest,
    "s1_virtual_dataset": s1_virtual_dataset,
    "s1_virtual_mosaic": s1_virtual_mosaic,
    "s1_npy_ingest": s1_npy_ingest,
    "s5_render_coverage": s5_render_coverage,
    "s5_tile_pyramid": s5_tile_pyramid,
}

ORACLE = {
    "m1_met_diagnostics": _M1_SQL,
    "m2_thermo_diagnostics": _M2_SQL,
    "v5_vertcross": _V5_SQL,
    "v6_vinterp": _V6_SQL,
    "v1_destagger": _V1_SQL,
    "v2_interplevel": _V2_SQL,
    "v3_precipitable_water": _V3_SQL,
    "v4_cloud_top_temp": _V4_SQL,
    "c1_grid_unnest": _C1_SQL,
    "c3_table_to_grid": _C3_SQL,
    "s1_netcdf_dir_ingest": _S1_SQL,
    "s1_zarr_ingest": _SZ_SQL,
    "s1_zarr3_ingest": _SZ_SQL,
    "s1_cf_time_ingest": _SCF_SQL,
    "s1_cf_packed_ingest": _SCP_SQL,
    "s1_virtual_time": _SVT_SQL,
    "s2_shapefile_ingest": _S2_SQL,
    "s3_geopackage_ingest": _S3_SQL,
    "s4_geoparquet_ingest": _S4G_SQL,
    "s1_grib2_ingest": _SG_SQL,
    "s1_geotiff_ingest": _SGT_SQL,
    "s1_virtual_dataset": _SV_SQL,
    "s1_virtual_mosaic": _SM_SQL,
    "s1_npy_ingest": _SN_SQL,
    "s5_render_coverage": _S5_SQL,
    "s5_tile_pyramid": _S5P_SQL,
}
