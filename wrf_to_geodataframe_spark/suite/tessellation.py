"""Tessellation suite: the G1 Voronoi kernel exercised through the
driver contract.

These oracles do NOT mirror the Spark expressions (they cannot — the
kernel is numpy inside mapInPandas).  They state the independently
known ANALYTIC answer: the Voronoi diagram of a complete rectilinear
grid clipped to its half-spacing margin is exactly the unit boxes
(delphine/regrid.py:182-203's fast path), and its cell areas sum to the
bbox area (the tessellation conservation invariant).  A hash match here
is real semantic validation of the tessellation, not expression echo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wrf_to_geodataframe_spark.session import load_table
from wrf_to_geodataframe_spark.suite.core import GRID_W


_BBOX_COLS = ("bx1", "by1", "bx2", "by2")


def _complete_grid_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete-rows sub-grid of the events user lattice (the ragged
    last row would make boundary cells non-analytic), with its
    half-spacing-margin bbox CARRIED AS COLUMNS (crossJoin of the 1-row
    max agg — broadcast nested loop, no shuffle), so building the query
    triggers NO Spark job (VERDICT r3 #8: queries() construction must
    stay lazy).  Below one full row (tiny sf) the grid degrades to a
    1-row strip so the query stays well-defined at every scale factor."""
    events = load_table(spark, sf_dir, "events")
    n = F.col("n_users")
    wide = n >= GRID_W
    width = F.when(wide, F.lit(GRID_W)).otherwise(n)
    full_rows = F.when(wide, F.floor(n / GRID_W).cast("long")).otherwise(F.lit(1))
    bounds = events.agg((F.max("user_id") + 1).alias("n_users")).select(
        F.when(wide, full_rows * GRID_W).otherwise(n).alias("threshold"),
        F.lit(-0.5).alias("bx1"),
        F.lit(-0.5).alias("by1"),
        (width.cast("double") - 0.5).alias("bx2"),
        (full_rows.cast("double") - 0.5).alias("by2"),
    )
    return (
        events.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("user_id") < F.col("threshold"))
        .select(
            "user_id",
            (F.col("user_id") % GRID_W).alias("x_idx"),
            F.floor(F.col("user_id") / GRID_W).alias("y_idx"),
            (F.col("user_id") % GRID_W).cast("double").alias("x"),
            F.floor(F.col("user_id") / GRID_W).cast("double").alias("y"),
            *_BBOX_COLS,
        )
    )


def g1_voronoi_rect_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Voronoi tessellation (G1, tile+halo mapInPandas) of
    the rectilinear user grid.  The oracle is the ANALYTIC diagram (G2
    unit boxes) — the kernel must reproduce it bit-for-bit (integer-
    lattice bisectors are dyadic, so every vertex is FP-exact)."""
    from wrf_to_geodataframe_spark.geometry.tessellate import tessellate_distributed

    pts = _complete_grid_points(spark, sf_dir)
    cells = tessellate_distributed(
        pts, "x", "y", ["user_id", "x_idx", "y_idx"],
        bbox_cols=_BBOX_COLS, tile_size=8.0, halo=4.0, spacing_hint=1.0,
    )
    return cells.select(
        "user_id", "x_idx", "y_idx",
        F.round("x1", 6).alias("x1"), F.round("y1", 6).alias("y1"),
        F.round("x2", 6).alias("x2"), F.round("y2", 6).alias("y2"),
        F.round("area", 6).alias("area"),
        "n_vertices",
        "is_sentinel",
        "exact",
    )


_G1_RECT_SQL = f"""
WITH bounds AS (
    SELECT CASE WHEN max(user_id) + 1 >= {GRID_W}
                THEN (CAST(max(user_id) + 1 AS BIGINT) // {GRID_W}) * {GRID_W}
                ELSE CAST(max(user_id) + 1 AS BIGINT) END AS threshold
    FROM events
)
SELECT DISTINCT user_id,
       user_id % {GRID_W} AS x_idx,
       CAST(floor(user_id / {GRID_W}.0) AS BIGINT) AS y_idx,
       CAST(user_id % {GRID_W} AS DOUBLE) - 0.5 AS x1,
       floor(user_id / {GRID_W}.0) - 0.5 AS y1,
       CAST(user_id % {GRID_W} AS DOUBLE) + 0.5 AS x2,
       floor(user_id / {GRID_W}.0) + 0.5 AS y2,
       1.0 AS area,
       CAST(4 AS BIGINT) AS n_vertices,
       FALSE AS is_sentinel,
       TRUE AS exact
FROM events, bounds
WHERE user_id < threshold
"""


def g1_tessellation_conservation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tessellation conservation (the G1 analog of A5): cell areas of the
    clipped Voronoi diagram must sum to the bbox area.  The oracle states
    the invariant from the extent alone — Spark has to earn it by
    actually tessellating."""
    from wrf_to_geodataframe_spark.geometry.tessellate import tessellate_distributed

    pts = _complete_grid_points(spark, sf_dir)
    cells = tessellate_distributed(
        pts, "x", "y", ["user_id"],
        bbox_cols=_BBOX_COLS, tile_size=8.0, halo=4.0, spacing_hint=1.0,
    )
    # round (not floor): kernel areas can sit at 1.0 +/- 1e-15, and floor
    # would drop a full quantum on the -epsilon side
    area_q = F.round(F.col("area") * F.lit(1e6)).cast("long")
    return cells.agg(
        (F.sum(area_q).cast("double") / F.lit(1e6)).alias("total_area"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.col("exact").cast("long")).alias("n_exact"),
        F.sum(F.col("is_sentinel").cast("long")).alias("n_sentinel"),
    )


_G1_CONSERVATION_SQL = f"""
WITH bounds AS (
    SELECT CASE WHEN max(user_id) + 1 >= {GRID_W}
                THEN (CAST(max(user_id) + 1 AS BIGINT) // {GRID_W}) * {GRID_W}
                ELSE CAST(max(user_id) + 1 AS BIGINT) END AS threshold
    FROM events
),
grid AS (
    SELECT DISTINCT user_id FROM events, bounds WHERE user_id < threshold
)
SELECT CAST(count(*) AS DOUBLE) AS total_area,
       count(*) AS n_cells,
       count(*) AS n_exact,
       CAST(0 AS BIGINT) AS n_sentinel
FROM grid
"""


def _curvilinear_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A deterministic CURVILINEAR warp of the complete-grid lattice — a
    smooth barrel distortion (each coordinate bowed by a parabola in the
    OTHER index)::

        x = x_idx + 0.4 * y_idx*(R - y_idx) / (0.25*R*R + 1),  R = rows-1
        y = y_idx + 0.4 * x_idx*(W - x_idx) / (0.25*W*W + 1),  W = width-1

    the same qualitative shape as a WRF curvilinear lat/lon grid
    (``wrf_voronoi.py:121-127``): smoothly varying, non-rectilinear
    (``infer_rectilinear`` is False), every coordinate a pure
    integer->double IEEE expression — no transcendentals.  Displacements
    are bounded in [0, 0.4) and VANISH on the boundary rows/columns, so
    the half-spacing bbox hugs the set, boundary cells stay ~unit size,
    and the tile+halo exactness certificate holds for every cell (a
    shear was tried first and failed exactly there: the axis-aligned
    bbox of a parallelogram has empty corners whose boundary cells grow
    with the grid).  Adjacent-site displacement deltas are < 0.5, so
    the warp is injective with nearest-neighbor spacing ~1.

    The bbox is carried as columns via the crossJoined 1-row agg so the
    query stays lazy."""
    events = load_table(spark, sf_dir, "events")
    n = F.col("n_users")
    wide = n >= GRID_W
    width = F.when(wide, F.lit(GRID_W)).otherwise(n)
    full_rows = F.when(wide, F.floor(n / GRID_W).cast("long")).otherwise(F.lit(1))
    wd = (width - 1).cast("double")
    rd = (full_rows - 1).cast("double")
    bounds = events.agg((F.max("user_id") + 1).alias("n_users")).select(
        F.when(wide, full_rows * GRID_W).otherwise(n).alias("threshold"),
        F.lit(-0.5).alias("bx1"),
        F.lit(-0.5).alias("by1"),
        (wd + F.lit(0.9)).alias("bx2"),
        (rd + F.lit(0.9)).alias("by2"),
        wd.alias("wd"),
        rd.alias("rd"),
    )
    xi = (F.col("user_id") % GRID_W).cast("double")
    yi = F.floor(F.col("user_id") / GRID_W).cast("double")
    wd_c, rd_c = F.col("wd"), F.col("rd")
    dx = F.lit(0.4) * (yi * (rd_c - yi)) / (
        F.lit(0.25) * rd_c * rd_c + F.lit(1.0)
    )
    dy = F.lit(0.4) * (xi * (wd_c - xi)) / (
        F.lit(0.25) * wd_c * wd_c + F.lit(1.0)
    )
    return (
        events.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("user_id") < F.col("threshold"))
        .select(
            "user_id",
            (xi + dx).alias("x"),
            (yi + dy).alias("y"),
            *_BBOX_COLS,
        )
    )


def g1_curvilinear_conservation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curvilinear tessellation gate (VERDICT r3 #4): the exact kernel on
    a sheared+bowed lattice — the reference's actual input shape
    (``wrf_voronoi.py:121-127``), where no analytic cell list exists.

    The oracle states the CONSERVATION invariant, which holds for ANY
    point set: the clipped Voronoi cells partition the bbox, so
    Σ areas = bbox area, every cell certifies exact, none is a sentinel.
    ``conserved`` compares the quantized-BIGINT area sum (deterministic
    under any row order) against the analytic bbox area at 2e-3 — above
    the worst-case quantization accumulation (n_cells * 5e-7 ≈ 7e-4 at
    sf0.1), far below any real seam/clip defect (≥ one cell ~1.0).
    ``bbox_area`` itself is emitted from expression-identical arithmetic
    on both sides, coupling the oracle row to the data."""
    from wrf_to_geodataframe_spark.geometry.tessellate import tessellate_distributed

    pts = _curvilinear_points(spark, sf_dir)
    cells = tessellate_distributed(
        pts, "x", "y", ["user_id"],
        bbox_cols=_BBOX_COLS, tile_size=8.0, halo=4.0, spacing_hint=1.0,
    )
    area_q = F.round(F.col("area") * F.lit(1e6)).cast("long")
    measured = cells.agg(
        (F.sum(area_q).cast("double") / F.lit(1e6)).alias("total_area"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.col("exact").cast("long")).alias("n_exact"),
        F.sum(F.col("is_sentinel").cast("long")).alias("n_sentinel"),
    )
    bbox_area = (
        (F.col("bx2") - F.col("bx1")) * (F.col("by2") - F.col("by1"))
    ).alias("bbox_area")
    bounds = pts.limit(1).select(F.round(bbox_area, 6).alias("bbox_area"))
    return measured.crossJoin(F.broadcast(bounds)).select(
        (F.abs(F.col("total_area") - F.col("bbox_area")) < F.lit(0.002)).alias(
            "conserved"
        ),
        "n_cells",
        "n_exact",
        "n_sentinel",
        "bbox_area",
    )


_G1_CURVILINEAR_SQL = f"""
WITH bounds AS (
    SELECT max(user_id) + 1 AS n FROM events
),
dims AS (
    SELECT CASE WHEN n >= {GRID_W} THEN (CAST(n AS BIGINT) // {GRID_W}) * {GRID_W}
                ELSE CAST(n AS BIGINT) END AS threshold,
           CAST((CASE WHEN n >= {GRID_W} THEN {GRID_W} ELSE n END) - 1
                AS DOUBLE) AS wd,
           CAST((CASE WHEN n >= {GRID_W} THEN CAST(n AS BIGINT) // {GRID_W}
                 ELSE 1 END) - 1 AS DOUBLE) AS rd
    FROM bounds
),
box AS (
    SELECT -0.5 AS bx1, -0.5 AS by1,
           wd + 0.9 AS bx2,
           rd + 0.9 AS by2,
           threshold
    FROM dims
),
grid AS (
    SELECT DISTINCT user_id FROM events, box WHERE user_id < threshold
)
SELECT TRUE AS conserved,
       count(*) AS n_cells,
       count(*) AS n_exact,
       CAST(0 AS BIGINT) AS n_sentinel,
       round((bx2 - bx1) * (by2 - by1), 6) AS bbox_area
FROM grid, box
GROUP BY bx1, by1, bx2, by2
"""


def g1_auto_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tessellate_auto (SURVEY §4.1 dispatch) on the user lattice: the
    structural rectilinearity check must route to the ANALYTIC midpoint
    path, whose cells the analytic oracle states independently.  Gates
    the dispatcher itself: routing to the wrong path would still be
    numerically right, but an inference bug that errors or degrades
    would show here."""
    from wrf_to_geodataframe_spark.geometry.tessellate import tessellate_auto

    pts = _complete_grid_points(spark, sf_dir)
    # adaptive dispatch is inherently driver-side (the path choice needs
    # data stats, like AQE's runtime re-planning): this ONE builder runs
    # a 1-row agg eagerly; the pure tessellate_distributed queries above
    # stay fully lazy via bbox_cols
    bbox = tuple(
        pts.agg(*[F.first(c).alias(c) for c in _BBOX_COLS]).collect()[0]
    )
    cells = tessellate_auto(
        pts, "x", "y", ["user_id", "x_idx", "y_idx"], bbox=bbox
    )
    return cells.select(
        "user_id", "x_idx", "y_idx",
        F.round("x1", 6).alias("x1"), F.round("y1", 6).alias("y1"),
        F.round("x2", 6).alias("x2"), F.round("y2", 6).alias("y2"),
        F.round("area", 6).alias("area"),
        "n_vertices",
        "is_sentinel",
        "exact",
    )


# ---------------------------------------------------------------------------
# capstone_haduk_voronoi — the reference's SECOND script end to end
# (haduk_voronoi.py:20-79).  With capstone_wrf_voronoi (wrf_voronoi.py)
# and capstone_wrf_regrid (delphine/regrid.py) this completes the set:
# every reference script has ONE oracle-gated end-to-end chain.

_HK_NJ, _HK_NI = 16, 12
_HK_SHIFTS = [0.0] * 6 + [0.125, 0.25] + [0.375] * 8  # the r16 lattice


def _write_haduk_fixture() -> str:
    """A HadUK-shaped NetCDF (haduk_voronoi.py:20-29's layout): the
    data variable over (time, y, x), 2-D ``latitude``/``longitude``
    coordinate FIELDS (curvilinear — the row-shifted dyadic lattice
    whose aligned-shift Voronoi cells are exact boxes), and 1-D
    ``projection_x/y_coordinate`` axes in METRES (the OSGB-style
    projected grid HadUK files carry; 1 km spacing)."""
    import os
    import tempfile

    import numpy as np

    from wrf_to_geodataframe_spark.sources.netcdf import write_netcdf

    d = tempfile.mkdtemp(prefix="cap_haduk_")
    jj, ii = np.meshgrid(
        np.arange(_HK_NJ), np.arange(_HK_NI), indexing="ij"
    )
    shifts = np.asarray(_HK_SHIFTS)[:, None]
    tt = np.arange(3)[:, None, None]
    write_netcdf(
        os.path.join(d, "tasmin_hadukgrid_000.nc"),
        {"time": 3, "y": _HK_NJ, "x": _HK_NI},
        {
            "tasmin": {"dims": ["time", "y", "x"],
                       "data": 270.0 + ii / 8.0 + jj / 4.0 + tt / 2.0},
            "latitude": {"dims": ["y", "x"],
                         "data": jj.astype("float64")},
            "longitude": {"dims": ["y", "x"], "data": ii + shifts},
            "projection_x_coordinate": {
                "dims": ["x"],
                "data": 1000.0 * np.arange(_HK_NI),
            },
            "projection_y_coordinate": {
                "dims": ["y"],
                "data": 1000.0 * np.arange(_HK_NJ),
            },
        },
    )
    return d


def _haduk_chain_to_gpkg(spark: SparkSession, d: str):
    """The capstone's chain up to and including the GPKG sink (shared
    with the geometry pin in tests/test_capstone_haduk.py): scan with
    the pushed time slice -> curvilinear tessellation -> the within
    DROP -> projection-axis keying -> driver-side GPKG write.
    Returns (gpkg_path, x_axis_df, y_axis_df, scan)."""
    import os
    import tempfile

    import numpy as np

    from wrf_to_geodataframe_spark.functions.polygons import (
        parse_wkt_polygon,
    )
    from wrf_to_geodataframe_spark.geometry.tessellate import tessellate_auto
    from wrf_to_geodataframe_spark.operators.wrf import _first_shard
    from wrf_to_geodataframe_spark.sources.geopackage import write_geopackage
    from wrf_to_geodataframe_spark.sources.netcdf import (
        read_netcdf,
        read_netcdf_dir,
    )

    # P3: isel(time=1) pushed into the scan
    scan = read_netcdf_dir(
        spark, d, "tasmin", "latitude", "longitude", time_index=1
    )
    pts = scan.select("y_idx", "x_idx", "lat", "lon").persist()
    try:
        ext = pts.agg(
            F.min("lon"), F.min("lat"), F.max("lon"), F.max("lat")
        ).collect()[0]
        bx1, by1, bx2, by2 = (float(v) for v in ext)
        cells = tessellate_auto(
            pts, "lon", "lat", ["y_idx", "x_idx"],
            bbox=(bx1, by1, bx2, by2), spacing_hint=1.0,
            max_driver_points=64, tile_size=8.0, halo=4.0,
        )
        # the reference's within-bbox DROP: envelope STRICTLY inside
        kept = cells.filter(
            ~F.col("is_sentinel")
            & (F.col("x1") > F.lit(bx1)) & (F.col("y1") > F.lit(by1))
            & (F.col("x2") < F.lit(bx2)) & (F.col("y2") < F.lit(by2))
        )
        # 1-D projection axes: driver-side first-shard read (the
        # meshgrid step), broadcast onto the explicit keys
        shard, _magic = _first_shard(d)
        ds = read_netcdf(shard)
        xv = ds["variables"]["projection_x_coordinate"]["data"]
        yv = ds["variables"]["projection_y_coordinate"]["data"]
        xt = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate(xv)],
            "x_idx long, proj_x double",
        )
        yt = spark.createDataFrame(
            [(j, float(v)) for j, v in enumerate(yv)],
            "y_idx long, proj_y double",
        )
        keyed = (
            kept.join(F.broadcast(xt), "x_idx")
            .join(F.broadcast(yt), "y_idx")
            .select(
                "y_idx", "x_idx", "proj_x", "proj_y",
                parse_wkt_polygon(F.col("wkt")).alias("ring"),
            )
        )
        # S3: the reference's to_file(gpkg) — driver-side sqlite sink
        rows = [
            {
                # (n, 2) ndarray = the writer's single-ring POLYGON spec
                "geom": np.asarray(r.ring, dtype=float),
                "proj_x": float(r.proj_x),
                "proj_y": float(r.proj_y),
            }
            for r in keyed.collect()
        ]
        p = os.path.join(tempfile.mkdtemp(prefix="cap_haduk_out_"),
                         "voronoi.gpkg")
        write_geopackage(p, "voronoi", rows, srs_id=4326)
    finally:
        pts.unpersist()
    return p, xt, yt, scan


def capstone_haduk_voronoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE REFERENCE'S HADUK SCRIPT (haduk_voronoi.py:20-79) as ONE
    chain: HadUK-shaped NetCDF scan -> Voronoi tessellation of the
    CURVILINEAR lat/lon field keyed by the 1-D PROJECTION axes
    (``get_vor``'s meshgrid at lines 36-38: the axis tables are read
    driver-side from the first shard — axis-sized metadata at any
    archive scale — and broadcast onto the explicit grid keys) ->
    the reference's ``within`` DROP (lines 60-65: cells are kept only
    when FULLY INSIDE the lon/lat extent — unlike wrf_voronoi's clip,
    the whole boundary ring is discarded; here: the cell envelope
    strictly inside the bbox, exact because clipped boundary cells
    carry the bbox coordinate itself) -> the plot branch's
    ``isel(time=1)`` variable join (lines 71-75: P3 pushed into the
    scan + J1 on the explicit keys) -> ``to_file`` GPKG sink (line 79
    — the reference's single-sqlite output; driver-side by design and
    scoped, like the format: the at-scale sink is GeoParquet, which
    capstone_wrf_voronoi exercises) -> the engine's own GPKG read
    back, attributes re-keyed through the projection-axis tables.

    Oracle: fully closed form on the aligned-shift lattice — the kept
    set is exactly the interior 10 x 14 sub-grid (aligned boundary
    cells touch the bbox by construction; transition-row interior
    cells stay strictly inside — their bisector tilt is < 1/16), and
    every output value is dyadic; hash-exact UNROUNDED."""
    from wrf_to_geodataframe_spark.sources.geopackage import read_geopackage

    d = _write_haduk_fixture()
    p, xt, yt, scan = _haduk_chain_to_gpkg(spark, d)
    back = read_geopackage(p)
    bdf = spark.createDataFrame(
        [(float(r["proj_x"]), float(r["proj_y"]),
          int(len(r["geom"]))) for r in back],
        "proj_x double, proj_y double, n_ring long",
    )
    # re-key through the axis tables (the reference's
    # set_index([proj_y, proj_x]).join), then the variable + coords
    out = (
        bdf.join(F.broadcast(xt), "proj_x")
        .join(F.broadcast(yt), "proj_y")
        .join(scan.select("y_idx", "x_idx", "lat", "lon",
                          F.col("value").alias("tasmin")),
              ["y_idx", "x_idx"])
    )
    return out.select(
        "proj_x", "proj_y", "lon", "lat", "tasmin",
        (F.col("n_ring") >= 3).alias("ring_ok"),
    )


_CAP_HADUK_SQL = f"""
WITH dest AS (
    SELECT j, i,
           CASE WHEN j <= 5 THEN 0.0
                WHEN j = 6 THEN 0.125
                WHEN j = 7 THEN 0.25
                ELSE 0.375 END AS t
    FROM generate_series(1, {_HK_NJ - 2}) AS tj(j),
         generate_series(1, {_HK_NI - 2}) AS ti(i)
)
SELECT 1000.0 * i AS proj_x, 1000.0 * j AS proj_y,
       i + t AS lon, CAST(j AS DOUBLE) AS lat,
       270.5 + 0.125 * i + 0.25 * j AS tasmin,
       TRUE AS ring_ok
FROM dest
"""


QUERIES = {
    "capstone_haduk_voronoi": capstone_haduk_voronoi,
    "g1_voronoi_rect_cells": g1_voronoi_rect_cells,
    "g1_tessellation_conservation": g1_tessellation_conservation,
    "g1_curvilinear_conservation": g1_curvilinear_conservation,
    "g1_auto_dispatch": g1_auto_dispatch,
}

ORACLE = {
    "capstone_haduk_voronoi": _CAP_HADUK_SQL,
    "g1_voronoi_rect_cells": _G1_RECT_SQL,
    "g1_tessellation_conservation": _G1_CONSERVATION_SQL,
    "g1_curvilinear_conservation": _G1_CURVILINEAR_SQL,
    "g1_auto_dispatch": _G1_RECT_SQL,
}
