"""Spatial suite: bbox filters, bucketed spatial join, and the
conservative-regrid pipeline (SURVEY.md §2 P4/P5, J3/J4, A4/A5, G6/G7;
§3.3 delphine/regrid.py:206-337).

Everything here is rectilinear-analytic: geometry is four envelope
columns (functions/grid.py), so every query is pure column arithmetic —
pushdown/codegen-friendly on Spark AND fully DuckDB-expressible.  The
general curvilinear path (real polygons) lives in the geometry/ package.

Scale notes baked into each plan:

- P4/P5: the small side (1-row bbox, 25-row boundary) is broadcast —
  never a shuffle of the big side.
- J3/J4: the non-equi spatial predicate becomes an *equi* join on an
  integer bucket key (explode the big side's envelope to covered
  buckets), so Catalyst gets a hash join + AQE instead of a
  BroadcastNestedLoop/cartesian; the exact predicate re-filters after.
  The DuckDB oracle states the same join as a plain theta join — same
  result set, which is exactly what the bucket decomposition must prove.
- A4 sums quantized per-pair contributions (exact BIGINTs), so the
  shuffle order of a 1000-executor cluster cannot change a single bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wrf_to_geodataframe_spark.functions.grid import (
    box_area,
    box_intersects_box,
    box_within_bbox,
    cell_box,
)
from wrf_to_geodataframe_spark.session import load_table
from wrf_to_geodataframe_spark.suite.core import GRID_W, Q, grid_cells

# Destination grid for the conservative regrid: spacing 2x2, offset so
# cell boundaries never coincide with the unit source grid's.
OX, OY = 0.7, 0.3
DW, DH = 2.0, 2.0

_CELLS_SQL = f"""
    SELECT DISTINCT user_id,
           user_id % {GRID_W} AS x_idx,
           CAST(floor(user_id / {GRID_W}.0) AS BIGINT) AS y_idx,
           CAST(user_id % {GRID_W} AS DOUBLE) - 0.5 AS x1,
           floor(user_id / {GRID_W}.0) - 0.5 AS y1,
           CAST(user_id % {GRID_W} AS DOUBLE) + 0.5 AS x2,
           floor(user_id / {GRID_W}.0) + 0.5 AS y2
    FROM events
"""


# ---------------------------------------------------------------------------
# P4 — bbox `within` filter via the A1 one-row aggregate


def p4_bbox_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bbox spatial filter (SURVEY.md §2 P4, wrf_voronoi.py:143-148
    ``gdf.within(box(*extent))``): keep cells whose envelope lies fully
    inside the data's point extent.  Boundary cells extend 0.5 beyond the
    extent, so they drop — the same artifact-removal the reference gets.

    The extent is A1's 1-row aggregate crossJoined back (Spark broadcasts
    a 1-row side automatically; the filter then runs map-side)."""
    events = load_table(spark, sf_dir, "events")
    x = (F.col("user_id") % GRID_W).cast("double")
    y = F.floor(F.col("user_id") / GRID_W).cast("double")
    bbox = events.agg(
        F.min(x).alias("xmin"),
        F.min(y).alias("ymin"),
        F.max(x).alias("xmax"),
        F.max(y).alias("ymax"),
    )
    cells = grid_cells(spark, sf_dir)
    return (
        cells.crossJoin(F.broadcast(bbox))
        .filter(
            box_within_bbox(
                F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"),
                F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
            )
        )
        .select("user_id", "x_idx", "y_idx", "x1", "y1", "x2", "y2")
    )


_P4_SQL = f"""
WITH cells AS ({_CELLS_SQL}),
bbox AS (
    SELECT min(CAST(user_id % {GRID_W} AS DOUBLE)) AS xmin,
           min(floor(user_id / {GRID_W}.0)) AS ymin,
           max(CAST(user_id % {GRID_W} AS DOUBLE)) AS xmax,
           max(floor(user_id / {GRID_W}.0)) AS ymax
    FROM events
)
SELECT user_id, x_idx, y_idx, x1, y1, x2, y2
FROM cells, bbox
WHERE x1 >= xmin AND y1 >= ymin AND x2 <= xmax AND y2 <= ymax
"""


# ---------------------------------------------------------------------------
# P5 — intersects-dissolved-boundary filter


def p5_intersects_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-intersection filter (SURVEY.md §2 P5, wrf_voronoi.py:188
    ``gdf.intersects(gdf_london.unary_union)``): keep cells intersecting
    a multi-part boundary table.

    Spark-first re-expression: ``intersects(dissolve(B))`` ≡
    ``EXISTS b ∈ B: intersects(cell, b)`` — the geometric union (G9)
    never needs materializing; it becomes a broadcast LEFT SEMI join
    (boundary tables are small, like the reference's borough file)."""
    nation = load_table(spark, sf_dir, "nation")
    boundary = nation.select(
        ((F.col("n_nationkey") % 8) * F.lit(4.0) - F.lit(0.25)).alias("bx1"),
        ((F.col("n_nationkey") % 3) * F.lit(1.5) - F.lit(0.25)).alias("by1"),
        ((F.col("n_nationkey") % 8) * F.lit(4.0) + F.lit(2.25)).alias("bx2"),
        ((F.col("n_nationkey") % 3) * F.lit(1.5) + F.lit(0.95)).alias("by2"),
    )
    cells = grid_cells(spark, sf_dir)
    hit = box_intersects_box(
        F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"),
        F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2"),
    )
    return (
        cells.join(F.broadcast(boundary), hit, "left_semi")
        .select("user_id", "x_idx", "y_idx", "x1", "y1", "x2", "y2")
    )


_P5_SQL = f"""
WITH cells AS ({_CELLS_SQL}),
boundary AS (
    SELECT (n_nationkey % 8) * 4.0 - 0.25 AS bx1,
           (n_nationkey % 3) * 1.5 - 0.25 AS by1,
           (n_nationkey % 8) * 4.0 + 2.25 AS bx2,
           (n_nationkey % 3) * 1.5 + 0.95 AS by2
    FROM nation
)
SELECT user_id, x_idx, y_idx, x1, y1, x2, y2
FROM cells c
WHERE EXISTS (
    SELECT 1 FROM boundary b
    WHERE c.x1 <= b.bx2 AND b.bx1 <= c.x2 AND c.y1 <= b.by2 AND b.by1 <= c.y2
)
"""


# ---------------------------------------------------------------------------
# G6/G7 — clip to bbox + area


def g7_clipped_cell_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip + area (SURVEY.md §2 G6/G7, delphine/regrid.py:155-160
    ``b.intersection(box)`` then ``.area``): each cell clipped to a
    shrunk bbox, emitting the clipped envelope and its area.  NULL
    envelope (sentinel semantics, P8) when the intersection is empty."""
    events = load_table(spark, sf_dir, "events")
    x = (F.col("user_id") % GRID_W).cast("double")
    y = F.floor(F.col("user_id") / GRID_W).cast("double")
    bbox = events.agg(
        (F.min(x) + F.lit(1.25)).alias("xmin"),
        (F.min(y) + F.lit(0.25)).alias("ymin"),
        (F.max(x) - F.lit(1.25)).alias("xmax"),
        (F.max(y) - F.lit(0.25)).alias("ymax"),
    )
    cells = grid_cells(spark, sf_dir).crossJoin(F.broadcast(bbox))
    cx1 = F.greatest(F.col("x1"), F.col("xmin"))
    cy1 = F.greatest(F.col("y1"), F.col("ymin"))
    cx2 = F.least(F.col("x2"), F.col("xmax"))
    cy2 = F.least(F.col("y2"), F.col("ymax"))
    nonempty = (cx1 < cx2) & (cy1 < cy2)
    return cells.select(
        "user_id",
        F.when(nonempty, cx1).alias("cx1"),
        F.when(nonempty, cy1).alias("cy1"),
        F.when(nonempty, cx2).alias("cx2"),
        F.when(nonempty, cy2).alias("cy2"),
        F.when(nonempty, (cx2 - cx1) * (cy2 - cy1)).otherwise(F.lit(0.0)).alias("clip_area"),
    )


_G7_SQL = f"""
WITH cells AS ({_CELLS_SQL}),
bbox AS (
    SELECT min(CAST(user_id % {GRID_W} AS DOUBLE)) + 1.25 AS xmin,
           min(floor(user_id / {GRID_W}.0)) + 0.25 AS ymin,
           max(CAST(user_id % {GRID_W} AS DOUBLE)) - 1.25 AS xmax,
           max(floor(user_id / {GRID_W}.0)) - 0.25 AS ymax
    FROM events
),
clipped AS (
    SELECT user_id,
           greatest(x1, xmin) AS cx1, greatest(y1, ymin) AS cy1,
           least(x2, xmax) AS cx2, least(y2, ymax) AS cy2
    FROM cells, bbox
)
SELECT user_id,
       CASE WHEN cx1 < cx2 AND cy1 < cy2 THEN cx1 END AS cx1,
       CASE WHEN cx1 < cx2 AND cy1 < cy2 THEN cy1 END AS cy1,
       CASE WHEN cx1 < cx2 AND cy1 < cy2 THEN cx2 END AS cx2,
       CASE WHEN cx1 < cx2 AND cy1 < cy2 THEN cy2 END AS cy2,
       CASE WHEN cx1 < cx2 AND cy1 < cy2
            THEN (cx2 - cx1) * (cy2 - cy1) ELSE 0.0 END AS clip_area
FROM clipped
"""


# ---------------------------------------------------------------------------
# J3 — bucketed spatial join (point-in-cell)


def j3_bucketed_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial join (SURVEY.md §2 J3, delphine/regrid.py:177 ``sjoin``):
    locate each point inside its containing cell.

    The reference leans on an R-tree; the distributed strategy is the
    SURVEY §4.1 bucket decomposition: both sides get an integer bucket
    key (points: the bucket containing them; cells: EVERY bucket their
    envelope touches, via explode(sequence)), then a plain equi join on
    the bucket key + the exact containment re-filter.  Half-open
    containment [x1, x2) makes each point match exactly one cell, so no
    pair-dedup pass is needed."""
    events = load_table(spark, sf_dir, "events")
    points = events.select(
        "event_id",
        ((F.col("event_id") % (GRID_W * 10)).cast("double") / F.lit(10.0)).alias("px"),
        ((F.col("event_id") % 50).cast("double") / F.lit(10.0)).alias("py"),
    )
    bw = F.lit(2.0)
    points_b = points.withColumn("bx", F.floor(F.col("px") / bw)).withColumn(
        "by", F.floor(F.col("py") / bw)
    )
    cells = grid_cells(spark, sf_dir)
    cells_b = (
        cells.withColumn(
            "bx", F.explode(F.sequence(F.floor(F.col("x1") / bw), F.floor(F.col("x2") / bw)))
        )
        .withColumn(
            "by", F.explode(F.sequence(F.floor(F.col("y1") / bw), F.floor(F.col("y2") / bw)))
        )
    )
    joined = points_b.join(cells_b, ["bx", "by"]).filter(
        (F.col("px") >= F.col("x1"))
        & (F.col("px") < F.col("x2"))
        & (F.col("py") >= F.col("y1"))
        & (F.col("py") < F.col("y2"))
    )
    return joined.select(
        "event_id", "px", "py",
        F.col("user_id").alias("cell_id"), "x_idx", "y_idx",
    )


_J3_SQL = f"""
WITH cells AS ({_CELLS_SQL}),
points AS (
    SELECT event_id,
           CAST(event_id % {GRID_W * 10} AS DOUBLE) / 10.0 AS px,
           CAST(event_id % 50 AS DOUBLE) / 10.0 AS py
    FROM events
)
SELECT p.event_id, p.px, p.py, c.user_id AS cell_id, c.x_idx, c.y_idx
FROM points p JOIN cells c
  ON p.px >= c.x1 AND p.px < c.x2 AND p.py >= c.y1 AND p.py < c.y2
"""


# ---------------------------------------------------------------------------
# Concave-boundary family: J4/P5/J3 against arbitrary (non-convex)
# polygons — the reference's own flagship inputs (concave London
# boroughs, wrf_voronoi.py:185-188; arbitrary outlines,
# delphine/regrid.py:267-269).  VERDICT r6 gap #1.


def _concave_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25-row L-shaped (concave, reflex corner) boundary table planted
    from nation: per nationkey n, the L with origin
    (ox, oy) = ((n % 8) * 2.0 + 0.05, (n % 3) * 1.3 - 1.35) is the
    union of two edge-sharing rectangles
    R1 = [ox, ox+2.5] x [oy, oy+1.3] (wide bottom arm) and
    R2 = [ox, ox+1.3] x [oy+1.3, oy+2.6] (tall left arm).

    The ORACLE computes against that rectangle decomposition
    (area(X ∩ L) = area(X ∩ R1) + area(X ∩ R2), interiors disjoint);
    the Spark side runs the general ear-clip overlay / even-odd PIP on
    the 6-vertex concave ring — so a green hash validates the concave
    kernels against an independent analytic form, not an expression
    echo.  Every L edge coordinate is ≡ 0.05 (mod 0.1) while cell
    edges are multiples of 0.5 and point coordinates multiples of 0.1,
    so no test geometry ever touches a boundary degenerately at any
    sf."""
    nation = load_table(spark, sf_dir, "nation")
    ox = (F.col("n_nationkey") % 8).cast("double") * F.lit(2.0) + F.lit(0.05)
    oy = (F.col("n_nationkey") % 3).cast("double") * F.lit(1.3) - F.lit(1.35)

    def v(x, y):
        return F.array(x, y)

    return nation.select(
        "n_nationkey",
        F.array(
            v(ox, oy),
            v(ox + F.lit(2.5), oy),
            v(ox + F.lit(2.5), oy + F.lit(1.3)),
            v(ox + F.lit(1.3), oy + F.lit(1.3)),  # reflex corner
            v(ox + F.lit(1.3), oy + F.lit(2.6)),
            v(ox, oy + F.lit(2.6)),
        ).alias("b_poly"),
    )


_CONCAVE_RECTS_SQL = """
boundary AS (
    SELECT n_nationkey,
           (n_nationkey % 8) * 2.0 + 0.05 AS ox,
           (n_nationkey % 3) * 1.3 - 1.35 AS oy
    FROM nation
),
rects AS (
    SELECT n_nationkey, ox AS rx1, oy AS ry1,
           ox + 2.5 AS rx2, oy + 1.3 AS ry2
    FROM boundary
    UNION ALL
    SELECT n_nationkey, ox, oy + 1.3, ox + 1.3, oy + 2.6
    FROM boundary
)"""


def j4_concave_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concave overlay intersection (SURVEY.md §2 J4 general form —
    ``gpd.overlay`` with arbitrary polygons, delphine/regrid.py:267-269):
    the intersection AREA of every grid cell with each L-shaped concave
    boundary, through ear-clip triangulation → envelope-bucket equi
    join → Sutherland–Hodgman convex kernel → per-pair re-sum
    (geometry/overlay.py ``overlay_intersection_general``).

    Areas are quantized at 1e-6: true areas are multiples of 2.5e-3 by
    construction, nine orders above the kernel's ~1e-12 clip error, so
    Spark's clipped-triangle sums and the oracle's analytic
    rectangle-decomposition areas round identically."""
    from wrf_to_geodataframe_spark.geometry.overlay import (
        overlay_intersection_general,
    )

    cells = grid_cells(spark, sf_dir).select(
        "user_id",
        _box_poly(
            F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")
        ).alias("a_poly"),
    )
    boundary = _concave_boundary(spark, sf_dir)
    pairs = overlay_intersection_general(cells, boundary, bucket=2.0)
    return pairs.select(
        "user_id",
        "n_nationkey",
        F.round(F.col("area_inter") * F.lit(float(Q)))
        .cast("long")
        .alias("area_q"),
    )


_J4_CONCAVE_SQL = f"""
WITH cells AS ({_CELLS_SQL}),
{_CONCAVE_RECTS_SQL},
pieces AS (
    SELECT c.user_id, r.n_nationkey,
           (least(c.x2, r.rx2) - greatest(c.x1, r.rx1))
           * (least(c.y2, r.ry2) - greatest(c.y1, r.ry1)) AS a
    FROM cells c JOIN rects r
      ON c.x1 < r.rx2 AND r.rx1 < c.x2 AND c.y1 < r.ry2 AND r.ry1 < c.y2
)
SELECT user_id, n_nationkey,
       CAST(round(sum(a) * {Q}.0) AS BIGINT) AS area_q
FROM pieces GROUP BY user_id, n_nationkey
"""


def p5_concave_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersects-filter against a CONCAVE dissolved boundary (P5
    general form — wrf_voronoi.py:185-188 intersects the union of
    concave London boroughs): keep cells whose interior intersects any
    L.  Same EXISTS-over-parts re-expression as the rectilinear P5,
    but evaluated through the ear-clip overlay kernel; the distinct on
    the cell key is the EXISTS."""
    from wrf_to_geodataframe_spark.geometry.overlay import (
        overlay_intersection_general,
    )

    cells = grid_cells(spark, sf_dir)
    cpoly = cells.select(
        "user_id", "x_idx", "y_idx", "x1", "y1", "x2", "y2",
        _box_poly(
            F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")
        ).alias("a_poly"),
    )
    boundary = _concave_boundary(spark, sf_dir)
    pairs = overlay_intersection_general(cpoly, boundary, bucket=2.0)
    return pairs.select(
        "user_id", "x_idx", "y_idx", "x1", "y1", "x2", "y2"
    ).distinct()


_P5_CONCAVE_SQL = f"""
WITH cells AS ({_CELLS_SQL}),
{_CONCAVE_RECTS_SQL}
SELECT user_id, x_idx, y_idx, x1, y1, x2, y2
FROM cells c
WHERE EXISTS (
    SELECT 1 FROM rects r
    WHERE c.x1 < r.rx2 AND r.rx1 < c.x2 AND c.y1 < r.ry2 AND r.ry1 < c.y2
)
"""


def j3_concave_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-CONCAVE-polygon spatial join (J3 general form —
    delphine/regrid.py:177 ``sjoin`` against arbitrary region
    polygons): locate every event point inside each containing
    L-boundary.

    Spark-first shape: the even-odd crossing test is a pure JVM
    higher-order-function expression over the vertex array
    (functions/polygons.py — whole-stage codegen, no Python), applied
    after an envelope bbox pre-filter, as the join predicate against
    the BROADCAST 25-row boundary table.  The big point side never
    shuffles."""
    from wrf_to_geodataframe_spark.functions.polygons import (
        point_in_polygon_col,
        polygon_envelope_cols,
    )

    events = load_table(spark, sf_dir, "events")
    points = events.select(
        "event_id",
        ((F.col("event_id") % (GRID_W * 10)).cast("double") / F.lit(10.0)).alias("px"),
        ((F.col("event_id") % 50).cast("double") / F.lit(10.0)).alias("py"),
    )
    boundary = _concave_boundary(spark, sf_dir)
    bxmin, bymin, bxmax, bymax = polygon_envelope_cols(F.col("b_poly"))
    bounded = boundary.select(
        "n_nationkey", "b_poly",
        bxmin.alias("bxmin"), bymin.alias("bymin"),
        bxmax.alias("bxmax"), bymax.alias("bymax"),
    )
    pred = (
        (F.col("px") >= F.col("bxmin"))
        & (F.col("px") <= F.col("bxmax"))
        & (F.col("py") >= F.col("bymin"))
        & (F.col("py") <= F.col("bymax"))
        & point_in_polygon_col(F.col("px"), F.col("py"), F.col("b_poly"))
    )
    return (
        points.join(F.broadcast(bounded), pred, "inner")
        .select("event_id", "px", "py", "n_nationkey")
    )


_J3_CONCAVE_SQL = f"""
WITH points AS (
    SELECT event_id,
           CAST(event_id % {GRID_W * 10} AS DOUBLE) / 10.0 AS px,
           CAST(event_id % 50 AS DOUBLE) / 10.0 AS py
    FROM events
),
{_CONCAVE_RECTS_SQL}
SELECT p.event_id, p.px, p.py, r.n_nationkey
FROM points p JOIN rects r
  ON p.px > r.rx1 AND p.px < r.rx2 AND p.py > r.ry1 AND p.py < r.ry2
"""


# ---------------------------------------------------------------------------
# J4 + P7 + A4 + J6 — the conservative regrid pipeline


def _source_cells_with_pop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source grid with a conserved quantity: events per cell
    ('population', the WorldPop analog of delphine/regrid.py:249-260).
    One scan + one shuffle; cell geometry derived arithmetically."""
    events = load_table(spark, sf_dir, "events")
    pop = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("pop"))
    src = pop.withColumn(
        "x", (F.col("user_id") % GRID_W).cast("double")
    ).withColumn("y", F.floor(F.col("user_id") / GRID_W).cast("double"))
    return cell_box(src, "x", "y", 0.5, 0.5)


def regrid_conservative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conservative (integral-preserving) regrid
    (SURVEY.md §3.3, delphine/regrid.py:206-330): transfer per-cell
    population from the unit source grid onto a coarser offset grid.

    Stages — all one DataFrame DAG, two shuffles total:
      overlay J4: each source cell explodes to the destination cells its
        envelope touches (sequence over integer dest indices — the
        bucket-join form of ``gpd.overlay(..., "intersection")``), with
        the analytic intersection area (G6/G7);
      A4 kernel: per dest cell, Σ pop·(area_inter/area_src), quantized
        per-pair so the distributed sum is bit-exact;
      J6 + P7: left-join onto the full destination grid (generated from
        A1's extent) and fill uncovered cells with 0 (``fillna(0)``).

    Conservation (A5, delphine/regrid.py:323-327) is asserted as a
    property test in tests/test_spatial_suite.py."""
    from wrf_to_geodataframe_spark.operators.regrid import (
        conservative_regrid_rect,
    )

    src = _source_cells_with_pop(spark, sf_dir)
    out = conservative_regrid_rect(
        src, "pop", OX, OY, DW, DH,
        area_fn=lambda x1, y1, x2, y2: (x2 - x1) * (y2 - y1),
        quantize=lambda c: F.floor(c).cast("long"),
        q_scale=float(Q),
    )
    return out.withColumnRenamed("value", "population")


_REGRID_SQL = f"""
WITH src AS (
    SELECT user_id, count(*) AS pop,
           CAST(user_id % {GRID_W} AS DOUBLE) - 0.5 AS x1,
           floor(user_id / {GRID_W}.0) - 0.5 AS y1,
           CAST(user_id % {GRID_W} AS DOUBLE) + 0.5 AS x2,
           floor(user_id / {GRID_W}.0) + 0.5 AS y2
    FROM events GROUP BY user_id
),
bbox AS (
    SELECT min(CAST(user_id % {GRID_W} AS DOUBLE)) AS xmin,
           min(floor(user_id / {GRID_W}.0)) AS ymin,
           max(CAST(user_id % {GRID_W} AS DOUBLE)) AS xmax,
           max(floor(user_id / {GRID_W}.0)) AS ymax
    FROM events
),
dest AS (
    -- DuckDB's generate_series cannot take lateral column parameters, so
    -- generate a static index range and filter by the bbox-derived bounds
    SELECT gi.i, gj.j,
           {OX} + {DW} * gi.i AS dx1, {OY} + {DH} * gj.j AS dy1,
           {OX} + {DW} * (gi.i + 1) AS dx2, {OY} + {DH} * (gj.j + 1) AS dy2
    FROM bbox,
         generate_series(-4, 4096) AS gi(i),
         generate_series(-4, 4096) AS gj(j)
    WHERE gi.i BETWEEN CAST(floor((xmin - 0.5 - {OX}) / {DW}) AS BIGINT)
                   AND CAST(floor((xmax + 0.5 - {OX}) / {DW}) AS BIGINT)
      AND gj.j BETWEEN CAST(floor((ymin - 0.5 - {OY}) / {DH}) AS BIGINT)
                   AND CAST(floor((ymax + 0.5 - {OY}) / {DH}) AS BIGINT)
),
pairs AS (
    SELECT d.i, d.j,
           CAST(floor(
               s.pop / ((s.x2 - s.x1) * (s.y2 - s.y1))
               * (greatest(least(s.x2, d.dx2) - greatest(s.x1, d.dx1), 0.0)
                  * greatest(least(s.y2, d.dy2) - greatest(s.y1, d.dy1), 0.0))
               * {Q}.0) AS BIGINT) AS contrib_q
    FROM src s JOIN dest d
      ON s.x1 < d.dx2 AND d.dx1 < s.x2 AND s.y1 < d.dy2 AND d.dy1 < s.y2
     AND (greatest(least(s.x2, d.dx2) - greatest(s.x1, d.dx1), 0.0)
          * greatest(least(s.y2, d.dy2) - greatest(s.y1, d.dy1), 0.0)) > 0.0
),
transferred AS (
    SELECT i, j, CAST(sum(contrib_q) AS DOUBLE) / {Q}.0 AS pop_t
    FROM pairs GROUP BY i, j
)
SELECT d.i, d.j, d.dx1, d.dy1, d.dx2, d.dy2,
       coalesce(t.pop_t, 0.0) AS population
FROM dest d LEFT JOIN transferred t USING (i, j)
"""


# ---------------------------------------------------------------------------
# J4 general path: the same regrid through the geometric overlay kernel


def _box_poly(x1, y1, x2, y2):
    """ccw vertex-array polygon for a box (the engine's geometry wire
    format, array<array<double>>)."""
    return F.array(
        F.array(x1, y1), F.array(x2, y1), F.array(x2, y2), F.array(x1, y2)
    )


def regrid_conservative_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conservative regrid AGAIN — but through the general convex
    overlay kernel (geometry/overlay.py: envelope buckets → equi join →
    reference-point dedup → Sutherland–Hodgman clip in Arrow batches)
    instead of rectilinear arithmetic.

    The oracle is the ANALYTIC regrid: on rectilinear inputs the
    geometric path must reproduce it exactly (per-pair contributions are
    rounded at 1e-6, far above the kernel's ~1e-15 clip error and never
    near a rounding boundary on this lattice) — a semantic validation of
    the overlay kernel, not an expression echo."""
    from wrf_to_geodataframe_spark.geometry.overlay import overlay_intersection

    src_cells = _source_cells_with_pop(spark, sf_dir)
    src = src_cells.select(
        "user_id",
        "pop",
        (
            (F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1"))
        ).alias("area_src"),
        _box_poly(F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")).alias("a_poly"),
    )

    # extent from the aggregated cell table (duplicate-insensitive
    # min/max), sharing the src subtree instead of rescanning events
    bbox = src_cells.agg(
        F.min("x").alias("xmin"), F.min("y").alias("ymin"),
        F.max("x").alias("xmax"), F.max("y").alias("ymax"),
    )
    dest = (
        bbox.select(
            F.explode(
                F.sequence(
                    F.floor((F.col("xmin") - F.lit(0.5) - F.lit(OX)) / F.lit(DW)),
                    F.floor((F.col("xmax") + F.lit(0.5) - F.lit(OX)) / F.lit(DW)),
                )
            ).alias("i"),
            "ymin", "ymax",
        )
        .select(
            "i",
            F.explode(
                F.sequence(
                    F.floor((F.col("ymin") - F.lit(0.5) - F.lit(OY)) / F.lit(DH)),
                    F.floor((F.col("ymax") + F.lit(0.5) - F.lit(OY)) / F.lit(DH)),
                )
            ).alias("j"),
        )
        .withColumn("dx1", F.lit(OX) + F.lit(DW) * F.col("i"))
        .withColumn("dy1", F.lit(OY) + F.lit(DH) * F.col("j"))
        .withColumn("dx2", F.lit(OX) + F.lit(DW) * (F.col("i") + 1))
        .withColumn("dy2", F.lit(OY) + F.lit(DH) * (F.col("j") + 1))
    )
    dest_polys = dest.select(
        "i", "j",
        _box_poly(F.col("dx1"), F.col("dy1"), F.col("dx2"), F.col("dy2")).alias("b_poly"),
    )

    pairs = overlay_intersection(src, dest_polys, bucket=2.0)
    contrib_q = F.round(
        F.col("pop") / F.col("area_src") * F.col("area_inter") * F.lit(float(Q))
    ).cast("long")
    transferred = pairs.groupBy("i", "j").agg(
        (F.sum(contrib_q).cast("double") / F.lit(float(Q))).alias("pop_t")
    )
    return (
        dest.join(transferred, ["i", "j"], "left")
        .select(
            "i", "j", "dx1", "dy1", "dx2", "dy2",
            F.coalesce(F.col("pop_t"), F.lit(0.0)).alias("population"),
        )
    )


_REGRID_GENERAL_SQL = _REGRID_SQL.replace(
    f"""CAST(floor(
               s.pop / ((s.x2 - s.x1) * (s.y2 - s.y1))
               * (greatest(least(s.x2, d.dx2) - greatest(s.x1, d.dx1), 0.0)
                  * greatest(least(s.y2, d.dy2) - greatest(s.y1, d.dy1), 0.0))
               * {Q}.0) AS BIGINT) AS contrib_q""",
    f"""CAST(round(
               s.pop / ((s.x2 - s.x1) * (s.y2 - s.y1))
               * (greatest(least(s.x2, d.dx2) - greatest(s.x1, d.dx1), 0.0)
                  * greatest(least(s.y2, d.dy2) - greatest(s.y1, d.dy1), 0.0))
               * {Q}.0) AS BIGINT) AS contrib_q""",
)


# ---------------------------------------------------------------------------
# G8 — CRS transform, A7 — domain center/radius


def g8_crs_webmercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRS transform (SURVEY.md §2 G8, wrf_voronoi.py:188
    ``to_crs("EPSG:27700")``): grid centers as pseudo lon/lat projected
    to spherical Web Mercator with built-in expressions (JVM-side; the
    pandas_udf variant is parity-tested in tests/test_crs.py).  Outputs
    rounded to cm: ln/tan differ from DuckDB's libm in the last bit."""
    from wrf_to_geodataframe_spark.functions.crs import (
        lonlat_to_webmercator_x,
        lonlat_to_webmercator_y,
    )

    cells = grid_cells(spark, sf_dir)
    lon = F.col("x") * 2.0 - 30.0  # map grid to ~[-30, 30] degrees
    lat = F.col("y") * 1.5 - 20.0
    return cells.select(
        "user_id",
        F.round(lonlat_to_webmercator_x(lon), 2).alias("mx"),
        F.round(lonlat_to_webmercator_y(lat), 2).alias("my"),
    )


_G8_SQL = f"""
WITH cells AS ({_CELLS_SQL})
SELECT user_id,
       round(6378137.0 * radians((x1 + 0.5) * 2.0 - 30.0), 2) AS mx,
       round(6378137.0 * ln(tan(pi() / 4 + radians((y1 + 0.5) * 1.5 - 20.0) / 2)), 2) AS my
FROM cells
"""


def g8_crs_osgb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:27700 transform (SURVEY.md §2 G8 — the reference's ACTUAL
    target CRS, wrf_voronoi.py:188 ``.to_crs("EPSG:27700")``): grid
    centers as pseudo WGS84 lon/lat over Great Britain, through the
    full published chain (geodetic -> cartesian -> Helmert datum shift
    -> Airy 1830 geodetic -> National Grid transverse Mercator; see
    functions/crs.py, validated against the OS worked example).  Outputs
    rounded to cm — the 40-odd transcendental steps keep cross-engine
    libm drift below 1e-7 m, five orders under the rounding quantum."""
    from wrf_to_geodataframe_spark.functions.crs import lonlat_to_osgb

    cells = grid_cells(spark, sf_dir)
    d = cells.select(
        "user_id",
        (F.col("x") * 0.25 - 6.0).alias("lon"),  # ~[-6, 1.75] degrees
        (F.col("y") * 0.1 + 50.0).alias("lat"),  # ~[50, 55] degrees
    )
    out = lonlat_to_osgb(d, F.col("lon"), F.col("lat"))
    return out.select(
        "user_id",
        F.round("easting", 2).alias("easting"),
        F.round("northing", 2).alias("northing"),
    )


def _osgb_sql() -> str:
    """The oracle's mirror of the full EPSG:27700 chain as chained CTEs,
    embedding the IDENTICAL precomputed constant literals."""
    from wrf_to_geodataframe_spark.functions import crs as C

    af0, bf0 = C.AIRY_A * C.OSGB_F0, C.AIRY_B * C.OSGB_F0
    it = """
it{k} AS (
    SELECT user_id, p, lam2, ZP,
           atan2(ZP + {e2a} * ({aa} / sqrt(1.0 - {e2a} * sin(phi2) * sin(phi2))) * sin(phi2), p) AS phi2
    FROM it{j}
),"""
    iters = "".join(
        it.format(k=k, j=k - 1, e2a=repr(C.E2_AIRY), aa=repr(C.AIRY_A))
        for k in range(1, 8)
    )
    return f"""
WITH cells AS ({_CELLS_SQL}),
ll AS (
    SELECT user_id,
           radians((y1 + 0.5) * 0.1 + 50.0) AS phi,
           radians((x1 + 0.5) * 0.25 - 6.0) AS lam
    FROM cells
),
cart AS (
    SELECT user_id,
           ({C.WGS_A!r} / sqrt(1.0 - {C.E2_WGS!r} * sin(phi) * sin(phi))) * cos(phi) * cos(lam) AS X,
           ({C.WGS_A!r} / sqrt(1.0 - {C.E2_WGS!r} * sin(phi) * sin(phi))) * cos(phi) * sin(lam) AS Y,
           (1.0 - {C.E2_WGS!r}) * ({C.WGS_A!r} / sqrt(1.0 - {C.E2_WGS!r} * sin(phi) * sin(phi))) * sin(phi) AS Z
    FROM ll
),
helm AS (
    SELECT user_id,
           {C.H_TX!r} + {C.H_S1!r} * X - {C.H_RZ!r} * Y + {C.H_RY!r} * Z AS XP,
           {C.H_TY!r} + {C.H_RZ!r} * X + {C.H_S1!r} * Y - {C.H_RX!r} * Z AS YP,
           {C.H_TZ!r} - {C.H_RY!r} * X + {C.H_RX!r} * Y + {C.H_S1!r} * Z AS ZP
    FROM cart
),
it0 AS (
    SELECT user_id,
           sqrt(XP * XP + YP * YP) AS p,
           atan2(YP, XP) AS lam2,
           ZP,
           atan2(ZP, sqrt(XP * XP + YP * YP) * (1.0 - {C.E2_AIRY!r})) AS phi2
    FROM helm
),{iters}
geo AS (
    SELECT user_id,
           sin(phi2) AS s2, cos(phi2) AS c2, tan(phi2) AS t2,
           lam2 - {C.OSGB_LAM0!r} AS dl,
           phi2 - {C.OSGB_PHI0!r} AS dphi,
           phi2 + {C.OSGB_PHI0!r} AS sphi0
    FROM it7
),
tm1 AS (
    SELECT user_id, s2, c2, t2, dl,
           {af0!r} / sqrt(1.0 - {C.E2_AIRY!r} * s2 * s2) AS nu,
           {af0!r} * (1.0 - {C.E2_AIRY!r})
               / ((1.0 - {C.E2_AIRY!r} * s2 * s2) * sqrt(1.0 - {C.E2_AIRY!r} * s2 * s2)) AS rho,
           {bf0!r} * ({C.MA_C!r} * dphi
               - {C.MB_C!r} * sin(dphi) * cos(sphi0)
               + {C.MC_C!r} * sin(2.0 * dphi) * cos(2.0 * sphi0)
               - {C.MD_C!r} * sin(3.0 * dphi) * cos(3.0 * sphi0)) AS M
    FROM geo
),
tm2 AS (
    SELECT user_id, s2, c2, dl, nu, rho, M,
           nu / rho - 1.0 AS eta2,
           t2 * t2 AS t22, t2 * t2 * t2 * t2 AS t24,
           c2 * c2 * c2 AS c23, c2 * c2 * c2 * c2 * c2 AS c25,
           dl * dl AS dl2
    FROM tm1
)
SELECT user_id,
       round({C.OSGB_E0!r}
           + nu * c2 * dl
           + nu / 6.0 * c23 * (nu / rho - t22) * dl2 * dl
           + nu / 120.0 * c25 * (5.0 - 18.0 * t22 + t24 + 14.0 * eta2 - 58.0 * t22 * eta2) * dl2 * dl2 * dl, 2) AS easting,
       round(M + {C.OSGB_N0!r}
           + nu / 2.0 * s2 * c2 * dl2
           + nu / 24.0 * s2 * c23 * (5.0 - t22 + 9.0 * eta2) * dl2 * dl2
           + nu / 720.0 * s2 * c25 * (61.0 - 58.0 * t22 + t24) * dl2 * dl2 * dl2, 2) AS northing
FROM tm2
"""


_G8_OSGB_SQL = _osgb_sql()


def g8_crs_lcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambert conformal conic transform (SURVEY.md §2 G8) — WRF's
    NATIVE projection (the grid every wrfout file is on; the reference
    reaches it through pyproj's any-EPSG ``to_crs``): grid centers as
    pseudo lon/lat over CONUS projected through the spherical LCC
    column transform (functions/crs.py, Snyder eqs. 15-1/15-2 — the
    same constants kernel the GRIB2 template-3.30 decoder uses).
    NCEP-style parameters: standard parallels 30/60, origin (40, -100),
    WRF spherical earth.  Outputs rounded to cm (cross-engine libm
    drift ~1e-10 m)."""
    from wrf_to_geodataframe_spark.functions.crs import (
        WRF_SPHERE_R,
        lonlat_to_lcc,
    )

    cells = grid_cells(spark, sf_dir)
    d = cells.select(
        "user_id",
        (F.col("x") * 0.5 - 108.0).alias("lon"),  # ~[-108, -92.5]
        (F.col("y") * 0.5 + 28.0).alias("lat"),   # ~[28, 51.5]
    )
    out = lonlat_to_lcc(
        d, F.col("lon"), F.col("lat"), 30.0, 60.0, 40.0, -100.0,
        WRF_SPHERE_R,
    )
    return out.select(
        "user_id",
        F.round("lcc_x", 2).alias("lcc_x"),
        F.round("lcc_y", 2).alias("lcc_y"),
    )


def _lcc_sql() -> str:
    """Oracle mirror of the spherical LCC forward, embedding the
    IDENTICAL precomputed constants (cone constant n, R*F, rho0)."""
    from wrf_to_geodataframe_spark.functions.crs import (
        WRF_SPHERE_R,
        lcc_constants,
    )

    n, F_, rho0 = lcc_constants(30.0, 60.0, 40.0, WRF_SPHERE_R)
    rf = WRF_SPHERE_R * F_
    return f"""
WITH cells AS ({_CELLS_SQL}),
ll AS (
    SELECT user_id,
           radians((y1 + 0.5) * 0.5 + 28.0) AS phi,
           radians((x1 + 0.5) * 0.5 - 108.0 + 100.0) AS dl
    FROM cells
),
r AS (
    SELECT user_id, dl,
           {rf!r} / pow(tan(pi() / 4 + phi / 2), {n!r}) AS rho
    FROM ll
)
SELECT user_id,
       round(rho * sin({n!r} * dl), 2) AS lcc_x,
       round({rho0!r} - rho * cos({n!r} * dl), 2) AS lcc_y
FROM r
"""


_G8_LCC_SQL = _lcc_sql()


_WRF_ATTRS = {
    "MAP_PROJ": 1, "TRUELAT1": 30.0, "TRUELAT2": 60.0,
    "MOAD_CEN_LAT": 40.0, "STAND_LON": -100.0,
    "CEN_LON": -97.0, "CEN_LAT": 41.5,
    "DX": 4000.0, "DY": 4000.0,
    "WEST-EAST_GRID_DIMENSION": 31, "SOUTH-NORTH_GRID_DIMENSION": 41,
}


def g19_wrf_ll_to_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wrf-python ``ll_to_xy`` / ``xy_to_ll`` (functions/crs.py):
    fractional mass-grid indices from lon/lat through a wrfout
    LCC attribute block — project through the native projection,
    index-normalize around the projected domain center (embedded as a
    literal-input branch of the same lazy expression — no job at
    construction) — plus the ROUND-TRIP back to lon/lat through the
    inverse.  The oracle restates the Snyder forward and the index
    arithmetic with identical constants (class B; the g8 family's
    pattern) and states the round-trip columns as the closed-form
    IDENTITY — the engine's inverse path is checked against the
    original coordinates, not against a replay of itself."""
    from wrf_to_geodataframe_spark.functions.crs import (
        wrf_ll_to_xy,
        wrf_xy_to_ll,
    )

    cells = grid_cells(spark, sf_dir)
    d = cells.select(
        "user_id",
        (F.col("x") * 0.5 - 108.0).alias("lon"),
        (F.col("y") * 0.5 + 28.0).alias("lat"),
    )
    d = wrf_ll_to_xy(_WRF_ATTRS, d, "lon", "lat", out_i="i", out_j="j")
    d = wrf_xy_to_ll(_WRF_ATTRS, d, "i", "j", out_lon="lon2", out_lat="lat2")
    return d.select(
        "user_id",
        F.round("i", 6).alias("i"),
        F.round("j", 6).alias("j"),
        F.round("lon2", 6).alias("lon2"),
        F.round("lat2", 6).alias("lat2"),
    )


def _g19_sql() -> str:
    from wrf_to_geodataframe_spark.functions.crs import (
        WRF_SPHERE_R,
        lcc_constants,
    )

    n, F_, rho0 = lcc_constants(30.0, 60.0, 40.0, WRF_SPHERE_R)
    rf = WRF_SPHERE_R * F_
    return f"""
WITH cells AS ({_CELLS_SQL}),
ll AS (
    SELECT user_id,
           (x1 + 0.5) * 0.5 - 108.0 AS lon,
           (y1 + 0.5) * 0.5 + 28.0 AS lat
    FROM cells
),
r AS (
    SELECT user_id, lon, lat,
           {rf!r} / pow(tan(pi() / 4 + radians(lat) / 2), {n!r}) AS rho,
           radians(lon + 100.0) AS dl,
           {rf!r} / pow(tan(pi() / 4 + radians(41.5) / 2), {n!r}) AS rhoc,
           radians(-97.0 + 100.0) AS dlc
    FROM ll
)
SELECT user_id,
       round((rho * sin({n!r} * dl) - rhoc * sin({n!r} * dlc))
             / 4000.0 + 14.5, 6) AS i,
       round((({rho0!r} - rho * cos({n!r} * dl))
              - ({rho0!r} - rhoc * cos({n!r} * dlc)))
             / 4000.0 + 19.5, 6) AS j,
       round(lon, 6) AS lon2,
       round(lat, 6) AS lat2
FROM r
"""


_G19_SQL = _g19_sql()


_WRF_ATTRS_STERE = {
    "MAP_PROJ": 2, "TRUELAT1": 60.0, "STAND_LON": -100.0,
    "CEN_LON": -97.0, "CEN_LAT": 65.0,
    "DX": 20000.0, "DY": 20000.0,
    "WEST-EAST_GRID_DIMENSION": 31, "SOUTH-NORTH_GRID_DIMENSION": 41,
}


def g20_wrf_ll_to_xy_stere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wrf-python ``ll_to_xy`` / ``xy_to_ll`` on a POLAR-STEREOGRAPHIC
    wrfout block (MAP_PROJ=2, the high-latitude domain case): the same
    grid-index transform as g19 dispatched through wrf_projection's
    stere branch (functions/crs.py, Snyder 21-33/21-34 with scale true
    at TRUELAT1), plus the round trip back through the inverse.  The
    oracle restates the spherical stereographic forward and the index
    arithmetic with identical constants and states the round-trip
    columns as the closed-form identity (the g19 pattern).  The i/j
    index range crosses zero, so both sides carry the SIGNED-ZERO
    guard (+ 0.0) after the round."""
    from wrf_to_geodataframe_spark.functions.crs import (
        wrf_ll_to_xy,
        wrf_xy_to_ll,
    )

    cells = grid_cells(spark, sf_dir)
    d = cells.select(
        "user_id",
        (F.col("x") * 0.5 - 108.0).alias("lon"),
        (F.col("y") * 0.4 + 55.0).alias("lat"),
    )
    d = wrf_ll_to_xy(_WRF_ATTRS_STERE, d, "lon", "lat", out_i="i", out_j="j")
    d = wrf_xy_to_ll(
        _WRF_ATTRS_STERE, d, "i", "j", out_lon="lon2", out_lat="lat2"
    )
    return d.select(
        "user_id",
        (F.round("i", 6) + F.lit(0.0)).alias("i"),
        (F.round("j", 6) + F.lit(0.0)).alias("j"),
        F.round("lon2", 6).alias("lon2"),
        F.round("lat2", 6).alias("lat2"),
    )


def _g20_sql() -> str:
    import math as _m

    from wrf_to_geodataframe_spark.functions.crs import WRF_SPHERE_R

    k0 = (1.0 + _m.sin(_m.radians(60.0))) / 2.0
    rf = 2.0 * WRF_SPHERE_R * k0
    return f"""
WITH cells AS ({_CELLS_SQL}),
ll AS (
    SELECT user_id,
           (x1 + 0.5) * 0.5 - 108.0 AS lon,
           (y1 + 0.5) * 0.4 + 55.0 AS lat
    FROM cells
),
r AS (
    SELECT user_id, lon, lat,
           {rf!r} * tan(pi() / 4 - radians(lat) / 2) AS rho,
           radians(lon - (-100.0)) AS dl,
           {rf!r} * tan(pi() / 4 - radians(65.0) / 2) AS rhoc,
           radians(-97.0 - (-100.0)) AS dlc
    FROM ll
)
SELECT user_id,
       round((rho * sin(dl) - rhoc * sin(dlc)) / 20000.0 + 14.5, 6)
         + 0.0 AS i,
       round((-rho * cos(dl) - (-rhoc * cos(dlc))) / 20000.0 + 19.5, 6)
         + 0.0 AS j,
       round(lon, 6) AS lon2,
       round(lat, 6) AS lat2
FROM r
"""


_G20_SQL = _g20_sql()


_WRF_ATTRS_MERC = {
    "MAP_PROJ": 3, "TRUELAT1": 20.0, "STAND_LON": -100.0,
    "CEN_LON": -97.0, "CEN_LAT": 10.0,
    "DX": 20000.0, "DY": 20000.0,
    "WEST-EAST_GRID_DIMENSION": 31, "SOUTH-NORTH_GRID_DIMENSION": 41,
}


def g21_wrf_ll_to_xy_merc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wrf-python ``ll_to_xy`` / ``xy_to_ll`` on a MERCATOR wrfout
    block (MAP_PROJ=3, the tropical-channel domain case; lat band
    crosses the equator): the same grid-index transform as g19/g20
    dispatched through wrf_projection's Mercator branch
    (functions/crs.py, Snyder 7-1/7-2 with scale true at TRUELAT1),
    plus the round trip back through the inverse.  The oracle restates
    the spherical Mercator forward and the index arithmetic with
    identical constants and states the round-trip columns as the
    closed-form identity (the g19/g20 pattern).  The i/j range crosses
    zero, so both sides carry the SIGNED-ZERO guard."""
    from wrf_to_geodataframe_spark.functions.crs import (
        wrf_ll_to_xy,
        wrf_xy_to_ll,
    )

    cells = grid_cells(spark, sf_dir)
    d = cells.select(
        "user_id",
        (F.col("x") * 0.5 - 108.0).alias("lon"),
        (F.col("y") * 0.4 - 8.0).alias("lat"),
    )
    d = wrf_ll_to_xy(_WRF_ATTRS_MERC, d, "lon", "lat", out_i="i", out_j="j")
    d = wrf_xy_to_ll(
        _WRF_ATTRS_MERC, d, "i", "j", out_lon="lon2", out_lat="lat2"
    )
    return d.select(
        "user_id",
        (F.round("i", 6) + F.lit(0.0)).alias("i"),
        (F.round("j", 6) + F.lit(0.0)).alias("j"),
        (F.round("lon2", 6) + F.lit(0.0)).alias("lon2"),
        (F.round("lat2", 6) + F.lit(0.0)).alias("lat2"),
    )


def _g21_sql() -> str:
    import math as _m

    from wrf_to_geodataframe_spark.functions.crs import WRF_SPHERE_R

    rk = WRF_SPHERE_R * _m.cos(_m.radians(20.0))
    return f"""
WITH cells AS ({_CELLS_SQL}),
ll AS (
    SELECT user_id,
           (x1 + 0.5) * 0.5 - 108.0 AS lon,
           (y1 + 0.5) * 0.4 - 8.0 AS lat
    FROM cells
),
r AS (
    SELECT user_id, lon, lat,
           {rk!r} * radians(lon - (-100.0)) AS px,
           {rk!r} * ln(tan(pi() / 4 + radians(lat) / 2)) AS py,
           {rk!r} * radians(-97.0 - (-100.0)) AS cx,
           {rk!r} * ln(tan(pi() / 4 + radians(10.0) / 2)) AS cy
    FROM ll
)
SELECT user_id,
       round((px - cx) / 20000.0 + 14.5, 6) + 0.0 AS i,
       round((py - cy) / 20000.0 + 19.5, 6) + 0.0 AS j,
       round(lon, 6) + 0.0 AS lon2,
       round(lat, 6) + 0.0 AS lat2
FROM r
"""


_G21_SQL = _g21_sql()


_WRF_ATTRS_LATLON = {
    "MAP_PROJ": 6, "TRUELAT1": 0.0, "STAND_LON": -97.0,
    "CEN_LON": -97.0, "CEN_LAT": 35.0,
    "DX": 0.5, "DY": 0.25,  # lat-lon grids: spacing in DEGREES
    "WEST-EAST_GRID_DIMENSION": 31, "SOUTH-NORTH_GRID_DIMENSION": 41,
}


def g22_wrf_ll_to_xy_latlon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wrf-python ``ll_to_xy`` / ``xy_to_ll`` on a LAT-LON (cylindrical
    equidistant) wrfout block (MAP_PROJ=6, the global/idealized domain
    case): wrf_projection's identity branch — degrees ARE the projected
    plane, DX/DY carry degrees — then the same index normalization.
    Every quantity here is dyadic (DX=1/2, DY=1/4, dyadic lon/lat), so
    the whole gate, round trip included, is hash-exact closed form —
    the one MAP_PROJ branch where the oracle needs no transcendentals
    (mass-point counts are the staggered ``*_GRID_DIMENSION`` attrs
    minus one, so the half-index offsets are 14.5/19.5 — the same
    wrf-python convention g19/g20 pin).  The i/j range crosses zero,
    so the SIGNED-ZERO guard rides on both sides."""
    from wrf_to_geodataframe_spark.functions.crs import (
        wrf_ll_to_xy,
        wrf_xy_to_ll,
    )

    cells = grid_cells(spark, sf_dir)
    d = cells.select(
        "user_id",
        (F.col("x") * 0.5 - 108.0).alias("lon"),
        (F.col("y") * 0.25 + 30.0).alias("lat"),
    )
    d = wrf_ll_to_xy(
        _WRF_ATTRS_LATLON, d, "lon", "lat", out_i="i", out_j="j"
    )
    d = wrf_xy_to_ll(
        _WRF_ATTRS_LATLON, d, "i", "j", out_lon="lon2", out_lat="lat2"
    )
    return d.select(
        "user_id",
        (F.round("i", 6) + F.lit(0.0)).alias("i"),
        (F.round("j", 6) + F.lit(0.0)).alias("j"),
        (F.round("lon2", 6) + F.lit(0.0)).alias("lon2"),
        (F.round("lat2", 6) + F.lit(0.0)).alias("lat2"),
    )


_G22_SQL = f"""
WITH cells AS ({_CELLS_SQL}),
ll AS (
    SELECT user_id,
           (x1 + 0.5) * 0.5 - 108.0 AS lon,
           (y1 + 0.5) * 0.25 + 30.0 AS lat
    FROM cells
)
SELECT user_id,
       round((lon - (-97.0)) / 0.5 + 14.5, 6) + 0.0 AS i,
       round((lat - 35.0) / 0.25 + 19.5, 6) + 0.0 AS j,
       round(lon, 6) + 0.0 AS lon2,
       round(lat, 6) + 0.0 AS lat2
FROM ll
"""


def g8_crs_utm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTM transform (SURVEY.md §2 G8): grid centers as pseudo WGS84
    lon/lat inside UTM zone 30 projected through the Kruger-series
    transverse Mercator column transform (functions/crs.py; validated
    against Snyder's worked example and the OS-series independent
    formulation in tests/test_crs.py).  Outputs rounded to cm — DuckDB
    has no hyperbolics, so the oracle mirrors sinh/cosh/atanh through
    exp/ln identities (drift ~1e-9 m, seven orders under the rounding
    quantum)."""
    from wrf_to_geodataframe_spark.functions.crs import lonlat_to_utm

    cells = grid_cells(spark, sf_dir)
    d = cells.select(
        "user_id",
        (F.col("x") * 0.15 - 5.4).alias("lon"),  # ~[-5.4, -0.75]
        (F.col("y") * 0.4 + 35.0).alias("lat"),  # ~[35, 53.4]
    )
    out = lonlat_to_utm(d, F.col("lon"), F.col("lat"), zone=30)
    return out.select(
        "user_id",
        F.round("easting", 2).alias("easting"),
        F.round("northing", 2).alias("northing"),
    )


def _utm_sql() -> str:
    """Oracle mirror of the Kruger-series UTM forward with identical
    constant literals; hyperbolics via exp, atanh via ln."""
    from wrf_to_geodataframe_spark.functions.crs import tm_constants

    k = tm_constants()
    kA = 0.9996 * k["A"]
    a1, a2, a3 = k["alpha"]
    c = k["c"]
    return f"""
WITH cells AS ({_CELLS_SQL}),
ll AS (
    SELECT user_id,
           sin(radians((y1 + 0.5) * 0.4 + 35.0)) AS s,
           radians((x1 + 0.5) * 0.15 - 5.4 + 3.0) AS lp
    FROM cells
),
q AS (
    SELECT user_id, lp,
           0.5 * ln((1.0 + s) / (1.0 - s))
           - {c!r} * 0.5 * ln((1.0 + {c!r} * s) / (1.0 - {c!r} * s)) AS qv
    FROM ll
),
tt AS (
    SELECT user_id, lp, (exp(qv) - exp(-qv)) / 2.0 AS t
    FROM q
),
xe AS (
    SELECT user_id,
           atan2(t, cos(lp)) AS xip,
           0.5 * ln((1.0 + sin(lp) / sqrt(1.0 + t * t))
                    / (1.0 - sin(lp) / sqrt(1.0 + t * t))) AS etap
    FROM tt
)
SELECT user_id,
       round(500000.0 + {kA!r} * (etap
           + {a1!r} * cos(2.0 * xip) * (exp(2.0 * etap) - exp(-2.0 * etap)) / 2.0
           + {a2!r} * cos(4.0 * xip) * (exp(4.0 * etap) - exp(-4.0 * etap)) / 2.0
           + {a3!r} * cos(6.0 * xip) * (exp(6.0 * etap) - exp(-6.0 * etap)) / 2.0), 2) AS easting,
       round({kA!r} * (xip
           + {a1!r} * sin(2.0 * xip) * (exp(2.0 * etap) + exp(-2.0 * etap)) / 2.0
           + {a2!r} * sin(4.0 * xip) * (exp(4.0 * etap) + exp(-4.0 * etap)) / 2.0
           + {a3!r} * sin(6.0 * xip) * (exp(6.0 * etap) + exp(-6.0 * etap)) / 2.0), 2) AS northing
FROM xe
"""


_G8_UTM_SQL = _utm_sql()


def g8_crs_stere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polar stereographic transform (SURVEY.md §2 G8) — WRF
    MAP_PROJ=2 (high-latitude domains): grid centers as pseudo lon/lat
    over the Arctic projected through the spherical polar
    stereographic column transform (functions/crs.py, Snyder
    21-33/21-34, scale true at 60N).  Outputs rounded to cm."""
    from wrf_to_geodataframe_spark.functions.crs import lonlat_to_stere

    cells = grid_cells(spark, sf_dir)
    d = cells.select(
        "user_id",
        (F.col("x") * 11.0 - 176.0).alias("lon"),  # ~[-176, 165]
        (F.col("y") * 0.5 + 55.0).alias("lat"),    # ~[55, 78.5]
    )
    out = lonlat_to_stere(
        d, F.col("lon"), F.col("lat"), 60.0, -100.0,
    )
    return out.select(
        "user_id",
        F.round("x", 2).alias("ps_x"),
        F.round("y", 2).alias("ps_y"),
    )


def _stere_sql() -> str:
    from wrf_to_geodataframe_spark.functions.crs import WRF_SPHERE_R
    import math as _m

    k0 = (1.0 + _m.sin(_m.radians(60.0))) / 2.0
    c = 2.0 * WRF_SPHERE_R * k0
    return f"""
WITH cells AS ({_CELLS_SQL}),
ll AS (
    SELECT user_id,
           radians((y1 + 0.5) * 0.5 + 55.0) AS phi,
           radians((x1 + 0.5) * 11.0 - 176.0 + 100.0) AS dl
    FROM cells
),
r AS (
    SELECT user_id, dl, {c!r} * tan(pi() / 4 - phi / 2) AS rho
    FROM ll
)
SELECT user_id,
       round(rho * sin(dl), 2) AS ps_x,
       round(-(rho * cos(dl)), 2) AS ps_y
FROM r
"""


_G8_STERE_SQL = _stere_sql()


def g8_crs_rotated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotated lat-lon unrotation (SURVEY.md §2 G8 — the UKCP18 /
    regional-climate grid, GRIB2 template 3.1): grid centers as pseudo
    ROTATED coordinates mapped to true WGS84 through the
    rotation-matrix column transform (functions/crs.py, the same
    construction as the GRIB2 decoder's Snyder-invariant-pinned
    kernel; UKCP18 pole).  Degrees rounded to 1e-7 (~cm)."""
    from wrf_to_geodataframe_spark.functions.crs import rotated_to_lonlat

    cells = grid_cells(spark, sf_dir)
    d = cells.select(
        "user_id",
        (F.col("x") * 0.3 - 5.0).alias("lon_r"),  # ~[-5, 4.3]
        (F.col("y") * 0.2 - 4.0).alias("lat_r"),  # ~[-4, 5.4]
    )
    out = rotated_to_lonlat(
        d, F.col("lon_r"), F.col("lat_r"), -37.5, -2.5,  # UKCP18
    )
    return out.select(
        "user_id",
        F.round("lon", 7).alias("lon"),
        F.round("lat", 7).alias("lat"),
    )


def _rotated_sql() -> str:
    import math as _m

    sp_lat, sp_lon = -37.5, -2.5
    theta = _m.radians(90.0 - (-sp_lat))
    lam_p = _m.radians(sp_lon - 180.0)
    ct, st = _m.cos(theta), _m.sin(theta)
    cl, sl = _m.cos(lam_p), _m.sin(lam_p)
    return f"""
WITH cells AS ({_CELLS_SQL}),
ll AS (
    SELECT user_id,
           radians((y1 + 0.5) * 0.2 - 4.0) AS phi,
           radians((x1 + 0.5) * 0.3 - 5.0) AS lam
    FROM cells
),
xyz AS (
    SELECT user_id,
           -(cos(phi) * cos(lam)) AS x,
           -(cos(phi) * sin(lam)) AS y,
           sin(phi) AS z
    FROM ll
),
rot AS (
    SELECT user_id, y,
           x * {ct!r} + z * {st!r} AS x1,
           -(x * {st!r}) + z * {ct!r} AS z1
    FROM xyz
),
fin AS (
    SELECT user_id, z1,
           x1 * {cl!r} - y * {sl!r} AS x2,
           x1 * {sl!r} + y * {cl!r} AS y2
    FROM rot
)
SELECT user_id,
       round(degrees(atan2(y2, x2)), 7) AS lon,
       round(degrees(asin(least(greatest(z1, -1.0), 1.0))), 7) AS lat
FROM fin
"""


_G8_ROTATED_SQL = _rotated_sql()


def g14_haversine_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle distance (the nearest-station / within-radius
    primitive every geo pipeline needs): haversine metres from each
    grid center's pseudo lon/lat to a fixed reference point, built-in
    JVM expressions (functions/crs.py).  Rounded to cm."""
    from wrf_to_geodataframe_spark.functions.crs import haversine_m

    cells = grid_cells(spark, sf_dir)
    d = cells.select(
        "user_id",
        (F.col("x") * 0.25 - 6.0).alias("lon"),
        (F.col("y") * 0.1 + 50.0).alias("lat"),
    )
    return d.select(
        "user_id",
        F.round(
            haversine_m(F.col("lat"), F.col("lon"),
                        F.lit(51.5), F.lit(-0.12)),
            2,
        ).alias("dist_m"),
    )


_G14_HAVERSINE_SQL = f"""
WITH cells AS ({_CELLS_SQL}),
ll AS (
    SELECT user_id,
           (y1 + 0.5) * 0.1 + 50.0 AS lat,
           (x1 + 0.5) * 0.25 - 6.0 AS lon
    FROM cells
),
h AS (
    SELECT user_id,
           sin(radians(51.5 - lat) / 2) AS sp,
           sin(radians(-0.12 - lon) / 2) AS sl,
           cos(radians(lat)) * cos(radians(51.5)) AS cc
    FROM ll
)
SELECT user_id,
       round(2.0 * 6371000.0 * asin(sqrt(
           least(greatest(sp * sp + cc * sl * sl, 0.0), 1.0)
       )), 2) AS dist_m
FROM h
"""


def g15_geodesic_midpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic bearing + destination (the other half of the
    great-circle toolkit next to ``haversine_m``): from each grid
    center's pseudo lon/lat, take the initial bearing toward a fixed
    reference point and travel HALF the haversine distance — the
    great-circle midpoint — emitting bearing and midpoint coordinates.
    All built-in JVM trig; the oracle restates the direct-geodesic
    formulas.  Degrees rounded to 1e-7 (~cm)."""
    from wrf_to_geodataframe_spark.functions.crs import (
        bearing_deg,
        destination_point,
        haversine_m,
    )

    cells = grid_cells(spark, sf_dir)
    d = cells.select(
        "user_id",
        (F.col("x") * 0.25 - 6.0).alias("lon"),
        (F.col("y") * 0.1 + 50.0).alias("lat"),
    )
    rlat, rlon = F.lit(51.5), F.lit(-0.12)
    b = bearing_deg(F.col("lat"), F.col("lon"), rlat, rlon)
    half = haversine_m(F.col("lat"), F.col("lon"), rlat, rlon) / 2.0
    mid = destination_point(F.col("lat"), F.col("lon"), b, half)
    return d.select(
        "user_id",
        F.round(b, 7).alias("bearing"),
        F.round(mid["lat"], 7).alias("mid_lat"),
        F.round(mid["lon"], 7).alias("mid_lon"),
    )


_G15_SQL = f"""
WITH cells AS ({_CELLS_SQL}),
ll AS (
    SELECT user_id,
           radians((y1 + 0.5) * 0.1 + 50.0) AS p1,
           radians((x1 + 0.5) * 0.25 - 6.0) AS l1,
           radians(51.5) AS p2, radians(-0.12) AS l2
    FROM cells
),
br AS (
    SELECT user_id, p1, l1,
           atan2(sin(l2 - l1) * cos(p2),
                 cos(p1) * sin(p2) - sin(p1) * cos(p2) * cos(l2 - l1))
               AS th,
           2.0 * 6371000.0 * asin(sqrt(least(greatest(
               sin((p2 - p1) / 2) * sin((p2 - p1) / 2)
               + cos(p1) * cos(p2)
                   * sin((l2 - l1) / 2) * sin((l2 - l1) / 2),
           0.0), 1.0))) AS dist
    FROM ll
),
dst AS (
    SELECT user_id, p1, l1, th,
           dist / 2.0 / 6371000.0 AS d
    FROM br
),
mid AS (
    SELECT user_id, th, l1, p1, d,
           least(greatest(
               sin(p1) * cos(d) + cos(p1) * sin(d) * cos(th),
           -1.0), 1.0) AS sp2
    FROM dst
)
SELECT user_id,
       round(degrees(th), 7) AS bearing,
       round(degrees(asin(sp2)), 7) AS mid_lat,
       round(fmod(fmod(degrees(l1 + atan2(sin(th) * sin(d) * cos(p1),
                                          cos(d) - sin(p1) * sp2))
                       + 180.0, 360.0) + 360.0, 360.0) - 180.0, 7)
           AS mid_lon
FROM mid
"""


def j7_nearest_station(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-STATION join (the met-data enrichment step after a
    regrid: attach each cell to its closest observation site): 25
    stations derived from ``nation``, grid cells as pseudo lon/lat,
    great-circle distance via ``haversine_m``, arg-min per cell.

    Scale shape: the station dimension is BROADCAST (tiny side never
    shuffles; the fact table streams through one broadcast join), and
    the arg-min is ``min(struct(dist, id))`` — a map-side-combinable
    aggregate, not a window sort.  Distances quantized to exact mm
    BIGINT before the min so the arg-min is order- and
    engine-insensitive (stations are km apart; libm drift is 1e-10 m)."""
    nation = load_table(spark, sf_dir, "nation")
    from wrf_to_geodataframe_spark.functions.crs import haversine_m

    stations = nation.select(
        F.col("n_nationkey").cast("bigint").alias("station_id"),
        (35.0 + (F.col("n_nationkey") % 5) * 3.7).alias("s_lat"),
        (-10.0 + (F.col("n_nationkey") * 7 % 30) * 1.3).alias("s_lon"),
    )
    cells = grid_cells(spark, sf_dir).select(
        "user_id",
        (F.col("x") * 0.25 - 6.0).alias("lon"),
        (F.col("y") * 0.1 + 50.0).alias("lat"),
    )
    d = cells.crossJoin(F.broadcast(stations)).withColumn(
        "dist_mm",
        F.floor(
            haversine_m(F.col("lat"), F.col("lon"),
                        F.col("s_lat"), F.col("s_lon")) * 1000.0
        ).cast("bigint"),
    )
    best = d.groupBy("user_id").agg(
        F.min(F.struct(F.col("dist_mm"), F.col("station_id"))).alias("b")
    )
    return best.select(
        "user_id",
        F.col("b.station_id").alias("station_id"),
        F.col("b.dist_mm").alias("dist_mm"),
    )


_J7_SQL = f"""
WITH cells AS ({_CELLS_SQL}),
pts AS (
    SELECT user_id,
           (x1 + 0.5) * 0.25 - 6.0 AS lon,
           (y1 + 0.5) * 0.1 + 50.0 AS lat
    FROM cells
),
stations AS (
    SELECT CAST(n_nationkey AS BIGINT) AS station_id,
           35.0 + (n_nationkey % 5) * 3.7 AS s_lat,
           -10.0 + (n_nationkey * 7 % 30) * 1.3 AS s_lon
    FROM nation
),
pairs AS (
    SELECT p.user_id, s.station_id,
           CAST(FLOOR(2.0 * 6371000.0 * asin(sqrt(least(greatest(
               sin(radians(s.s_lat - p.lat) / 2)
                   * sin(radians(s.s_lat - p.lat) / 2)
               + cos(radians(p.lat)) * cos(radians(s.s_lat))
                   * sin(radians(s.s_lon - p.lon) / 2)
                   * sin(radians(s.s_lon - p.lon) / 2),
           0.0), 1.0))) * 1000.0) AS BIGINT) AS dist_mm
    FROM pts p CROSS JOIN stations s
)
SELECT user_id, station_id, dist_mm
FROM pairs
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY dist_mm, station_id
) = 1
"""


def knn_join(
    points: DataFrame,
    stations: DataFrame,
    radius_m: float,
    cell_deg: float,
    k: int,
    id_col: str = "user_id",
    station_col: str = "station_id",
    n_salts: int = 1,
) -> DataFrame:
    """Reusable banded k-NN-within-radius join: ``points`` carries
    (id_col, lat, lon), ``stations`` (station_col, s_lat, s_lon).
    Returns (id_col, rk, station_col, dist_mm) — the top-``k``
    stations within ``radius_m`` of each point by great-circle
    distance.  ``cell_deg`` is the banding cell; EXACTNESS requires it
    to dominate the radius in both axes across the domain
    (cell_deg >= radius/111.19 km per degree of latitude, and
    >= radius/(111.19 * cos(max |lat|)) for longitude) — the caller
    owns that bound because only it knows the domain.  Candidates are
    a banded equi join (station side explodes its 3x3 neighborhood);
    top-k is one window over band-bounded candidates; distances are
    exact-mm BIGINT.

    SKEW: ``n_salts > 1`` splits each band cell's candidate work
    ``n_salts`` ways — for station sets with DENSE CLUSTERS (one city
    cell holding 10^4 stations makes that cell's candidate generation
    a single hot task).  Points take a deterministic salt (md5 of the
    id — stable under retries, operators/skew.py), the station side
    replicates across salts, so results are IDENTICAL to the unsalted
    join (asserted in tests/test_skew.py) at the cost of an n_salts x
    bigger station-side explode — cheap, because the station side is
    the small one."""
    from wrf_to_geodataframe_spark.functions.crs import haversine_m
    from wrf_to_geodataframe_spark.operators.skew import (
        deterministic_salt,
    )

    st = (
        stations
        .withColumn("dy", F.expr("explode(array(-1, 0, 1))"))
        .withColumn("dx", F.expr("explode(array(-1, 0, 1))"))
        .select(
            station_col, "s_lat", "s_lon",
            (F.floor(F.col("s_lat") / cell_deg) + F.col("dy")).alias("cy"),
            (F.floor(F.col("s_lon") / cell_deg) + F.col("dx")).alias("cx"),
        )
    )
    pts = points.withColumns({
        "cy": F.floor(F.col("lat") / cell_deg),
        "cx": F.floor(F.col("lon") / cell_deg),
    })
    keys = ["cy", "cx"]
    if n_salts > 1:
        st = st.withColumn(
            "_salt",
            F.explode(F.array(*[F.lit(s) for s in range(n_salts)])),
        )
        pts = pts.withColumn(
            "_salt", deterministic_salt([F.col(id_col)], n_salts)
        )
        keys = ["cy", "cx", "_salt"]
    cand = pts.join(st, keys).withColumn(
        "dist_mm",
        F.floor(
            haversine_m(F.col("lat"), F.col("lon"),
                        F.col("s_lat"), F.col("s_lon")) * 1000.0
        ).cast("bigint"),
    ).filter(F.col("dist_mm") <= int(radius_m * 1000))
    w = Window.partitionBy(id_col).orderBy("dist_mm", station_col)
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "rk", station_col, "dist_mm")
    )


def j8_knn_within_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-NEAREST WITHIN RADIUS for LARGE point sets (the shape where
    the station side does NOT broadcast — unlike ``j7``): top-3
    stations (from ``supplier`` — 1000 rows at sf0.1, growing with SF)
    within 150 km of each grid cell, by great-circle distance.

    Scale shape: candidate generation is a BANDED EQUI JOIN — both
    sides key on a degree-space grid cell, the station side explodes
    its 3x3 cell neighborhood, and the cell size (2.5 deg) dominates
    the 150 km radius in BOTH axes across the domain (>= 1.35 deg of
    latitude; >= 2.35 deg of longitude at the domain's 55N top), so
    every true pair shares a key — never an all-pairs product.  The
    top-k is one window over the banded candidates (bounded by band
    occupancy, not corpus size); distances quantized to exact mm
    BIGINT for engine-insensitive ordering."""
    sup = load_table(spark, sf_dir, "supplier")
    stations = sup.select(
        F.col("s_suppkey").cast("bigint").alias("station_id"),
        (50.0 + (F.col("s_suppkey") % 50) * 0.1).alias("s_lat"),
        (-6.0 + (F.col("s_suppkey") * 13 % 80) * 0.1).alias("s_lon"),
    )
    pts = grid_cells(spark, sf_dir).select(
        "user_id",
        (F.col("x") * 0.25 - 6.0).alias("lon"),
        (F.col("y") * 0.1 + 50.0).alias("lat"),
    )
    return knn_join(pts, stations, radius_m=150_000.0,
                    cell_deg=2.5, k=3)


_J8_SQL = f"""
WITH cells AS ({_CELLS_SQL}),
pts AS (
    SELECT user_id,
           (x1 + 0.5) * 0.25 - 6.0 AS lon,
           (y1 + 0.5) * 0.1 + 50.0 AS lat
    FROM cells
),
stations AS (
    SELECT CAST(s_suppkey AS BIGINT) AS station_id,
           50.0 + (s_suppkey % 50) * 0.1 AS s_lat,
           -6.0 + (s_suppkey * 13 % 80) * 0.1 AS s_lon
    FROM supplier
),
pairs AS (
    SELECT p.user_id, s.station_id,
           CAST(FLOOR(2.0 * 6371000.0 * asin(sqrt(least(greatest(
               sin(radians(s.s_lat - p.lat) / 2)
                   * sin(radians(s.s_lat - p.lat) / 2)
               + cos(radians(p.lat)) * cos(radians(s.s_lat))
                   * sin(radians(s.s_lon - p.lon) / 2)
                   * sin(radians(s.s_lon - p.lon) / 2),
           0.0), 1.0))) * 1000.0) AS BIGINT) AS dist_mm
    FROM pts p CROSS JOIN stations s
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY dist_mm, station_id
       ) AS INT) AS rk,
       station_id, dist_mm
FROM pairs
WHERE dist_mm <= 150000000
QUALIFY rk <= 3
"""


def a7_domain_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain center + radius (SURVEY.md §2 A7, wrf_voronoi.py:51-53
    ``vor.points.mean(axis=0)`` and ``ptp().max()``): the scalar
    aggregates the tessellation kernel seeds its clipping radius with.
    Coordinates are integral doubles, so the sums are exact under any
    partitioning."""
    events = load_table(spark, sf_dir, "events")
    x = (F.col("user_id") % GRID_W).cast("double")
    y = F.floor(F.col("user_id") / GRID_W).cast("double")
    return events.select(x.alias("x"), y.alias("y")).distinct().agg(
        F.avg("x").alias("cx"),
        F.avg("y").alias("cy"),
        F.greatest(
            F.max("x") - F.min("x"), F.max("y") - F.min("y")
        ).alias("radius"),
    )


_A7_SQL = f"""
WITH pts AS (
    SELECT DISTINCT CAST(user_id % {GRID_W} AS DOUBLE) AS x,
           floor(user_id / {GRID_W}.0) AS y
    FROM events
)
SELECT avg(x) AS cx, avg(y) AS cy,
       greatest(max(x) - min(x), max(y) - min(y)) AS radius
FROM pts
"""


def focal_mean_3x3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-ALGEBRA FOCAL MEAN (the raster-smoothing neighborhood op a
    met user applies after the regrid — xarray's ``rolling(...,
    center=True).mean()`` over both grid axes): each cell's mean over
    the EXISTING cells of its 3x3 neighborhood, computed by exploding
    every cell's quantized value to the nine positions it contributes
    to and re-aggregating on the target cell key.

    Scale shape: scatter-gather as two map-side-combinable shuffles on
    the cell key plus one equi self-join to restrict targets to real
    cells — NO range join, NO cartesian, no window over a 2-D frame
    (Spark windows order by ONE axis; the explode is the idiomatic
    neighborhood join at any grid size).  Sums stay exact BIGINT; the
    one double division is per output row."""
    ev = load_table(spark, sf_dir, "events").select(
        F.pmod("user_id", F.lit(GRID_W)).cast("bigint").alias("x_idx"),
        F.expr(f"CAST(floor(user_id / {GRID_W}.0) AS BIGINT)").alias(
            "y_idx"
        ),
        F.floor(F.col("value") * Q).cast("bigint").alias("vq"),
    )
    cells = ev.groupBy("x_idx", "y_idx").agg(F.sum("vq").alias("vq"))
    contrib = (
        cells.withColumn("dx", F.expr("explode(array(-1, 0, 1))"))
        .withColumn("dy", F.expr("explode(array(-1, 0, 1))"))
        .select(
            (F.col("x_idx") + F.col("dx")).alias("x_idx"),
            (F.col("y_idx") + F.col("dy")).alias("y_idx"),
            "vq",
        )
        .groupBy("x_idx", "y_idx")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.sum("vq").alias("focal_sum_q"),
        )
    )
    return cells.join(contrib, ["x_idx", "y_idx"]).select(
        "x_idx",
        "y_idx",
        "n_neighbors",
        "focal_sum_q",
        (F.col("focal_sum_q") / F.col("n_neighbors") / Q).alias(
            "focal_mean"
        ),
    )


_FOCAL_SQL = f"""
WITH cells AS (
  SELECT user_id % {GRID_W} AS x_idx,
         CAST(floor(user_id / {GRID_W}.0) AS BIGINT) AS y_idx,
         SUM(CAST(FLOOR(value * {Q}) AS BIGINT)) AS vq
  FROM events GROUP BY 1, 2
), contrib AS (
  SELECT c.x_idx + dx.d AS x_idx, c.y_idx + dy.d AS y_idx,
         COUNT(*) AS n_neighbors, CAST(SUM(c.vq) AS BIGINT) AS focal_sum_q
  FROM cells c,
       generate_series(-1, 1) AS dx(d),
       generate_series(-1, 1) AS dy(d)
  GROUP BY 1, 2
)
SELECT c.x_idx, c.y_idx, f.n_neighbors, f.focal_sum_q,
       CAST(f.focal_sum_q AS DOUBLE) / f.n_neighbors / {Q} AS focal_mean
FROM cells c JOIN contrib f USING (x_idx, y_idx)
"""


_DP_EPS = 0.99  # chord-distance window proven in the docstring


def g12_simplify_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOUGLAS-PEUCKER SIMPLIFICATION under the oracle: one polyline
    per entity — [(0,0), (2,0), (5,h), (8,0), (10,0)] with spike
    height ``h = (user_id % 6) * 0.25`` — simplified at eps=0.99 by
    the distributed zero-shuffle kernel (geometry/simplify.py), then
    summarized as (n_vertices, sum of kept coordinates).

    The construction is chosen so the DP outcome is CLOSED FORM: the
    spike survives iff h > eps (h in {1.0, 1.25} here), and the
    shoulder points (2,0)/(8,0) NEVER survive — their distance to the
    split chord (0,0)-(5,h) is 2h/sqrt(25+h^2) <= 0.970 < eps for
    every h <= 1.25.  The DuckDB oracle states that closed form, so
    the kernel's retention logic (not a mirrored reimplementation) is
    what's verified."""
    from wrf_to_geodataframe_spark.geometry.simplify import simplify_lines

    ev = load_table(spark, sf_dir, "events")
    lines = (
        ev.select("user_id").distinct()
        .withColumn(
            "h", (F.pmod("user_id", F.lit(6)) * F.lit(0.25)).cast("double")
        )
        .select(
            "user_id",
            F.expr("array(0.0D, 2.0D, 5.0D, 8.0D, 10.0D)").alias("xs"),
            F.expr("array(0.0D, 0.0D, h, 0.0D, 0.0D)").alias("ys"),
        )
    )
    simp = simplify_lines(lines, _DP_EPS)
    return simp.select(
        "user_id",
        F.size("xs").cast("bigint").alias("n_vertices"),
        F.expr(
            "aggregate(xs, 0.0D, (acc, v) -> acc + v)"
        ).alias("sum_x"),
        F.expr(
            "aggregate(ys, 0.0D, (acc, v) -> acc + v)"
        ).alias("sum_y"),
    )


_G12_SQL = f"""
SELECT DISTINCT user_id,
       CAST(CASE WHEN (user_id % 6) * 0.25 > {_DP_EPS}
            THEN 3 ELSE 2 END AS BIGINT) AS n_vertices,
       CASE WHEN (user_id % 6) * 0.25 > {_DP_EPS}
            THEN 15.0 ELSE 10.0 END AS sum_x,
       CASE WHEN (user_id % 6) * 0.25 > {_DP_EPS}
            THEN (user_id % 6) * 0.25 ELSE 0.0 END AS sum_y
FROM events
"""


def g13_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVEX HULL (Andrew monotone chain, strict turns) under the
    oracle: one point set per entity — the corners of a
    ``w x h = (1 + user_id%5) x (1 + user_id%3)`` rectangle plus edge
    midpoints and the center — summarized by the distributed
    zero-shuffle kernel as (n_hull, area, perimeter).  Closed form:
    collinear edge midpoints and the interior center must NOT be hull
    vertices, so n_hull = 4, area = w*h, perimeter = 2(w+h); the
    DuckDB oracle states exactly that, gating the chain's turn logic
    and the shoelace summary."""
    from wrf_to_geodataframe_spark.geometry.simplify import hull_summary

    ev = load_table(spark, sf_dir, "events")
    pts = (
        ev.select("user_id").distinct()
        .withColumn(
            "w", (F.pmod("user_id", F.lit(5)) + 1).cast("double")
        )
        .withColumn(
            "h", (F.pmod("user_id", F.lit(3)) + 1).cast("double")
        )
        .select(
            "user_id",
            F.expr(
                "array(0.0D, w, w, 0.0D, w/2, w/2, 0.0D, w, w/2)"
            ).alias("xs"),
            F.expr(
                "array(0.0D, 0.0D, h, h, 0.0D, h, h/2, h/2, h/2)"
            ).alias("ys"),
        )
    )
    return hull_summary(pts).select(
        "user_id", "n_hull", "hull_area", "hull_perimeter"
    )


_G13_SQL = """
SELECT DISTINCT user_id,
       CAST(4 AS BIGINT) AS n_hull,
       (1 + user_id % 5) * (1 + user_id % 3) * 1.0 AS hull_area,
       2.0 * ((1 + user_id % 5) + (1 + user_id % 3)) AS hull_perimeter
FROM events
"""



# ---------------------------------------------------------------------------
# G8 equal-area: LAEA column transform gate + the equal-area-weighted
# conservative regrid (the scientific fix for the reference's planar
# degrees^2 A4 weights, delphine/regrid.py:261-262)


def g8_crs_laea(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambert azimuthal equal-area transform (SURVEY.md §2 G8) —
    EPSG:3035, the standard European equal-area climate/statistics
    grid: grid centers as pseudo lon/lat over Europe projected through
    the ellipsoidal LAEA column transform (functions/crs.py, Snyder
    eqs. 24-17/24-18 with authalic q 3-12; pinned to the EPSG Guidance
    Note 7-2 worked example and Snyder's in tests/test_crs.py).
    Outputs rounded to cm (cross-engine libm drift ~1e-9 m)."""
    from wrf_to_geodataframe_spark.functions.crs import lonlat_to_laea

    cells = grid_cells(spark, sf_dir)
    d = cells.select(
        "user_id",
        (F.col("x") * 0.5 - 2.0).alias("lon"),   # ~[-2, 13.5]
        (F.col("y") * 0.4 + 38.0).alias("lat"),  # ~[38, 56.8]
    )
    out = lonlat_to_laea(
        d, F.col("lon"), F.col("lat"), 52.0, 10.0,
        false_easting=4321000.0, false_northing=3210000.0,
    )
    return out.select(
        "user_id",
        F.round("laea_x", 2).alias("laea_x"),
        F.round("laea_y", 2).alias("laea_y"),
    )


def _laea_sql() -> str:
    """Oracle mirror of the ellipsoidal LAEA forward with IDENTICAL
    precomputed constants (qp, Rq, D, sin/cos beta1, e, e2)."""
    from wrf_to_geodataframe_spark.functions.crs import laea_constants

    k = laea_constants(52.0)
    e, e2 = k["e"], k["e2"]
    return f"""
WITH cells AS ({_CELLS_SQL}),
ll AS (
    SELECT user_id,
           sin(radians((y1 + 0.5) * 0.4 + 38.0)) AS s,
           radians((x1 + 0.5) * 0.5 - 2.0 - 10.0) AS dl
    FROM cells
),
b AS (
    SELECT user_id, dl,
           asin({1.0 - e2!r} * (s / (1.0 - {e2!r} * s * s)
                - {1.0 / (2.0 * e)!r}
                  * ln((1.0 - {e!r} * s) / (1.0 + {e!r} * s)))
                / {k["qp"]!r}) AS beta
    FROM ll
),
big AS (
    SELECT user_id, dl, sin(beta) AS sb, cos(beta) AS cb,
           {k["rq"]!r} * sqrt(2.0 / (1.0 + {k["sinb1"]!r} * sin(beta)
               + {k["cosb1"]!r} * cos(beta) * cos(dl))) AS bb
    FROM b
)
SELECT user_id,
       round(bb * {k["d"]!r} * cb * sin(dl) + 4321000.0, 2) AS laea_x,
       round((bb / {k["d"]!r}) * ({k["cosb1"]!r} * sb
             - {k["sinb1"]!r} * cb * cos(dl)) + 3210000.0, 2) AS laea_y
FROM big
"""


_G8_LAEA_SQL = _laea_sql()


# Degree mapping for the equal-area regrid: the synthetic grid read as
# 0.25-degree cells over Europe (lat 40-52N -> the cos(lat) weight
# distortion the planar kernel ignores spans ~20% across the domain)
EA_LON0, EA_DLON = -4.0, 0.25
EA_LAT0, EA_DLAT = 40.0, 0.25


def regrid_conservative_equalarea(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The conservative regrid with EQUAL-AREA weights (SURVEY.md §3.3
    + VERDICT r10 item 1): the source grid is read as 0.25-degree
    lon/lat cells over Europe and the A4 transfer weights are ratios of
    EXACT ellipsoidal areas (functions/crs.ellipsoid_box_area_m2,
    closed-form via Snyder's authalic q — the same integral every
    equal-area projection is built on).

    This fixes the reference's own latitude distortion: its weights are
    planar areas in grid-CRS units — degrees^2 on EPSG:4326
    (delphine/regrid.py:261-262) — which overweight the poleward part
    of every cell by 1/cos(lat) (~20% across this domain).  Because the
    closed-form area is ADDITIVE (a measure with shared boundary
    terms), each source cell's intersection areas sum to its own area
    and mass is conserved exactly (property test in
    tests/test_spatial_suite.py).

    Plan shape is identical to regrid_conservative: index-arithmetic
    overlay explode (never all-pairs), one partial-aggregated shuffle
    for the A4 kernel, quantized per-pair contributions so the
    distributed sum is order-independent, left join onto the generated
    destination grid with fillna(0)."""
    from wrf_to_geodataframe_spark.functions.crs import (
        ellipsoid_box_area_m2,
    )

    from wrf_to_geodataframe_spark.operators.regrid import (
        conservative_regrid_rect,
    )

    def lon(g):
        return F.lit(EA_LON0) + F.lit(EA_DLON) * g

    def lat(g):
        return F.lit(EA_LAT0) + F.lit(EA_DLAT) * g

    src = _source_cells_with_pop(spark, sf_dir)
    out = conservative_regrid_rect(
        src, "pop", OX, OY, DW, DH,
        area_fn=lambda x1, y1, x2, y2: ellipsoid_box_area_m2(
            lon(x1), lat(y1), lon(x2), lat(y2)
        ),
        quantize=lambda c: F.round(c).cast("long"),
        q_scale=float(Q),
    )
    return out.select(
        "i", "j",
        lon(F.col("dx1")).alias("lon1"),
        lat(F.col("dy1")).alias("lat1"),
        lon(F.col("dx2")).alias("lon2"),
        lat(F.col("dy2")).alias("lat2"),
        F.col("value").alias("population"),
    )


def _ea_area_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """SQL expression string: exact ellipsoidal area (m^2) of the
    degree box — the identical literals and operation order as
    functions/crs.ellipsoid_box_area_m2 on GRS80 (authalic q 3-12)."""
    import math as _math

    from wrf_to_geodataframe_spark.functions.crs import GRS80_A, GRS80_E2

    e2 = GRS80_E2
    e = _math.sqrt(e2)
    a2h = GRS80_A * GRS80_A / 2.0

    def qs(sin_expr: str) -> str:
        return (
            f"({1.0 - e2!r} * ({sin_expr} / (1.0 - {e2!r} * {sin_expr}"
            f" * {sin_expr}) - {1.0 / (2.0 * e)!r}"
            f" * ln((1.0 - {e!r} * {sin_expr})"
            f" / (1.0 + {e!r} * {sin_expr}))))"
        )

    s1 = f"sin(radians({lat1}))"
    s2 = f"sin(radians({lat2}))"
    return (
        f"({a2h!r} * radians(({lon2}) - ({lon1}))"
        f" * ({qs(s2)} - {qs(s1)}))"
    )


def _regrid_equalarea_sql() -> str:
    """Oracle mirror: the identical authalic-q closed form with the
    identical GRS80 constant literals, per-pair rounding at 1e-6."""
    def area(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
        return _ea_area_sql(
            f"{EA_LON0} + {EA_DLON} * ({lon1})",
            f"{EA_LAT0} + {EA_DLAT} * ({lat1})",
            f"{EA_LON0} + {EA_DLON} * ({lon2})",
            f"{EA_LAT0} + {EA_DLAT} * ({lat2})",
        )

    a_src = area("s.x1", "s.y1", "s.x2", "s.y2")
    a_int = area(
        "greatest(s.x1, d.dx1)", "greatest(s.y1, d.dy1)",
        "least(s.x2, d.dx2)", "least(s.y2, d.dy2)",
    )
    return f"""
WITH src AS (
    SELECT user_id, count(*) AS pop,
           CAST(user_id % {GRID_W} AS DOUBLE) - 0.5 AS x1,
           floor(user_id / {GRID_W}.0) - 0.5 AS y1,
           CAST(user_id % {GRID_W} AS DOUBLE) + 0.5 AS x2,
           floor(user_id / {GRID_W}.0) + 0.5 AS y2
    FROM events GROUP BY user_id
),
bbox AS (
    SELECT min(CAST(user_id % {GRID_W} AS DOUBLE)) AS xmin,
           min(floor(user_id / {GRID_W}.0)) AS ymin,
           max(CAST(user_id % {GRID_W} AS DOUBLE)) AS xmax,
           max(floor(user_id / {GRID_W}.0)) AS ymax
    FROM events
),
dest AS (
    SELECT gi.i, gj.j,
           {OX} + {DW} * gi.i AS dx1, {OY} + {DH} * gj.j AS dy1,
           {OX} + {DW} * (gi.i + 1) AS dx2, {OY} + {DH} * (gj.j + 1) AS dy2
    FROM bbox,
         generate_series(-4, 4096) AS gi(i),
         generate_series(-4, 4096) AS gj(j)
    WHERE gi.i BETWEEN CAST(floor((xmin - 0.5 - {OX}) / {DW}) AS BIGINT)
                   AND CAST(floor((xmax + 0.5 - {OX}) / {DW}) AS BIGINT)
      AND gj.j BETWEEN CAST(floor((ymin - 0.5 - {OY}) / {DH}) AS BIGINT)
                   AND CAST(floor((ymax + 0.5 - {OY}) / {DH}) AS BIGINT)
),
pairs AS (
    SELECT d.i, d.j,
           CAST(round(s.pop / {a_src} * {a_int} * {Q}.0) AS BIGINT)
               AS contrib_q
    FROM src s JOIN dest d
      ON least(s.x2, d.dx2) > greatest(s.x1, d.dx1)
     AND least(s.y2, d.dy2) > greatest(s.y1, d.dy1)
),
transferred AS (
    SELECT i, j, CAST(sum(contrib_q) AS DOUBLE) / {Q}.0 AS pop_t
    FROM pairs GROUP BY i, j
)
SELECT d.i, d.j,
       -- CAST keeps the chain in binary DOUBLE (DuckDB parses bare
       -- decimal-point literals as exact DECIMAL, which lands 1 ulp
       -- off Spark's double arithmetic on some cells)
       {EA_LON0} + {EA_DLON} * CAST(d.dx1 AS DOUBLE) AS lon1,
       {EA_LAT0} + {EA_DLAT} * CAST(d.dy1 AS DOUBLE) AS lat1,
       {EA_LON0} + {EA_DLON} * CAST(d.dx2 AS DOUBLE) AS lon2,
       {EA_LAT0} + {EA_DLAT} * CAST(d.dy2 AS DOUBLE) AS lat2,
       coalesce(t.pop_t, 0.0) AS population
FROM dest d LEFT JOIN transferred t USING (i, j)
"""


_REGRID_EA_SQL = _regrid_equalarea_sql()



def g16_ellipsoidal_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ELLIPSOIDAL geodesic distance (Vincenty inverse,
    functions/crs.py — the survey-grade upgrade of g14's spherical
    haversine, closing the ~0.56% flattening error): grid centers as
    pseudo lon/lat to a fixed reference point through the
    Arrow-vectorized fixed-unroll kernel (pinned to Vincenty's own
    published test line and GeographicLib's JFK->LHR example in
    tests/test_crs.py).  The oracle UNROLLS the same iteration as a
    SQL CTE chain with identical constants — two independent
    evaluations of the fixed-point recursion.  Rounded to cm."""
    from wrf_to_geodataframe_spark.functions.crs import (
        ellipsoidal_distance_udf,
    )

    cells = grid_cells(spark, sf_dir)
    d = cells.select(
        "user_id",
        (F.col("x") * 0.25 - 6.0).alias("lon"),
        (F.col("y") * 0.1 + 50.0).alias("lat"),
    )
    vd = ellipsoidal_distance_udf()
    return d.select(
        "user_id",
        F.round(
            vd(F.col("lat"), F.col("lon"), F.lit(51.5), F.lit(-0.12)),
            2,
        ).alias("dist_m"),
    )


def _vincenty_sql() -> str:
    """Oracle mirror of the Vincenty fixed unroll: iterations become a
    CTE chain, every arithmetic step in the numpy kernel's exact
    operation order, constants as identical literals."""
    from wrf_to_geodataframe_spark.functions.crs import (
        VINCENTY_ITERS,
        WGS_A,
        WGS_F,
    )

    a, f = WGS_A, WGS_F
    b = a * (1.0 - f)
    a2mb2 = a * a - b * b
    b2 = b * b
    body = """
    SELECT user_id, L, su1, cu1, su2, cu2, lam, sl, cl,
           sin_sig, cos_sig, atan2(sin_sig, cos_sig) AS sig,
           cu1 * cu2 * sl
               / (CASE WHEN sin_sig = 0.0 THEN 1.0 ELSE sin_sig END)
               AS sin_alpha
    FROM (
        SELECT *, sqrt((cu2 * sl) * (cu2 * sl)
                   + (cu1 * su2 - su1 * cu2 * cl)
                     * (cu1 * su2 - su1 * cu2 * cl)) AS sin_sig,
               su1 * su2 + cu1 * cu2 * cl AS cos_sig
        FROM (SELECT user_id, L, su1, cu1, su2, cu2, lam,
                     sin(lam) AS sl, cos(lam) AS cl FROM {prev})
    )"""
    stage2 = """
    SELECT *, {f!r} / 16.0 * cos2_alpha
              * (4.0 + {f!r} * (4.0 - 3.0 * cos2_alpha)) AS C
    FROM (
        SELECT *, CASE WHEN cos2_alpha = 0.0 THEN 0.0
                       ELSE cos_sig - 2.0 * su1 * su2 / cos2_alpha
                  END AS cos_2sigm
        FROM (SELECT *, 1.0 - sin_alpha * sin_alpha AS cos2_alpha
              FROM ({body}))
    )"""
    ctes = []
    prev = "base"
    for k in range(1, VINCENTY_ITERS):
        full = stage2.format(f=f, body=body.format(prev=prev))
        ctes.append(f"""it{k} AS (
    SELECT user_id, L, su1, cu1, su2, cu2,
           L + (1.0 - C) * {f!r} * sin_alpha * (sig + C * sin_sig
               * (cos_2sigm + C * cos_sig
                  * (-1.0 + 2.0 * cos_2sigm * cos_2sigm))) AS lam
    FROM ({full})
)""")
        prev = f"it{k}"
    final_body = stage2.format(f=f, body=body.format(prev=prev))
    joined_ctes = ",\n".join(ctes)
    return f"""
WITH cells AS ({_CELLS_SQL}),
ll AS (
    SELECT user_id,
           (y1 + 0.5) * 0.1 + 50.0 AS lat,
           (x1 + 0.5) * 0.25 - 6.0 AS lon
    FROM cells
),
base AS (
    SELECT user_id, L, su1, cu1, su2, cu2, L AS lam
    FROM (
        SELECT user_id,
               ((radians(-0.12 - lon) + pi()) % (2.0 * pi())) - pi()
                   AS L,
               sin(atan({1.0 - f!r} * tan(radians(lat)))) AS su1,
               cos(atan({1.0 - f!r} * tan(radians(lat)))) AS cu1,
               sin(atan({1.0 - f!r} * tan(radians(51.5)))) AS su2,
               cos(atan({1.0 - f!r} * tan(radians(51.5)))) AS cu2
        FROM ll
    )
),
{joined_ctes},
fin AS ({final_body})
SELECT user_id,
       round({b!r} * (1.0 + usq / 16384.0 * (4096.0 + usq
               * (-768.0 + usq * (320.0 - 175.0 * usq))))
           * (sig - (usq / 1024.0 * (256.0 + usq * (-128.0 + usq
                  * (74.0 - 47.0 * usq)))) * sin_sig
              * (cos_2sigm
                 + (usq / 1024.0 * (256.0 + usq * (-128.0 + usq
                        * (74.0 - 47.0 * usq)))) / 4.0
                   * (cos_sig * (-1.0 + 2.0 * cos_2sigm * cos_2sigm)
                      - (usq / 1024.0 * (256.0 + usq * (-128.0 + usq
                             * (74.0 - 47.0 * usq)))) / 6.0 * cos_2sigm
                        * (-3.0 + 4.0 * sin_sig * sin_sig)
                        * (-3.0 + 4.0 * cos_2sigm * cos_2sigm)))),
           2) AS dist_m
FROM (SELECT *, cos2_alpha * {a2mb2!r} / {b2!r} AS usq FROM fin)
"""


_G16_VINCENTY_SQL = _vincenty_sql()



def a8_zonal_mean_equalarea(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONAL STATISTICS with EQUAL-AREA weights (the A6 weighted mean
    done right for geographic zones): per 1-degree latitude band, the
    area-weighted mean cell population where the weight is each cell's
    EXACT ellipsoidal area (functions/crs.ellipsoid_box_area_m2) —
    not the degrees^2 planar convention that overweights poleward
    cells by 1/cos(lat).  Areas floor-quantized to whole m^2 (the
    transcendental drift is ~1e-7 m^2 on ~6e8 m^2 cells) so the
    distributed sums are exact integers; one scan, one shuffle."""
    from wrf_to_geodataframe_spark.functions.crs import (
        ellipsoid_box_area_m2,
    )

    def lon(g):
        return F.lit(EA_LON0) + F.lit(EA_DLON) * g

    def lat(g):
        return F.lit(EA_LAT0) + F.lit(EA_DLAT) * g

    src = _source_cells_with_pop(spark, sf_dir)
    area_q = F.floor(
        ellipsoid_box_area_m2(
            lon(F.col("x1")), lat(F.col("y1")),
            lon(F.col("x2")), lat(F.col("y2")),
        )
    ).cast("long")
    return (
        src.withColumn("zone", F.floor(F.col("y") / 4).cast("long"))
        .withColumn("aq", area_q)
        .groupBy("zone")
        .agg(
            (
                F.sum(F.col("pop") * F.col("aq")).cast("double")
                / F.sum("aq").cast("double")
            ).alias("zonal_mean_pop"),
            F.count(F.lit(1)).alias("n_cells"),
        )
        .orderBy("zone")
    )


def _zonal_ea_sql() -> str:
    area = _ea_area_sql(
        f"{EA_LON0} + {EA_DLON} * (x1)",
        f"{EA_LAT0} + {EA_DLAT} * (y1)",
        f"{EA_LON0} + {EA_DLON} * (x2)",
        f"{EA_LAT0} + {EA_DLAT} * (y2)",
    )
    return f"""
WITH src AS (
    SELECT user_id, count(*) AS pop,
           CAST(user_id % {GRID_W} AS DOUBLE) - 0.5 AS x1,
           floor(user_id / {GRID_W}.0) - 0.5 AS y1,
           CAST(user_id % {GRID_W} AS DOUBLE) + 0.5 AS x2,
           floor(user_id / {GRID_W}.0) + 0.5 AS y2,
           floor(user_id / {GRID_W}.0) AS y
    FROM events GROUP BY user_id
),
aq AS (
    SELECT CAST(floor(y / 4) AS BIGINT) AS zone, pop,
           CAST(floor({area}) AS BIGINT) AS aq
    FROM src
)
SELECT zone,
       CAST(sum(pop * aq) AS DOUBLE) / CAST(sum(aq) AS DOUBLE)
           AS zonal_mean_pop,
       count(*) AS n_cells
FROM aq
GROUP BY zone
ORDER BY zone
"""


_A8_ZONAL_EA_SQL = _zonal_ea_sql()



def g8_crs_albers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Albers equal-area conic transform (SURVEY.md §2 G8) —
    EPSG:5070 parameters (Conus Albers, the US census/land-cover
    CRS): grid centers as pseudo lon/lat over CONUS through the
    ellipsoidal Albers column transform (functions/crs.py, Snyder
    eqs. 14-1..14-4 with authalic q; pinned to Snyder's worked
    example in tests/test_crs.py).  Rounded to cm."""
    from wrf_to_geodataframe_spark.functions.crs import lonlat_to_albers

    cells = grid_cells(spark, sf_dir)
    d = cells.select(
        "user_id",
        (F.col("x") * 1.2 - 120.0).alias("lon"),  # ~[-120, -82.8]
        (F.col("y") * 0.4 + 26.0).alias("lat"),   # ~[26, 44.8]
    )
    out = lonlat_to_albers(
        d, F.col("lon"), F.col("lat"), 29.5, 45.5, 23.0, -96.0
    )
    return out.select(
        "user_id",
        F.round("albers_x", 2).alias("albers_x"),
        F.round("albers_y", 2).alias("albers_y"),
    )


def _albers_sql() -> str:
    """Oracle mirror of the ellipsoidal Albers forward with identical
    precomputed constants (n, C, rho0, e, e2)."""
    from wrf_to_geodataframe_spark.functions.crs import (
        GRS80_A,
        albers_constants,
    )

    k = albers_constants(29.5, 45.5, 23.0)
    e, e2, n = k["e"], k["e2"], k["n"]
    return f"""
WITH cells AS ({_CELLS_SQL}),
ll AS (
    SELECT user_id,
           sin(radians((y1 + 0.5) * 0.4 + 26.0)) AS s,
           {n!r} * radians((x1 + 0.5) * 1.2 - 120.0 + 96.0) AS th
    FROM cells
),
r AS (
    SELECT user_id, th,
           {GRS80_A!r} * sqrt({k["c"]!r} - {n!r}
               * ({1.0 - e2!r} * (s / (1.0 - {e2!r} * s * s)
                  - {1.0 / (2.0 * e)!r}
                    * ln((1.0 - {e!r} * s) / (1.0 + {e!r} * s)))))
               / {n!r} AS rho
    FROM ll
)
SELECT user_id,
       round(rho * sin(th), 2) AS albers_x,
       round({k["rho0"]!r} - rho * cos(th), 2) AS albers_y
FROM r
"""


_G8_ALBERS_SQL = _albers_sql()


def g8_crs_cea(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cylindrical equal-area transform (SURVEY.md §2 G8) — EPSG:6933
    parameters (WGS84 / NSIDC EASE-Grid 2.0 Global, lat_ts = 30; the
    column transform reproduces NSIDC's published half-width constant,
    tests/test_crs.py): grid centers as pseudo lon/lat through the
    ellipsoidal CEA columns (Snyder ch. 10).  Rounded to cm."""
    from wrf_to_geodataframe_spark.functions.crs import (
        WGS_A,
        WGS_F,
        lonlat_to_cea,
    )

    cells = grid_cells(spark, sf_dir)
    d = cells.select(
        "user_id",
        (F.col("x") * 5.0 - 80.0).alias("lon"),  # ~[-80, 75]
        (F.col("y") * 1.5 - 36.0).alias("lat"),  # ~[-36, 34.5+]
    )
    out = lonlat_to_cea(
        d, F.col("lon"), F.col("lat"), 30.0,
        a=WGS_A, e2=WGS_F * (2.0 - WGS_F),
    )
    return out.select(
        "user_id",
        F.round("cea_x", 2).alias("cea_x"),
        F.round("cea_y", 2).alias("cea_y"),
    )


def _cea_sql() -> str:
    """Oracle mirror of the ellipsoidal CEA forward (WGS84,
    lat_ts = 30) with identical constants."""
    from wrf_to_geodataframe_spark.functions.crs import (
        WGS_A,
        WGS_F,
        cea_constants,
    )

    e2w = WGS_F * (2.0 - WGS_F)
    k = cea_constants(30.0, a=WGS_A, e2=e2w)
    e = k["e"]
    return f"""
WITH cells AS ({_CELLS_SQL}),
ll AS (
    SELECT user_id,
           sin(radians((y1 + 0.5) * 1.5 - 36.0)) AS s,
           radians((x1 + 0.5) * 5.0 - 80.0) AS dl
    FROM cells
)
SELECT user_id,
       round({WGS_A * k["k0"]!r} * dl, 2) AS cea_x,
       round({WGS_A!r} * ({1.0 - e2w!r} * (s / (1.0 - {e2w!r} * s * s)
             - {1.0 / (2.0 * e)!r}
               * ln((1.0 - {e!r} * s) / (1.0 + {e!r} * s))))
             / {2.0 * k["k0"]!r}, 2) AS cea_y
FROM ll
"""


_G8_CEA_SQL = _cea_sql()


def g17_ellipsoid_polygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ellipsoidal areas of ARBITRARY (non-axis-aligned) lon/lat
    polygons (SURVEY.md §2 G7 extension; VERDICT r11 item 6): each grid
    cell is read as a SKEWED quadrilateral over Europe and measured
    with the authalic-shoelace kernel
    (functions/crs.ellipsoid_polygon_area_m2) — the closed form the
    box-area kernel generalizes to, exact for edges straight in the
    equal-area plane.  Outputs rounded to 0.1 m^2 on ~1.4e9 m^2 cells
    (cross-engine libm drift ~1e-5 m^2).

    Oracle-independence class: the SQL replays the same authalic
    shoelace with identical literals; the structurally different
    cross-checks are the box-form identity and the CEA-plane planar
    shoelace identity in tests/test_crs.py."""
    from wrf_to_geodataframe_spark.functions.crs import (
        ellipsoid_polygon_area_m2,
    )

    cells = grid_cells(spark, sf_dir)
    lon = F.col("x") * 0.5 - 2.0
    lat = F.col("y") * 0.4 + 38.0
    xs = F.array(lon, lon + F.lit(0.5), lon + F.lit(0.62), lon + F.lit(0.03))
    ys = F.array(lat, lat + F.lit(0.08), lat + F.lit(0.45), lat + F.lit(0.38))
    return cells.select(
        "user_id",
        F.round(ellipsoid_polygon_area_m2(xs, ys), 1).alias("area_m2"),
    )


def _g17_sql() -> str:
    """Oracle mirror: the 4-edge authalic shoelace with the identical
    GRS80 literals (the _ea_area_sql q layout), summed in the same
    edge order as the Column HOF."""
    import math as _math

    from wrf_to_geodataframe_spark.functions.crs import GRS80_A, GRS80_E2

    e2 = GRS80_E2
    e = _math.sqrt(e2)
    a24 = GRS80_A * GRS80_A / 4.0

    def qs(sin_expr: str) -> str:
        return (
            f"({1.0 - e2!r} * ({sin_expr} / (1.0 - {e2!r} * {sin_expr}"
            f" * {sin_expr}) - {1.0 / (2.0 * e)!r}"
            f" * ln((1.0 - {e!r} * {sin_expr})"
            f" / (1.0 + {e!r} * {sin_expr}))))"
        )

    dx = [0.0, 0.5, 0.62, 0.03]
    dy = [0.0, 0.08, 0.45, 0.38]
    lam = [f"radians((x1 + 0.5) * 0.5 - 2.0 + {d!r})" for d in dx]
    q = [qs(f"sin(radians((y1 + 0.5) * 0.4 + 38.0 + {d!r}))") for d in dy]
    terms = " + ".join(
        f"(({lam[(i + 1) % 4]}) - ({lam[i]})) * (({q[i]}) + ({q[(i + 1) % 4]}))"
        for i in range(4)
    )
    return f"""
WITH cells AS ({_CELLS_SQL})
SELECT user_id,
       round({a24!r} * abs({terms}), 1) AS area_m2
FROM cells
"""


_G17_SQL = _g17_sql()


# ---------------------------------------------------------------------------
# capstone_wrf_regrid — the reference's THIRD script end to end
# (delphine/regrid.py:206-337) as ONE oracle-gated chain.

_RG_NJ, _RG_NI = 16, 12    # curvilinear tas (destination) grid
_RG_NPJ, _RG_NPI = 28, 18  # rectilinear pop (source) grid
_RGQ = 1 << 20             # dyadic contribution quantizer (lossless here)

# Per-row horizontal shifts of the tas grid: aligned at 0 for rows
# 0-5, ramping 1/8, 1/4 through rows 6-7, aligned at 3/8 for rows
# 8-15.  Where three consecutive rows share a shift the Voronoi cells
# are EXACT half-spacing boxes (nearest rows dominate: any site two
# rows away is >= 2 apart, so its bisector clears the box circumradius
# sqrt(2)/2); only rows 5-8 have non-box cells, and the fixture pins
# every nonzero population box away from them — that is what makes a
# genuinely curvilinear tessellation CLOSED-FORM oracle-checkable.
_RG_SHIFTS = [0.0] * 6 + [0.125, 0.25] + [0.375] * 8


def _write_regrid_fixture() -> str:
    """Engine-written inputs for the delphine/regrid.py story: a
    3-timestep ``tas`` file on the row-shifted curvilinear grid (2-D
    lat/lon — ``xr.open_dataset(path_grid)`` at regrid.py:206) and a
    rectilinear ``Band1`` population file with 1-D coords and a NaN
    "sea" band (regrid.py:249, the WorldPop shape).  Every coordinate
    and value is dyadic, so the whole downstream chain — clip areas,
    quantized transfer, float32 sink — is hash-exact end to end."""
    import os
    import tempfile

    import numpy as np

    from wrf_to_geodataframe_spark.sources.netcdf import write_netcdf

    d = tempfile.mkdtemp(prefix="cap_regrid_")
    os.makedirs(os.path.join(d, "tas"))
    os.makedirs(os.path.join(d, "pop"))

    jj, ii = np.meshgrid(
        np.arange(_RG_NJ), np.arange(_RG_NI), indexing="ij"
    )
    shifts = np.asarray(_RG_SHIFTS)[:, None]
    lon2 = ii + shifts            # curvilinear: lon depends on BOTH indices
    lat2 = jj.astype("float64")
    tt = np.arange(3)[:, None, None]
    tas = 280.0 + ii / 8.0 + jj / 4.0 + 2.0 * tt
    write_netcdf(
        os.path.join(d, "tas", "tas_000.nc"),
        {"time": 3, "y": _RG_NJ, "x": _RG_NI},
        {
            "tas": {"dims": ["time", "y", "x"], "data": tas},
            "lat": {"dims": ["y", "x"], "data": lat2},
            "lon": {"dims": ["y", "x"], "data": lon2},
        },
    )

    pjj, pii = np.meshgrid(
        np.arange(_RG_NPJ), np.arange(_RG_NPI), indexing="ij"
    )
    band1 = (16.0 * (1 + (3 * pii + 5 * pjj) % 7)).astype("float64")
    band1[6:16, :] = np.nan  # the "sea" band -> fillna(0) downstream
    write_netcdf(
        os.path.join(d, "pop", "pop_000.nc"),
        {"lat": _RG_NPJ, "lon": _RG_NPI},
        {
            "Band1": {"dims": ["lat", "lon"], "data": band1},
            "lat": {"dims": ["lat"], "data": 0.8125 + 0.5 * np.arange(_RG_NPJ)},
            "lon": {"dims": ["lon"], "data": 0.8125 + 0.5 * np.arange(_RG_NPI)},
        },
    )
    return d


def _regrid_presink(spark: SparkSession, tas_dir: str, pop_dir: str):
    """The capstone's LAZY pre-sink chain (shared with the plan pin in
    tests/test_capstone_regrid.py): scan + time slice -> tessellate
    the curvilinear grid -> pop boxes + attribute join + fillna(0) ->
    overlay -> quantized transfer -> J6 re-attach.  Returns (result,
    pts, tas, pop_scan); ``pts`` is the persisted coordinate plane
    (caller unpersists).  The only eager work is the documented
    driver-side dispatch stats (the g1_auto_dispatch convention):
    bbox + rectilinearity + count over the PERSISTED grid-sized
    coordinate plane — one archive pass however many stats."""
    from wrf_to_geodataframe_spark.functions.polygons import (
        parse_wkt_polygon,
    )
    from wrf_to_geodataframe_spark.geometry.overlay import (
        overlay_intersection,
    )
    from wrf_to_geodataframe_spark.geometry.tessellate import tessellate_auto
    from wrf_to_geodataframe_spark.sources.netcdf import read_netcdf_dir

    # S1 + P3: the scan carries the positional time slice (isel(time=1))
    tas = read_netcdf_dir(spark, tas_dir, "tas", "lat", "lon", time_index=1)
    pts = tas.select("y_idx", "x_idx", "lat", "lon").persist()
    ext = pts.agg(
        F.min("lon"), F.min("lat"), F.max("lon"), F.max("lat")
    ).collect()[0]
    bbox = tuple(float(v) for v in ext)  # reference's lon/lat clip box
    # G1 via the dispatcher: curvilinear -> tile/halo distributed
    # kernel (max_driver_points pinned low = the at-scale route)
    cells = tessellate_auto(
        pts, "lon", "lat", ["y_idx", "x_idx"], bbox=bbox,
        spacing_hint=1.0, max_driver_points=64,
        tile_size=8.0, halo=4.0,
    )
    b = cells.filter(~F.col("is_sentinel")).select(
        "y_idx", "x_idx",
        F.col("x").alias("lon_c"), F.col("y").alias("lat_c"),
        parse_wkt_polygon(F.col("wkt")).alias("b_poly"),
    )

    # G2 + J2 + P7: pop boxes, attribute join, fillna(0)
    pop_scan = read_netcdf_dir(spark, pop_dir, "Band1", "lat", "lon")
    pop_keys = pop_scan.select(
        F.col("y_idx").alias("pj"), F.col("x_idx").alias("pi"),
        "lat", "lon", "value",
    )
    pop_geom = cell_box(
        pop_keys.select("pj", "pi", "lat", "lon"),
        x="lon", y="lat", half_dx=0.25, half_dy=0.25,
    )
    a = (
        pop_geom.join(pop_keys.select("pj", "pi", "value"), ["pj", "pi"])
        .withColumn("pop", F.nanvl(F.col("value"), F.lit(0.0)))
        .withColumn(
            "area_pop",
            box_area(F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")),
        )
        .select(
            "pj", "pi", "pop", "area_pop",
            _box_poly(
                F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")
            ).alias("a_poly"),
        )
    )

    # J4 + A4: overlay pairs -> quantized area-weighted transfer
    pairs = overlay_intersection(a, b, bucket=2.0)
    contrib_q = F.round(
        F.col("pop") / F.col("area_pop") * F.col("area_inter")
        * F.lit(float(_RGQ))
    ).cast("long")
    transferred = pairs.groupBy("y_idx", "x_idx").agg(
        (F.sum(contrib_q).cast("double") / F.lit(float(_RGQ))).alias(
            "population"
        )
    )
    # J6: re-attach onto the FULL destination grid — the PERSISTED
    # coordinate plane, not the cells table (the reference re-attaches
    # onto gdf_grid itself, regrid.py:289-295; and reusing the cached
    # plane keeps the tessellation a SINGLE plan branch instead of
    # recomputing the tile kernel for the key/coord columns)
    result = (
        pts.join(transferred, ["y_idx", "x_idx"], "left")
        .select(
            "y_idx", "x_idx", "lat", "lon",
            F.coalesce("population", F.lit(0.0)).alias("population"),
        )
    )
    return result, pts, tas, pop_scan


def capstone_wrf_regrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE REFERENCE'S CONSERVATIVE-REGRID SCRIPT (delphine/regrid.py:
    206-337) as ONE chain: NetCDF scan + positional time slice (S1+P3,
    ``isel(time=1)`` pushed into the scan) -> ``tessellate_auto`` of
    the CURVILINEAR destination grid in lon/lat (G1 — dispatches to the
    tile/halo distributed kernel; ``get_vor`` at regrid.py:134-180,
    with the key columns riding through in place of the reference's
    ``sjoin`` index recovery) -> rectilinear population boxes (G2,
    ``get_vor_rectilinear`` regrid.py:182-203) -> attribute join +
    ``fillna(0)`` (J2/P7, regrid.py:251-260) -> convex overlay
    intersection + areas (J4/G6/G7, ``gpd.overlay`` regrid.py:267-270)
    -> conservative area-weighted transfer (A4, regrid.py:279-287) ->
    re-attach to the full destination grid (J6, regrid.py:289-295) ->
    float32 NetCDF sink (S4, ``.astype("float32")`` + ``to_netcdf``
    regrid.py:311/330) -> the engine's own scan back -> conservation
    ratio (A5, regrid.py:323-327) and the population-weighted
    temperature demo (A6, regrid.py:333) computed off the re-read file.

    Deviations, both shared with the ``regrid_conservative*`` family:
    uncovered destination cells get 0 instead of NaN (the reference's
    own downstream sums treat NaN as 0), and per-pair contributions are
    quantized (losslessly, on this dyadic lattice) before the
    distributed sum.

    Scale shape: the coordinate PLANE (one 2-D slice, grid-sized not
    archive-sized) is read once and persisted for the dispatcher's
    stats + the tessellation input; the tas VALUES are scanned once
    (time-sliced at the source) for the A6 join; the pop file twice
    (transfer + the A5 source total); no driver-side geometry, the
    overlay a bucketed equi join, the transfer one partial-agg shuffle.

    Oracle: the whole story in closed form — aligned-shift rows make
    every populated Voronoi cell an exact box, so DuckDB states the
    transfer as pure greatest/least arithmetic; it reads no NetCDF and
    runs no tessellation."""
    import os
    import tempfile

    from wrf_to_geodataframe_spark.sources.netcdf import (
        read_netcdf_dir,
        write_netcdf_dir,
    )

    d = _write_regrid_fixture()
    tas_dir, pop_dir = os.path.join(d, "tas"), os.path.join(d, "pop")
    result, pts, tas, pop_scan = _regrid_presink(spark, tas_dir, pop_dir)
    try:
        # S4: float32 (population, lat, lon) sink; executing the
        # manifest performs the distributed writes
        outdir = tempfile.mkdtemp(prefix="cap_regrid_out_")
        write_netcdf_dir(
            result.withColumn("t_idx", F.lit(0)), outdir,
            var_col="population",
            names=("population", "lat", "lon"), dtype="float32",
        ).count()
    finally:
        pts.unpersist()

    # the engine's own scan back; A5 + A6 off the RE-READ file
    back = read_netcdf_dir(
        spark, outdir, "population", "lat", "lon"
    ).select(
        "y_idx", "x_idx", "lat", "lon", F.col("value").alias("population")
    )
    joined = back.join(
        tas.select("y_idx", "x_idx", F.col("value").alias("tas")),
        ["y_idx", "x_idx"],
    )
    src_total = pop_scan.agg(
        F.sum(F.nanvl(F.col("value"), F.lit(0.0))).alias("src_pop")
    )
    scal = (
        joined.agg(
            F.sum("population").alias("new_pop"),
            F.sum(F.col("population") * F.col("tas")).alias("pw_num"),
        )
        .crossJoin(F.broadcast(src_total))
        .select(
            (F.col("src_pop") / F.col("new_pop")).alias(
                "conservation_ratio"
            ),
            (F.col("pw_num") / F.col("new_pop")).alias("pop_weighted_tas"),
        )
    )
    return joined.crossJoin(F.broadcast(scal)).select(
        "y_idx", "x_idx", "lat", "lon", "population", "tas",
        "conservation_ratio", "pop_weighted_tas",
    )


_CAP_REGRID_SQL = f"""
WITH dest AS (
    SELECT j, i,
           CASE WHEN j <= 5 THEN 0.0
                WHEN j = 6 THEN 0.125
                WHEN j = 7 THEN 0.25
                ELSE 0.375 END AS t
    FROM generate_series(0, {_RG_NJ - 1}) AS tj(j),
         generate_series(0, {_RG_NI - 1}) AS ti(i)
),
cells AS (
    -- aligned-shift rows: the Voronoi cell is the half-spacing box
    -- clipped to the lon/lat extent; rows 5-8 (shift transition) are
    -- the only non-box cells and are pinned population-free
    SELECT j, i, CAST(j AS DOUBLE) AS lat, i + t AS lon,
           282.0 + 0.125 * i + 0.25 * j AS tas,
           greatest(i + t - 0.5, 0.0) AS cx1,
           least(i + t + 0.5, {_RG_NI - 1} + 0.375) AS cx2,
           greatest(j - 0.5, 0.0) AS cy1,
           least(j + 0.5, CAST({_RG_NJ - 1} AS DOUBLE)) AS cy2,
           (j BETWEEN 5 AND 8) AS transition
    FROM dest
),
pop AS (
    SELECT pj, pi,
           0.8125 + 0.5 * pi AS xc, 0.8125 + 0.5 * pj AS yc,
           CASE WHEN pj BETWEEN 6 AND 15 THEN 0.0
                ELSE 16.0 * (1 + (3 * pi + 5 * pj) % 7) END AS pop
    FROM generate_series(0, {_RG_NPJ - 1}) AS a(pj),
         generate_series(0, {_RG_NPI - 1}) AS b(pi)
),
pairs AS (
    SELECT c.j, c.i,
           CAST(round(p.pop / 0.25
               * (greatest(least(p.xc + 0.25, c.cx2)
                           - greatest(p.xc - 0.25, c.cx1), 0.0)
                  * greatest(least(p.yc + 0.25, c.cy2)
                             - greatest(p.yc - 0.25, c.cy1), 0.0))
               * {_RGQ}.0) AS BIGINT) AS cq
    FROM pop p JOIN cells c
      ON NOT c.transition AND p.pop > 0.0
     AND least(p.xc + 0.25, c.cx2) > greatest(p.xc - 0.25, c.cx1)
     AND least(p.yc + 0.25, c.cy2) > greatest(p.yc - 0.25, c.cy1)
),
transferred AS (
    SELECT j, i,
           CAST(CAST(sum(cq) AS BIGINT) AS DOUBLE) / {_RGQ}.0 AS population
    FROM pairs GROUP BY j, i
),
percell AS (
    SELECT c.j, c.i, c.lat, c.lon,
           coalesce(t.population, 0.0) AS population, c.tas
    FROM cells c LEFT JOIN transferred t ON c.j = t.j AND c.i = t.i
),
scal AS (
    SELECT sum(population) AS new_pop,
           sum(population * tas) AS pw_num
    FROM percell
),
srcs AS (SELECT sum(pop) AS src_pop FROM pop)
SELECT CAST(p.j AS BIGINT) AS y_idx, CAST(p.i AS BIGINT) AS x_idx,
       p.lat, p.lon, p.population, p.tas,
       s2.src_pop / s1.new_pop AS conservation_ratio,
       s1.pw_num / s1.new_pop AS pop_weighted_tas
FROM percell p, scal s1, srcs s2
"""


QUERIES = {
    "capstone_wrf_regrid": capstone_wrf_regrid,
    "g17_ellipsoid_polygon_area": g17_ellipsoid_polygon_area,
    "p4_bbox_filter": p4_bbox_filter,
    "focal_mean_3x3": focal_mean_3x3,
    "g12_simplify_dp": g12_simplify_dp,
    "g13_convex_hull": g13_convex_hull,
    "p5_intersects_boundary": p5_intersects_boundary,
    "j4_concave_overlay": j4_concave_overlay,
    "p5_concave_boundary": p5_concave_boundary,
    "j3_concave_pip": j3_concave_pip,
    "g7_clipped_cell_areas": g7_clipped_cell_areas,
    "j3_bucketed_spatial_join": j3_bucketed_spatial_join,
    "regrid_conservative": regrid_conservative,
    "regrid_conservative_equalarea": regrid_conservative_equalarea,
    "regrid_conservative_general": regrid_conservative_general,
    "g8_crs_webmercator": g8_crs_webmercator,
    "g8_crs_osgb": g8_crs_osgb,
    "g8_crs_lcc": g8_crs_lcc,
    "g19_wrf_ll_to_xy": g19_wrf_ll_to_xy,
    "g20_wrf_ll_to_xy_stere": g20_wrf_ll_to_xy_stere,
    "g21_wrf_ll_to_xy_merc": g21_wrf_ll_to_xy_merc,
    "g22_wrf_ll_to_xy_latlon": g22_wrf_ll_to_xy_latlon,
    "g8_crs_laea": g8_crs_laea,
    "g8_crs_albers": g8_crs_albers,
    "g8_crs_cea": g8_crs_cea,
    "g8_crs_utm": g8_crs_utm,
    "g8_crs_stere": g8_crs_stere,
    "g8_crs_rotated": g8_crs_rotated,
    "g14_haversine_distance": g14_haversine_distance,
    "g16_ellipsoidal_distance": g16_ellipsoidal_distance,
    "j7_nearest_station": j7_nearest_station,
    "j8_knn_within_radius": j8_knn_within_radius,
    "g15_geodesic_midpoint": g15_geodesic_midpoint,
    "a7_domain_center": a7_domain_center,
    "a8_zonal_mean_equalarea": a8_zonal_mean_equalarea,
}

ORACLE = {
    "capstone_wrf_regrid": _CAP_REGRID_SQL,
    "p4_bbox_filter": _P4_SQL,
    "focal_mean_3x3": _FOCAL_SQL,
    "g12_simplify_dp": _G12_SQL,
    "g13_convex_hull": _G13_SQL,
    "p5_intersects_boundary": _P5_SQL,
    "j4_concave_overlay": _J4_CONCAVE_SQL,
    "p5_concave_boundary": _P5_CONCAVE_SQL,
    "j3_concave_pip": _J3_CONCAVE_SQL,
    "g7_clipped_cell_areas": _G7_SQL,
    "j3_bucketed_spatial_join": _J3_SQL,
    "regrid_conservative": _REGRID_SQL,
    "regrid_conservative_equalarea": _REGRID_EA_SQL,
    "regrid_conservative_general": _REGRID_GENERAL_SQL,
    "g8_crs_webmercator": _G8_SQL,
    "g8_crs_osgb": _G8_OSGB_SQL,
    "g8_crs_lcc": _G8_LCC_SQL,
    "g19_wrf_ll_to_xy": _G19_SQL,
    "g20_wrf_ll_to_xy_stere": _G20_SQL,
    "g21_wrf_ll_to_xy_merc": _G21_SQL,
    "g22_wrf_ll_to_xy_latlon": _G22_SQL,
    "g8_crs_laea": _G8_LAEA_SQL,
    "g8_crs_albers": _G8_ALBERS_SQL,
    "g8_crs_cea": _G8_CEA_SQL,
    "g17_ellipsoid_polygon_area": _G17_SQL,
    "g8_crs_utm": _G8_UTM_SQL,
    "g8_crs_stere": _G8_STERE_SQL,
    "g8_crs_rotated": _G8_ROTATED_SQL,
    "g14_haversine_distance": _G14_HAVERSINE_SQL,
    "g16_ellipsoidal_distance": _G16_VINCENTY_SQL,
    "j7_nearest_station": _J7_SQL,
    "j8_knn_within_radius": _J8_SQL,
    "g15_geodesic_midpoint": _G15_SQL,
    "a7_domain_center": _A7_SQL,
    "a8_zonal_mean_equalarea": _A8_ZONAL_EA_SQL,
}
