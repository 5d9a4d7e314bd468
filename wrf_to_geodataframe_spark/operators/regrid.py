"""Reusable conservative (integral-preserving) rectilinear regrid —
the user-facing operator behind the ``regrid_conservative*`` gates
(SURVEY.md §3.3; the reference's ``delphine/regrid.py:206-330``
pipeline, re-expressed as one DataFrame DAG).

The caller supplies source cells as axis-aligned boxes with a value
column, a destination grid spec (origin + spacing in the same
coordinates), an AREA MEASURE, and a QUANTIZER:

- ``area_fn(x1, y1, x2, y2) -> Column`` decides the weighting
  geometry: planar box areas (``functions/polygons.box_area`` — the
  reference's own degrees^2 convention) or exact ellipsoidal areas
  through a coordinate mapping (``functions/crs.ellipsoid_box_area_m2``
  — the equal-area fix; see ``regrid_conservative_equalarea``).  Any
  ADDITIVE measure conserves mass exactly.
- ``quantize(contrib) -> Column[long]`` pins the per-pair contribution
  to an integer so the distributed sum is order-insensitive (the suite
  discipline; ``floor`` and ``round`` at 1e-6 are both in use).

Plan shape (pinned in tests/test_plans.py): the overlay is an
index-arithmetic EXPLODE over destination indices — each source cell
fans out only to the dest cells its envelope touches, never an
all-pairs join; the A4 kernel is one partial-aggregated shuffle; the
destination grid is generated from the extent aggregate and re-attached
with a broadcast left join + fillna(0).  At 100 TB nothing here holds
state beyond (dest-cell count) rows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def conservative_regrid_rect(
    src: DataFrame,
    value_col: str,
    ox: float,
    oy: float,
    dw: float,
    dh: float,
    area_fn: Callable[[Column, Column, Column, Column], Column],
    quantize: Callable[[Column], Column],
    q_scale: float,
) -> DataFrame:
    """``src``: (x1, y1, x2, y2, <value_col>) axis-aligned source
    cells.  Returns the destination grid (i, j, dx1, dy1, dx2, dy2,
    <value_col>_t as ``value``) with the conservatively transferred
    value, zero-filled where uncovered.  The destination extent comes
    from the BOX bounds (min x1 / max x2, min y1 / max y2), so every
    cell's full footprint is covered whatever the cell size — a
    padded-center extent would silently drop edge-cell mass for cells
    wider than the pad."""
    cand = (
        src.withColumn(
            "i",
            F.explode(
                F.sequence(
                    F.floor((F.col("x1") - F.lit(ox)) / F.lit(dw)),
                    F.floor((F.col("x2") - F.lit(ox)) / F.lit(dw)),
                )
            ),
        )
        .withColumn(
            "j",
            F.explode(
                F.sequence(
                    F.floor((F.col("y1") - F.lit(oy)) / F.lit(dh)),
                    F.floor((F.col("y2") - F.lit(oy)) / F.lit(dh)),
                )
            ),
        )
        .withColumns({
            "ix1": F.greatest(F.col("x1"), F.lit(ox) + F.lit(dw) * F.col("i")),
            "iy1": F.greatest(F.col("y1"), F.lit(oy) + F.lit(dh) * F.col("j")),
            "ix2": F.least(
                F.col("x2"), F.lit(ox) + F.lit(dw) * (F.col("i") + 1)
            ),
            "iy2": F.least(
                F.col("y2"), F.lit(oy) + F.lit(dh) * (F.col("j") + 1)
            ),
        })
        .filter((F.col("ix2") > F.col("ix1")) & (F.col("iy2") > F.col("iy1")))
    )
    area_src = area_fn(F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"))
    area_int = area_fn(
        F.col("ix1"), F.col("iy1"), F.col("ix2"), F.col("iy2")
    )
    contrib_q = quantize(
        F.col(value_col) / area_src * area_int * F.lit(q_scale)
    )
    transferred = cand.groupBy("i", "j").agg(
        (F.sum(contrib_q).cast("double") / F.lit(q_scale)).alias("value")
    )
    bbox = src.agg(
        F.min("x1").alias("xmin"), F.min("y1").alias("ymin"),
        F.max("x2").alias("xmax"), F.max("y2").alias("ymax"),
    )
    dest = (
        bbox.select(
            F.explode(
                F.sequence(
                    F.floor((F.col("xmin") - F.lit(ox)) / F.lit(dw)),
                    F.floor((F.col("xmax") - F.lit(ox)) / F.lit(dw)),
                )
            ).alias("i"),
            "ymin", "ymax",
        )
        .select(
            "i",
            F.explode(
                F.sequence(
                    F.floor((F.col("ymin") - F.lit(oy)) / F.lit(dh)),
                    F.floor((F.col("ymax") - F.lit(oy)) / F.lit(dh)),
                )
            ).alias("j"),
        )
    )
    return (
        dest.join(transferred, ["i", "j"], "left")
        .select(
            "i", "j",
            (F.lit(ox) + F.lit(dw) * F.col("i")).alias("dx1"),
            (F.lit(oy) + F.lit(dh) * F.col("j")).alias("dy1"),
            (F.lit(ox) + F.lit(dw) * (F.col("i") + 1)).alias("dx2"),
            (F.lit(oy) + F.lit(dh) * (F.col("j") + 1)).alias("dy2"),
            F.coalesce(F.col("value"), F.lit(0.0)).alias("value"),
        )
    )


def conservative_regrid_to_crs(
    src: DataFrame,
    value_col: str,
    crs: str | int,
    ox: float,
    oy: float,
    dw: float,
    dh: float,
    bucket: float,
    normalize: str = "area",
) -> DataFrame:
    """The reference's ACTUAL regrid workflow end-to-end
    (delphine/regrid.py:206-330: ``gdf.to_crs(...)`` then
    ``gpd.overlay(..., "intersection")`` then area-ratio weights), on
    Spark: source cells are lon/lat boxes (lon1, lat1, lon2, lat2 +
    ``value_col``); their CORNERS project through the ``crs`` column
    transforms (functions/crs.to_crs — e.g. EPSG:3035 for an
    equal-area plane, matching the reference's corner-straightening
    semantics exactly); the projected quads overlay a destination grid
    of (dw x dh) rectangles at origin (ox, oy) IN PROJECTED UNITS via
    the convex clip kernel (geometry/overlay.py — bucketed equi join,
    never all-pairs); the transfer weight is the clipped area over

    - ``normalize="area"``: the source quad's own area (the
      reference's ``gdf.area`` convention — mass falls off the domain
      edge where the destination grid does not cover a source cell);
    - ``normalize="coverage"``: the sum of the cell's clipped areas
      (exact conservation whenever every source cell is at least
      partly covered).

    ``bucket`` is the overlay's spatial bucket in projected units —
    size it to a few destination cells.  Scale shape: 4 projections +
    one explode per source cell, the overlay's single equi join, one
    aggregated shuffle for the transfer; no driver-side geometry.
    Properties (tests/test_spatial_suite.py): at crs=4326 this
    reproduces the analytic rectilinear regrid exactly; in an
    equal-area plane mass is conserved and per-cell clipped areas
    partition the quad.

    Area semantics note: planar areas measured in an equal-area plane
    ARE ellipsoidal areas for polygons whose edges are straight in
    that plane; the direct kernel for the same measure without a
    projection step is functions/crs.ellipsoid_polygon_area_m2 (the
    authalic shoelace — exactly the CEA-plane planar shoelace by the
    telescoping identity in its docstring)."""
    from wrf_to_geodataframe_spark.functions.crs import to_crs
    from wrf_to_geodataframe_spark.geometry.overlay import (
        overlay_intersection,
    )

    if normalize not in ("area", "coverage"):
        raise ValueError(
            f"normalize must be 'area' or 'coverage', got {normalize!r}"
        )
    # duplicate boxes pre-aggregate (the transfer is LINEAR in the
    # value, so summing duplicate rows of the same box is exactly
    # equivalent and makes boxes unique) — then a deterministic
    # per-cell key from the box itself (monotonically_increasing_id
    # would re-number between the plan's aliased branches; xxhash64
    # collisions over distinct boxes are the usual 2^-64-per-pair
    # hazard the hash-keyed operators share)
    src = (
        src.groupBy("lon1", "lat1", "lon2", "lat2")
        .agg(F.sum(value_col).alias(value_col))
        .withColumn(
            "_sid",
            F.xxhash64(
                F.col("lon1"), F.col("lat1"),
                F.col("lon2"), F.col("lat2"),
            ),
        )
    )
    # project the four corners: ll, lr, ur, ul (ccw)
    d = src
    for tag, lo, la in (
        ("ll", "lon1", "lat1"), ("lr", "lon2", "lat1"),
        ("ur", "lon2", "lat2"), ("ul", "lon1", "lat2"),
    ):
        d = to_crs(d, crs, lon=lo, lat=la,
                   out_x=f"_{tag}x", out_y=f"_{tag}y")
    a = d.select(
        "_sid",
        F.col(value_col).alias("_val"),
        F.array(
            F.array("_llx", "_lly"), F.array("_lrx", "_lry"),
            F.array("_urx", "_ury"), F.array("_ulx", "_uly"),
        ).alias("a_poly"),
    )
    # destination rectangles covering the projected extent
    ext = a.select(
        F.explode("a_poly").alias("p")
    ).agg(
        F.min(F.col("p")[0]).alias("xmin"), F.min(F.col("p")[1]).alias("ymin"),
        F.max(F.col("p")[0]).alias("xmax"), F.max(F.col("p")[1]).alias("ymax"),
    )
    b = (
        ext.select(
            F.explode(
                F.sequence(
                    F.floor((F.col("xmin") - F.lit(ox)) / F.lit(dw)),
                    F.floor((F.col("xmax") - F.lit(ox)) / F.lit(dw)),
                )
            ).alias("i"),
            "ymin", "ymax",
        )
        .select(
            "i",
            F.explode(
                F.sequence(
                    F.floor((F.col("ymin") - F.lit(oy)) / F.lit(dh)),
                    F.floor((F.col("ymax") - F.lit(oy)) / F.lit(dh)),
                )
            ).alias("j"),
        )
        .select(
            "i", "j",
            F.array(
                F.array(F.lit(ox) + F.lit(dw) * F.col("i"),
                        F.lit(oy) + F.lit(dh) * F.col("j")),
                F.array(F.lit(ox) + F.lit(dw) * (F.col("i") + 1),
                        F.lit(oy) + F.lit(dh) * F.col("j")),
                F.array(F.lit(ox) + F.lit(dw) * (F.col("i") + 1),
                        F.lit(oy) + F.lit(dh) * (F.col("j") + 1)),
                F.array(F.lit(ox) + F.lit(dw) * F.col("i"),
                        F.lit(oy) + F.lit(dh) * (F.col("j") + 1)),
            ).alias("b_poly"),
        )
    )
    pairs = overlay_intersection(a, b, bucket=bucket).filter(
        F.col("area_inter") > 0.0
    )
    if normalize == "coverage":
        w = Window.partitionBy("_sid")
        pairs = pairs.withColumn(
            "_w", F.col("area_inter") / F.sum("area_inter").over(w)
        )
    else:
        # the source quad's own (shoelace) area, per the reference
        quad_area = F.expr(
            "abs(aggregate(zip_with(a_poly,"
            " concat(slice(a_poly, 2, 3), slice(a_poly, 1, 1)),"
            " (p, q) -> p[0] * q[1] - q[0] * p[1]),"
            " 0.0D, (acc, v) -> acc + v)) / 2.0"
        )
        pairs = pairs.join(
            a.select("_sid", quad_area.alias("_qa")), "_sid"
        ).withColumn("_w", F.col("area_inter") / F.col("_qa"))
    transferred = pairs.groupBy("i", "j").agg(
        F.sum(F.col("_val") * F.col("_w")).alias("value")
    )
    return (
        b.select("i", "j")
        .join(transferred, ["i", "j"], "left")
        .select(
            "i", "j",
            (F.lit(ox) + F.lit(dw) * F.col("i")).alias("dx1"),
            (F.lit(oy) + F.lit(dh) * F.col("j")).alias("dy1"),
            (F.lit(ox) + F.lit(dw) * (F.col("i") + 1)).alias("dx2"),
            (F.lit(oy) + F.lit(dh) * (F.col("j") + 1)).alias("dy2"),
            F.coalesce(F.col("value"), F.lit(0.0)).alias("value"),
        )
    )
