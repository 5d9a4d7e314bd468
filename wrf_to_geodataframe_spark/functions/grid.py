"""Rectilinear-grid geometry as plain column expressions.

Re-expresses the reference's rectilinear fast path
(``delphine/regrid.py:182-203`` ``get_vor_rectilinear``: cell =
``box(x-w, y-h, x+w, y+h)`` with half-spacings) as pure Spark columns —
no geometry library, no UDF, fully pushdown/codegen-friendly, and fully
DuckDB-oracle-expressible.

A box is four DoubleType columns ``(x1, y1, x2, y2)``.  Keeping envelopes
as plain min/max columns is also what lets Catalyst push bbox predicates
into parquet scans (SURVEY.md §4.1 "clip-to-bbox early").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cell_box(
    df: DataFrame,
    x: str = "x",
    y: str = "y",
    half_dx: float = 0.5,
    half_dy: float = 0.5,
    prefix: str = "",
) -> DataFrame:
    """Attach the analytic Voronoi cell of a rectilinear grid point.

    Mirrors ``delphine/regrid.py:188-196`` (`box(x_ - w, y_ - h, ...)`)
    as four plain columns; the Voronoi diagram of a rectilinear grid is
    known analytically so qhull is skipped entirely (the reference's
    "saves a bit of compute time" fast path, SURVEY.md §2 G2).
    """
    return df.withColumns({
        prefix + "x1": F.col(x) - F.lit(half_dx),
        prefix + "y1": F.col(y) - F.lit(half_dy),
        prefix + "x2": F.col(x) + F.lit(half_dx),
        prefix + "y2": F.col(y) + F.lit(half_dy),
    })


def box_area(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """ST_Area of an axis-aligned box (SURVEY.md §2 G7) — planar CRS units,
    matching ``delphine/regrid.py:261-262`` ``gdf.area`` semantics."""
    return (x2 - x1) * (y2 - y1)


def box_within_bbox(
    x1: Column, y1: Column, x2: Column, y2: Column,
    xmin: Column, ymin: Column, xmax: Column, ymax: Column,
) -> Column:
    """``gdf.within(box(...))`` for axis-aligned cells (SURVEY.md §2 P4,
    ``wrf_voronoi.py:143-148``): the cell envelope fully inside the bbox."""
    return (x1 >= xmin) & (y1 >= ymin) & (x2 <= xmax) & (y2 <= ymax)


def box_intersects_box(
    ax1: Column, ay1: Column, ax2: Column, ay2: Column,
    bx1: Column, by1: Column, bx2: Column, by2: Column,
) -> Column:
    """ST_Intersects for two axis-aligned boxes (closed-boundary GEOS
    semantics: touching edges intersect)."""
    return (ax1 <= bx2) & (bx1 <= ax2) & (ay1 <= by2) & (by1 <= ay2)


def point_in_box(
    px: Column, py: Column, x1: Column, y1: Column, x2: Column, y2: Column
) -> Column:
    """ST_Contains(box, point) with closed boundaries."""
    return (px >= x1) & (px <= x2) & (py >= y1) & (py <= y2)
