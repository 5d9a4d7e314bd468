"""Tessellation operators: grid points -> Voronoi cell polygons.

Two physical strategies for the same logical op (SURVEY.md §7 phase 4):

- ``tessellate``: driver-side for <= ~2M points (the reference's whole
  working range, collected via Arrow), then ``createDataFrame`` back —
  explicit ``(key, …)`` columns, never positional alignment (J5).
- ``tessellate_distributed``: tile + halo.  Points are assigned a home
  tile and replicated into every tile whose halo region they touch
  (explode over covered tiles — same bucket decomposition as the
  spatial joins).  One shuffle spreads the tiles over
  ``defaultParallelism`` partitions, sorted by tile and key; each
  partition then streams its tiles through ONE ``mapInPandas`` call,
  running the identical numpy kernel per tile and emitting only its home
  points, each cell carrying an ``exact`` certificate (2R <= d(site,
  tile edge) + halo).  With a halo of a few grid spacings every cell
  certifies exact; the flag makes seam errors DETECTABLE instead of
  silent.

Output schema (both): key columns + x, y, wkt, area, n_vertices,
x1/y1/x2/y2 envelope, is_sentinel (degenerate cells, the reference's
``Point(0, 0)`` convention).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from wrf_to_geodataframe_spark.geometry.polygons import polygon_wkt, shoelace_area
from wrf_to_geodataframe_spark.geometry.voronoi import (
    DEFAULT_MAX_DRIVER_POINTS,
    cells_exactness_radius,
    voronoi_cells,
)


def _result_schema(key_cols: Sequence[str]) -> StructType:
    fields = [StructField(k, LongType()) for k in key_cols]
    fields += [
        StructField("x", DoubleType()),
        StructField("y", DoubleType()),
        StructField("wkt", StringType()),
        StructField("area", DoubleType()),
        StructField("n_vertices", LongType()),
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
        StructField("x2", DoubleType()),
        StructField("y2", DoubleType()),
        StructField("is_sentinel", BooleanType()),
        StructField("exact", BooleanType()),
    ]
    return StructType(fields)


def _cells_frame(
    pdf: pd.DataFrame,
    key_cols: Sequence[str],
    x_col: str,
    y_col: str,
    bbox: tuple[float, float, float, float],
    spacing_hint: float | None,
    exact_slack: np.ndarray | None = None,
    site_mask: np.ndarray | None = None,
) -> pd.DataFrame:
    """Run the kernel over one in-memory point set -> result rows (only
    for masked sites when ``site_mask`` is given; unmasked points act as
    neighbors only).  ``exact_slack[i]`` is the certified-absent-point
    distance for site i (None => driver-side global run, always exact)."""
    pts = pdf[[x_col, y_col]].to_numpy(dtype=np.float64)
    cells = voronoi_cells(pts, bbox, spacing_hint, site_mask=site_mask)
    sel = np.arange(len(pts)) if site_mask is None else np.nonzero(site_mask)[0]
    cells = [cells[i] for i in sel]
    spts = pts[sel]
    two_r = cells_exactness_radius(spts, cells)
    if exact_slack is None:
        exact = np.ones(len(spts), dtype=bool)
    else:
        exact = two_r <= exact_slack[sel]
    rows = {k: pdf[k].to_numpy()[sel] for k in key_cols}
    rows["x"] = spts[:, 0]
    rows["y"] = spts[:, 1]
    rows["wkt"] = [polygon_wkt(c) for c in cells]
    rows["area"] = [shoelace_area(c) for c in cells]
    rows["n_vertices"] = [len(c) for c in cells]
    env = np.full((len(spts), 4), np.nan)
    for i, c in enumerate(cells):
        if len(c) >= 3:
            env[i] = [c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max()]
    rows["x1"], rows["y1"], rows["x2"], rows["y2"] = env.T
    rows["is_sentinel"] = [len(c) < 3 for c in cells]
    rows["exact"] = exact
    return pd.DataFrame(rows)


def tessellate(
    df: DataFrame,
    x_col: str,
    y_col: str,
    key_cols: Sequence[str],
    bbox: tuple[float, float, float, float] | None = None,
    spacing_hint: float | None = None,
    max_points: int = DEFAULT_MAX_DRIVER_POINTS,
) -> DataFrame:
    """Driver-side tessellation (reference parity path,
    ``wrf_voronoi.py:126-137``): collect points, run the kernel once,
    parallelize the cells back with explicit keys."""
    spark = df.sparkSession
    # limit() caps the collect BEFORE it reaches the driver: the guard
    # must prevent the oversized materialization, not fire after it
    pdf = df.select(*key_cols, x_col, y_col).limit(max_points + 1).toPandas()
    if len(pdf) > max_points:
        raise ValueError(
            f"point count exceeds driver tessellation limit {max_points}; "
            f"use tessellate_distributed"
        )
    # deterministic coincident-site tie-break: lowest key wins, matching
    # the distributed path's key sort within each tile (not collection
    # order)
    pdf = pdf.sort_values(list(key_cols), kind="stable", ignore_index=True)
    if bbox is None:
        xs, ys = pdf[x_col], pdf[y_col]
        bbox = (xs.min(), ys.min(), xs.max(), ys.max())
    out = _cells_frame(pdf, key_cols, x_col, y_col, bbox, spacing_hint)
    return spark.createDataFrame(out, schema=_result_schema(key_cols))


def infer_rectilinear(df: DataFrame, x_col: str, y_col: str) -> bool:
    """Detect a rectilinear grid structurally: the point set is exactly
    the cross product of its distinct x and y axis values (each
    combination present once).  One aggregate pass; the axes themselves
    may be non-uniformly spaced (HadUK-style projected grids are)."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(x_col).alias("nx"),
        F.countDistinct(y_col).alias("ny"),
        F.countDistinct(x_col, y_col).alias("nxy"),
    ).collect()[0]
    return r.n == r.nxy and r.nx * r.ny == r.n


def _axis_bounds(
    df: DataFrame, col: str, lo: float, hi: float
) -> DataFrame:
    """Midpoint cell bounds along one axis (reference's per-point
    half-spacing construction, ``delphine/regrid.py:182-203``), clamped
    to the bbox at the ends.  The axis table is tiny — broadcast."""
    from pyspark.sql import Window

    axis = df.select(F.col(col).alias("v")).distinct()
    w = Window.orderBy("v")
    return axis.select(
        "v",
        F.coalesce(
            (F.lag("v").over(w) + F.col("v")) / 2.0, F.lit(float(lo))
        ).alias("lo"),
        F.coalesce(
            (F.lead("v").over(w) + F.col("v")) / 2.0, F.lit(float(hi))
        ).alias("hi"),
    )


def tessellate_auto(
    df: DataFrame,
    x_col: str,
    y_col: str,
    key_cols: Sequence[str],
    bbox: tuple[float, float, float, float],
    spacing_hint: float | None = None,
    max_driver_points: int = DEFAULT_MAX_DRIVER_POINTS,
    tile_size: float | None = None,
    halo: float | None = None,
) -> DataFrame:
    """Algorithmic dispatch (SURVEY.md §4.1, the reference's manual
    "rectilinear ⇒ skip qhull" optimization made automatic):

    - rectilinear grid (inferred structurally): the Voronoi diagram is
      known analytically — midpoint boxes from the two axis tables,
      pure column arithmetic, NO kernel and no point collection;
    - otherwise: the exact half-plane kernel, driver-side when the
      point count fits, tile+halo distributed when it doesn't.

    Same output schema on every path."""
    xmin, ymin, xmax, ymax = (float(v) for v in bbox)
    if infer_rectilinear(df, x_col, y_col):
        xb = _axis_bounds(df, x_col, xmin, xmax)
        yb = _axis_bounds(df, y_col, ymin, ymax)
        pts = df.select(*key_cols, x_col, y_col)
        boxed = (
            pts.join(
                F.broadcast(xb), pts[x_col] == xb["v"]
            )
            .select(
                *key_cols, x_col, y_col,
                F.col("lo").alias("x1"), F.col("hi").alias("x2"),
            )
            .join(F.broadcast(yb), F.col(y_col) == yb["v"])
            .select(
                *key_cols, x_col, y_col, "x1", "x2",
                F.col("lo").alias("y1"), F.col("hi").alias("y2"),
            )
        )
        # WKT via the shared formatter so all three paths emit
        # byte-identical text for the same cell
        from pyspark.sql.functions import pandas_udf

        from wrf_to_geodataframe_spark.geometry.polygons import (
            bbox_polygon as _bp,
        )

        @pandas_udf("string")
        def _box_wkt(
            x1: pd.Series, y1: pd.Series, x2: pd.Series, y2: pd.Series
        ) -> pd.Series:
            return pd.Series(
                [
                    polygon_wkt(_bp(a, b, c, d))
                    for a, b, c, d in zip(x1, y1, x2, y2)
                ]
            )

        wkt = _box_wkt(F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"))
        return boxed.select(
            *key_cols,
            F.col(x_col).cast("double").alias("x"),
            F.col(y_col).cast("double").alias("y"),
            wkt.alias("wkt"),
            ((F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1"))).alias(
                "area"
            ),
            F.lit(4).cast("long").alias("n_vertices"),
            "x1", "y1", "x2", "y2",
            F.lit(False).alias("is_sentinel"),
            F.lit(True).alias("exact"),
        )
    n = df.count()
    if n <= max_driver_points:
        return tessellate(
            df, x_col, y_col, key_cols, bbox=bbox,
            spacing_hint=spacing_hint, max_points=max_driver_points,
        )
    if tile_size is None or halo is None:
        raise ValueError(
            f"{n} non-rectilinear points exceed the driver limit "
            f"{max_driver_points}: pass tile_size and halo for the "
            f"distributed path"
        )
    return tessellate_distributed(
        df, x_col, y_col, key_cols, bbox=bbox,
        tile_size=tile_size, halo=halo, spacing_hint=spacing_hint,
    )


def tessellate_distributed(
    df: DataFrame,
    x_col: str,
    y_col: str,
    key_cols: Sequence[str],
    bbox: tuple[float, float, float, float] | None = None,
    tile_size: float = 0.0,
    halo: float = 0.0,
    spacing_hint: float | None = None,
    bbox_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Distributed tessellation: one shuffle (points -> tiles, with halo
    replication) into ``defaultParallelism`` partitions, sorted within
    each by (tile, key); then each partition streams its key-sorted
    tiles through one Python call that runs the kernel once per tile.

    The clip bbox comes either from ``bbox`` (driver-side floats) or
    ``bbox_cols`` (four column names (x1, y1, x2, y2) on ``df``, constant
    across rows — e.g. a crossJoined 1-row agg).  With ``bbox_cols`` the
    whole query stays LAZY: no Spark job runs until the result is acted
    on, because tile assignment needs only the coordinates, never the
    extent.

    Scale: memory per task is O(Arrow batch + points of the largest
    tile and its halo ring), never the global point count — the axis on
    which the reference OOMs."""
    if (bbox is None) == (bbox_cols is None):
        raise ValueError("pass exactly one of bbox / bbox_cols")
    if tile_size <= 0 or halo <= 0:
        raise ValueError("tile_size and halo must be positive")
    ts, hw = float(tile_size), float(halo)

    bcols = list(bbox_cols) if bbox_cols is not None else []
    lit_bbox = (
        tuple(float(v) for v in bbox) if bbox is not None else None
    )
    pts = df.select(*key_cols, x_col, y_col, *bcols)
    x, y = F.col(x_col), F.col(y_col)
    home_i = F.floor(x / F.lit(ts))
    home_j = F.floor(y / F.lit(ts))
    # replicate into every tile whose halo-expanded region contains the
    # point: tiles covered by [x-halo, x+halo] x [y-halo, y+halo]
    tiled = (
        pts.withColumn("home_i", home_i)
        .withColumn("home_j", home_j)
        .withColumn(
            "tile_i",
            F.explode(
                F.sequence(
                    F.floor((x - F.lit(hw)) / F.lit(ts)),
                    F.floor((x + F.lit(hw)) / F.lit(ts)),
                )
            ),
        )
        .withColumn(
            "tile_j",
            F.explode(
                F.sequence(
                    F.floor((y - F.lit(hw)) / F.lit(ts)),
                    F.floor((y + F.lit(hw)) / F.lit(ts)),
                )
            ),
        )
    )

    keys = list(key_cols)
    schema = _result_schema(keys)

    def run_tile(local: pd.DataFrame, is_home: np.ndarray) -> pd.DataFrame:
        ti = int(local["tile_i"].iloc[0])
        tj = int(local["tile_j"].iloc[0])
        tile_bbox = (
            lit_bbox
            if lit_bbox is not None
            else tuple(float(local[c].iloc[0]) for c in bcols)
        )
        px = local[x_col].to_numpy(np.float64)
        py = local[y_col].to_numpy(np.float64)
        # certificate slack: absent points are farther than
        # d(site, tile edge) + halo
        tx1, ty1 = ti * ts, tj * ts
        tx2, ty2 = tx1 + ts, ty1 + ts
        d_edge = np.minimum.reduce([px - tx1, tx2 - px, py - ty1, ty2 - py])
        slack = d_edge + hw
        return _cells_frame(
            local, keys, x_col, y_col, tile_bbox,
            spacing_hint, exact_slack=slack, site_mask=is_home,
        )

    def run_complete_tiles(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        # ``pdf`` is sorted by (tile_i, tile_j, *keys) and holds only
        # whole tiles: each tile is one contiguous run, and within it
        # the kernel's "lowest index wins" duplicate tie-break is a
        # function of the stable key, not shuffle order
        ti = pdf["tile_i"].to_numpy()
        tj = pdf["tile_j"].to_numpy()
        home = (pdf["home_i"].to_numpy() == ti) & (
            pdf["home_j"].to_numpy() == tj
        )
        starts = np.flatnonzero(
            np.r_[True, (ti[1:] != ti[:-1]) | (tj[1:] != tj[:-1])]
        )
        ends = np.r_[starts[1:], len(pdf)]
        # halo-only tiles (no home site) emit nothing: skipped before
        # any pandas or kernel work
        frames = [
            run_tile(pdf.iloc[s:e], home[s:e])
            for s, e in zip(starts, ends)
            if home[s:e].any()
        ]
        if frames:
            yield pd.concat(frames, ignore_index=True)

    def run_tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the last tile of a batch may continue in the next one: carry
        # it over so every tile runs exactly once, whole
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            ti = pdf["tile_i"].to_numpy()
            tj = pdf["tile_j"].to_numpy()
            # sorted input: the batch's last tile is its tail
            in_last = (ti == ti[-1]) & (tj == tj[-1])
            last = len(pdf) - int(np.count_nonzero(in_last))
            carry = pdf.iloc[last:]
            if last:
                yield from run_complete_tiles(pdf.iloc[:last])
        if carry is not None:
            yield from run_complete_tiles(carry)

    # one shuffle into defaultParallelism partitions (an explicit count,
    # so AQE's byte-based coalescing cannot fold this small but
    # CPU-heavy stage into one task), key-sorted within each partition,
    # then ONE Python call per partition streams its tiles — not one
    # grouped-map call, with its per-group Arrow<->pandas cost, per tile
    n = tiled.sparkSession.sparkContext.defaultParallelism
    return (
        tiled.repartition(n, "tile_i", "tile_j")
        .sortWithinPartitions("tile_i", "tile_j", *keys)
        .mapInPandas(run_tiles, schema)
    )
