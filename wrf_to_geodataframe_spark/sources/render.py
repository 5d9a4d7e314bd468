"""S5 plot sink — the reference's visual check, engine-native.

The reference renders its tessellations/regrids as matplotlib
choropleths (``gdf.plot(varname)`` at wrf_voronoi.py:181 and
haduk_voronoi.py:72-75, guarded by ``len(gdf) < 10_000``).  This
module is that sink re-expressed for the engine: a long grid table
colored by value becomes PNG tiles through a deterministic
integer-interpolated colormap and the repo's own libpng-cross-validated
PNG encoder (sources/png.py); ``rasterize_polygon`` is the even-odd
scanline fill (the same predicate family as the engine's PIP kernels)
for polygon cells.

Scale shape (the part matplotlib fundamentally cannot do): rendering
is TILE-PARALLEL — ``render_grid`` assigns each cell to its pixel tile
and paints each tile in one Arrow task, so the output is a DataFrame
of (tile_y, tile_x, png) rows — a 10^8-cell field renders as a
slippy-map layer (``build_tile_pyramid`` for the coarser zooms) with
no driver-sized state.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "build_tile_pyramid",
    "colormap_rgb",
    "rasterize_polygon",
    "render_grid",
]

# viridis-like anchors (dark purple -> blue -> green -> yellow),
# integer-interpolated so the 256-entry table is platform-exact
_ANCHORS = [
    (68, 1, 84),
    (59, 82, 139),
    (33, 145, 140),
    (94, 201, 98),
    (253, 231, 37),
]


def colormap_rgb(idx) -> np.ndarray:
    """uint8 index array (0..255) -> (..., 3) uint8 RGB via exact
    integer linear interpolation between the anchor points."""
    idx = np.asarray(idx, dtype="int64")
    if idx.min() < 0 or idx.max() > 255:
        raise ValueError("colormap index out of [0, 255]")
    nseg = len(_ANCHORS) - 1
    # segment s covers indices [s*255//nseg, (s+1)*255//nseg]
    seg = np.minimum(idx * nseg // 255, nseg - 1)
    lo = seg * 255 // nseg
    hi = (seg + 1) * 255 // nseg
    t_num = idx - lo
    t_den = np.maximum(hi - lo, 1)
    a = np.asarray(_ANCHORS, dtype="int64")
    c0 = a[seg]
    c1 = a[seg + 1]
    # rounded integer lerp: (c0*(den-t) + c1*t + den//2) // den
    out = (
        c0 * (t_den - t_num)[..., None]
        + c1 * t_num[..., None]
        + (t_den // 2)[..., None]
    ) // t_den[..., None]
    return out.astype("uint8")


def rasterize_polygon(xs, ys, transform, width: int, height: int):
    """Even-odd scanline fill of one polygon at PIXEL CENTERS ->
    (row0, col0, mask) covering the polygon's pixel bbox within a
    ``height x width`` canvas; mask may be empty.  ``transform`` is
    the affine (pw, ph, ox, oy): pixel (r, c) has its CENTER at world
    ``(ox + (c + 0.5) * pw, oy + (r + 0.5) * ph)`` — ph < 0 for
    north-up rasters.  The half-open crossing rule (y0 <= yc < y1)
    makes the fill agree with the engine's even-odd PIP at every
    pixel center not exactly on an edge."""
    xs = np.asarray(xs, dtype="float64")
    ys = np.asarray(ys, dtype="float64")
    if xs.size != ys.size or xs.size < 3:
        raise ValueError("polygon needs >= 3 vertices")
    pw, ph, ox, oy = (float(t) for t in transform)
    if pw <= 0 or ph == 0:
        raise ValueError("transform needs pw > 0 and ph != 0")
    # pixel index range whose centers can fall inside the bbox
    cols = (xs - ox) / pw - 0.5
    rows = (ys - oy) / ph - 0.5
    # rows/cols are already in PIXEL space (ph's sign is absorbed by
    # the division), so array min/max bound the bbox for either scan
    c0 = max(0, int(np.ceil(cols.min() - 1e-12)))
    c1 = min(width - 1, int(np.floor(cols.max() + 1e-12)))
    r0 = max(0, int(np.ceil(rows.min() - 1e-12)))
    r1 = min(height - 1, int(np.floor(rows.max() + 1e-12)))
    if c1 < c0 or r1 < r0:
        return 0, 0, np.zeros((0, 0), dtype=bool)
    mask = np.zeros((r1 - r0 + 1, c1 - c0 + 1), dtype=bool)
    x0e, y0e = xs, ys
    x1e, y1e = np.roll(xs, -1), np.roll(ys, -1)
    for r in range(r0, r1 + 1):
        yc = oy + (r + 0.5) * ph
        # half-open rule: edge crosses when min(y) <= yc < max(y)
        crosses = ((y0e <= yc) & (yc < y1e)) | ((y1e <= yc) & (yc < y0e))
        if not crosses.any():
            continue
        xi = x0e[crosses] + (yc - y0e[crosses]) / (
            y1e[crosses] - y0e[crosses]
        ) * (x1e[crosses] - x0e[crosses])
        xi.sort()
        for a, b in zip(xi[0::2], xi[1::2]):
            # pixel centers strictly inside the span
            ca = int(np.ceil((a - ox) / pw - 0.5))
            cb = int(np.floor((b - ox) / pw - 0.5))
            ca, cb = max(ca, c0), min(cb, c1)
            if cb >= ca:
                mask[r - r0, ca - c0:cb - c0 + 1] = True
    return r0, c0, mask


def _scale_to_255(df, value_col):
    """(df + 'cidx' 0..255 column, computed from the GLOBAL min/max via
    a broadcast 1-row agg — the A1 pattern, no driver round-trip).
    NaN values (the nodata convention GeoTIFF/virtual reads emit) are
    dropped FIRST: Spark's min/max order NaN above every double, so a
    single nodata cell would otherwise poison the whole extent."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    if isinstance(df.schema[value_col].dataType, (DoubleType, FloatType)):
        df = df.filter(
            F.col(value_col).isNotNull() & ~F.isnan(value_col)
        )
    else:
        df = df.filter(F.col(value_col).isNotNull())
    ext = df.agg(
        F.min(value_col).alias("vmin"), F.max(value_col).alias("vmax")
    )
    return (
        df.crossJoin(F.broadcast(ext))
        .withColumn(
            "cidx",
            F.when(
                F.col("vmax") > F.col("vmin"),
                F.floor(
                    (F.col(value_col) - F.col("vmin"))
                    / (F.col("vmax") - F.col("vmin")) * 255.0
                ).cast("int"),
            ).otherwise(F.lit(128)),
        )
        .withColumn("cidx", F.least(F.greatest("cidx", F.lit(0)), F.lit(255)))
        .drop("vmin", "vmax")
    )


def render_grid(
    spark,
    grid,
    value_col: str = "value",
    y_col: str = "y_idx",
    x_col: str = "x_idx",
    width: int | None = None,
    height: int | None = None,
    tile: int = 256,
    background=(0, 0, 0, 0),
):
    """Fast path for the engine's LONG GRID TABLE (the shape
    ``read_virtual`` / ``read_netcdf_dir`` emit and the reference
    plots with ``.plot(varname)``): one pixel per (y_idx, x_idx) cell,
    colored through the global-extent colormap -> (tile_y, tile_x,
    png) RGBA tiles.  No rasterization needed — cells ARE pixels —
    so each tile is one Arrow task painting its own rows; NULL/NaN
    values stay background (the nodata convention).  ``width``/
    ``height`` default to max index + 1 (one extra 1-row aggregate)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.sources.png import encode_png

    if width is None or height is None:
        ext = grid.agg(
            F.max(x_col).alias("mx"), F.max(y_col).alias("my")
        ).collect()[0]
        width = width or int(ext["mx"]) + 1
        height = height or int(ext["my"]) + 1
    d = _scale_to_255(
        grid.filter(F.col(value_col).isNotNull()), value_col
    ).select(
        F.col(y_col).alias("py"), F.col(x_col).alias("px"), "cidx"
    ).filter(
        (F.col("px") >= 0) & (F.col("px") < width)
        & (F.col("py") >= 0) & (F.col("py") < height)
    ).withColumn("ty", F.floor(F.col("py") / tile)).withColumn(
        "tx", F.floor(F.col("px") / tile)
    )
    bg = tuple(int(b) for b in background)
    tile_sz, W, H = int(tile), int(width), int(height)

    def _paint(key, pdf):
        ty, tx = int(key[0]), int(key[1])
        th = min(tile_sz, H - ty * tile_sz)
        tw = min(tile_sz, W - tx * tile_sz)
        img = np.empty((th, tw, 4), dtype="uint8")
        img[...] = bg
        rows = pdf["py"].to_numpy() - ty * tile_sz
        cols = pdf["px"].to_numpy() - tx * tile_sz
        rgb = colormap_rgb(pdf["cidx"].to_numpy())
        img[rows, cols, :3] = rgb
        img[rows, cols, 3] = 255
        png = encode_png(img.tobytes(), tw, th, channels=4)
        return pd.DataFrame(
            {"tile_y": [ty], "tile_x": [tx], "png": [png]}
        )

    return (
        d.groupBy("ty", "tx")
        .applyInPandas(_paint, "tile_y int, tile_x int, png binary")
    )


def build_tile_pyramid(spark, tiles, levels: int, tile: int = 256):
    """Zoom pyramid over a (tile_y, tile_x, png) level-0 tile set (the
    slippy-map shape): each coarser level's tile composes its four
    children box-downsampled 2x — one ``groupBy(parent)`` per level,
    each parent built in one Arrow task from at most 4 child PNGs, so
    a planet-sized layer reduces level by level with no driver-sized
    state.  Downsampling is ALPHA-WEIGHTED integer box filtering
    (transparent nodata pixels don't bleed into averages; a fully
    transparent 2x2 block stays transparent).  Returns a DataFrame
    (level, tile_y, tile_x, png) containing levels 1..``levels``
    (level 0 is the input)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.sources.png import decode_png, encode_png

    tile_sz = int(tile)
    if tile_sz % 2:
        raise ValueError(
            f"build_tile_pyramid needs an even tile size, got {tile_sz}: "
            "the 2x2 box filter would silently drop the last row/column"
        )
    half = tile_sz // 2

    def _compose(key, pdf):
        ty, tx = int(key[0]), int(key[1])
        img = np.zeros((tile_sz, tile_sz, 4), dtype="uint8")
        for r in pdf.itertuples(index=False):
            w, h, ch, raw = decode_png(bytes(r.png))
            child = np.zeros((tile_sz, tile_sz, 4), dtype="uint8")
            child[:h, :w, :ch] = np.frombuffer(raw, "uint8").reshape(
                h, w, ch
            )
            # alpha-weighted 2x box filter in exact integer arithmetic
            c = child.astype("uint32")
            a = c[:, :, 3]
            asum = (
                a[0::2, 0::2] + a[0::2, 1::2]
                + a[1::2, 0::2] + a[1::2, 1::2]
            )
            out = np.zeros((half, half, 4), dtype="uint8")
            for k in range(3):
                num = (
                    c[0::2, 0::2, k] * a[0::2, 0::2]
                    + c[0::2, 1::2, k] * a[0::2, 1::2]
                    + c[1::2, 0::2, k] * a[1::2, 0::2]
                    + c[1::2, 1::2, k] * a[1::2, 1::2]
                )
                nz = asum > 0
                out[:, :, k][nz] = (
                    (num[nz] + asum[nz] // 2) // asum[nz]
                ).astype("uint8")
            out[:, :, 3] = ((asum + 2) // 4).astype("uint8")
            dy = (int(r.tile_y) % 2) * half
            dx = (int(r.tile_x) % 2) * half
            img[dy:dy + half, dx:dx + half] = out
        png = encode_png(img.tobytes(), tile_sz, tile_sz, channels=4)
        return pd.DataFrame(
            {"tile_y": [ty], "tile_x": [tx], "png": [png]}
        )

    out_levels = []
    cur = tiles.select("tile_y", "tile_x", "png")
    for lvl in range(1, int(levels) + 1):
        nxt = (
            cur.groupBy(
                F.floor(F.col("tile_y") / 2).alias("pty"),
                F.floor(F.col("tile_x") / 2).alias("ptx"),
            )
            .applyInPandas(
                lambda key, pdf: _compose(key, pdf),
                "tile_y int, tile_x int, png binary",
            )
        )
        out_levels.append(
            nxt.select(F.lit(lvl).alias("level"), "tile_y", "tile_x",
                       "png")
        )
        cur = nxt
    out = out_levels[0]
    for lv in out_levels[1:]:
        out = out.unionByName(lv)
    return out
