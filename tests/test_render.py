"""S5 plot sink (sources/render.py): scanline rasterization vs the
even-odd PIP kernel, deterministic colormap, the grid renderer's
nodata, constant-field and off-canvas rules, PNG validity through the
repo's own codec, and the tile pyramid."""

from __future__ import annotations

import numpy as np
import pytest

from wrf_to_geodataframe_spark.geometry.polygons import point_in_polygon
from wrf_to_geodataframe_spark.sources.png import decode_png
from wrf_to_geodataframe_spark.sources.render import (
    colormap_rgb,
    rasterize_polygon,
)


def test_colormap_endpoints_and_monotone_luma():
    c = colormap_rgb(np.arange(256))
    assert c.shape == (256, 3) and c.dtype == np.uint8
    assert tuple(c[0]) == (68, 1, 84)        # first anchor
    assert tuple(c[255]) == (253, 231, 37)   # last anchor
    # perceptual ramp: integer luma strictly non-decreasing
    luma = c @ np.array([299, 587, 114])
    assert (np.diff(luma.astype("int64")) >= 0).all()
    with pytest.raises(ValueError):
        colormap_rgb(np.array([256]))


def _pip_mask(xs, ys, transform, w, h):
    """Oracle: even-odd PIP of every pixel center (geometry/polygons
    kernel) — the rasterizer must agree wherever no center sits
    exactly on an edge."""
    pw, ph, ox, oy = transform
    poly = np.column_stack([xs, ys])
    out = np.zeros((h, w), dtype=bool)
    for r in range(h):
        for c in range(w):
            out[r, c] = point_in_polygon(
                ox + (c + 0.5) * pw, oy + (r + 0.5) * ph, poly
            )
    return out


@pytest.mark.parametrize("ph", [0.25, -0.25])
def test_rasterizer_agrees_with_pip_kernel(ph):
    rng = np.random.default_rng(7)
    transform = (0.25, ph, 0.0, 0.0 if ph > 0 else 5.0)
    w = h = 20
    for case in range(30):
        n = int(rng.integers(3, 9))
        # random star-shaped simple polygon, vertices OFF the pixel
        # lattice so no center lands exactly on an edge
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        rad = rng.uniform(0.4, 2.3, n)
        cx, cy = rng.uniform(1.0, 4.0, 2)
        xs = cx + rad * np.cos(ang) + 0.0013
        ys = (cy if ph > 0 else 5.0 - cy) + rad * np.sin(ang) + 0.0017
        r0, c0, mask = rasterize_polygon(xs, ys, transform, w, h)
        full = np.zeros((h, w), dtype=bool)
        if mask.size:
            full[r0:r0 + mask.shape[0], c0:c0 + mask.shape[1]] = mask
        expect = _pip_mask(xs, ys, transform, w, h)
        np.testing.assert_array_equal(full, expect, err_msg=f"case {case}")


def test_rasterizer_concave_even_odd():
    # L-shape: the notch must stay unfilled (even-odd, not convex fill)
    xs = [0.1, 4.1, 4.1, 2.1, 2.1, 0.1]
    ys = [0.1, 0.1, 2.1, 2.1, 4.1, 4.1]
    transform = (1.0, 1.0, 0.0, 0.0)
    r0, c0, mask = rasterize_polygon(xs, ys, transform, 6, 6)
    full = np.zeros((6, 6), dtype=bool)
    full[r0:r0 + mask.shape[0], c0:c0 + mask.shape[1]] = mask
    expect = _pip_mask(xs, ys, transform, 6, 6)
    np.testing.assert_array_equal(full, expect)
    assert not full[3, 3]  # inside the notch
    assert full[1, 1]


def _grid_df(spark, rows):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["y_idx", "x_idx", "value"])
    )


def _render_image(spark, grid, width, height, tile):
    """``render_grid`` tiles stitched into one (height, width, 4) RGBA
    array."""
    from wrf_to_geodataframe_spark.sources.render import render_grid

    img = np.zeros((height, width, 4), dtype="uint8")
    for r in render_grid(
        spark, grid, width=width, height=height, tile=tile
    ).collect():
        w, h, ch, raw = decode_png(bytes(r["png"]))
        img[r["tile_y"] * tile:r["tile_y"] * tile + h,
            r["tile_x"] * tile:r["tile_x"] * tile + w] = (
            np.frombuffer(raw, "uint8").reshape(h, w, ch)
        )
    return img


def test_off_canvas_cells_are_dropped_not_exploded(spark):
    """A cell whose index lies entirely off-canvas must not render nor
    land in a tile: right/below and left/above (negative) cells are
    filtered before tiling, so the image is the on-canvas image."""
    base = [(y, x, float(y * 2 + x)) for y in range(2) for x in range(2)]
    # off-canvas values are inside [vmin, vmax] of the on-canvas values
    # so the colormap scaling is unchanged -> images identical
    extra = [(9, 9, 1.5), (-5, -5, 1.5)]
    with_extra = _render_image(spark, _grid_df(spark, base + extra), 2, 2, 3)
    without = _render_image(spark, _grid_df(spark, base), 2, 2, 3)
    assert (with_extra == without).all()


def test_tile_pyramid_rejects_odd_tile_size(spark):
    from wrf_to_geodataframe_spark.sources.render import (
        build_tile_pyramid,
        render_grid,
    )

    grid = _grid_df(
        spark, [(y, x, float(y * 8 + x)) for y in range(8) for x in range(8)]
    )
    tiles = render_grid(spark, grid, width=8, height=8, tile=4)
    with pytest.raises(ValueError, match="even tile size"):
        build_tile_pyramid(spark, tiles, levels=1, tile=5)


def test_constant_value_renders_midscale(spark):
    grid = _grid_df(
        spark, [(y, x, 0.0) for y in range(4) for x in range(4)]
    ).withColumn("value", _lit_one())
    img = _render_image(spark, grid, 4, 4, 4)
    mid = colormap_rgb(np.int64(128))
    assert (img[:, :, :3] == mid).all()


def _lit_one():
    from pyspark.sql import functions as F

    return F.lit(1.0)


def test_render_grid_from_long_table(spark):
    """The grid fast path: (y_idx, x_idx, value) rows -> pixel tiles;
    NULLs stay transparent background (the nodata convention); the
    value extent maps onto the colormap's two ends."""
    import pandas as pd

    from wrf_to_geodataframe_spark.sources.render import render_grid

    rows = [
        (y, x, float(y * 6 + x) if (y, x) != (2, 3) else None)
        for y in range(5)
        for x in range(6)
    ]
    grid = spark.createDataFrame(
        pd.DataFrame(rows, columns=["y_idx", "x_idx", "value"])
    )
    tiles = render_grid(spark, grid, tile=4).collect()
    assert sorted((r["tile_y"], r["tile_x"]) for r in tiles) == [
        (0, 0), (0, 1), (1, 0), (1, 1)
    ]
    img = np.zeros((5, 6, 4), dtype="uint8")
    for r in tiles:
        w, h, ch, raw = decode_png(bytes(r["png"]))
        block = np.frombuffer(raw, "uint8").reshape(h, w, ch)
        img[r["tile_y"] * 4:r["tile_y"] * 4 + h,
            r["tile_x"] * 4:r["tile_x"] * 4 + w] = block
    assert img[2, 3, 3] == 0          # NULL cell: transparent
    assert (img[0, 0, :3] == colormap_rgb(np.int64(0))).all()
    assert (img[4, 5, :3] == colormap_rgb(np.int64(255))).all()
    # all non-null pixels painted opaque
    mask = np.ones((5, 6), dtype=bool)
    mask[2, 3] = False
    assert (img[:, :, 3][mask] == 255).all()


def test_nan_values_render_as_nodata_not_poison(spark):
    """NaN (the nodata convention GeoTIFF/virtual reads emit) must
    render as background AND not poison the global extent — Spark's
    min/max order NaN above every double, so an unfiltered aggregate
    would wreck every other cell's color."""
    import pandas as pd

    from wrf_to_geodataframe_spark.sources.render import render_grid

    rows = [
        (0, 0, 0.0), (0, 1, float("nan")), (1, 0, 3.0), (1, 1, None),
    ]
    grid = spark.createDataFrame(
        pd.DataFrame(rows, columns=["y_idx", "x_idx", "value"])
    )
    tiles = render_grid(spark, grid, width=2, height=2, tile=4).collect()
    assert len(tiles) == 1
    w, h, ch, raw = decode_png(bytes(tiles[0]["png"]))
    img = np.frombuffer(raw, "uint8").reshape(2, 2, 4)
    assert img[0, 1, 3] == 0 and img[1, 1, 3] == 0   # NaN & NULL: nodata
    # extent is (0, 3), not (0, NaN): endpoints hit the ramp ends
    assert tuple(img[0, 0, :3]) == tuple(colormap_rgb(np.int64(0)))
    assert tuple(img[1, 0, :3]) == tuple(colormap_rgb(np.int64(255)))


def test_tile_pyramid_levels_and_alpha_weighting(spark):
    """build_tile_pyramid: level-1 composes 4 children box-downsampled
    2x into quadrants; alpha-weighted averaging keeps nodata pixels
    from bleeding (a fully transparent block stays transparent, a
    constant opaque block keeps its exact color); level-2 reduces to
    one tile."""
    import pandas as pd

    from wrf_to_geodataframe_spark.sources.png import encode_png
    from wrf_to_geodataframe_spark.sources.render import (
        build_tile_pyramid,
    )

    T = 8  # tiny tiles for the test

    def _tile(rgb, alpha=255):
        img = np.zeros((T, T, 4), dtype="uint8")
        img[:, :, :3] = rgb
        img[:, :, 3] = alpha
        return encode_png(img.tobytes(), T, T, channels=4)

    rows = [
        (0, 0, _tile((10, 20, 30))),
        (0, 1, _tile((50, 60, 70))),
        (1, 0, _tile((90, 100, 110), alpha=0)),   # fully transparent
        (1, 1, _tile((130, 140, 150))),
        (0, 2, _tile((200, 0, 0))),               # second parent, half empty
    ]
    tiles = spark.createDataFrame(
        pd.DataFrame(rows, columns=["tile_y", "tile_x", "png"])
    )
    pyr = build_tile_pyramid(spark, tiles, levels=2, tile=T).collect()
    lv1 = {(r["tile_y"], r["tile_x"]): bytes(r["png"])
           for r in pyr if r["level"] == 1}
    lv2 = [r for r in pyr if r["level"] == 2]
    assert sorted(lv1) == [(0, 0), (0, 1)]
    assert len(lv2) == 1 and (lv2[0]["tile_y"], lv2[0]["tile_x"]) == (0, 0)

    w, h, ch, raw = decode_png(lv1[(0, 0)])
    img = np.frombuffer(raw, "uint8").reshape(T, T, 4)
    hf = T // 2
    # constant opaque children keep exact colors in their quadrants
    assert (img[:hf, :hf, :3] == (10, 20, 30)).all()
    assert (img[:hf, hf:, :3] == (50, 60, 70)).all()
    assert (img[hf:, hf:, :3] == (130, 140, 150)).all()
    assert (img[:hf, :, 3] == 255).all() and (img[hf:, hf:, 3] == 255).all()
    # the transparent child's quadrant stays fully transparent
    assert (img[hf:, :hf, 3] == 0).all()

    # parent (0,1) has only one child (0,2): its other quadrants are
    # empty, the child's quadrant keeps the color
    w, h, ch, raw = decode_png(lv1[(0, 1)])
    img2 = np.frombuffer(raw, "uint8").reshape(T, T, 4)
    assert (img2[:hf, :hf, :3] == (200, 0, 0)).all()
    assert (img2[:, hf:, 3] == 0).all() and (img2[hf:, :, 3] == 0).all()
