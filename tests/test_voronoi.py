"""Tessellation kernel tests (SURVEY.md §5): analytic cross-checks,
partition/containment/orientation properties, driver-vs-distributed
equality, and a golden-WKT pin — the roles the reference's Brasil
shapefiles and visual checks play."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import example, given, settings
from pyspark.sql import functions as F
from hypothesis import strategies as st

from wrf_to_geodataframe_spark.geometry.polygons import (
    bbox_polygon,
    is_ccw,
    point_in_convex_polygon,
    polygon_wkt,
    shoelace_area,
)
from wrf_to_geodataframe_spark.geometry.voronoi import voronoi_cells


def _grid_points(nx, ny, shear=0.0, rot=0.0):
    """Curvilinear-ish test grid: integer lattice, optionally sheared and
    rotated (the WRF-grid stand-in)."""
    xs, ys = np.meshgrid(np.arange(nx, dtype=float), np.arange(ny, dtype=float))
    pts = np.stack([xs.ravel() + shear * ys.ravel(), ys.ravel()], axis=1)
    if rot:
        c, s = np.cos(rot), np.sin(rot)
        pts = pts @ np.array([[c, s], [-s, c]])
    return pts


def test_rectilinear_voronoi_equals_analytic_boxes():
    """G1 kernel vs G2 fast path: on a rectilinear grid the Voronoi cell
    of every interior point is exactly the unit box."""
    pts = _grid_points(6, 5)
    bbox = (-0.5, -0.5, 5.5, 4.5)
    cells = voronoi_cells(pts, bbox)
    assert len(cells) == 30
    for p, cell in zip(pts, cells):
        assert len(cell) == 4
        assert np.isclose(shoelace_area(cell), 1.0, atol=1e-12)
        x1, y1 = cell[:, 0].min(), cell[:, 1].min()
        x2, y2 = cell[:, 0].max(), cell[:, 1].max()
        assert np.allclose([x1, y1, x2, y2], [p[0] - 0.5, p[1] - 0.5, p[0] + 0.5, p[1] + 0.5], atol=1e-12)


def _assert_partition(pts, bbox, cells):
    xmin, ymin, xmax, ymax = bbox
    total = sum(shoelace_area(c) for c in cells)
    bbox_area = (xmax - xmin) * (ymax - ymin)
    assert abs(total - bbox_area) < 1e-8 * max(bbox_area, 1.0)
    for p, c in zip(pts, cells):
        if len(c) >= 3:
            assert is_ccw(c)
            assert point_in_convex_polygon(p[0], p[1], c)


def test_sheared_grid_partition_and_containment():
    pts = _grid_points(7, 6, shear=0.35)
    bbox = (
        pts[:, 0].min() - 0.3, pts[:, 1].min() - 0.3,
        pts[:, 0].max() + 0.3, pts[:, 1].max() + 0.3,
    )
    cells = voronoi_cells(pts, bbox)
    assert all(len(c) >= 3 for c in cells)  # all sites inside bbox
    _assert_partition(pts, bbox, cells)


def test_rotated_grid_partition_and_containment():
    pts = _grid_points(6, 6, rot=0.5)
    bbox = (
        pts[:, 0].min() - 0.4, pts[:, 1].min() - 0.4,
        pts[:, 0].max() + 0.4, pts[:, 1].max() + 0.4,
    )
    cells = voronoi_cells(pts, bbox)
    _assert_partition(pts, bbox, cells)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(0, 10, allow_nan=False, allow_infinity=False),
            st.floats(0, 10, allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
@example(
    coords=[(0.0, 0.0),
     (0.0, 5.556896873712694e-163),
     (3.2734568842910826e-157, 0.0)],
).via('discovered failure')
def test_random_points_partition_bbox(coords):
    pts = np.array(coords, dtype=float)
    bbox = (-1.0, -1.0, 11.0, 11.0)
    cells = voronoi_cells(pts, bbox)
    _assert_partition(pts, bbox, cells)
    # every non-site location belongs to exactly the nearest site's cell
    rng = np.random.default_rng(7)
    for _ in range(20):
        q = rng.uniform(-1, 11, 2)
        d = np.sum((pts - q) ** 2, axis=1)
        owners = [
            i for i, c in enumerate(cells) if point_in_convex_polygon(q[0], q[1], c)
        ]
        assert owners, "partition must cover the bbox"
        assert np.isclose(d[owners].min(), d.min(), rtol=1e-9)


def test_duplicate_points_get_sentinel():
    pts = np.array([[1.0, 1.0], [1.0, 1.0], [3.0, 1.0]])
    cells = voronoi_cells(pts, (0, 0, 4, 2))
    assert len(cells[0]) >= 3  # first copy wins
    assert len(cells[1]) == 0  # duplicate -> sentinel
    assert polygon_wkt(cells[1]) == "POINT (0 0)"


def test_golden_wkt_3x3():
    """Golden pin for a 3x3 lattice, the analog of the reference's
    committed Brasil shapefiles."""
    pts = _grid_points(3, 3)
    cells = voronoi_cells(pts, (-0.5, -0.5, 2.5, 2.5))
    assert polygon_wkt(cells[4]) == "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))"
    assert polygon_wkt(cells[0]) == "POLYGON ((-0.5 -0.5, 0.5 -0.5, 0.5 0.5, -0.5 0.5, -0.5 -0.5))"


def test_driver_tessellate_on_spark(spark):
    from wrf_to_geodataframe_spark.geometry.tessellate import tessellate

    pts = _grid_points(5, 4, shear=0.2)
    rows = [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, "site_id long, x double, y double")
    bbox = (
        float(pts[:, 0].min() - 0.5), float(pts[:, 1].min() - 0.5),
        float(pts[:, 0].max() + 0.5), float(pts[:, 1].max() + 0.5),
    )
    out = tessellate(df, "x", "y", ["site_id"], bbox=bbox).collect()
    assert len(out) == 20
    assert all(not r.is_sentinel for r in out)
    total = sum(r.area for r in out)
    bbox_area = (bbox[2] - bbox[0]) * (bbox[3] - bbox[1])
    assert abs(total - bbox_area) < 1e-8 * bbox_area


def test_distributed_scale_20k_all_exact(spark):
    """Scale smoke for the tile+halo path: 20k-site curvilinear grid,
    every cell certified exact, areas partition the bbox."""
    from wrf_to_geodataframe_spark.geometry.tessellate import tessellate_distributed

    # shear 0.05 -> the empty bbox corners are ~6 units wide, so the
    # worst boundary cell has 2R ~ 13; halo must exceed that for the
    # exactness certificate to hold everywhere
    pts = _grid_points(160, 125, shear=0.05)
    rows = [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, "site_id long, x double, y double")
    bbox = (
        float(pts[:, 0].min() - 0.5), float(pts[:, 1].min() - 0.5),
        float(pts[:, 0].max() + 0.5), float(pts[:, 1].max() + 0.5),
    )
    out = tessellate_distributed(
        df, "x", "y", ["site_id"], bbox=bbox,
        tile_size=25.0, halo=15.0, spacing_hint=1.0,
    )
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("exact").cast("long")).alias("n_exact"),
        F.sum("area").alias("total"),
    ).collect()[0]
    assert agg.n == 20_000
    assert agg.n_exact == 20_000
    bbox_area = (bbox[2] - bbox[0]) * (bbox[3] - bbox[1])
    assert abs(agg.total - bbox_area) < 1e-6 * bbox_area


def test_distributed_equals_driver(spark):
    """Tile+halo kernel must produce the identical cells (and certify
    every one exact) given an adequate halo."""
    from wrf_to_geodataframe_spark.geometry.tessellate import (
        tessellate,
        tessellate_distributed,
    )

    pts = _grid_points(8, 7, shear=0.3)
    rows = [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, "site_id long, x double, y double")
    bbox = (
        float(pts[:, 0].min() - 0.5), float(pts[:, 1].min() - 0.5),
        float(pts[:, 0].max() + 0.5), float(pts[:, 1].max() + 0.5),
    )
    drv = {r.site_id: r for r in tessellate(df, "x", "y", ["site_id"], bbox=bbox).collect()}
    dst = {
        r.site_id: r
        # halo must exceed the max cell diameter (boundary cells of a
        # sheared lattice clipped by a rectangular bbox reach 2R ~ 4.7)
        for r in tessellate_distributed(
            df, "x", "y", ["site_id"], bbox=bbox, tile_size=3.0, halo=5.0
        ).collect()
    }
    assert set(drv) == set(dst)
    assert all(r.exact for r in dst.values())
    for sid, d in drv.items():
        t = dst[sid]
        assert d.wkt == t.wkt
        assert d.area == t.area


def test_thin_cell_dedup_keeps_site_inside():
    """Regression (hypothesis, round 3): the phantom-vertex ring dedup
    must never merge away a real vertex of a legitimately-thin cell and
    evict the site from its own polygon."""
    pts = np.array(
        [[0.0, 7.0], [0.0, 1.175494351e-38],
         [5.960464477539063e-08, 2.220446049250313e-16],
         [1.175494351e-38, 1.175494351e-38]]
    )
    bbox = (-1.0, -1.0, 11.0, 11.0)
    cells = voronoi_cells(pts, bbox)
    _assert_partition(pts, bbox, cells)


def test_driver_guard_raises_before_full_collect(spark):
    from wrf_to_geodataframe_spark.geometry.tessellate import tessellate

    pts = _grid_points(10, 10)
    rows = [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, "site_id long, x double, y double")
    with pytest.raises(ValueError, match="tessellation\nlimit|limit"):
        tessellate(df, "x", "y", ["site_id"], max_points=50)


def test_coincident_sites_tiebreak_stable_across_paths(spark):
    """ADVICE r2: which duplicate key receives the cell (vs the
    sentinel) must be the LOWEST KEY on both tessellation paths, not
    shuffle/collection order."""
    from wrf_to_geodataframe_spark.geometry.tessellate import (
        tessellate,
        tessellate_distributed,
    )

    pts = _grid_points(6, 5)
    rows = [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)]
    # two extra sites exactly coincident with site 7, keys ABOVE and
    # BELOW would change the winner if order mattered; use high keys so
    # the original site 7 must win on both paths
    dup_x, dup_y = rows[7][1], rows[7][2]
    rows += [(100, dup_x, dup_y), (101, dup_x, dup_y)]
    bbox = (-0.5, -0.5, 5.5, 4.5)
    df = spark.createDataFrame(rows, "site_id long, x double, y double").repartition(8)
    drv = {r.site_id: r.is_sentinel for r in
           tessellate(df, "x", "y", ["site_id"], bbox=bbox).collect()}
    dst = {r.site_id: r.is_sentinel for r in
           tessellate_distributed(
               df, "x", "y", ["site_id"], bbox=bbox, tile_size=2.0, halo=3.0
           ).collect()}
    assert drv == dst
    assert drv[7] is False and drv[100] is True and drv[101] is True


def test_infer_rectilinear(spark):
    from wrf_to_geodataframe_spark.geometry.tessellate import infer_rectilinear

    rect = _grid_points(5, 4)
    df_r = spark.createDataFrame(
        [(i, float(p[0]), float(p[1])) for i, p in enumerate(rect)],
        "site_id long, x double, y double",
    )
    assert infer_rectilinear(df_r, "x", "y")
    sheared = _grid_points(5, 4, shear=0.3)
    df_s = spark.createDataFrame(
        [(i, float(p[0]), float(p[1])) for i, p in enumerate(sheared)],
        "site_id long, x double, y double",
    )
    assert not infer_rectilinear(df_s, "x", "y")


def test_tessellate_auto_rectilinear_equals_kernel(spark):
    """The analytic fast path (SURVEY §4.1 dispatch) must match the
    exact kernel cell-for-cell on a NON-UNIFORM rectilinear grid,
    including byte-identical WKT."""
    from wrf_to_geodataframe_spark.geometry.tessellate import (
        tessellate,
        tessellate_auto,
    )

    xs = [0.0, 1.0, 2.5, 3.0]
    ys = [0.0, 0.7, 2.0]
    pts = [(i, x, y) for i, (y, x) in enumerate((y, x) for y in ys for x in xs)]
    df = spark.createDataFrame(pts, "site_id long, x double, y double")
    bbox = (-0.5, -0.5, 3.5, 2.5)
    auto = {r.site_id: r for r in tessellate_auto(df, "x", "y", ["site_id"], bbox).collect()}
    drv = {r.site_id: r for r in tessellate(df, "x", "y", ["site_id"], bbox=bbox).collect()}
    assert set(auto) == set(drv)
    for sid, a in auto.items():
        d = drv[sid]
        assert a.wkt == d.wkt
        assert abs(a.area - d.area) < 1e-12
        # kernel midpoints come from clip interpolation, analytic ones
        # from (lo+hi)/2 — equal to 1 ulp, not bit-equal
        assert np.allclose(
            [a.x1, a.y1, a.x2, a.y2], [d.x1, d.y1, d.x2, d.y2], atol=1e-12
        )
        assert a.exact and not a.is_sentinel


def test_tessellate_auto_falls_back_to_kernel(spark):
    from wrf_to_geodataframe_spark.geometry.tessellate import (
        tessellate,
        tessellate_auto,
    )

    pts = _grid_points(6, 5, shear=0.25)
    df = spark.createDataFrame(
        [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)],
        "site_id long, x double, y double",
    )
    bbox = (
        float(pts[:, 0].min() - 0.5), float(pts[:, 1].min() - 0.5),
        float(pts[:, 0].max() + 0.5), float(pts[:, 1].max() + 0.5),
    )
    auto = {r.site_id: r.wkt for r in tessellate_auto(df, "x", "y", ["site_id"], bbox).collect()}
    drv = {r.site_id: r.wkt for r in tessellate(df, "x", "y", ["site_id"], bbox=bbox).collect()}
    assert auto == drv


def test_denormal_sliver_cell_stays_ccw():
    """Regression (hypothesis, round 3): near-coincident sites at
    denormal coordinate scales produce an essentially-zero-area sliver
    whose clip output flipped clockwise; orientation is now enforced at
    ring finalization."""
    pts = np.array(
        [[0.0, 0.0], [0.0, 1.401298464324817e-45],
         [0.0, 4.450147717014404e-308], [0.0, 2.2250738585072014e-308],
         [0.0, 2.225073858507e-311], [8.881784197001252e-16, 0.0],
         [1.6786886483774518e-103, 0.0], [2.2250738585072014e-308, 0.0]]
    )
    bbox = (-1.0, -1.0, 11.0, 11.0)
    cells = voronoi_cells(pts, bbox)
    _assert_partition(pts, bbox, cells)


def test_near_coincident_sites_snap_to_one_winner():
    """Regression (hypothesis, round 14): denormal-scale separations
    square to 0.0 for one pair but not another, so site 1 was sentineled
    as a duplicate of site 0 while site 2 still clipped against site 1
    as distinct — inconsistent half-planes left a ~1e-4 sliver of the
    bbox unclaimed.  With scale-aware snapping the whole near-coincident
    cluster collapses onto its lowest index: one winner, full bbox."""
    pts = np.array(
        [[0.0, 0.0],
         [0.0, 5.556896873712694e-163],
         [3.2734568842910826e-157, 0.0]]
    )
    bbox = (-1.0, -1.0, 11.0, 11.0)
    cells = voronoi_cells(pts, bbox)
    _assert_partition(pts, bbox, cells)
    assert len(cells[0]) >= 3  # lowest index wins the merged cell
    assert len(cells[1]) == 0 and len(cells[2]) == 0  # sentinels
    assert np.isclose(shoelace_area(cells[0]), 144.0, atol=1e-9)


def test_near_dup_snapping_leaves_ordinary_inputs_bit_identical():
    """The snapping pass must be a literal no-op (same cells, bit for
    bit) when no pair of sites is within eps of each other — this is
    what keeps the g1 gate hashes stable."""
    pts = _grid_points(6, 5, shear=0.21, rot=0.3)
    bbox = (
        pts[:, 0].min() - 0.4, pts[:, 1].min() - 0.4,
        pts[:, 0].max() + 0.4, pts[:, 1].max() + 0.4,
    )
    from wrf_to_geodataframe_spark.geometry.voronoi import (
        NEAR_DUP_EPS,
        _snap_near_duplicates,
    )

    diag = np.sqrt((bbox[2] - bbox[0]) ** 2 + (bbox[3] - bbox[1]) ** 2)
    snapped = _snap_near_duplicates(pts, NEAR_DUP_EPS * (1.0 + diag))
    assert snapped is pts  # same object: no copy on the no-op path


def test_exact_duplicate_pileup_skips_pairwise_loop():
    """A large exactly-coincident pile-up collapses vectorially (one
    np.unique) instead of entering the O(k^2) pairwise loop — 20k
    copies must tessellate in well under a second of snapping time,
    with the usual first-copy-wins sentinel semantics."""
    import time

    pts = np.vstack([
        np.tile([[5.0, 5.0]], (20_000, 1)),
        np.array([[2.0, 2.0], [8.0, 8.0]]),
    ])
    t0 = time.time()
    cells = voronoi_cells(pts, (-1.0, -1.0, 11.0, 11.0))
    dt = time.time() - t0
    assert dt < 10.0  # the pairwise loop would take minutes
    assert len(cells[0]) >= 3  # first copy wins
    assert all(len(c) == 0 for c in cells[1:20_000])
    assert len(cells[20_000]) >= 3 and len(cells[20_001]) >= 3
    total = sum(shoelace_area(c) for c in cells)
    assert abs(total - 144.0) < 1e-8


def test_near_dup_chain_links_transitively():
    """A chain a-b-c with consecutive gaps under eps but a-c over eps
    must still collapse to ONE winner (union-find, not pairwise snap):
    partial merging would recreate the inconsistent-half-plane defect
    one level up."""
    eps = 1e-12 * (1.0 + np.sqrt(2.0) * 12.0)  # bbox (-1,-1,11,11)
    pts = np.array(
        [[5.0, 5.0], [5.0 + 0.9 * eps, 5.0], [5.0 + 1.8 * eps, 5.0],
         [2.0, 2.0]]
    )
    bbox = (-1.0, -1.0, 11.0, 11.0)
    cells = voronoi_cells(pts, bbox)
    _assert_partition(pts, bbox, cells)
    assert len(cells[0]) >= 3
    assert len(cells[1]) == 0 and len(cells[2]) == 0
    assert len(cells[3]) >= 3


_TINY_DELTA = st.sampled_from(
    [0.0, 5e-324, 5.556896873712694e-163, 1e-157, 2.220446049250313e-16,
     1e-13]
)


@settings(max_examples=15, deadline=None)
@given(
    base=st.lists(
        st.tuples(
            st.floats(0, 10, allow_nan=False, allow_infinity=False),
            st.floats(0, 10, allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    dups=st.lists(
        st.tuples(st.integers(0, 24), _TINY_DELTA, _TINY_DELTA), max_size=8
    ),
)
def test_tiled_kernel_matches_global_with_near_dups(base, dups):
    """VERDICT r14 item 4: the driver-kernel fuzz never exercised the
    tile+halo decomposition.  This simulates exactly what
    tessellate_distributed's run_tile does — per-tile gather of
    [tile-halo, tile+halo] points, site_mask on home sites, the same
    2R <= d_edge + halo certificate — over point sets salted with
    near-duplicate clusters (including the denormal separations from the
    r14 falsifying example), and demands every certified cell match the
    global run's WKT byte for byte."""
    pts_list = list(base)
    for i, dx, dy in dups:
        bx, by = base[i % len(base)]
        pts_list.append((min(bx + dx, 10.0), min(by + dy, 10.0)))
    pts = np.array(pts_list, dtype=float)
    bbox = (-1.0, -1.0, 11.0, 11.0)
    cells = voronoi_cells(pts, bbox)
    _assert_partition(pts, bbox, cells)
    ts, hw = 6.0, 4.0
    for ti in range(0, 2):
        for tj in range(0, 2):
            tx1, ty1 = ti * ts, tj * ts
            tx2, ty2 = tx1 + ts, ty1 + ts
            home = (
                (pts[:, 0] >= tx1) & (pts[:, 0] < tx2)
                & (pts[:, 1] >= ty1) & (pts[:, 1] < ty2)
            )
            if not home.any():
                continue
            gather = (
                (pts[:, 0] >= tx1 - hw) & (pts[:, 0] <= tx2 + hw)
                & (pts[:, 1] >= ty1 - hw) & (pts[:, 1] <= ty2 + hw)
            )
            sub = np.nonzero(gather)[0]
            mask = home[sub]
            sub_cells = voronoi_cells(pts[sub], bbox, site_mask=mask)
            for k_local, gi in enumerate(sub):
                if not mask[k_local]:
                    continue
                c, g = sub_cells[k_local], cells[gi]
                if len(c) < 3:
                    assert len(g) == 0  # sentinel on both paths
                    continue
                p = pts[gi]
                two_r = 2.0 * np.sqrt(np.sum((c - p) ** 2, axis=1).max())
                d_edge = min(p[0] - tx1, tx2 - p[0], p[1] - ty1, ty2 - p[1])
                if two_r <= d_edge + hw:  # certified exact
                    assert polygon_wkt(c) == polygon_wkt(g)


def test_near_dup_cluster_at_tile_seam_distributed_equals_driver(spark):
    """Spark-level seam coverage: a near-duplicate cluster sitting ON a
    tile boundary must resolve to the same winner/sentinels and the
    same cells on both tessellation paths (the cluster collapses to its
    lowest KEY in every tile that sees it)."""
    from wrf_to_geodataframe_spark.geometry.tessellate import (
        tessellate,
        tessellate_distributed,
    )

    pts = _grid_points(6, 5)
    rows = [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)]
    # tile_size=2.0 puts x=2.0 on a tile seam; salt a near-dup cluster
    # there (separations far below eps*diagonal ~ 7e-12)
    rows += [(200, 2.0, 1.0), (201, 2.0 + 1e-300, 1.0), (202, 2.0, 1.0 + 1e-160)]
    bbox = (-0.5, -0.5, 5.5, 4.5)
    df = spark.createDataFrame(
        rows, "site_id long, x double, y double"
    ).repartition(8)
    drv = {r.site_id: r for r in
           tessellate(df, "x", "y", ["site_id"], bbox=bbox).collect()}
    dst = {r.site_id: r for r in
           tessellate_distributed(
               df, "x", "y", ["site_id"], bbox=bbox, tile_size=2.0, halo=3.0
           ).collect()}
    assert set(drv) == set(dst)
    for sid, d in drv.items():
        assert d.wkt == dst[sid].wkt
        assert d.is_sentinel == dst[sid].is_sentinel
    # the grid site at (2, 1) has key 8 < 200: it wins, the cluster
    # members all get sentinels
    assert drv[8].is_sentinel is False
    assert drv[200].is_sentinel and drv[201].is_sentinel and drv[202].is_sentinel


def test_tiles_straddling_arrow_batches_run_once_whole(spark):
    """The tile stage streams each partition as Arrow batches; with 7
    records per batch every tile (up to 81 rows with its halo) spans
    several batches.  Each tile must still run exactly once and whole:
    one row per input site, the seam cluster resolved to its lowest key,
    every real cell certified and equal to the driver's WKT byte for
    byte."""
    from wrf_to_geodataframe_spark.geometry.tessellate import (
        tessellate,
        tessellate_distributed,
    )

    pts = _grid_points(10, 8)
    rows = [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)]
    # tile_size=3.0 puts x=3.0 on a tile seam; the grid site there is 43
    rows += [(200, 3.0, 4.0), (201, 3.0 + 1e-300, 4.0), (202, 3.0, 4.0 + 1e-160)]
    bbox = (-0.5, -0.5, 9.5, 7.5)
    df = spark.createDataFrame(
        rows, "site_id long, x double, y double"
    ).repartition(8)
    drv = {r.site_id: r for r in
           tessellate(df, "x", "y", ["site_id"], bbox=bbox).collect()}
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        out = tessellate_distributed(
            df, "x", "y", ["site_id"], bbox=bbox, tile_size=3.0, halo=3.0
        ).collect()
    finally:
        spark.conf.set(key, saved)
    assert len(out) == len(rows)
    dst = {r.site_id: r for r in out}
    assert set(dst) == set(drv)
    # the halo certifies every real cell (sentinels never certify)
    assert {s for s, r in dst.items() if r.exact} == {
        s for s, r in drv.items() if not r.is_sentinel
    }
    for sid, d in drv.items():
        assert dst[sid].wkt == d.wkt
        assert dst[sid].is_sentinel == d.is_sentinel
    assert dst[43].is_sentinel is False
    assert dst[200].is_sentinel and dst[201].is_sentinel and dst[202].is_sentinel


def test_marginal_halo_certificate_is_conservative_not_wrong(spark):
    """With a halo too small to certify every boundary cell, the
    certificate must go False on SOME cells — but no cell, certified or
    not, may actually differ from the driver's (on this grid the halo
    shortfall is conservative, not a real seam error)."""
    from wrf_to_geodataframe_spark.geometry.tessellate import (
        tessellate,
        tessellate_distributed,
    )

    pts = _grid_points(9, 4, shear=0.12, rot=0.48)
    rows = [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, "site_id long, x double, y double")
    bbox = (
        float(pts[:, 0].min() - 0.5), float(pts[:, 1].min() - 0.5),
        float(pts[:, 0].max() + 0.5), float(pts[:, 1].max() + 0.5),
    )
    drv = {r.site_id: r.wkt for r in tessellate(df, "x", "y", ["site_id"], bbox=bbox).collect()}
    dst = {r.site_id: r for r in tessellate_distributed(
        df, "x", "y", ["site_id"], bbox=bbox, tile_size=3.54, halo=5.74
    ).collect()}
    assert set(drv) == set(dst)
    n_inexact = sum(1 for r in dst.values() if not r.exact)
    assert n_inexact > 0  # the marginal halo cannot certify everything
    for sid, wkt in drv.items():
        assert dst[sid].wkt == wkt  # ...but every cell is still right


def test_curvilinear_gate_query_invariants(spark, sf_dir):
    """g1_curvilinear_conservation's stronger local form: the warped set
    is genuinely non-rectilinear, the kernel certifies every cell exact,
    no sentinels, and the quantized area sum matches the bbox area far
    tighter than the gate's 2e-3 (the gate tolerance only absorbs
    quantization accumulation at sf0.1)."""
    from wrf_to_geodataframe_spark.geometry.tessellate import (
        infer_rectilinear,
        tessellate_distributed,
    )
    from wrf_to_geodataframe_spark.suite.tessellation import (
        _BBOX_COLS,
        _curvilinear_points,
        g1_curvilinear_conservation,
    )

    pts = _curvilinear_points(spark, sf_dir)
    n_pts = pts.count()
    if n_pts >= 3:  # a 1-row strip with <3 points is degenerately rectilinear
        assert not infer_rectilinear(pts, "x", "y")
    cells = tessellate_distributed(
        pts, "x", "y", ["user_id"],
        bbox_cols=_BBOX_COLS, tile_size=8.0, halo=4.0, spacing_hint=1.0,
    ).cache()
    try:
        stats = cells.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("exact").cast("long")).alias("n_exact"),
            F.sum(F.col("is_sentinel").cast("long")).alias("n_sent"),
            F.sum("area").alias("total"),
        ).collect()[0]
        assert stats.n == n_pts
        assert stats.n_exact == stats.n
        assert stats.n_sent == 0
        bbox = pts.limit(1).select(*_BBOX_COLS).collect()[0]
        bbox_area = (bbox.bx2 - bbox.bx1) * (bbox.by2 - bbox.by1)
        assert abs(stats.total - bbox_area) < 1e-6 * max(1.0, stats.n)
    finally:
        cells.unpersist()
    row = g1_curvilinear_conservation(spark, sf_dir).collect()[0]
    assert row.conserved and row.n_exact == row.n_cells == n_pts
