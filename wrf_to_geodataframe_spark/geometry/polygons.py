"""Polygon kernels in pure numpy (no shapely/GEOS in this container;
these are the engine's geometry scalar functions, SURVEY.md §2
G3-G7/G10-G11, executed inside Arrow batches).

Polygons are (n, 2) float64 arrays with counter-clockwise vertex order
(O2 ordering is an invariant here, not a post-pass).  The clip /
convex-containment kernels are convex-only (every polygon this engine
PRODUCES — Voronoi cells and their clips — is convex); arbitrary simple
polygons a user LOADS (admin boundaries, the reference's London
boroughs at ``wrf_voronoi.py:185-188``) are handled by the even-odd
``point_in_polygon`` test and ``ear_clip`` triangulation, which reduces
any concave overlay to the convex kernels (see geometry/overlay.py).
"""

from __future__ import annotations

import numpy as np


def bbox_polygon(xmin: float, ymin: float, xmax: float, ymax: float) -> np.ndarray:
    """Axis-aligned rectangle as a ccw polygon (G5)."""
    return np.array(
        [[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax]], dtype=np.float64
    )


def clip_halfplane(poly: np.ndarray, a: float, b: float, c: float) -> np.ndarray:
    """Sutherland–Hodgman step: intersect a convex ccw polygon with the
    half-plane ``a*x + b*y <= c``; returns a ccw polygon (possibly empty).
    """
    n = len(poly)
    if n == 0:
        return poly
    side = poly @ np.array([a, b]) - c  # <=0 is inside
    out: list[np.ndarray] = []
    for i in range(n):
        j = (i + 1) % n
        pi, pj = poly[i], poly[j]
        si, sj = side[i], side[j]
        if si <= 0.0:
            out.append(pi)
            if sj > 0.0:  # leaving: emit the crossing point
                t = si / (si - sj)
                out.append(pi + t * (pj - pi))
        elif sj <= 0.0:  # entering
            t = si / (si - sj)
            out.append(pi + t * (pj - pi))
    return np.asarray(out, dtype=np.float64).reshape(-1, 2)


def shoelace_area(poly: np.ndarray) -> float:
    """Signed-area magnitude of a ccw polygon (G7)."""
    if len(poly) < 3:
        return 0.0
    x, y = poly[:, 0], poly[:, 1]
    return 0.5 * float(
        np.abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    )


def point_in_convex_polygon(px: float, py: float, poly: np.ndarray) -> bool:
    """G10 containment for a ccw convex polygon (boundary counts in)."""
    n = len(poly)
    if n < 3:
        return False
    for i in range(n):
        j = (i + 1) % n
        ex, ey = poly[j] - poly[i]
        qx, qy = px - poly[i][0], py - poly[i][1]
        if ex * qy - ey * qx < -1e-12:
            return False
    return True


def point_in_polygon(px: float, py: float, poly: np.ndarray) -> bool:
    """Even-odd (crossing-number) containment for an ARBITRARY simple
    polygon, any orientation (G10 general form — the predicate GEOS
    gives the reference for concave borough boundaries,
    ``wrf_voronoi.py:185-188``).  Points exactly on an edge or vertex
    count as inside (closed-boundary GEOS semantics)."""
    n = len(poly)
    if n < 3:
        return False
    x, y = poly[:, 0], poly[:, 1]
    xj, yj = np.roll(x, -1), np.roll(y, -1)
    # boundary: point on segment (x,y)-(xj,yj)?
    cross = (xj - x) * (py - y) - (yj - y) * (px - x)
    on_line = np.abs(cross) <= 1e-12 * np.maximum(
        1.0, np.hypot(xj - x, yj - y)
    )
    in_span = (
        (np.minimum(x, xj) - 1e-12 <= px) & (px <= np.maximum(x, xj) + 1e-12)
        & (np.minimum(y, yj) - 1e-12 <= py) & (py <= np.maximum(y, yj) + 1e-12)
    )
    if bool(np.any(on_line & in_span)):
        return True
    # crossing number: edges straddling the horizontal ray at py
    straddle = (y > py) != (yj > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xs = x + (py - y) * (xj - x) / (yj - y)
    crossings = int(np.count_nonzero(straddle & (px < xs)))
    return crossings % 2 == 1


def _point_in_tri_closed(
    p: np.ndarray, a: np.ndarray, b: np.ndarray, c: np.ndarray
) -> bool:
    """Closed containment in a ccw triangle (ear-test helper): boundary
    points count as inside, which is the conservative choice for ear
    rejection (a vertex ON a candidate ear's edge blocks the ear)."""
    eps = 1e-12
    for v1, v2 in ((a, b), (b, c), (c, a)):
        ex, ey = v2[0] - v1[0], v2[1] - v1[1]
        if ex * (p[1] - v1[1]) - ey * (p[0] - v1[0]) < -eps:
            return False
    return True


def ear_clip(poly: np.ndarray) -> np.ndarray:
    """Triangulate a simple ccw polygon into (n-2, 3, 2) interior-
    disjoint triangles by ear clipping — the reduction that lets every
    concave overlay/area computation reuse the convex clip kernels
    (triangle areas sum EXACTLY to any intersection area because the
    triangles partition the polygon's interior).

    O(n^2) worst case; boundary polygons are small-table-sized (the
    reference's borough file is 33 rows), and the distributed overlay
    explodes triangles to rows so even a 10k-vertex coastline becomes
    10k independent bucket-joinable rows, not one giant task."""
    poly = np.asarray(poly, dtype=np.float64)
    if len(poly) < 3:
        raise ValueError("ear_clip needs >= 3 vertices")
    if not is_ccw(poly):
        poly = poly[::-1].copy()
    # real boundary data routinely carries duplicate and collinear
    # vertices (digitized staircases, densified arcs); they change no
    # geometry but starve the ear search (a zero-cross corner is never
    # an ear), so drop them first
    poly = _clean_ring(poly)
    if len(poly) < 3:
        raise ValueError("ear_clip: ring degenerates to zero area")
    idx = list(range(len(poly)))
    tris: list[np.ndarray] = []
    while len(idx) > 3:
        clipped = False
        for k in range(len(idx)):
            i0 = idx[k - 1]
            i1 = idx[k]
            i2 = idx[(k + 1) % len(idx)]
            a, b, c = poly[i0], poly[i1], poly[i2]
            convex = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (
                c[0] - a[0]
            )
            if convex <= 1e-12:  # reflex or degenerate corner: not an ear
                continue
            if any(
                _point_in_tri_closed(poly[j], a, b, c)
                for j in idx
                if j not in (i0, i1, i2)
            ):
                continue
            tris.append(np.stack([a, b, c]))
            del idx[k]
            clipped = True
            break
        if not clipped:
            raise ValueError(
                "ear clipping failed — polygon is self-intersecting or "
                "degenerate"
            )
    tris.append(np.stack([poly[idx[0]], poly[idx[1]], poly[idx[2]]]))
    return np.stack(tris)


def _clean_ring(poly: np.ndarray) -> np.ndarray:
    """Drop consecutive-duplicate and collinear-middle vertices (a
    no-op on the geometry) until the ring is strictly turning."""
    pts = [p for i, p in enumerate(poly)
           if not np.array_equal(p, poly[(i + 1) % len(poly)])]
    changed = True
    while changed and len(pts) >= 3:
        changed = False
        out = []
        n = len(pts)
        for i in range(n):
            a, b, c = pts[i - 1], pts[i], pts[(i + 1) % n]
            cross = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (
                c[0] - a[0]
            )
            if abs(cross) <= 1e-12:
                changed = True
                continue
            out.append(b)
        pts = out
    return np.asarray(pts, dtype=np.float64).reshape(-1, 2)


def is_convex(poly: np.ndarray) -> bool:
    """True when every corner of a ccw ring turns left (collinear
    corners allowed) — the dispatch test between the direct convex clip
    and the ear-clip path."""
    n = len(poly)
    if n < 4:
        return n == 3
    a = poly
    b = np.roll(poly, -1, axis=0)
    c = np.roll(poly, -2, axis=0)
    cross = (b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1]) - (
        b[:, 1] - a[:, 1]
    ) * (c[:, 0] - a[:, 0])
    return bool(np.all(cross >= -1e-12))


def is_ccw(poly: np.ndarray) -> bool:
    """O2 orientation check via the signed shoelace sum."""
    if len(poly) < 3:
        return True
    x, y = poly[:, 0], poly[:, 1]
    return float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) >= 0.0


def canonical_ring(poly: np.ndarray) -> np.ndarray:
    """Rotate a ring so the lexicographically smallest (x, y) vertex is
    first — ccw order preserved; makes WKT stable for golden tests."""
    if len(poly) < 3:
        return poly
    k = int(np.lexsort((poly[:, 1], poly[:, 0]))[0])
    return np.roll(poly, -k, axis=0)


def polygon_wkt(poly: np.ndarray, decimals: int = 9) -> str:
    """WKT encoding (closed ring, canonical start vertex); POINT for
    degenerate cells — mirroring the reference's Point(0,0) sentinel
    convention (wrf_voronoi.py:130-137)."""
    if len(poly) < 3:
        return "POINT (0 0)"
    pts = canonical_ring(np.round(poly, decimals))
    ring = ", ".join(f"{p[0]:.{decimals}g} {p[1]:.{decimals}g}" for p in pts)
    first = f"{pts[0][0]:.{decimals}g} {pts[0][1]:.{decimals}g}"
    return f"POLYGON (({ring}, {first}))"
