"""General polygon overlay intersection (SURVEY.md §2 J4,
``delphine/regrid.py:267-270`` ``gpd.overlay(gdf_pop, gdf_grid,
"intersection")``).

``overlay_intersection`` is the CONVEX kernel (every polygon this
engine produces — Voronoi cells and their clips — is convex);
``overlay_intersection_general`` extends it to ARBITRARY simple
polygons (the reference's own flagship inputs: concave London boroughs
at ``wrf_voronoi.py:185-188``, arbitrary WorldPop outlines at
``delphine/regrid.py:267-269``) by ear-clipping each concave ring into
interior-disjoint triangles as ROWS, running the unchanged convex
kernel on the triangle rows, and re-summing per original pair —
area(A ∩ B) = Σ area(tri_a ∩ tri_b) exactly, because the
triangulations partition each interior.

Distributed shape (§4.1 bucket decomposition):

1. each side derives its envelope from the vertex array (plain array
   expressions) and EXPLODES to every integer bucket the envelope
   touches — the spatial-index replacement;
2. candidates come from the bucket EQUI join; a pair appearing in many
   shared buckets is kept exactly once by the REFERENCE-POINT rule (only
   the bucket containing the envelope-intersection's lower-left corner
   reports it) — dedup without a distinct shuffle;
3. an Arrow-batched kernel (mapInPandas) runs Sutherland–Hodgman
   convex-vs-convex clipping per candidate and emits the intersection
   area (+ WKT), filtered to area > 0.

Polygons travel as ``array<array<double>>`` columns (ccw vertex lists) —
the engine's geometry wire format next to WKT.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wrf_to_geodataframe_spark.geometry.polygons import (
    clip_halfplane,
    polygon_wkt,
    shoelace_area,
)


def convex_clip_polygon(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Intersection of two convex ccw polygons: clip ``a`` by every edge
    half-plane of ``b`` (G6 general form)."""
    poly = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    nb = len(b)
    for k in range(nb):
        if len(poly) == 0:
            break
        x1, y1 = b[k]
        x2, y2 = b[(k + 1) % nb]
        # inside of a ccw edge is the left side: (e x (p - v1)) >= 0
        # as a half-plane a*x + b*y <= c with (a, b) = (ey, -ex)
        ex, ey = x2 - x1, y2 - y1
        poly = clip_halfplane(poly, ey, -ex, ey * x1 - ex * y1)
    return poly


def _env(poly: Column, idx: int, agg: str) -> Column:
    comp = F.transform(poly, lambda p: F.element_at(p, idx + 1))
    return F.array_min(comp) if agg == "min" else F.array_max(comp)


def with_envelope(df: DataFrame, poly_col: str, prefix: str = "env_") -> DataFrame:
    """Attach envelope columns derived from the vertex array (G5)."""
    p = F.col(poly_col)
    return (
        df.withColumn(prefix + "x1", _env(p, 0, "min"))
        .withColumn(prefix + "y1", _env(p, 1, "min"))
        .withColumn(prefix + "x2", _env(p, 0, "max"))
        .withColumn(prefix + "y2", _env(p, 1, "max"))
    )


def _bucketed(df: DataFrame, bucket: float, side: str) -> DataFrame:
    b = F.lit(float(bucket))
    return df.withColumn(
        "bx",
        F.explode(
            F.sequence(
                F.floor(F.col(f"{side}x1") / b), F.floor(F.col(f"{side}x2") / b)
            )
        ),
    ).withColumn(
        "by",
        F.explode(
            F.sequence(
                F.floor(F.col(f"{side}y1") / b), F.floor(F.col(f"{side}y2") / b)
            )
        ),
    )


def overlay_intersection(
    a_df: DataFrame,
    b_df: DataFrame,
    a_poly: str = "a_poly",
    b_poly: str = "b_poly",
    bucket: float = 2.0,
    keep_wkt: bool = False,
) -> DataFrame:
    """All intersecting pairs of two convex-polygon tables with the
    intersection area (and optionally WKT) attached.

    ``a_df``/``b_df`` carry their own key columns plus the vertex-array
    polygon column; all non-polygon columns pass through."""
    a = with_envelope(a_df, a_poly, "a_env_")
    b = with_envelope(b_df, b_poly, "b_env_")
    ab = _bucketed(a, bucket, "a_env_")
    bb = _bucketed(b, bucket, "b_env_")
    joined = ab.join(bb, ["bx", "by"])
    # envelopes must overlap at all
    joined = joined.filter(
        (F.col("a_env_x1") <= F.col("b_env_x2"))
        & (F.col("b_env_x1") <= F.col("a_env_x2"))
        & (F.col("a_env_y1") <= F.col("b_env_y2"))
        & (F.col("b_env_y1") <= F.col("a_env_y2"))
    )
    # reference-point dedup: only the bucket containing the envelope
    # intersection's lower-left corner reports the pair
    bkt = F.lit(float(bucket))
    rx = F.greatest(F.col("a_env_x1"), F.col("b_env_x1"))
    ry = F.greatest(F.col("a_env_y1"), F.col("b_env_y1"))
    joined = joined.filter(
        (F.floor(rx / bkt) == F.col("bx")) & (F.floor(ry / bkt) == F.col("by"))
    ).drop("bx", "by", *[c for c in joined.columns if c.startswith(("a_env_", "b_env_"))])

    out_fields = [f for f in joined.schema.fields if f.name not in (a_poly, b_poly)]
    schema_parts = [f"{f.name} {f.dataType.simpleString()}" for f in out_fields]
    schema_parts.append("area_inter double")
    if keep_wkt:
        schema_parts.append("wkt_inter string")
    out_schema = ", ".join(schema_parts)
    pass_cols = [f.name for f in out_fields]

    def clip_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from wrf_to_geodataframe_spark.geometry.voronoi import _clip_batch

        for pdf in it:
            n = len(pdf)
            if n == 0:
                out = pdf[pass_cols].copy()
                out["area_inter"] = np.empty(0, dtype=np.float64)
                if keep_wkt:
                    out["wkt_inter"] = []
                yield out
                continue
            pa = [
                np.asarray([list(v) for v in p], dtype=np.float64)
                for p in pdf[a_poly]
            ]
            pb = [
                np.asarray([list(v) for v in p], dtype=np.float64)
                for p in pdf[b_poly]
            ]
            # vectorized across rows: pad the a-polygons, then clip every
            # row by ITS b-polygon's k-th edge per round (rows whose b has
            # fewer edges get a neutral half-plane)
            va = max(len(p) for p in pa)
            vb = max(len(p) for p in pb)
            P = np.zeros((n, va, 2), dtype=np.float64)
            cnt = np.fromiter((len(p) for p in pa), dtype=np.int64, count=n)
            for r, p in enumerate(pa):
                P[r, : len(p)] = p
            B = np.zeros((n, vb, 2), dtype=np.float64)
            bcnt = np.fromiter((len(p) for p in pb), dtype=np.int64, count=n)
            for r, p in enumerate(pb):
                B[r, : len(p)] = p
            for k in range(vb):
                has = bcnt > k
                v1 = B[:, k]
                nxt = np.where(k + 1 < bcnt, k + 1, 0)
                v2 = B[np.arange(n), nxt]
                ex, ey = v2[:, 0] - v1[:, 0], v2[:, 1] - v1[:, 1]
                a = np.where(has, ey, 0.0)
                bcol = np.where(has, -ex, 0.0)
                c = np.where(has, ey * v1[:, 0] - ex * v1[:, 1], 1.0)
                P, cnt = _clip_batch(P, cnt, a, bcol, c)
            vm = np.arange(P.shape[1])[None, :] < cnt[:, None]
            x = np.where(vm, P[..., 0], 0.0)
            y = np.where(vm, P[..., 1], 0.0)
            # shoelace over padded rings: roll within the valid prefix
            idx = np.arange(P.shape[1])[None, :]
            nxt = np.where(idx + 1 < cnt[:, None], idx + 1, 0)
            xr = np.take_along_axis(x, nxt, axis=1)
            yr = np.take_along_axis(y, nxt, axis=1)
            areas = 0.5 * np.abs(
                np.where(vm, x * yr - xr * y, 0.0).sum(axis=1)
            )
            areas = np.where(cnt >= 3, areas, 0.0)
            out = pdf[pass_cols].copy()
            out["area_inter"] = areas
            if keep_wkt:
                out["wkt_inter"] = [
                    polygon_wkt(P[r, : cnt[r]]) if cnt[r] >= 3 else "POINT (0 0)"
                    for r in range(n)
                ]
            yield out

    return joined.mapInPandas(clip_batches, out_schema).filter(
        F.col("area_inter") > 0.0
    )


def triangulate_rows(
    df: DataFrame,
    poly_col: str,
    tri_idx_col: str = "tri_idx",
    invalid: str = "raise",
) -> DataFrame:
    """Explode each (possibly concave) polygon row into ear-clip
    triangles, ONE ROW PER TRIANGLE (Arrow ``mapInPandas``, single
    pass).  Convex rings skip the split and pass through whole
    (``tri_idx`` 0) — the convex kernel handles any convex polygon, so
    splitting them would only multiply candidate pairs.

    This is the distribution move that makes concave overlay scale: a
    10k-vertex coastline ring becomes ~10k independent triangle rows
    that bucket-join and clip in parallel, instead of one giant
    per-pair GEOS task (the reference's single-process
    ``gpd.overlay``).

    Real boundary data occasionally contains invalid rings (bowties,
    zero-area slivers).  ``invalid='raise'`` (default) fails loudly
    with the offending row's key values in the message;
    ``invalid='skip'`` quarantines the ring (drops its rows) so one
    bad polygon cannot abort a 1M-row overlay."""
    if invalid not in ("raise", "skip"):
        raise ValueError(f"invalid= must be 'raise' or 'skip', got {invalid}")
    from wrf_to_geodataframe_spark.geometry.polygons import (
        ear_clip,
        is_ccw,
        is_convex,
    )

    pass_cols = [f.name for f in df.schema.fields if f.name != poly_col]
    schema_parts = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != poly_col
    ]
    schema_parts.append(f"{tri_idx_col} int")
    schema_parts.append(f"{poly_col} array<array<double>>")
    out_schema = ", ".join(schema_parts)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols: dict[str, list] = {c: [] for c in pass_cols}
            cols[tri_idx_col] = []
            cols[poly_col] = []
            for _, row in pdf.iterrows():
                poly = np.asarray(
                    [list(v) for v in row[poly_col]], dtype=np.float64
                )
                if not is_ccw(poly):
                    poly = poly[::-1].copy()
                try:
                    if len(poly) < 3 or shoelace_area(poly) <= 1e-12:
                        raise ValueError("ring has no area")
                    if is_convex(poly):
                        tris = [poly]
                    else:
                        tris = list(ear_clip(poly))
                except ValueError as ex:
                    if invalid == "skip":
                        continue
                    key = {c: row[c] for c in pass_cols[:3]}
                    raise ValueError(
                        f"invalid boundary ring at {key}: {ex}"
                    ) from ex
                for t_i, tri in enumerate(tris):
                    for c in pass_cols:
                        cols[c].append(row[c])
                    cols[tri_idx_col].append(t_i)
                    cols[poly_col].append([list(p) for p in tri])
            # object dtype throughout: an all-skipped batch would
            # otherwise produce empty float64 columns that Arrow cannot
            # cast to list/struct field types
            out = pd.DataFrame(
                {c: pd.Series(v, dtype=object) for c, v in cols.items()}
            )
            out[tri_idx_col] = out[tri_idx_col].astype("int32")
            yield out

    return df.mapInPandas(gen, out_schema)


def overlay_intersection_general(
    a_df: DataFrame,
    b_df: DataFrame,
    a_poly: str = "a_poly",
    b_poly: str = "b_poly",
    bucket: float = 2.0,
    a_convex: bool = True,
    b_convex: bool = False,
    invalid: str = "raise",
) -> DataFrame:
    """Overlay intersection for ARBITRARY simple polygons (VERDICT r6
    gap #1 — the reference's ``gpd.overlay`` / borough-boundary use
    case): triangulate each non-convex side into rows, run the convex
    bucket-join kernel unchanged, and re-aggregate the triangle-piece
    areas per original (a, b) pair.

    Exact by construction: the ear-clip triangles partition each
    polygon's interior, so Σ area(tri_a ∩ tri_b) = area(A ∩ B).
    Pairs touching only along edges/vertices (zero area) are dropped —
    interior-intersects semantics.

    Scale shape: one extra narrow mapInPandas per concave side, the
    same envelope-bucket equi join (now on triangle envelopes, which
    are TIGHTER than the ring envelope — fewer false candidates for
    snaky boundaries), and one partial-agg shuffle on the pair keys."""
    a = a_df if a_convex else triangulate_rows(a_df, a_poly, "_tri_a", invalid)
    b = b_df if b_convex else triangulate_rows(b_df, b_poly, "_tri_b", invalid)
    pieces = overlay_intersection(a, b, a_poly, b_poly, bucket=bucket)
    group_cols = [
        c for c in pieces.columns if c not in ("_tri_a", "_tri_b", "area_inter")
    ]
    return pieces.groupBy(*group_cols).agg(
        F.sum("area_inter").alias("area_inter")
    )
