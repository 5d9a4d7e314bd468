"""Dynamical diagnostics — horizontal-derivative fields (the
wrf-python `avo`/`updraft_helicity`/`helicity` family) as pure
DataFrame window arithmetic.

The reference stops at scalar surface fields; the first DYNAMICAL
quantities its users compute (vorticity, helicity) need horizontal
finite differences across the grid — re-expressed here as lag/lead
windows over grid pencils, exactly like operators/vertical.destagger:

- **d/dx** partitions by everything except x and orders by x (each
  partition one row-pencil, length = grid width — thousands of
  parallel groups, never a global sort); **d/dy** symmetrically.
  Cross-derivatives therefore cost two pencil shuffles — both on
  uniform keys, both size-bounded by one pencil per task.
- Centered differences on the INTERIOR; boundary points yield NULL
  (stated convention — wrf-python falls back to one-sided stencils
  at walls; callers needing walls can destagger-pad first).

Exactness: (f[i+1] - f[i-1]) / (2 dx) is one subtraction and one
division — IEEE exact-rounded, so closed-form oracles (the analytic
derivative of a polynomial test field) match bit-for-bit when inputs
are dyadic.  Only the Coriolis sin() is libm; gates scale-and-round.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

OMEGA_E = 7.292e-5  # Earth's angular velocity [rad s-1]


def coriolis_parameter(lat_deg) -> Column:
    """f = 2 Omega sin(lat) [s-1]."""
    lat = F.col(lat_deg) if isinstance(lat_deg, str) else lat_deg
    return F.lit(2.0 * OMEGA_E) * F.sin(F.radians(lat))


def centered_diff(
    df: DataFrame,
    value_col: str,
    axis_col: str,
    spacing: float,
    group_cols: list[str],
    out_col: str,
) -> DataFrame:
    """Centered first derivative of ``value_col`` along ``axis_col``:
    (f[i+1] - f[i-1]) / (2 h) within each ``group_cols`` pencil.
    Boundary rows (no neighbor on one side) carry NULL.  Assumes the
    axis index is dense per pencil (unit steps) — the neighbor is
    validated on the COORDINATE so a hole in the pencil yields NULL,
    never a wrong-stride difference."""
    w = Window.partitionBy(*group_cols).orderBy(axis_col)
    nxt_ok = F.lead(axis_col).over(w) == F.col(axis_col) + 1
    prv_ok = F.lag(axis_col).over(w) == F.col(axis_col) - 1
    d = F.when(
        nxt_ok & prv_ok,
        (F.lead(value_col).over(w) - F.lag(value_col).over(w))
        / F.lit(2.0 * spacing),
    )
    return df.withColumn(out_col, d)


def absolute_vorticity(
    df: DataFrame,
    u_col: str,
    v_col: str,
    x_col: str,
    y_col: str,
    dx: float,
    dy: float,
    lat_col: str | None = None,
    group_cols: list[str] | None = None,
    out_col: str = "avo",
    msf_col: str | None = None,
) -> DataFrame:
    """Absolute vorticity [s-1] (wrf-python `avo`):
    avo = dv/dx - du/dy + f.  Two pencil windows (one per derivative
    axis), interior points only (boundaries NULL); ``lat_col`` adds
    the Coriolis term, omit it for relative vorticity; extra
    ``group_cols`` (time, level) keep pencils per-slab.

    ``msf_col`` (the mass-point map-scale factor m, wrfout MAPFAC_M)
    switches the derivatives to the curvilinear form WRF's own
    dynamics uses — zeta = m^2 (d(v/m)/dx - d(u/m)/dy) — so the
    result is correct away from the projection's true latitudes;
    without it the uniform-grid form applies (m == 1, stated).  The
    map factor scales nothing at the window level: u/m and v/m are
    plain column expressions, so the plan shape (two pencil shuffles)
    is identical either way."""
    extra = list(group_cols or [])
    d = df
    uc, vc = u_col, v_col
    if msf_col is not None:
        d = d.withColumn("_u_m", F.col(u_col) / F.col(msf_col))
        d = d.withColumn("_v_m", F.col(v_col) / F.col(msf_col))
        uc, vc = "_u_m", "_v_m"
    d = centered_diff(d, vc, x_col, dx, extra + [y_col], "_dvdx")
    d = centered_diff(d, uc, y_col, dy, extra + [x_col], "_dudy")
    zeta = F.col("_dvdx") - F.col("_dudy")
    if msf_col is not None:
        zeta = zeta * F.col(msf_col) * F.col(msf_col)
    avo = zeta
    if lat_col is not None:
        avo = avo + coriolis_parameter(lat_col)
    d = d.withColumn(out_col, avo).drop("_dvdx", "_dudy")
    if msf_col is not None:
        d = d.drop("_u_m", "_v_m")
    return d


def updraft_helicity(
    df: DataFrame,
    w_col: str,
    u_col: str,
    v_col: str,
    x_col: str,
    y_col: str,
    z_col: str,
    k_col: str,
    dx: float,
    dy: float,
    dz_col: str,
    z_bottom: float = 2000.0,
    z_top: float = 5000.0,
    group_cols: list[str] | None = None,
    out_col: str = "uh",
    msf_col: str | None = None,
) -> DataFrame:
    """Updraft helicity [m2 s-2] (the wrf-python `updraft_helicity`
    quantity): UH = integral over z in [z_bottom, z_top] of w * zeta
    dz per atmospheric column, with zeta the relative vorticity at
    each model level.  One pencil-window pass per derivative axis
    (partitioned by level so each slab differentiates independently),
    then one partial-aggregated groupBy summing the band — levels
    outside the band or on the lateral boundary contribute nothing.
    Extra ``group_cols`` (time, file) keep pencils and columns
    per-slab, like every sibling operator.

    ``msf_col`` applies the curvilinear map-factor form to zeta
    (zeta = m^2 (d(v/m)/dx - d(u/m)/dy), see
    :func:`absolute_vorticity`) — wrf-python's DCALCUH always uses
    the map factors; without it the uniform-grid form applies
    (stated), exact only near the projection's true latitudes."""
    extra = list(group_cols or [])
    zeta = absolute_vorticity(
        df, u_col, v_col, x_col, y_col, dx, dy,
        lat_col=None, group_cols=extra + [k_col], out_col="_zeta",
        msf_col=msf_col,
    )
    in_band = (F.col(z_col) >= F.lit(float(z_bottom))) & (
        F.col(z_col) <= F.lit(float(z_top))
    )
    term = F.when(
        in_band & F.col("_zeta").isNotNull(),
        F.col(w_col) * F.col("_zeta") * F.col(dz_col),
    ).otherwise(F.lit(0.0))
    return (
        zeta.groupBy(*extra, x_col, y_col)
        .agg(F.sum(term).alias(out_col))
    )


#: Davies & Johns (1993) storm-motion rule constants: 75% of the mean
#: wind speed, 30 degrees to the right — applied as a rotation so the
#: speed/direction trig round trip never happens (cos/sin of 30 deg)
_DJ_FRAC = 0.75
_DJ_COS30 = 0.8660254037844387
_DJ_SIN30 = 0.5


def storm_relative_helicity(
    df: DataFrame,
    u_col: str,
    v_col: str,
    z_col: str,
    k_col: str,
    col_keys: list[str],
    c_u: float | None = None,
    c_v: float | None = None,
    depth: float = 3000.0,
    motion_depth: float = 6000.0,
    out_col: str = "srh",
) -> DataFrame:
    """Storm-relative helicity [m2 s-2] (wrf-python `helicity`):
    SRH = -integral_0^depth (V - C) x dV/dz . k dz, evaluated on
    model half-layers as the standard discrete sum

        sum over adjacent level pairs (k, k+1) below ``depth`` of
        (u_{k+1} - c_u)(v_k - c_v) - (u_k - c_u)(v_{k+1} - c_v)

    (the hodograph cross-product form — each term is the signed area
    swept by the storm-relative wind between two levels, which is the
    published AMS definition; NWS convention flips sign so positive
    SRH means cyclonic turning).

    Storm motion ``C``: explicit ``c_u``/``c_v`` when given (both or
    neither — mixing raises).  When omitted (the default), it is
    ESTIMATED PER COLUMN the way wrf-python's DCALRELHL does
    internally (``fortran/wrf_relhl.f90``, the Davies & Johns 1993
    rule): the depth-weighted trapezoid mean wind over layers fully
    below ``motion_depth`` (0-6 km AGL), at 75% of its speed, rotated
    30 degrees to the right —

        (ua, va) = (sum 0.5 dz (u_k + u_{k+1}), ...) / sum dz
        c = 0.75 * (cos30 ua + sin30 va, cos30 va - sin30 ua)

    (the rotation form is the speed/direction arithmetic with the
    trig round trip cancelled).  A column with no layer below
    ``motion_depth`` falls back to C = 0 (ground-relative).

    Plan shape is identical either way — ONE lead window per column
    pencil + ONE partial-agg groupBy: the SRH sum is linear in
    (c_u, c_v),

        SRH = sum(u2 v - u v2) + c_u sum(v2 - v) - c_v sum(u2 - u)

    so the estimated-motion path just aggregates the three SRH sums
    and the three mean-wind sums in the same groupBy and combines
    them post-agg; no second shuffle, no join."""
    if (c_u is None) != (c_v is None):
        raise TypeError(
            "storm_relative_helicity: pass BOTH c_u and c_v for an "
            "explicit storm motion, or NEITHER to estimate it from "
            "the 0-6 km mean wind (Davies & Johns 1993)"
        )
    w = Window.partitionBy(*col_keys).orderBy(k_col)
    pair = (
        df.withColumn("_u2", F.lead(u_col).over(w))
        .withColumn("_v2", F.lead(v_col).over(w))
        .withColumn("_z2", F.lead(z_col).over(w))
    )
    in_depth = (
        F.col("_z2").isNotNull()
        & (F.col(z_col) <= F.lit(float(depth)))
        & (F.col("_z2") <= F.lit(float(depth)))
    )
    if c_u is not None:
        # explicit motion: the original per-pair form, kept verbatim
        # (bit-compatible with the hash-pinned m5/m15 gates)
        term = F.when(
            in_depth,
            (F.col("_u2") - F.lit(float(c_u)))
            * (F.col(v_col) - F.lit(float(c_v)))
            - (F.col(u_col) - F.lit(float(c_u)))
            * (F.col("_v2") - F.lit(float(c_v))),
        ).otherwise(F.lit(0.0))
        return pair.groupBy(*col_keys).agg(F.sum(term).alias(out_col))
    in_motion = (
        F.col("_z2").isNotNull()
        & (F.col(z_col) <= F.lit(float(motion_depth)))
        & (F.col("_z2") <= F.lit(float(motion_depth)))
    )
    dh = F.col("_z2") - F.col(z_col)
    agg = pair.groupBy(*col_keys).agg(
        F.sum(
            F.when(
                in_depth,
                F.col("_u2") * F.col(v_col) - F.col(u_col) * F.col("_v2"),
            ).otherwise(F.lit(0.0))
        ).alias("_raw"),
        F.sum(
            F.when(in_depth, F.col("_v2") - F.col(v_col)).otherwise(F.lit(0.0))
        ).alias("_dv"),
        F.sum(
            F.when(in_depth, F.col("_u2") - F.col(u_col)).otherwise(F.lit(0.0))
        ).alias("_du"),
        F.sum(
            F.when(in_motion, dh).otherwise(F.lit(0.0))
        ).alias("_sdh"),
        F.sum(
            F.when(
                in_motion, 0.5 * dh * (F.col(u_col) + F.col("_u2"))
            ).otherwise(F.lit(0.0))
        ).alias("_su"),
        F.sum(
            F.when(
                in_motion, 0.5 * dh * (F.col(v_col) + F.col("_v2"))
            ).otherwise(F.lit(0.0))
        ).alias("_sv"),
    )
    ua = F.col("_su") / F.col("_sdh")
    va = F.col("_sv") / F.col("_sdh")
    has_layer = F.col("_sdh") > 0.0
    cu = F.when(
        has_layer,
        F.lit(_DJ_FRAC) * (F.lit(_DJ_COS30) * ua + F.lit(_DJ_SIN30) * va),
    ).otherwise(F.lit(0.0))
    cv = F.when(
        has_layer,
        F.lit(_DJ_FRAC) * (F.lit(_DJ_COS30) * va - F.lit(_DJ_SIN30) * ua),
    ).otherwise(F.lit(0.0))
    return agg.select(
        *col_keys,
        (F.col("_raw") + cu * F.col("_dv") - cv * F.col("_du")).alias(out_col),
    )


def potential_vorticity(
    df: DataFrame,
    u_col: str,
    v_col: str,
    theta_col: str,
    p_col: str,
    x_col: str,
    y_col: str,
    k_col: str,
    dx: float,
    dy: float,
    lat_col: str | None = None,
    group_cols: list[str] | None = None,
    out_col: str = "pv",
    msf_col: str | None = None,
) -> DataFrame:
    """Ertel potential vorticity on model levels [K m2 kg-1 s-1]
    (wrf-python `pvo`, isobaric-coordinate form WITHOUT the tilting
    terms of full Ertel PV — stated): PV = -g (zeta + f) dtheta/dp,
    with zeta the relative vorticity from horizontal pencil windows
    (per level; ``msf_col`` applies the curvilinear map-factor form,
    see :func:`absolute_vorticity`) and dtheta/dp a centered
    difference over the column pencil:

        dtheta/dp = (theta[k+1] - theta[k-1]) / (p[k+1] - p[k-1])

    Three pencil window passes total (d/dx, d/dy, d/dk), each
    partitioned into thousands of independent pencils; lateral and
    vertical boundaries carry NULL (the avo convention).  Extra
    ``group_cols`` (time, file) keep pencils per-slab.  Multiply by
    1e6 for PVU."""
    extra = list(group_cols or [])
    zeta = absolute_vorticity(
        df, u_col, v_col, x_col, y_col, dx, dy,
        lat_col=lat_col, group_cols=extra + [k_col], out_col="_zf",
        msf_col=msf_col,
    )
    w = Window.partitionBy(*extra, x_col, y_col).orderBy(k_col)
    nxt_ok = F.lead(k_col).over(w) == F.col(k_col) + 1
    prv_ok = F.lag(k_col).over(w) == F.col(k_col) - 1
    dthdp = F.when(
        nxt_ok & prv_ok,
        (F.lead(theta_col).over(w) - F.lag(theta_col).over(w))
        / (F.lead(p_col).over(w) - F.lag(p_col).over(w)),
    )
    return zeta.withColumn("_dthdp", dthdp).withColumn(
        out_col,
        F.lit(-9.81) * F.col("_zf") * F.col("_dthdp"),
    ).drop("_zf", "_dthdp")


def smooth2d(
    df: DataFrame,
    value_col: str,
    x_col: str,
    y_col: str,
    passes: int = 1,
    group_cols: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """The wrf-python `smooth2d` 5-point smoother: T' = T/2 +
    (T_w + T_e + T_n + T_s)/8, applied ``passes`` times; points
    without all four neighbors (grid boundary, holes) keep their
    value unchanged for that pass (the RIP convention of leaving the
    boundary alone).

    Each pass is two pencil-window transforms (one per axis — the
    cross stencil needs lag+lead on both), so ``passes`` unrolls to
    2*passes shuffles on uniform pencil keys; all arithmetic is /2
    and /8 — exact halvings, dyadic-in dyadic-out."""
    out_col = out_col or f"{value_col}_sm"
    extra = list(group_cols or [])
    if int(passes) <= 0:  # same shape as passes >= 1: a copy column
        return df.withColumn(out_col, F.col(value_col))
    cur = value_col
    d = df
    for i in range(int(passes)):
        wx = Window.partitionBy(*extra, y_col).orderBy(x_col)
        wy = Window.partitionBy(*extra, x_col).orderBy(y_col)
        step = f"_sm{i}"
        d = (
            d.withColumn(
                "_ew",
                F.when(
                    (F.lead(x_col).over(wx) == F.col(x_col) + 1)
                    & (F.lag(x_col).over(wx) == F.col(x_col) - 1),
                    F.lead(cur).over(wx) + F.lag(cur).over(wx),
                ),
            )
            .withColumn(
                "_ns",
                F.when(
                    (F.lead(y_col).over(wy) == F.col(y_col) + 1)
                    & (F.lag(y_col).over(wy) == F.col(y_col) - 1),
                    F.lead(cur).over(wy) + F.lag(cur).over(wy),
                ),
            )
            .withColumn(
                step,
                F.when(
                    F.col("_ew").isNotNull() & F.col("_ns").isNotNull(),
                    F.col(cur) / 2.0
                    + (F.col("_ew") + F.col("_ns")) / 8.0,
                ).otherwise(F.col(cur)),
            )
            .drop("_ew", "_ns")
        )
        if cur != value_col:
            d = d.drop(cur)
        cur = step
    if out_col == value_col:  # in-place smoothing: no duplicate column
        d = d.drop(value_col)
    return d.withColumnRenamed(cur, out_col)


__all__ = [
    "OMEGA_E",
    "absolute_vorticity",
    "centered_diff",
    "coriolis_parameter",
    "potential_vorticity",
    "smooth2d",
    "storm_relative_helicity",
    "updraft_helicity",
]


