"""CRS transforms (SURVEY.md §2 G8, wrf_voronoi.py:188 ``.to_crs``).

pyproj is not in this container, so the engine implements the transforms
it needs from the published formulas — as BUILT-IN column expressions
(JVM-side, codegen-friendly), with a vectorized pandas_udf variant for
parity testing the "external library in executors" path the reference
uses.

Spherical Web Mercator (EPSG:4326 -> EPSG:3857), R = 6378137:
    x = R * radians(lon)
    y = R * ln(tan(pi/4 + radians(lat)/2))

Cross-engine note: ``ln``/``tan`` differ from DuckDB's libm in the last
bit for ~7% of inputs, so oracle-checked outputs must be rounded (cm
precision leaves ~9 orders of margin).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

R_EARTH = 6378137.0


def lonlat_to_webmercator_x(lon: Column) -> Column:
    return F.lit(R_EARTH) * F.radians(lon)


def lonlat_to_webmercator_y(lat: Column) -> Column:
    return F.lit(R_EARTH) * F.log(
        F.tan(F.lit(math.pi) / 4 + F.radians(lat) / 2)
    )


def webmercator_to_lon(x: Column) -> Column:
    return F.degrees(x / F.lit(R_EARTH))


def webmercator_to_lat(y: Column) -> Column:
    return F.degrees(
        F.lit(2.0) * F.atan(F.exp(y / F.lit(R_EARTH))) - F.lit(math.pi / 2)
    )


# ---------------------------------------------------------------------------
# EPSG:27700 — OSGB36 British National Grid (the reference's ACTUAL target
# CRS, wrf_voronoi.py:188 ``.to_crs("EPSG:27700")``).  Two published steps:
#
# 1. WGS84 -> OSGB36 datum shift: geodetic -> cartesian, 7-parameter
#    Helmert (position-vector convention; the standard small transform,
#    ~3.5 m vs the OSTN15 grid pyproj would use — validated at 3.6 m on
#    the OS guide's worked-example station), cartesian -> geodetic by
#    fixed-point iteration (7 unrolled steps, contraction factor e^2
#    ~6.7e-3 => sub-micron).
# 2. Transverse Mercator on Airy 1830 with the National Grid parameters
#    (F0, phi0 49N, lam0 2W, E0 400000, N0 -100000), the OS guide
#    Annex C series — reproduces the guide's worked example to the mm
#    (651409.903 E, 313177.270 N).
#
# Constants are precomputed Python floats so the Spark expressions and
# the DuckDB oracle embed the IDENTICAL literals.

AIRY_A = 6377563.396
AIRY_B = 6356256.909
OSGB_F0 = 0.9996012717
OSGB_PHI0 = math.radians(49.0)
OSGB_LAM0 = math.radians(-2.0)
OSGB_E0 = 400000.0
OSGB_N0 = -100000.0
E2_AIRY = 0.006670540074149084  # (a^2-b^2)/a^2, Airy 1830
E2_WGS = 0.006694379990197585  # WGS84 (b = a*(1 - 1/298.257223563))
WGS_A = 6378137.0
# M-series coefficients in n = (a-b)/(a+b)
MA_C = 1.0016767257673973  # 1 + n + 5/4 n^2 + 5/4 n^3
MB_C = 0.0050280722824740985  # 3n + 3n^2 + 21/8 n^3
MC_C = 5.258157614724851e-06  # 15/8 (n^2 + n^3)
MD_C = 6.831502002843111e-09  # 35/24 n^3
# Helmert WGS84 -> OSGB36 (negation of the published OSGB36 -> WGS84 set)
H_TX, H_TY, H_TZ = -446.448, 125.157, -542.060
H_S1 = 1.0000204894  # 1 + 20.4894 ppm
H_RX = -7.281901490265231e-07  # -0.1502" in radians
H_RY = -1.1974897923405538e-06  # -0.2470"
H_RZ = -4.082616008623402e-06  # -0.8421"


def lonlat_to_osgb(df, lon, lat, out_e: str = "easting", out_n: str = "northing"):
    """Append OSGB36 ``easting``/``northing`` columns for WGS84 ``lon``/
    ``lat`` columns — built-in JVM expressions only, staged through named
    intermediate columns (each stage references the previous stage's
    aliases, keeping the expression tree linear in formula length)."""
    d = df.withColumns({"_phi": F.radians(lat), "_lam": F.radians(lon)})
    d = d.withColumns({"_sp": F.sin("_phi"), "_cp": F.cos("_phi")})
    d = d.withColumn(
        "_nu1", F.lit(WGS_A) / F.sqrt(F.lit(1.0) - F.lit(E2_WGS) * F.col("_sp") * F.col("_sp"))
    )
    d = d.withColumns(
        {
            "_X": F.col("_nu1") * F.col("_cp") * F.cos("_lam"),
            "_Y": F.col("_nu1") * F.col("_cp") * F.sin("_lam"),
            "_Z": (F.lit(1.0) - F.lit(E2_WGS)) * F.col("_nu1") * F.col("_sp"),
        }
    )
    d = d.withColumns(
        {
            "_XP": F.lit(H_TX) + F.lit(H_S1) * F.col("_X") - F.lit(H_RZ) * F.col("_Y") + F.lit(H_RY) * F.col("_Z"),
            "_YP": F.lit(H_TY) + F.lit(H_RZ) * F.col("_X") + F.lit(H_S1) * F.col("_Y") - F.lit(H_RX) * F.col("_Z"),
            "_ZP": F.lit(H_TZ) - F.lit(H_RY) * F.col("_X") + F.lit(H_RX) * F.col("_Y") + F.lit(H_S1) * F.col("_Z"),
        }
    )
    d = d.withColumns(
        {
            "_p": F.sqrt(F.col("_XP") * F.col("_XP") + F.col("_YP") * F.col("_YP")),
            "_lam2": F.atan2(F.col("_YP"), F.col("_XP")),
        }
    )
    d = d.withColumn(
        "_phi2", F.atan2(F.col("_ZP"), F.col("_p") * (F.lit(1.0) - F.lit(E2_AIRY)))
    )
    for _ in range(7):
        d = d.withColumn("_sphi", F.sin("_phi2")).withColumn(
            "_phi2",
            F.atan2(
                F.col("_ZP")
                + F.lit(E2_AIRY)
                * (F.lit(AIRY_A) / F.sqrt(F.lit(1.0) - F.lit(E2_AIRY) * F.col("_sphi") * F.col("_sphi")))
                * F.col("_sphi"),
                F.col("_p"),
            ),
        )
    d = d.withColumns(
        {
            "_s2": F.sin("_phi2"),
            "_c2": F.cos("_phi2"),
            "_t2": F.tan("_phi2"),
            "_dl": F.col("_lam2") - F.lit(OSGB_LAM0),
            "_dphi": F.col("_phi2") - F.lit(OSGB_PHI0),
            "_sphi0": F.col("_phi2") + F.lit(OSGB_PHI0),
        }
    )
    af0, bf0 = AIRY_A * OSGB_F0, AIRY_B * OSGB_F0
    d = d.withColumns(
        {
            "_nu": F.lit(af0) / F.sqrt(F.lit(1.0) - F.lit(E2_AIRY) * F.col("_s2") * F.col("_s2")),
            "_rho_d": F.lit(1.0) - F.lit(E2_AIRY) * F.col("_s2") * F.col("_s2"),
        }
    )
    d = d.withColumn(
        "_rho",
        F.lit(af0) * (F.lit(1.0) - F.lit(E2_AIRY)) / (F.col("_rho_d") * F.sqrt(F.col("_rho_d"))),
    )
    d = d.withColumns(
        {
            "_eta2": F.col("_nu") / F.col("_rho") - F.lit(1.0),
            "_t22": F.col("_t2") * F.col("_t2"),
            "_c23": F.col("_c2") * F.col("_c2") * F.col("_c2"),
            "_M": F.lit(bf0)
            * (
                F.lit(MA_C) * F.col("_dphi")
                - F.lit(MB_C) * F.sin("_dphi") * F.cos("_sphi0")
                + F.lit(MC_C) * F.sin(F.lit(2.0) * F.col("_dphi")) * F.cos(F.lit(2.0) * F.col("_sphi0"))
                - F.lit(MD_C) * F.sin(F.lit(3.0) * F.col("_dphi")) * F.cos(F.lit(3.0) * F.col("_sphi0"))
            ),
        }
    )
    d = d.withColumns(
        {
            "_c25": F.col("_c23") * F.col("_c2") * F.col("_c2"),
            "_t24": F.col("_t22") * F.col("_t22"),
            "_dl2": F.col("_dl") * F.col("_dl"),
        }
    )
    e_expr = (
        F.lit(OSGB_E0)
        + F.col("_nu") * F.col("_c2") * F.col("_dl")
        + F.col("_nu") / F.lit(6.0) * F.col("_c23")
        * (F.col("_nu") / F.col("_rho") - F.col("_t22"))
        * F.col("_dl2") * F.col("_dl")
        + F.col("_nu") / F.lit(120.0) * F.col("_c25")
        * (
            F.lit(5.0) - F.lit(18.0) * F.col("_t22") + F.col("_t24")
            + F.lit(14.0) * F.col("_eta2")
            - F.lit(58.0) * F.col("_t22") * F.col("_eta2")
        )
        * F.col("_dl2") * F.col("_dl2") * F.col("_dl")
    )
    n_expr = (
        F.col("_M") + F.lit(OSGB_N0)
        + F.col("_nu") / F.lit(2.0) * F.col("_s2") * F.col("_c2") * F.col("_dl2")
        + F.col("_nu") / F.lit(24.0) * F.col("_s2") * F.col("_c23")
        * (F.lit(5.0) - F.col("_t22") + F.lit(9.0) * F.col("_eta2"))
        * F.col("_dl2") * F.col("_dl2")
        + F.col("_nu") / F.lit(720.0) * F.col("_s2") * F.col("_c25")
        * (F.lit(61.0) - F.lit(58.0) * F.col("_t22") + F.col("_t24"))
        * F.col("_dl2") * F.col("_dl2") * F.col("_dl2")
    )
    d = d.withColumns({out_e: e_expr, out_n: n_expr})
    return d.drop(*[c for c in d.columns if c.startswith("_")])


def osgb_pandas_udf():
    """Arrow-vectorized numpy twin of :func:`lonlat_to_osgb` (the shape a
    pyproj transform would take in executors); parity-tested against the
    expression path and the OS guide worked example."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<easting: double, northing: double>")
    def _transform(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        phi = np.radians(lat.to_numpy(np.float64))
        lam = np.radians(lon.to_numpy(np.float64))
        sp, cp = np.sin(phi), np.cos(phi)
        nu1 = WGS_A / np.sqrt(1 - E2_WGS * sp * sp)
        X, Y, Z = nu1 * cp * np.cos(lam), nu1 * cp * np.sin(lam), (1 - E2_WGS) * nu1 * sp
        Xp = H_TX + H_S1 * X - H_RZ * Y + H_RY * Z
        Yp = H_TY + H_RZ * X + H_S1 * Y - H_RX * Z
        Zp = H_TZ - H_RY * X + H_RX * Y + H_S1 * Z
        p = np.sqrt(Xp * Xp + Yp * Yp)
        phi2 = np.arctan2(Zp, p * (1 - E2_AIRY))
        for _ in range(7):
            s = np.sin(phi2)
            phi2 = np.arctan2(
                Zp + E2_AIRY * (AIRY_A / np.sqrt(1 - E2_AIRY * s * s)) * s, p
            )
        lam2 = np.arctan2(Yp, Xp)
        s2, c2, t2 = np.sin(phi2), np.cos(phi2), np.tan(phi2)
        af0, bf0 = AIRY_A * OSGB_F0, AIRY_B * OSGB_F0
        nu = af0 / np.sqrt(1 - E2_AIRY * s2 * s2)
        rho = af0 * (1 - E2_AIRY) * (1 - E2_AIRY * s2 * s2) ** -1.5
        eta2 = nu / rho - 1
        dphi, sphi = phi2 - OSGB_PHI0, phi2 + OSGB_PHI0
        M = bf0 * (
            MA_C * dphi
            - MB_C * np.sin(dphi) * np.cos(sphi)
            + MC_C * np.sin(2 * dphi) * np.cos(2 * sphi)
            - MD_C * np.sin(3 * dphi) * np.cos(3 * sphi)
        )
        dl = lam2 - OSGB_LAM0
        t22, t24, c23, c25 = t2 * t2, t2 ** 4, c2 ** 3, c2 ** 5
        E = (
            OSGB_E0 + nu * c2 * dl
            + nu / 6 * c23 * (nu / rho - t22) * dl ** 3
            + nu / 120 * c25 * (5 - 18 * t22 + t24 + 14 * eta2 - 58 * t22 * eta2) * dl ** 5
        )
        N = (
            M + OSGB_N0 + nu / 2 * s2 * c2 * dl * dl
            + nu / 24 * s2 * c23 * (5 - t22 + 9 * eta2) * dl ** 4
            + nu / 720 * s2 * c25 * (61 - 58 * t22 + t24) * dl ** 6
        )
        return pd.DataFrame({"easting": E, "northing": N})

    return _transform


def osgb36_geodetic_to_grid_numpy(phi, lam):
    """TM core alone (OSGB36 geodetic radians -> grid E/N) — exposed for
    the worked-example test, which states OSGB36 coordinates directly."""
    s2, c2, t2 = np.sin(phi), np.cos(phi), np.tan(phi)
    af0, bf0 = AIRY_A * OSGB_F0, AIRY_B * OSGB_F0
    nu = af0 / np.sqrt(1 - E2_AIRY * s2 * s2)
    rho = af0 * (1 - E2_AIRY) * (1 - E2_AIRY * s2 * s2) ** -1.5
    eta2 = nu / rho - 1
    dphi, sphi = phi - OSGB_PHI0, phi + OSGB_PHI0
    M = bf0 * (
        MA_C * dphi
        - MB_C * np.sin(dphi) * np.cos(sphi)
        + MC_C * np.sin(2 * dphi) * np.cos(2 * sphi)
        - MD_C * np.sin(3 * dphi) * np.cos(3 * sphi)
    )
    dl = lam - OSGB_LAM0
    t22, t24, c23, c25 = t2 * t2, t2 ** 4, c2 ** 3, c2 ** 5
    E = (
        OSGB_E0 + nu * c2 * dl
        + nu / 6 * c23 * (nu / rho - t22) * dl ** 3
        + nu / 120 * c25 * (5 - 18 * t22 + t24 + 14 * eta2 - 58 * t22 * eta2) * dl ** 5
    )
    N = (
        M + OSGB_N0 + nu / 2 * s2 * c2 * dl * dl
        + nu / 24 * s2 * c23 * (5 - t22 + 9 * eta2) * dl ** 4
        + nu / 720 * s2 * c25 * (61 - 58 * t22 + t24) * dl ** 6
    )
    return E, N


def webmercator_pandas_udf():
    """The pandas_udf (Arrow-vectorized numpy) variant — how a pyproj
    transform would run in executors; kept for parity testing against
    the expression path."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<x: double, y: double>")
    def _transform(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        lam = np.radians(lon.to_numpy(np.float64))
        phi = np.radians(lat.to_numpy(np.float64))
        return pd.DataFrame(
            {
                "x": R_EARTH * lam,
                "y": R_EARTH * np.log(np.tan(np.pi / 4 + phi / 2)),
            }
        )

    return _transform


# ---------------------------------------------------------------------------
# Inverse chain: EPSG:27700 grid E/N -> WGS84 lon/lat.  The reference only
# projects forward (to_crs at wrf_voronoi.py:188), but a round-trip API is
# what any consumer doing I/O in both CRSs needs, and the round-trip
# property test pins both directions against each other.
#
# Inverse TM per the OS guide Annex C (C.3): iterate phi' until the
# meridian arc M(phi') matches N - N0 (contraction ~e^2, 8 iterations =>
# sub-nanometre), then the VII..XIIA series.  Datum shift back is the
# EXACT Helmert inverse (fixed-point solve of the forward transform,
# contraction ~2e-5 per iteration), so forward∘inverse closes to
# ~1e-10 deg — model error vs OSTN15 remains the forward's ~3.5 m.


def osgb_grid_to_geodetic_numpy(E, N):
    """Inverse TM core alone (grid E/N -> OSGB36 geodetic radians)."""
    af0, bf0 = AIRY_A * OSGB_F0, AIRY_B * OSGB_F0
    phi = (N - OSGB_N0) / af0 + OSGB_PHI0
    for _ in range(8):
        dphi, sphi = phi - OSGB_PHI0, phi + OSGB_PHI0
        M = bf0 * (
            MA_C * dphi
            - MB_C * np.sin(dphi) * np.cos(sphi)
            + MC_C * np.sin(2 * dphi) * np.cos(2 * sphi)
            - MD_C * np.sin(3 * dphi) * np.cos(3 * sphi)
        )
        phi = phi + (N - OSGB_N0 - M) / af0
    s2, c2, t2 = np.sin(phi), np.cos(phi), np.tan(phi)
    nu = af0 / np.sqrt(1 - E2_AIRY * s2 * s2)
    rho = af0 * (1 - E2_AIRY) * (1 - E2_AIRY * s2 * s2) ** -1.5
    eta2 = nu / rho - 1
    t22 = t2 * t2
    t24 = t22 * t22
    VII = t2 / (2 * rho * nu)
    VIII = t2 / (24 * rho * nu**3) * (5 + 3 * t22 + eta2 - 9 * t22 * eta2)
    IX = t2 / (720 * rho * nu**5) * (61 + 90 * t22 + 45 * t24)
    sec = 1.0 / c2
    X = sec / nu
    XI = sec / (6 * nu**3) * (nu / rho + 2 * t22)
    XII = sec / (120 * nu**5) * (5 + 28 * t22 + 24 * t24)
    XIIA = sec / (5040 * nu**7) * (61 + 662 * t22 + 1320 * t24 + 720 * t22 * t24)
    dE = E - OSGB_E0
    dE2 = dE * dE
    phi_out = phi - VII * dE2 + VIII * dE2 * dE2 - IX * dE2 * dE2 * dE2
    lam_out = (
        OSGB_LAM0
        + X * dE
        - XI * dE2 * dE
        + XII * dE2 * dE2 * dE
        - XIIA * dE2 * dE2 * dE2 * dE
    )
    return phi_out, lam_out


def osgb_to_lonlat_numpy(E, N):
    """Full inverse chain: grid E/N -> OSGB36 geodetic -> Airy cartesian
    -> inverse Helmert -> WGS84 geodetic (degrees lon/lat)."""
    phi, lam = osgb_grid_to_geodetic_numpy(np.asarray(E, float), np.asarray(N, float))
    sp, cp = np.sin(phi), np.cos(phi)
    nu1 = AIRY_A / np.sqrt(1 - E2_AIRY * sp * sp)
    X = nu1 * cp * np.cos(lam)
    Y = nu1 * cp * np.sin(lam)
    Z = (1 - E2_AIRY) * nu1 * sp
    # exact Helmert inverse by fixed-point: the forward is X' = T + M X
    # with M = I + (S + R); solve X = (X' - T) - (M - I) X, contraction
    # ||M - I|| ~ 2e-5, 3 iterations => relative error ~1e-14 (the
    # naive negated-parameter inverse leaves ~5 mm of second-order
    # residual, which the round-trip test would see)
    bX, bY, bZ = X - H_TX, Y - H_TY, Z - H_TZ
    Xp, Yp, Zp = bX, bY, bZ
    ds = H_S1 - 1.0
    for _ in range(3):
        Xp, Yp, Zp = (
            bX - (ds * Xp - H_RZ * Yp + H_RY * Zp),
            bY - (H_RZ * Xp + ds * Yp - H_RX * Zp),
            bZ - (-H_RY * Xp + H_RX * Yp + ds * Zp),
        )
    p = np.sqrt(Xp * Xp + Yp * Yp)
    phi2 = np.arctan2(Zp, p * (1 - E2_WGS))
    for _ in range(7):
        s = np.sin(phi2)
        phi2 = np.arctan2(
            Zp + E2_WGS * (WGS_A / np.sqrt(1 - E2_WGS * s * s)) * s, p
        )
    lam2 = np.arctan2(Yp, Xp)
    return np.degrees(lam2), np.degrees(phi2)


def osgb_inverse_pandas_udf():
    """Arrow-vectorized inverse transform (grid E/N -> WGS84 lon/lat) for
    executor-side use, mirroring :func:`osgb_pandas_udf`."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<lon: double, lat: double>")
    def _transform(easting: pd.Series, northing: pd.Series) -> pd.DataFrame:
        lon, lat = osgb_to_lonlat_numpy(
            easting.to_numpy(np.float64), northing.to_numpy(np.float64)
        )
        return pd.DataFrame({"lon": lon, "lat": lat})

    return _transform


# ---------------------------------------------------------------------------
# Lambert conformal conic — WRF's NATIVE projection (the grid every WRF
# output file is on; the reference reprojects via pyproj's any-EPSG
# ``to_crs``, wrf_voronoi.py:188).  The spherical forward/inverse math
# already lives Snyder-pinned in sources/grib2.py (template 3.30 decode);
# here the SAME formulas (Snyder, Map Projections — A Working Manual,
# eqs. 15-1..15-5 spherical; 15-7..15-10 / EPSG 9802 ellipsoidal 2SP)
# become COLUMN transforms: projection constants are precomputed Python
# floats (identical literals for the Spark plan and any SQL oracle), the
# per-row math is built-in JVM expressions inside whole-stage codegen.

WRF_SPHERE_R = 6370000.0  # WRF's spherical earth radius (share_config)


def lcc_constants(lat1d: float, lat2d: float, lat0d: float,
                  R: float) -> tuple[float, float, float]:
    """Spherical LCC constants (cone constant n, F, rho0) — delegates to
    the Snyder-pinned kernel in sources/grib2.py so the column transform
    and the GRIB2 grid decoder can never drift apart."""
    from wrf_to_geodataframe_spark.sources.grib2 import _lcc_constants

    n, F_, rho0 = _lcc_constants(lat1d, lat2d, lat0d, R)
    return float(n), float(F_), float(rho0)


def lonlat_to_lcc(
    df,
    lon,
    lat,
    lat1d: float,
    lat2d: float,
    lat0d: float,
    lon0d: float,
    R: float = WRF_SPHERE_R,
    false_easting: float = 0.0,
    false_northing: float = 0.0,
    out_x: str = "lcc_x",
    out_y: str = "lcc_y",
):
    """Append spherical-LCC ``(out_x, out_y)`` metre columns for WGS84
    ``lon``/``lat`` columns (Snyder eqs. 15-1/15-2): rho = R F /
    tan(pi/4 + phi/2)^n, x = rho sin(n dl), y = rho0 - rho cos(n dl),
    with dl wrapped to (-pi, pi] so grids straddling lon0 +- 180 work."""
    n, F_, rho0 = lcc_constants(lat1d, lat2d, lat0d, R)
    d = df.withColumns({
        "_phi": F.radians(lat),
        "_dl": F.pmod(
            F.radians(lon - F.lit(lon0d)) + F.lit(math.pi),
            F.lit(2.0 * math.pi),
        ) - F.lit(math.pi),
    })
    d = d.withColumn(
        "_rho",
        F.lit(R * F_)
        / F.pow(
            F.tan(F.lit(math.pi / 4) + F.col("_phi") / 2), F.lit(n)
        ),
    )
    d = d.withColumns({
        out_x: F.col("_rho") * F.sin(F.lit(n) * F.col("_dl"))
        + F.lit(false_easting),
        out_y: F.lit(rho0 + false_northing)
        - F.col("_rho") * F.cos(F.lit(n) * F.col("_dl")),
    })
    return d.drop("_phi", "_dl", "_rho")


def lcc_to_lonlat(
    df,
    x,
    y,
    lat1d: float,
    lat2d: float,
    lat0d: float,
    lon0d: float,
    R: float = WRF_SPHERE_R,
    false_easting: float = 0.0,
    false_northing: float = 0.0,
    out_lon: str = "lon",
    out_lat: str = "lat",
):
    """Inverse spherical LCC (Snyder eqs. 15-4/15-5): metre columns ->
    WGS84 degree columns; mirrors ``lcc_inverse`` in sources/grib2.py."""
    n, F_, rho0 = lcc_constants(lat1d, lat2d, lat0d, R)
    sgn = 1.0 if n >= 0 else -1.0
    d = df.withColumns({
        "_xs": (x - F.lit(false_easting)) * F.lit(sgn),
        "_ys": (F.lit(rho0 + false_northing) - y) * F.lit(sgn),
    })
    d = d.withColumns({
        "_rho": F.lit(sgn) * F.sqrt(
            F.col("_xs") * F.col("_xs") + F.col("_ys") * F.col("_ys")
        ),
        "_theta": F.atan2(F.col("_xs"), F.col("_ys")),
    })
    d = d.withColumns({
        out_lat: F.degrees(
            F.lit(2.0)
            * F.atan(F.pow(F.lit(R * F_) / F.col("_rho"), F.lit(1.0 / n)))
            - F.lit(math.pi / 2)
        ),
        out_lon: F.lit(lon0d) + F.degrees(F.col("_theta") / F.lit(n)),
    })
    return d.drop("_xs", "_ys", "_rho", "_theta")


def lcc2sp_constants(
    lat1d: float, lat2d: float, lat0d: float, a: float, e2: float
) -> tuple[float, float, float, float]:
    """Ellipsoidal LCC 2SP constants (Snyder eqs. 15-8/14-15/15-10,
    EPSG method 9802): returns (n, a*F, rho0, e) as Python floats.
    ``e2 = 0`` reduces exactly to the spherical constants."""
    e = math.sqrt(e2)

    def m(phid):
        p = math.radians(phid)
        return math.cos(p) / math.sqrt(1 - e2 * math.sin(p) ** 2)

    def t(phid):
        p = math.radians(phid)
        sp = math.sin(p)
        es = ((1 - e * sp) / (1 + e * sp)) ** (e / 2) if e else 1.0
        return math.tan(math.pi / 4 - p / 2) / es

    m1, m2 = m(lat1d), m(lat2d)
    t1, t2, t0 = t(lat1d), t(lat2d), t(lat0d)
    if abs(lat1d - lat2d) < 1e-12:
        n = math.sin(math.radians(lat1d))
    else:
        n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    aF = a * m1 / (n * t1 ** n)
    rho0 = aF * t0 ** n
    return n, aF, rho0, e


def lonlat_to_lcc2sp(
    df,
    lon,
    lat,
    lat1d: float,
    lat2d: float,
    lat0d: float,
    lon0d: float,
    a: float = WGS_A,
    e2: float = E2_WGS,
    false_easting: float = 0.0,
    false_northing: float = 0.0,
    out_x: str = "lcc_x",
    out_y: str = "lcc_y",
):
    """Ellipsoidal LCC two-standard-parallel forward (Snyder 15-7/15-9,
    EPSG 9802) as column expressions: t(phi) = tan(pi/4 - phi/2) *
    ((1 + e sin phi)/(1 - e sin phi))^(e/2), rho = aF t^n."""
    n, aF, rho0, e = lcc2sp_constants(lat1d, lat2d, lat0d, a, e2)
    d = df.withColumns({
        "_phi": F.radians(lat),
        "_dl": F.pmod(
            F.radians(lon - F.lit(lon0d)) + F.lit(math.pi),
            F.lit(2.0 * math.pi),
        ) - F.lit(math.pi),
    })
    d = d.withColumn("_sp", F.sin("_phi"))
    d = d.withColumn(
        "_t",
        F.tan(F.lit(math.pi / 4) - F.col("_phi") / 2)
        * F.pow(
            (F.lit(1.0) + F.lit(e) * F.col("_sp"))
            / (F.lit(1.0) - F.lit(e) * F.col("_sp")),
            F.lit(e / 2),
        ),
    )
    d = d.withColumn("_rho", F.lit(aF) * F.pow("_t", F.lit(n)))
    d = d.withColumns({
        out_x: F.col("_rho") * F.sin(F.lit(n) * F.col("_dl"))
        + F.lit(false_easting),
        out_y: F.lit(rho0 + false_northing)
        - F.col("_rho") * F.cos(F.lit(n) * F.col("_dl")),
    })
    return d.drop("_phi", "_dl", "_sp", "_t", "_rho")


def lcc2sp_to_lonlat(
    df,
    x,
    y,
    lat1d: float,
    lat2d: float,
    lat0d: float,
    lon0d: float,
    a: float = WGS_A,
    e2: float = E2_WGS,
    false_easting: float = 0.0,
    false_northing: float = 0.0,
    out_lon: str = "lon",
    out_lat: str = "lat",
):
    """Ellipsoidal LCC 2SP inverse (Snyder 15-10/7-9): phi from t by the
    standard fixed-point iteration phi <- pi/2 - 2 atan(t ((1 - e sin
    phi)/(1 + e sin phi))^(e/2)), unrolled 6 times (contraction ~e^2/2
    per step => sub-nanometre for earth ellipsoids)."""
    n, aF, rho0, e = lcc2sp_constants(lat1d, lat2d, lat0d, a, e2)
    sgn = 1.0 if n >= 0 else -1.0
    d = df.withColumns({
        "_xs": (x - F.lit(false_easting)) * F.lit(sgn),
        "_ys": (F.lit(rho0 + false_northing) - y) * F.lit(sgn),
    })
    d = d.withColumns({
        "_rho": F.lit(sgn) * F.sqrt(
            F.col("_xs") * F.col("_xs") + F.col("_ys") * F.col("_ys")
        ),
        "_theta": F.atan2(F.col("_xs"), F.col("_ys")),
    })
    d = d.withColumn(
        "_t", F.pow(F.lit(sgn) * F.col("_rho") / F.lit(sgn * aF),
                    F.lit(1.0 / n))
    )
    # chi (conformal latitude) seed, then unrolled fixed point
    d = d.withColumn(
        "_phi2",
        F.lit(math.pi / 2) - F.lit(2.0) * F.atan("_t"),
    )
    for _ in range(6):
        d = d.withColumn("_sphi", F.sin("_phi2")).withColumn(
            "_phi2",
            F.lit(math.pi / 2)
            - F.lit(2.0)
            * F.atan(
                F.col("_t")
                * F.pow(
                    (F.lit(1.0) - F.lit(e) * F.col("_sphi"))
                    / (F.lit(1.0) + F.lit(e) * F.col("_sphi")),
                    F.lit(e / 2),
                )
            ),
        )
    d = d.withColumns({
        out_lat: F.degrees("_phi2"),
        out_lon: F.lit(lon0d) + F.degrees(F.col("_theta") / F.lit(n)),
    })
    return d.drop(*[c for c in d.columns if c.startswith("_")])


def lcc2sp_forward_numpy(lon, lat, lat1d, lat2d, lat0d, lon0d,
                         a=WGS_A, e2=E2_WGS):
    """Numpy twin of :func:`lonlat_to_lcc2sp` (no false offsets)."""
    n, aF, rho0, e = lcc2sp_constants(lat1d, lat2d, lat0d, a, e2)
    phi = np.radians(np.asarray(lat, "float64"))
    dl = np.radians(np.asarray(lon, "float64") - lon0d)
    dl = (dl + np.pi) % (2 * np.pi) - np.pi
    sp = np.sin(phi)
    t = np.tan(np.pi / 4 - phi / 2) * ((1 + e * sp) / (1 - e * sp)) ** (
        e / 2
    )
    rho = aF * t ** n
    return rho * np.sin(n * dl), rho0 - rho * np.cos(n * dl)


# ---------------------------------------------------------------------------
# Transverse Mercator / UTM — the other reprojection target a WRF user
# reaches for after the model's own LCC.  Kruger n-series (Karney 2011,
# "Transverse Mercator with an accuracy of a few nanometers", eqs.
# 12-14/35; the UTM form on any ellipsoid), truncated at n^3: the n^4
# terms contribute < 0.5 mm on earth ellipsoids, three orders below the
# cm rounding the oracle gates use.  Constants are Python floats so the
# Spark plan and the DuckDB oracle embed identical literals; DuckDB has
# no hyperbolics, so its oracle mirrors them through exp/ln identities.

WGS_F = 1.0 / 298.257223563


def tm_constants(a: float = WGS_A, f: float = WGS_F) -> dict:
    """Kruger-series constants for the ellipsoid (a, f): third
    flattening n, rectifying radius A, forward coefficients alpha1..3,
    inverse coefficients beta1..3, conformal-to-geodetic delta1..3, and
    the conformal factor c = 2 sqrt(n) / (1 + n)."""
    n = f / (2.0 - f)
    return {
        "n": n,
        "A": a / (1 + n) * (1 + n * n / 4 + n ** 4 / 64),
        "alpha": (
            n / 2 - 2 * n * n / 3 + 5 * n ** 3 / 16,
            13 * n * n / 48 - 3 * n ** 3 / 5,
            61 * n ** 3 / 240,
        ),
        "beta": (
            n / 2 - 2 * n * n / 3 + 37 * n ** 3 / 96,
            n * n / 48 + n ** 3 / 15,
            17 * n ** 3 / 480,
        ),
        "delta": (
            2 * n - 2 * n * n / 3 - 2 * n ** 3,
            7 * n * n / 3 - 8 * n ** 3 / 5,
            56 * n ** 3 / 15,
        ),
        "c": 2 * math.sqrt(n) / (1 + n),
    }


def lonlat_to_tm(
    df,
    lon,
    lat,
    lon0d: float,
    k0: float = 0.9996,
    a: float = WGS_A,
    f: float = WGS_F,
    false_easting: float = 0.0,
    false_northing: float = 0.0,
    out_e: str = "easting",
    out_n: str = "northing",
):
    """Transverse Mercator forward (Kruger series) as column
    expressions: conformal latitude via t = sinh(atanh sin phi - c
    atanh(c sin phi)), then the alpha trigonometric series.  Valid to
    sub-mm within +-4 degrees of the central meridian (every UTM
    zone)."""
    k = tm_constants(a, f)
    kA = k0 * k["A"]
    a1, a2, a3 = k["alpha"]
    c = k["c"]
    d = df.withColumns({
        "_sp": F.sin(F.radians(lat)),
        "_lp": F.radians(lon - F.lit(lon0d)),
    })
    d = d.withColumn(
        "_t",
        F.sinh(
            F.atanh("_sp") - F.lit(c) * F.atanh(F.lit(c) * F.col("_sp"))
        ),
    )
    d = d.withColumns({
        "_xip": F.atan2(F.col("_t"), F.cos("_lp")),
        "_etap": F.atanh(
            F.sin("_lp")
            / F.sqrt(F.lit(1.0) + F.col("_t") * F.col("_t"))
        ),
    })
    xi = F.col("_xip")
    eta = F.col("_etap")
    for j, aj in ((1, a1), (2, a2), (3, a3)):
        xi = xi + F.lit(aj) * F.sin(F.lit(2.0 * j) * F.col("_xip")) \
            * F.cosh(F.lit(2.0 * j) * F.col("_etap"))
        eta = eta + F.lit(aj) * F.cos(F.lit(2.0 * j) * F.col("_xip")) \
            * F.sinh(F.lit(2.0 * j) * F.col("_etap"))
    d = d.withColumns({
        out_e: F.lit(false_easting) + F.lit(kA) * eta,
        out_n: F.lit(false_northing) + F.lit(kA) * xi,
    })
    return d.drop("_sp", "_lp", "_t", "_xip", "_etap")


def tm_to_lonlat(
    df,
    e_col,
    n_col,
    lon0d: float,
    k0: float = 0.9996,
    a: float = WGS_A,
    f: float = WGS_F,
    false_easting: float = 0.0,
    false_northing: float = 0.0,
    out_lon: str = "lon",
    out_lat: str = "lat",
):
    """Transverse Mercator inverse (Kruger beta series, then the
    conformal-to-geodetic delta series) as column expressions."""
    k = tm_constants(a, f)
    kA = k0 * k["A"]
    b1, b2, b3 = k["beta"]
    d1, d2, d3 = k["delta"]
    d = df.withColumns({
        "_xi": (n_col - F.lit(false_northing)) / F.lit(kA),
        "_eta": (e_col - F.lit(false_easting)) / F.lit(kA),
    })
    xip = F.col("_xi")
    etap = F.col("_eta")
    for j, bj in ((1, b1), (2, b2), (3, b3)):
        xip = xip - F.lit(bj) * F.sin(F.lit(2.0 * j) * F.col("_xi")) \
            * F.cosh(F.lit(2.0 * j) * F.col("_eta"))
        etap = etap - F.lit(bj) * F.cos(F.lit(2.0 * j) * F.col("_xi")) \
            * F.sinh(F.lit(2.0 * j) * F.col("_eta"))
    d = d.withColumns({"_xip": xip, "_etap": etap})
    d = d.withColumn(
        "_chi", F.asin(F.sin("_xip") / F.cosh("_etap"))
    )
    phi = F.col("_chi")
    for j, dj in ((1, d1), (2, d2), (3, d3)):
        phi = phi + F.lit(dj) * F.sin(F.lit(2.0 * j) * F.col("_chi"))
    d = d.withColumns({
        out_lat: F.degrees(phi),
        out_lon: F.lit(lon0d)
        + F.degrees(F.atan2(F.sinh("_etap"), F.cos("_xip"))),
    })
    return d.drop("_xi", "_eta", "_xip", "_etap", "_chi")


def utm_zone_lon0(zone: int) -> float:
    """Central meridian of a UTM zone (1..60)."""
    if not 1 <= int(zone) <= 60:
        raise ValueError(f"UTM zone {zone} out of 1..60")
    return float(zone * 6 - 183)


def lonlat_to_utm(df, lon, lat, zone: int, south: bool = False,
                  out_e: str = "easting", out_n: str = "northing"):
    """WGS84 lon/lat columns -> UTM zone easting/northing (EPSG
    326xx/327xx): k0 = 0.9996, FE 500 km, FN 10000 km south."""
    return lonlat_to_tm(
        df, lon, lat, utm_zone_lon0(zone), 0.9996, WGS_A, WGS_F,
        500000.0, 10000000.0 if south else 0.0, out_e, out_n,
    )


def utm_to_lonlat(df, e_col, n_col, zone: int, south: bool = False,
                  out_lon: str = "lon", out_lat: str = "lat"):
    """Inverse of :func:`lonlat_to_utm`."""
    return tm_to_lonlat(
        df, e_col, n_col, utm_zone_lon0(zone), 0.9996, WGS_A, WGS_F,
        500000.0, 10000000.0 if south else 0.0, out_lon, out_lat,
    )


def tm_forward_numpy(lon, lat, lon0d, k0=0.9996, a=WGS_A, f=WGS_F):
    """Numpy twin of :func:`lonlat_to_tm` (no false offsets)."""
    k = tm_constants(a, f)
    kA = k0 * k["A"]
    c = k["c"]
    sp = np.sin(np.radians(np.asarray(lat, "float64")))
    lp = np.radians(np.asarray(lon, "float64") - lon0d)
    t = np.sinh(np.arctanh(sp) - c * np.arctanh(c * sp))
    xip = np.arctan2(t, np.cos(lp))
    etap = np.arctanh(np.sin(lp) / np.sqrt(1.0 + t * t))
    xi, eta = xip.copy(), etap.copy()
    for j, aj in ((1, k["alpha"][0]), (2, k["alpha"][1]),
                  (3, k["alpha"][2])):
        xi += aj * np.sin(2 * j * xip) * np.cosh(2 * j * etap)
        eta += aj * np.cos(2 * j * xip) * np.sinh(2 * j * etap)
    return kA * eta, kA * xi


# ---------------------------------------------------------------------------
# Polar stereographic + Mercator (spherical) — WRF's other two
# projections (MAP_PROJ 2 and 3).  Snyder eqs. 21-33/21-34 (polar
# aspect with scale true at lat_ts: rho = 2 R k0 tan(pi/4 -+ phi/2),
# k0 = (1 +- sin lat_ts)/2) and 7-1/7-2 (Mercator true at lat_ts:
# k0 = cos lat_ts).  Same discipline as LCC: constants are Python
# floats, per-row math is JVM expressions.


def lonlat_to_stere(
    df, lon, lat, lat_ts: float, lon0d: float, R: float = WRF_SPHERE_R,
    out_x: str = "x", out_y: str = "y",
):
    """Spherical polar stereographic forward, pole chosen by the sign
    of ``lat_ts`` (WRF's convention: TRUELAT1 < 0 = south polar)."""
    south = lat_ts < 0
    k0 = (1.0 + math.sin(math.radians(abs(lat_ts)))) / 2.0
    phi = F.radians(lat) * F.lit(-1.0 if south else 1.0)
    dl = (F.radians(lon - F.lit(lon0d))) * F.lit(-1.0 if south else 1.0)
    rho = F.lit(2.0 * R * k0) * F.tan(F.lit(math.pi / 4) - phi / 2)
    d = df.withColumns({
        out_x: rho * F.sin(dl) * F.lit(-1.0 if south else 1.0),
        out_y: -rho * F.cos(dl) * F.lit(-1.0 if south else 1.0),
    })
    return d


def stere_to_lonlat(
    df, x, y, lat_ts: float, lon0d: float, R: float = WRF_SPHERE_R,
    out_lon: str = "lon", out_lat: str = "lat",
):
    """Inverse spherical polar stereographic (Snyder 20-14/20-16
    polar simplification)."""
    south = lat_ts < 0
    k0 = (1.0 + math.sin(math.radians(abs(lat_ts)))) / 2.0
    sgn = -1.0 if south else 1.0
    xs, ys = x * F.lit(sgn), y * F.lit(sgn)
    rho = F.sqrt(xs * xs + ys * ys)
    phi = F.lit(math.pi / 2) - F.lit(2.0) * F.atan(
        rho / F.lit(2.0 * R * k0)
    )
    return df.withColumns({
        out_lat: F.degrees(phi) * F.lit(sgn),
        out_lon: F.lit(lon0d) + F.degrees(F.atan2(xs, -ys)) * F.lit(sgn),
    })


def lonlat_to_mercator(
    df, lon, lat, lat_ts: float = 0.0, lon0d: float = 0.0,
    R: float = WRF_SPHERE_R, out_x: str = "x", out_y: str = "y",
):
    """Spherical Mercator with scale true at ``lat_ts`` (Snyder
    7-1/7-2; ``lat_ts=0, R=6378137, lon0=0`` is Web Mercator)."""
    k0 = math.cos(math.radians(lat_ts))
    return df.withColumns({
        out_x: F.lit(R * k0) * F.radians(lon - F.lit(lon0d)),
        out_y: F.lit(R * k0) * F.log(
            F.tan(F.lit(math.pi / 4) + F.radians(lat) / 2)
        ),
    })


def mercator_to_lonlat(
    df, x, y, lat_ts: float = 0.0, lon0d: float = 0.0,
    R: float = WRF_SPHERE_R, out_lon: str = "lon", out_lat: str = "lat",
):
    """Inverse spherical Mercator (Snyder 7-4/7-5)."""
    k0 = math.cos(math.radians(lat_ts))
    return df.withColumns({
        out_lon: F.lit(lon0d) + F.degrees(x / F.lit(R * k0)),
        out_lat: F.degrees(
            F.lit(2.0) * F.atan(F.exp(y / F.lit(R * k0)))
            - F.lit(math.pi / 2)
        ),
    })


# ---------------------------------------------------------------------------
# Rotated lat-lon (the UKCP18 / regional-climate grid; GRIB2 template
# 3.1) — the rotation-matrix construction in sources/grib2.py
# (rotated_to_true/true_to_rotated, invariants pinned in
# tests/test_grib2.py) re-expressed as JVM column transforms with the
# SAME formula shape, column-vs-numpy parity-tested.


def rotated_to_lonlat(
    df, lon_r, lat_r, sp_lat: float, sp_lon: float,
    out_lon: str = "lon", out_lat: str = "lat",
):
    """Rotated-pole coordinates -> true WGS84 degrees: explicit
    Ry(90-np_lat) then Rz(np_lon) rotation product on the unit sphere
    (with the 180-degree pre-rotation that puts rotated (0,0) on the
    domain, not its antipode) — mirrors grib2.rotated_to_true."""
    np_lat = -sp_lat
    np_lon = sp_lon - 180.0
    theta = math.radians(90.0 - np_lat)
    lam_p = math.radians(np_lon)
    d = df.withColumns({
        "_phi": F.radians(lat_r), "_lam": F.radians(lon_r),
    })
    d = d.withColumns({
        "_x": -F.cos("_phi") * F.cos("_lam"),
        "_y": -F.cos("_phi") * F.sin("_lam"),
        "_z": F.sin("_phi"),
    })
    d = d.withColumns({
        "_x1": F.col("_x") * F.lit(math.cos(theta))
        + F.col("_z") * F.lit(math.sin(theta)),
        "_z1": -F.col("_x") * F.lit(math.sin(theta))
        + F.col("_z") * F.lit(math.cos(theta)),
    })
    d = d.withColumns({
        "_x2": F.col("_x1") * F.lit(math.cos(lam_p))
        - F.col("_y") * F.lit(math.sin(lam_p)),
        "_y2": F.col("_x1") * F.lit(math.sin(lam_p))
        + F.col("_y") * F.lit(math.cos(lam_p)),
    })
    d = d.withColumns({
        out_lat: F.degrees(F.asin(
            F.least(F.greatest(F.col("_z1"), F.lit(-1.0)), F.lit(1.0))
        )),
        out_lon: F.degrees(F.atan2(F.col("_y2"), F.col("_x2"))),
    })
    return d.drop("_phi", "_lam", "_x", "_y", "_z", "_x1", "_z1",
                  "_x2", "_y2")


def lonlat_to_rotated(
    df, lon, lat, sp_lat: float, sp_lon: float,
    out_lon: str = "lon_r", out_lat: str = "lat_r",
):
    """True WGS84 degrees -> rotated-pole coordinates (transpose
    rotations, reverse order) — mirrors grib2.true_to_rotated."""
    np_lat = -sp_lat
    np_lon = sp_lon - 180.0
    theta = math.radians(90.0 - np_lat)
    lam_p = math.radians(np_lon)
    d = df.withColumns({
        "_phi": F.radians(lat), "_lam": F.radians(lon),
    })
    d = d.withColumns({
        "_x": F.cos("_phi") * F.cos("_lam"),
        "_y": F.cos("_phi") * F.sin("_lam"),
        "_z": F.sin("_phi"),
    })
    d = d.withColumns({
        "_x1": F.col("_x") * F.lit(math.cos(lam_p))
        + F.col("_y") * F.lit(math.sin(lam_p)),
        "_y1": -F.col("_x") * F.lit(math.sin(lam_p))
        + F.col("_y") * F.lit(math.cos(lam_p)),
    })
    d = d.withColumns({
        "_x2": F.col("_x1") * F.lit(math.cos(theta))
        - F.col("_z") * F.lit(math.sin(theta)),
        "_z2": F.col("_x1") * F.lit(math.sin(theta))
        + F.col("_z") * F.lit(math.cos(theta)),
    })
    d = d.withColumns({
        out_lat: F.degrees(F.asin(
            F.least(F.greatest(F.col("_z2"), F.lit(-1.0)), F.lit(1.0))
        )),
        out_lon: F.degrees(F.atan2(-F.col("_y1"), -F.col("_x2"))),
    })
    return d.drop("_phi", "_lam", "_x", "_y", "_z", "_x1", "_y1",
                  "_x2", "_z2")


def haversine_m(lat1, lon1, lat2, lon2, R: float = 6371000.0) -> Column:
    """Great-circle distance in metres between two lon/lat column
    pairs (haversine form — numerically stable for small separations
    where the spherical law of cosines loses precision).  Built-in JVM
    expressions; the geo engine's nearest-station / within-radius
    primitive.

    ACCURACY BOUND (spherical model): vs the true WGS84 geodesic the
    sphere is off by at most the flattening effect, |err| <= 0.562% of
    the distance — the worst case is a short meridian arc at the
    equator, ratio R/(a(1-e^2)) - 1 = 0.5613%, asserted by Hypothesis
    fuzz in tests/test_crs.py.  That
    is immaterial for banding/radius pre-filters (pad the radius by
    1%); for survey-grade distances use
    :func:`ellipsoidal_distance_udf` (Vincenty, sub-mm)."""
    lat1 = F.col(lat1) if isinstance(lat1, str) else lat1
    lon1 = F.col(lon1) if isinstance(lon1, str) else lon1
    lat2 = F.col(lat2) if isinstance(lat2, str) else lat2
    lon2 = F.col(lon2) if isinstance(lon2, str) else lon2
    dphi = F.radians(lat2 - lat1) / 2
    dlam = F.radians(lon2 - lon1) / 2
    a = (
        F.sin(dphi) * F.sin(dphi)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
        * F.sin(dlam) * F.sin(dlam)
    )
    return F.lit(2.0 * R) * F.asin(F.sqrt(
        F.least(F.greatest(a, F.lit(0.0)), F.lit(1.0))
    ))


def bearing_deg(lat1, lon1, lat2, lon2) -> Column:
    """Initial great-circle bearing (forward azimuth) in degrees from
    point 1 toward point 2, in [-180, 180] (atan2 convention):
    theta = atan2(sin dlam cos phi2, cos phi1 sin phi2 - sin phi1
    cos phi2 cos dlam)."""
    lat1 = F.col(lat1) if isinstance(lat1, str) else lat1
    lon1 = F.col(lon1) if isinstance(lon1, str) else lon1
    lat2 = F.col(lat2) if isinstance(lat2, str) else lat2
    lon2 = F.col(lon2) if isinstance(lon2, str) else lon2
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dl = F.radians(lon2 - lon1)
    return F.degrees(F.atan2(
        F.sin(dl) * F.cos(p2),
        F.cos(p1) * F.sin(p2) - F.sin(p1) * F.cos(p2) * F.cos(dl),
    ))


def destination_point(lat, lon, bearing, dist_m,
                      R: float = 6371000.0) -> Column:
    """Great-circle destination: travel ``dist_m`` metres from
    (lat, lon) along the initial ``bearing`` (degrees) -> struct
    (lat, lon) degrees.  The spherical direct-geodesic formulas:
    phi2 = asin(sin phi cos d + cos phi sin d cos theta).

    ACCURACY BOUND (spherical model): the destination lands within
    ~0.562% of dist_m of the true WGS84 geodesic endpoint (same
    flattening bound as :func:`haversine_m`) — fine for tiling,
    banding, and synthetic-grid construction; not for navigation."""
    p1 = F.radians(lat)
    th = F.radians(bearing)
    d = dist_m / F.lit(R)
    sp2 = F.sin(p1) * F.cos(d) + F.cos(p1) * F.sin(d) * F.cos(th)
    p2 = F.asin(F.least(F.greatest(sp2, F.lit(-1.0)), F.lit(1.0)))
    l2 = F.radians(lon) + F.atan2(
        F.sin(th) * F.sin(d) * F.cos(p1),
        F.cos(d) - F.sin(p1) * sp2,
    )
    return F.struct(
        F.degrees(p2).alias("lat"),
        # wrap to (-180, 180]
        (F.pmod(F.degrees(l2) + F.lit(180.0), F.lit(360.0))
         - F.lit(180.0)).alias("lon"),
    )



def _attr_scalar(attrs: dict, name: str) -> float:
    """One WRF global attribute as a python float (wrfout writers store
    scalars as 1-element arrays); NAMED error when absent."""
    v = attrs.get(name)
    if v is None:
        raise ValueError(
            f"WRF global attribute {name} is missing — not a "
            "wrfout projection block?"
        )
    return float(np.atleast_1d(np.asarray(v))[0])


def wrf_lcc_params(attrs: dict) -> dict:
    """WRF GLOBAL attributes (the projection block every wrfout file
    carries: ``MAP_PROJ``, ``TRUELAT1``, ``TRUELAT2``, ``MOAD_CEN_LAT``,
    ``STAND_LON``) -> the keyword arguments of :func:`lonlat_to_lcc` /
    :func:`lcc_to_lonlat` for the model's NATIVE grid — the projection
    a WRF user most often reprojects to (the reference reaches it via
    pyproj proj-strings).  WRF runs on a spherical earth of radius
    6 370 000 m.  Raises a NAMED error for non-LCC ``MAP_PROJ`` values
    (2 polar stereographic, 3 Mercator, 6 lat-lon) or missing attrs."""
    def scalar(name):
        return _attr_scalar(attrs, name)

    mp = int(scalar("MAP_PROJ"))
    if mp != 1:
        raise ValueError(
            f"MAP_PROJ={mp} is not Lambert conformal (1): polar "
            "stereographic (2) / Mercator (3) / lat-lon (6) grids "
            "need their own transform"
        )
    return {
        "lat1d": scalar("TRUELAT1"),
        "lat2d": scalar("TRUELAT2"),
        "lat0d": scalar("MOAD_CEN_LAT"),
        "lon0d": scalar("STAND_LON"),
        "R": WRF_SPHERE_R,
    }


def wrf_projection(attrs: dict):
    """(forward, inverse) column-transform pair for a wrfout file's
    NATIVE projection, dispatched on ``MAP_PROJ``: 1 Lambert conformal,
    2 polar stereographic (true at TRUELAT1, pole by its sign),
    3 Mercator (true at TRUELAT1), 6 lat-lon identity.  Call as
    ``fwd(df, lon, lat, out_x=..., out_y=...)`` and ``inv(df, x, y,
    out_lon=..., out_lat=...)``.  Named error otherwise."""
    import functools

    def scalar(name):
        return _attr_scalar(attrs, name)

    mp = int(scalar("MAP_PROJ"))
    if mp == 1:
        p = wrf_lcc_params(attrs)
        # uniform out-column defaults across all MAP_PROJ branches
        # (call-site kwargs still override partial kwargs)
        return (
            functools.partial(lonlat_to_lcc, **p, out_x="x", out_y="y"),
            functools.partial(lcc_to_lonlat, **p),
        )
    if mp == 2:
        kw = {"lat_ts": scalar("TRUELAT1"),
              "lon0d": scalar("STAND_LON"), "R": WRF_SPHERE_R}
        return (
            functools.partial(lonlat_to_stere, **kw),
            functools.partial(stere_to_lonlat, **kw),
        )
    if mp == 3:
        kw = {"lat_ts": scalar("TRUELAT1"),
              "lon0d": scalar("STAND_LON"), "R": WRF_SPHERE_R}
        return (
            functools.partial(lonlat_to_mercator, **kw),
            functools.partial(mercator_to_lonlat, **kw),
        )
    if mp == 6:

        def _fwd(df, lon, lat, out_x="x", out_y="y", **_):
            lon = F.col(lon) if isinstance(lon, str) else lon
            lat = F.col(lat) if isinstance(lat, str) else lat
            return df.withColumns({out_x: lon * 1.0, out_y: lat * 1.0})

        def _inv(df, x, y, out_lon="lon", out_lat="lat", **_):
            x = F.col(x) if isinstance(x, str) else x
            y = F.col(y) if isinstance(y, str) else y
            return df.withColumns({out_lon: x * 1.0, out_lat: y * 1.0})

        return _fwd, _inv
    raise ValueError(
        f"MAP_PROJ={mp} is not a WRF projection this engine knows "
        "(1 LCC, 2 polar stereographic, 3 Mercator, 6 lat-lon)"
    )


def _wrf_grid_geometry(attrs: dict) -> tuple[float, float, float, float, int, int]:
    """(dx, dy, cen_lon, cen_lat, nx, ny) from a wrfout global-attr
    block — nx/ny are MASS-point counts (the staggered
    ``*_GRID_DIMENSION`` attrs minus one, the wrf-python convention)."""
    return (
        _attr_scalar(attrs, "DX"), _attr_scalar(attrs, "DY"),
        _attr_scalar(attrs, "CEN_LON"), _attr_scalar(attrs, "CEN_LAT"),
        int(_attr_scalar(attrs, "WEST-EAST_GRID_DIMENSION")) - 1,
        int(_attr_scalar(attrs, "SOUTH-NORTH_GRID_DIMENSION")) - 1,
    )


def wrf_ll_to_xy(
    attrs: dict, df, lon, lat, out_i: str = "i", out_j: str = "j"
):
    """wrf-python ``ll_to_xy``: fractional 0-based mass-grid indices
    (i west-east, j south-north) for WGS84 ``lon``/``lat`` columns,
    from a wrfout global-attribute block — project through the file's
    native projection (``wrf_projection``), then index-normalize
    around the projected domain center:

        i = (x - x_center) / DX + (nx - 1) / 2

    The center projection is embedded as a LITERAL-input branch of
    the same column expression, so the whole transform stays one lazy
    JVM projection — no driver-side evaluation, no job at
    construction.  Callers snap to cells with ``F.round``."""
    fwd, _ = wrf_projection(attrs)
    dx, dy, cen_lon, cen_lat, nx, ny = _wrf_grid_geometry(attrs)
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    d = fwd(df, lon, lat, out_x="_px", out_y="_py")
    d = fwd(d, F.lit(cen_lon), F.lit(cen_lat), out_x="_cx", out_y="_cy")
    return d.withColumns({
        out_i: (F.col("_px") - F.col("_cx")) / F.lit(dx)
        + F.lit((nx - 1) / 2.0),
        out_j: (F.col("_py") - F.col("_cy")) / F.lit(dy)
        + F.lit((ny - 1) / 2.0),
    }).drop("_px", "_py", "_cx", "_cy")


def wrf_xy_to_ll(
    attrs: dict, df, i, j, out_lon: str = "lon", out_lat: str = "lat"
):
    """wrf-python ``xy_to_ll``: WGS84 lon/lat for fractional 0-based
    mass-grid index columns — the exact inverse composition of
    :func:`wrf_ll_to_xy` (projected center from the same literal
    branch, then the native projection's inverse)."""
    fwd, inv = wrf_projection(attrs)
    dx, dy, cen_lon, cen_lat, nx, ny = _wrf_grid_geometry(attrs)
    i = F.col(i) if isinstance(i, str) else i
    j = F.col(j) if isinstance(j, str) else j
    d = fwd(df, F.lit(cen_lon), F.lit(cen_lat), out_x="_cx", out_y="_cy")
    d = d.withColumns({
        "_gx": (i - F.lit((nx - 1) / 2.0)) * F.lit(dx) + F.col("_cx"),
        "_gy": (j - F.lit((ny - 1) / 2.0)) * F.lit(dy) + F.col("_cy"),
    })
    d = inv(
        d, F.col("_gx"), F.col("_gy"), out_lon=out_lon, out_lat=out_lat
    )
    return d.drop("_gx", "_gy", "_cx", "_cy")


def _wrf_fwd_scalar(attrs: dict, lon: float, lat: float) -> tuple[float, float]:
    """Scalar (plain ``math``) twin of the ``wrf_projection`` FORWARD
    branches, mirroring each column transform's formula line by line
    — Snyder 15-1/15-2 (LCC), the polar-stereographic pole-sign form,
    7-1/7-2 (Mercator), identity (lat-lon)."""
    mp = int(_attr_scalar(attrs, "MAP_PROJ"))
    if mp == 1:
        p = wrf_lcc_params(attrs)
        n, F_, rho0 = lcc_constants(
            p["lat1d"], p["lat2d"], p["lat0d"], p["R"]
        )
        phi = math.radians(lat)
        dl = math.fmod(
            math.radians(lon - p["lon0d"]) + math.pi, 2.0 * math.pi
        )
        if dl < 0.0:
            dl += 2.0 * math.pi
        dl -= math.pi
        rho = p["R"] * F_ / math.tan(math.pi / 4 + phi / 2) ** n
        return rho * math.sin(n * dl), rho0 - rho * math.cos(n * dl)
    if mp == 2:
        lat_ts = _attr_scalar(attrs, "TRUELAT1")
        lon0d = _attr_scalar(attrs, "STAND_LON")
        sgn = -1.0 if lat_ts < 0 else 1.0
        k0 = (1.0 + math.sin(math.radians(abs(lat_ts)))) / 2.0
        phi = math.radians(lat) * sgn
        dl = math.radians(lon - lon0d) * sgn
        rho = 2.0 * WRF_SPHERE_R * k0 * math.tan(math.pi / 4 - phi / 2)
        return rho * math.sin(dl) * sgn, -rho * math.cos(dl) * sgn
    if mp == 3:
        lat_ts = _attr_scalar(attrs, "TRUELAT1")
        lon0d = _attr_scalar(attrs, "STAND_LON")
        rk = WRF_SPHERE_R * math.cos(math.radians(lat_ts))
        return (
            rk * math.radians(lon - lon0d),
            rk * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2)),
        )
    if mp == 6:
        return float(lon), float(lat)
    raise ValueError(
        f"MAP_PROJ={mp} is not a WRF projection this engine knows "
        "(1 LCC, 2 polar stereographic, 3 Mercator, 6 lat-lon)"
    )


def wrf_ll_to_xy_scalar(
    attrs: dict, lon: float, lat: float
) -> tuple[float, float]:
    """Driver-side SCALAR :func:`wrf_ll_to_xy`: fractional 0-based
    mass-grid (i, j) for ONE WGS84 point, from a wrfout attribute
    block — the endpoint-resolution twin the cross-section front
    doors use (wrf-python's ``to_xy_coords`` step for lat/lon
    ``CoordPair`` start/end), so resolving two endpoints never runs a
    Spark job.  Same MAP_PROJ dispatch and center-normalized index
    arithmetic as the column transform."""
    dx, dy, cen_lon, cen_lat, nx, ny = _wrf_grid_geometry(attrs)
    px, py = _wrf_fwd_scalar(attrs, lon, lat)
    cx, cy = _wrf_fwd_scalar(attrs, cen_lon, cen_lat)
    return (
        (px - cx) / dx + (nx - 1) / 2.0,
        (py - cy) / dy + (ny - 1) / 2.0,
    )


# ---------------------------------------------------------------------------
# EPSG front door — the reference's API shape is gdf.to_crs("EPSG:27700")
# (wrf_voronoi.py:188, one string into pyproj's any-EPSG surface).  The
# engine's counterpart dispatches an EPSG code to the implemented column
# transforms and FAILS NAMED for anything else (never a silent wrong
# projection): 4326 identity, 3857 Web Mercator, 27700 OSGB National
# Grid, 32601-32660 / 32701-32760 UTM WGS84 north/south.


def _epsg_code(crs: str | int) -> int:
    s = str(crs).strip().upper()
    if s.startswith("EPSG:"):
        s = s[5:]
    if not s.isdigit():
        raise ValueError(f"unsupported CRS {crs!r}: expected an EPSG code")
    return int(s)


def to_crs(df, crs: str | int, lon="lon", lat="lat",
           out_x: str = "x", out_y: str = "y"):
    """Project WGS84 ``lon``/``lat`` columns to ``crs`` (an EPSG code),
    appending ``out_x``/``out_y`` metre columns (degrees for 4326) —
    the engine's counterpart of the reference's ``to_crs``.  Built-in
    JVM expressions throughout; raises a NAMED error for EPSG codes
    outside the implemented set."""
    code = _epsg_code(crs)
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    if code == 4326:
        return df.withColumns({out_x: lon * 1.0, out_y: lat * 1.0})
    if code == 3857:
        return df.withColumns({
            out_x: lonlat_to_webmercator_x(lon),
            out_y: lonlat_to_webmercator_y(lat),
        })
    if code == 27700:
        return lonlat_to_osgb(df, lon, lat, out_e=out_x, out_n=out_y)
    if 32601 <= code <= 32660:
        return lonlat_to_utm(df, lon, lat, code - 32600,
                             out_e=out_x, out_n=out_y)
    if 32701 <= code <= 32760:
        return lonlat_to_utm(df, lon, lat, code - 32700, south=True,
                             out_e=out_x, out_n=out_y)
    if code == 3035:
        # ETRS89-extended / LAEA Europe (ETRS89 == WGS84 to < 1 m; the
        # standard European equal-area climate/statistics grid CRS)
        return lonlat_to_laea(df, lon, lat, 52.0, 10.0,
                              false_easting=4321000.0,
                              false_northing=3210000.0,
                              out_x=out_x, out_y=out_y)
    if code == 5070:
        # NAD83 / Conus Albers (NAD83 == WGS84 to ~1-2 m; GRS80)
        return lonlat_to_albers(df, lon, lat, 29.5, 45.5, 23.0, -96.0,
                                out_x=out_x, out_y=out_y)
    if code == 6933:
        # WGS84 / NSIDC EASE-Grid 2.0 Global (cylindrical equal-area,
        # lat_ts = 30 — the polar/global gridded-satellite-data CRS)
        return lonlat_to_cea(df, lon, lat, 30.0,
                             a=WGS_A, e2=WGS_F * (2.0 - WGS_F),
                             out_x=out_x, out_y=out_y)
    raise ValueError(
        f"EPSG:{code} is not implemented: supported are 4326, 3857 "
        "(Web Mercator), 27700 (OSGB National Grid), 32601-32660 / "
        "32701-32760 (UTM WGS84), 3035 (LAEA Europe), 5070 (Conus "
        "Albers), 6933 (EASE-Grid 2.0) — or use lonlat_to_lcc / lonlat_to_lcc2sp / "
        "lonlat_to_tm / lonlat_to_laea / lonlat_to_albers with "
        "explicit parameters"
    )


def from_crs(df, crs: str | int, x="x", y="y",
             out_lon: str = "lon", out_lat: str = "lat"):
    """Inverse of :func:`to_crs`: projected columns -> WGS84 lon/lat.
    EPSG:27700's inverse runs through the Arrow-vectorized chain (the
    exact Helmert inverse is iterative; see osgb_to_lonlat_numpy)."""
    code = _epsg_code(crs)
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    if code == 4326:
        return df.withColumns({out_lon: x * 1.0, out_lat: y * 1.0})
    if code == 3857:
        return df.withColumns({
            out_lon: webmercator_to_lon(x),
            out_lat: webmercator_to_lat(y),
        })
    if code == 27700:
        inv = osgb_inverse_pandas_udf()
        d = df.withColumn("_ll", inv(x, y))
        return d.withColumns({
            out_lon: F.col("_ll.lon"), out_lat: F.col("_ll.lat"),
        }).drop("_ll")
    if 32601 <= code <= 32660:
        return utm_to_lonlat(df, x, y, code - 32600,
                             out_lon=out_lon, out_lat=out_lat)
    if 32701 <= code <= 32760:
        return utm_to_lonlat(df, x, y, code - 32700, south=True,
                             out_lon=out_lon, out_lat=out_lat)
    if code == 3035:
        return laea_to_lonlat(df, x, y, 52.0, 10.0,
                              false_easting=4321000.0,
                              false_northing=3210000.0,
                              out_lon=out_lon, out_lat=out_lat)
    if code == 5070:
        return albers_to_lonlat(df, x, y, 29.5, 45.5, 23.0, -96.0,
                                out_lon=out_lon, out_lat=out_lat)
    if code == 6933:
        return cea_to_lonlat(df, x, y, 30.0,
                             a=WGS_A, e2=WGS_F * (2.0 - WGS_F),
                             out_lon=out_lon, out_lat=out_lat)
    raise ValueError(
        f"EPSG:{code} is not implemented: supported are 4326, 3857, "
        "27700, 32601-32660 / 32701-32760, 3035, 5070, 6933"
    )


# ---------------------------------------------------------------------------
# Equal-area projections (SURVEY.md §2 G8; the scientifically right CRS
# family for conservative-regrid weights — the reference computes its A4
# weights as planar areas in grid-CRS units, degrees^2 on EPSG:4326
# (delphine/regrid.py:261-262), which distorts them with latitude).
#
# Lambert azimuthal equal-area (Snyder, "Map Projections — A Working
# Manual", USGS PP 1395, ch. 24 ellipsoidal case: eqs. 24-17..24-20 with
# 3-11/3-12/14-15; inverse 24-26..24-29 with the authalic series 3-18)
# and Albers equal-area conic (ch. 14: eqs. 14-1..14-8; inverse
# 14-19..14-21 + 3-18).  Both are built on the AUTHALIC latitude: q(phi)
# integrates the ellipsoid's area element, so q is also the engine's
# closed-form for exact ellipsoidal cell areas (ellipsoid_box_area_m2).
#
# Pinned to published numbers in tests/test_crs.py: the EPSG Guidance
# Note 7-2 ETRS89-LAEA worked example (50N 5E -> 3962799.45 E,
# 2999718.85 N) and Snyder's ellipsoidal worked examples for both
# projections (LAEA pp. 332-333: (30N,110W) -> -965932.1, -1056814.9;
# Albers: (35N,75W) -> 1885472.7, 1535925.0).

GRS80_A = 6378137.0
GRS80_F = 1.0 / 298.257222101
GRS80_E2 = GRS80_F * (2.0 - GRS80_F)


def _authalic_q_float(sinphi: float, e: float, e2: float) -> float:
    """Snyder eq. 3-12 as a Python float (constant precomputation):
    q = (1-e^2)[ s/(1-e^2 s^2) - (1/2e) ln((1-es)/(1+es)) ].
    At e = 0 (spherical earth — the common GRIB2 shape) the limit is
    q = 2 s, which makes every authalic-based projection reduce
    EXACTLY to its Snyder spherical form (beta = phi, Rq = R,
    D = 1)."""
    if e == 0.0:
        return 2.0 * sinphi
    return (1.0 - e2) * (
        sinphi / (1.0 - e2 * sinphi * sinphi)
        - (1.0 / (2.0 * e))
        * math.log((1.0 - e * sinphi) / (1.0 + e * sinphi))
    )


def _authalic_q_col(sinphi: Column, e: float, e2: float) -> Column:
    """Column twin of :func:`_authalic_q_float` — same literal layout so
    a DuckDB oracle restating the formula agrees to the last few ulps.
    The e = 0 spherical limit (q = 2 s) is a separate branch like the
    float/numpy twins (the general form divides by e)."""
    if e == 0.0:
        return F.lit(2.0) * sinphi
    return F.lit(1.0 - e2) * (
        sinphi / (F.lit(1.0) - F.lit(e2) * sinphi * sinphi)
        - F.lit(1.0 / (2.0 * e))
        * F.log(
            (F.lit(1.0) - F.lit(e) * sinphi)
            / (F.lit(1.0) + F.lit(e) * sinphi)
        )
    )


def _authalic_q_np(s, e: float, e2: float):
    """Numpy twin of :func:`_authalic_q_float` over a sin(phi) array —
    the one copy every *_forward_numpy shares."""
    if e2 == 0.0:
        return 2.0 * s
    return (1.0 - e2) * (
        s / (1.0 - e2 * s * s)
        - (1.0 / (2.0 * e)) * np.log((1.0 - e * s) / (1.0 + e * s))
    )


def authalic_series_coeffs(e2: float) -> tuple[float, float, float]:
    """Snyder eq. 3-18 coefficients: geodetic latitude from authalic,
    phi = beta + c2 sin(2 beta) + c4 sin(4 beta) + c6 sin(6 beta)."""
    e4 = e2 * e2
    e6 = e4 * e2
    return (
        e2 / 3.0 + 31.0 * e4 / 180.0 + 517.0 * e6 / 5040.0,
        23.0 * e4 / 360.0 + 251.0 * e6 / 3780.0,
        761.0 * e6 / 45360.0,
    )


def laea_constants(lat0d: float, a: float = GRS80_A,
                   e2: float = GRS80_E2) -> dict:
    """Precomputed ellipsoidal-LAEA constants (Snyder 24-20, 3-11..13,
    14-15) shared by the column transforms, the numpy twins, and the
    SQL oracle builders — identical literals everywhere."""
    e = math.sqrt(e2)
    phi1 = math.radians(lat0d)
    qp = _authalic_q_float(1.0, e, e2)
    q1 = _authalic_q_float(math.sin(phi1), e, e2)
    beta1 = math.asin(q1 / qp)
    rq = a * math.sqrt(qp / 2.0)
    m1 = math.cos(phi1) / math.sqrt(1.0 - e2 * math.sin(phi1) ** 2)
    d = a * m1 / (rq * math.cos(beta1))
    return {
        "e": e, "e2": e2, "qp": qp, "rq": rq, "d": d,
        "sinb1": math.sin(beta1), "cosb1": math.cos(beta1),
    }


def lonlat_to_laea(
    df,
    lon,
    lat,
    lat0d: float,
    lon0d: float,
    a: float = GRS80_A,
    e2: float = GRS80_E2,
    false_easting: float = 0.0,
    false_northing: float = 0.0,
    out_x: str = "laea_x",
    out_y: str = "laea_y",
):
    """Append ellipsoidal Lambert-azimuthal-equal-area metre columns
    (Snyder eqs. 24-17/24-18): B = Rq sqrt(2/(1 + sin b1 sin b +
    cos b1 cos b cos dl)), x = B D cos b sin dl, y = (B/D)(cos b1 sin b
    - sin b1 cos b cos dl) — with dl wrapped to (-pi, pi]."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    k = laea_constants(lat0d, a, e2)
    d = df.withColumns({
        "_s": F.sin(F.radians(lat)),
        "_dl": F.pmod(
            F.radians(lon - F.lit(lon0d)) + F.lit(math.pi),
            F.lit(2.0 * math.pi),
        ) - F.lit(math.pi),
    })
    d = d.withColumn(
        "_beta",
        F.asin(
            F.greatest(
                F.lit(-1.0),
                F.least(
                    F.lit(1.0),
                    _authalic_q_col(F.col("_s"), k["e"], k["e2"])
                    / F.lit(k["qp"]),
                ),
            )
        ),
    )
    d = d.withColumns({
        "_sb": F.sin(F.col("_beta")),
        "_cb": F.cos(F.col("_beta")),
        "_cdl": F.cos(F.col("_dl")),
    })
    d = d.withColumn(
        "_B",
        F.lit(k["rq"]) * F.sqrt(
            F.lit(2.0)
            / (F.lit(1.0) + F.lit(k["sinb1"]) * F.col("_sb")
               + F.lit(k["cosb1"]) * F.col("_cb") * F.col("_cdl"))
        ),
    )
    d = d.withColumns({
        out_x: F.col("_B") * F.lit(k["d"]) * F.col("_cb")
        * F.sin(F.col("_dl")) + F.lit(false_easting),
        out_y: (F.col("_B") / F.lit(k["d"]))
        * (F.lit(k["cosb1"]) * F.col("_sb")
           - F.lit(k["sinb1"]) * F.col("_cb") * F.col("_cdl"))
        + F.lit(false_northing),
    })
    return d.drop("_s", "_dl", "_beta", "_sb", "_cb", "_cdl", "_B")


def laea_to_lonlat(
    df,
    x,
    y,
    lat0d: float,
    lon0d: float,
    a: float = GRS80_A,
    e2: float = GRS80_E2,
    false_easting: float = 0.0,
    false_northing: float = 0.0,
    out_lon: str = "lon",
    out_lat: str = "lat",
):
    """Inverse ellipsoidal LAEA (Snyder eqs. 24-26..24-29): metre
    columns -> WGS84/ETRS89 degree columns, geodetic latitude from the
    authalic via the closed series 3-18 (error O(e^8), micrometres —
    no iteration in the plan).  The projection-origin point (rho = 0)
    is handled explicitly."""
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    k = laea_constants(lat0d, a, e2)
    c2, c4, c6 = authalic_series_coeffs(e2)
    d = df.withColumns({
        "_xs": x - F.lit(false_easting),
        "_ys": y - F.lit(false_northing),
    })
    d = d.withColumn(
        "_rho",
        F.sqrt(
            (F.col("_xs") / F.lit(k["d"])) * (F.col("_xs") / F.lit(k["d"]))
            + (F.lit(k["d"]) * F.col("_ys"))
            * (F.lit(k["d"]) * F.col("_ys"))
        ),
    )
    d = d.withColumn(
        "_ce", F.lit(2.0) * F.asin(F.col("_rho") / F.lit(2.0 * k["rq"]))
    )
    d = d.withColumn(
        "_q",
        F.when(F.col("_rho") == 0.0, F.lit(k["qp"] * k["sinb1"])).otherwise(
            F.lit(k["qp"])
            * (F.cos(F.col("_ce")) * F.lit(k["sinb1"])
               + F.lit(k["d"]) * F.col("_ys") * F.sin(F.col("_ce"))
               * F.lit(k["cosb1"]) / F.col("_rho"))
        ),
    )
    d = d.withColumn(
        "_bt",
        F.asin(F.greatest(F.lit(-1.0),
                          F.least(F.lit(1.0), F.col("_q") / F.lit(k["qp"])))),
    )
    d = d.withColumns({
        out_lat: F.degrees(
            F.col("_bt")
            + F.lit(c2) * F.sin(F.lit(2.0) * F.col("_bt"))
            + F.lit(c4) * F.sin(F.lit(4.0) * F.col("_bt"))
            + F.lit(c6) * F.sin(F.lit(6.0) * F.col("_bt"))
        ),
        out_lon: F.lit(lon0d) + F.degrees(
            F.when(F.col("_rho") == 0.0, F.lit(0.0)).otherwise(
                F.atan2(
                    F.col("_xs") * F.sin(F.col("_ce")),
                    F.lit(k["d"]) * F.col("_rho") * F.lit(k["cosb1"])
                    * F.cos(F.col("_ce"))
                    - F.lit(k["d"] ** 2) * F.col("_ys")
                    * F.lit(k["sinb1"]) * F.sin(F.col("_ce")),
                )
            )
        ),
    })
    return d.drop("_xs", "_ys", "_rho", "_ce", "_q", "_bt")


def laea_forward_numpy(lon, lat, lat0d, lon0d, a=GRS80_A, e2=GRS80_E2,
                       fe=0.0, fn=0.0):
    """Numpy twin of :func:`lonlat_to_laea` (same constants kernel)."""
    k = laea_constants(lat0d, a, e2)
    phi = np.radians(np.asarray(lat, "float64"))
    dl = np.radians(np.asarray(lon, "float64") - lon0d)
    dl = np.mod(dl + np.pi, 2.0 * np.pi) - np.pi
    s = np.sin(phi)
    q = _authalic_q_np(s, k["e"], e2)
    # clamp: a last-ulp q/qp > 1 at the pole must not go NaN (the
    # inverses clamp the same ratio)
    beta = np.arcsin(np.clip(q / k["qp"], -1.0, 1.0))
    B = k["rq"] * np.sqrt(
        2.0 / (1.0 + k["sinb1"] * np.sin(beta)
               + k["cosb1"] * np.cos(beta) * np.cos(dl))
    )
    x = B * k["d"] * np.cos(beta) * np.sin(dl) + fe
    y = (B / k["d"]) * (k["cosb1"] * np.sin(beta)
                        - k["sinb1"] * np.cos(beta) * np.cos(dl)) + fn
    return x, y


def laea_inverse_numpy(x, y, lat0d, lon0d, a=GRS80_A, e2=GRS80_E2,
                       fe=0.0, fn=0.0):
    """Numpy twin of :func:`laea_to_lonlat`."""
    k = laea_constants(lat0d, a, e2)
    c2, c4, c6 = authalic_series_coeffs(e2)
    xs = np.asarray(x, "float64") - fe
    ys = np.asarray(y, "float64") - fn
    rho = np.sqrt((xs / k["d"]) ** 2 + (k["d"] * ys) ** 2)
    ce = 2.0 * np.arcsin(rho / (2.0 * k["rq"]))
    with np.errstate(invalid="ignore", divide="ignore"):
        q = np.where(
            rho == 0.0,
            k["qp"] * k["sinb1"],
            k["qp"] * (np.cos(ce) * k["sinb1"]
                       + k["d"] * ys * np.sin(ce) * k["cosb1"] / rho),
        )
    beta = np.arcsin(np.clip(q / k["qp"], -1.0, 1.0))
    lat_out = np.degrees(
        beta + c2 * np.sin(2 * beta) + c4 * np.sin(4 * beta)
        + c6 * np.sin(6 * beta)
    )
    lam = np.where(
        rho == 0.0,
        0.0,
        np.arctan2(
            xs * np.sin(ce),
            k["d"] * rho * k["cosb1"] * np.cos(ce)
            - k["d"] ** 2 * ys * k["sinb1"] * np.sin(ce),
        ),
    )
    return lon0d + np.degrees(lam), lat_out


def albers_constants(lat1d: float, lat2d: float, lat0d: float,
                     a: float = GRS80_A, e2: float = GRS80_E2) -> dict:
    """Ellipsoidal Albers constants (Snyder eqs. 14-5..14-8)."""
    e = math.sqrt(e2)
    p1, p2, p0 = (math.radians(v) for v in (lat1d, lat2d, lat0d))

    def m(p: float) -> float:
        return math.cos(p) / math.sqrt(1.0 - e2 * math.sin(p) ** 2)

    q1 = _authalic_q_float(math.sin(p1), e, e2)
    q2 = _authalic_q_float(math.sin(p2), e, e2)
    q0 = _authalic_q_float(math.sin(p0), e, e2)
    n = (m(p1) ** 2 - m(p2) ** 2) / (q2 - q1)
    c = m(p1) ** 2 + n * q1
    rho0 = a * math.sqrt(c - n * q0) / n
    qp = _authalic_q_float(1.0, e, e2)
    return {"e": e, "e2": e2, "n": n, "c": c, "rho0": rho0, "qp": qp}


def lonlat_to_albers(
    df,
    lon,
    lat,
    lat1d: float,
    lat2d: float,
    lat0d: float,
    lon0d: float,
    a: float = GRS80_A,
    e2: float = GRS80_E2,
    false_easting: float = 0.0,
    false_northing: float = 0.0,
    out_x: str = "albers_x",
    out_y: str = "albers_y",
):
    """Append ellipsoidal Albers-equal-area-conic metre columns (Snyder
    eqs. 14-1..14-4): rho = a sqrt(C - n q)/n, theta = n dl,
    x = rho sin theta, y = rho0 - rho cos theta."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    k = albers_constants(lat1d, lat2d, lat0d, a, e2)
    d = df.withColumns({
        "_s": F.sin(F.radians(lat)),
        "_th": F.lit(k["n"]) * (
            F.pmod(
                F.radians(lon - F.lit(lon0d)) + F.lit(math.pi),
                F.lit(2.0 * math.pi),
            ) - F.lit(math.pi)
        ),
    })
    d = d.withColumn(
        "_rho",
        F.lit(a) * F.sqrt(
            F.lit(k["c"]) - F.lit(k["n"])
            * _authalic_q_col(F.col("_s"), k["e"], k["e2"])
        ) / F.lit(k["n"]),
    )
    d = d.withColumns({
        out_x: F.col("_rho") * F.sin(F.col("_th")) + F.lit(false_easting),
        out_y: F.lit(k["rho0"] + false_northing)
        - F.col("_rho") * F.cos(F.col("_th")),
    })
    return d.drop("_s", "_th", "_rho")


def albers_to_lonlat(
    df,
    x,
    y,
    lat1d: float,
    lat2d: float,
    lat0d: float,
    lon0d: float,
    a: float = GRS80_A,
    e2: float = GRS80_E2,
    false_easting: float = 0.0,
    false_northing: float = 0.0,
    out_lon: str = "lon",
    out_lat: str = "lat",
):
    """Inverse ellipsoidal Albers (Snyder eqs. 14-19..14-21 + series
    3-18): q = (C - rho^2 n^2 / a^2)/n, theta = atan2(x, rho0 - y)
    (axes sign-flipped for a south-viewing cone, n < 0)."""
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    k = albers_constants(lat1d, lat2d, lat0d, a, e2)
    c2, c4, c6 = authalic_series_coeffs(e2)
    sgn = 1.0 if k["n"] >= 0 else -1.0
    d = df.withColumns({
        "_xs": (x - F.lit(false_easting)) * F.lit(sgn),
        "_ys": (F.lit(k["rho0"] + false_northing) - y) * F.lit(sgn),
    })
    d = d.withColumns({
        "_rho": F.sqrt(F.col("_xs") * F.col("_xs")
                       + F.col("_ys") * F.col("_ys")),
        "_th": F.atan2(F.col("_xs"), F.col("_ys")),
    })
    d = d.withColumn(
        "_q",
        (F.lit(k["c"])
         - F.col("_rho") * F.col("_rho") * F.lit(k["n"] ** 2 / (a * a)))
        / F.lit(k["n"]),
    )
    d = d.withColumn(
        "_bt",
        F.asin(F.greatest(F.lit(-1.0),
                          F.least(F.lit(1.0), F.col("_q") / F.lit(k["qp"])))),
    )
    d = d.withColumns({
        out_lat: F.degrees(
            F.col("_bt")
            + F.lit(c2) * F.sin(F.lit(2.0) * F.col("_bt"))
            + F.lit(c4) * F.sin(F.lit(4.0) * F.col("_bt"))
            + F.lit(c6) * F.sin(F.lit(6.0) * F.col("_bt"))
        ),
        out_lon: F.lit(lon0d) + F.degrees(F.col("_th") / F.lit(k["n"])),
    })
    return d.drop("_xs", "_ys", "_rho", "_th", "_q", "_bt")


def albers_forward_numpy(lon, lat, lat1d, lat2d, lat0d, lon0d,
                         a=GRS80_A, e2=GRS80_E2, fe=0.0, fn=0.0):
    """Numpy twin of :func:`lonlat_to_albers`."""
    k = albers_constants(lat1d, lat2d, lat0d, a, e2)
    phi = np.radians(np.asarray(lat, "float64"))
    dl = np.radians(np.asarray(lon, "float64") - lon0d)
    dl = np.mod(dl + np.pi, 2.0 * np.pi) - np.pi
    s = np.sin(phi)
    q = _authalic_q_np(s, k["e"], e2)
    rho = a * np.sqrt(k["c"] - k["n"] * q) / k["n"]
    th = k["n"] * dl
    return rho * np.sin(th) + fe, k["rho0"] - rho * np.cos(th) + fn


def albers_inverse_numpy(x, y, lat1d, lat2d, lat0d, lon0d,
                         a=GRS80_A, e2=GRS80_E2, fe=0.0, fn=0.0):
    """Numpy twin of :func:`albers_to_lonlat`."""
    k = albers_constants(lat1d, lat2d, lat0d, a, e2)
    c2, c4, c6 = authalic_series_coeffs(e2)
    sgn = 1.0 if k["n"] >= 0 else -1.0
    xs = (np.asarray(x, "float64") - fe) * sgn
    ys = (k["rho0"] + fn - np.asarray(y, "float64")) * sgn
    rho = np.sqrt(xs * xs + ys * ys)
    th = np.arctan2(xs, ys)
    q = (k["c"] - (rho * k["n"] / a) ** 2) / k["n"]
    beta = np.arcsin(np.clip(q / k["qp"], -1.0, 1.0))
    lat_out = np.degrees(
        beta + c2 * np.sin(2 * beta) + c4 * np.sin(4 * beta)
        + c6 * np.sin(6 * beta)
    )
    return lon0d + np.degrees(th / k["n"]), lat_out


def ellipsoid_box_area_m2(
    lon1, lat1, lon2, lat2, a: float = GRS80_A, e2: float = GRS80_E2
) -> Column:
    """EXACT ellipsoidal area (m^2) of the lon/lat-aligned box — the
    closed form behind every equal-area projection: integrating the
    ellipsoid's area element a^2 (1-e^2) cos(phi)/(1-e^2 sin^2 phi)^2
    over the box gives A = a^2 * dlam * (q(lat2) - q(lat1)) / 2 with
    Snyder's authalic q (3-12).  ADDITIVE by construction (it is a
    measure evaluated through shared boundary terms), so conservative
    regrid weights built from it conserve mass exactly — unlike the
    4-corner shoelace of a projected box, whose curved edges break
    additivity, and unlike the reference's degrees^2 planar areas
    (delphine/regrid.py:261-262), which overweight high latitudes by
    1/cos(lat)."""
    e = math.sqrt(e2)
    lon1 = F.col(lon1) if isinstance(lon1, str) else lon1
    lat1 = F.col(lat1) if isinstance(lat1, str) else lat1
    lon2 = F.col(lon2) if isinstance(lon2, str) else lon2
    lat2 = F.col(lat2) if isinstance(lat2, str) else lat2
    dq = _authalic_q_col(F.sin(F.radians(lat2)), e, e2) - _authalic_q_col(
        F.sin(F.radians(lat1)), e, e2
    )
    return F.lit(a * a / 2.0) * F.radians(lon2 - lon1) * dq


def ellipsoid_box_area_m2_float(
    lon1: float, lat1: float, lon2: float, lat2: float,
    a: float = GRS80_A, e2: float = GRS80_E2,
) -> float:
    """Python-float twin of :func:`ellipsoid_box_area_m2`."""
    e = math.sqrt(e2)
    dq = _authalic_q_float(
        math.sin(math.radians(lat2)), e, e2
    ) - _authalic_q_float(math.sin(math.radians(lat1)), e, e2)
    return a * a / 2.0 * math.radians(lon2 - lon1) * dq


def ellipsoid_polygon_area_m2(
    xs: Column, ys: Column, a: float = GRS80_A, e2: float = GRS80_E2
) -> Column:
    """Ellipsoidal area (m^2) of an ARBITRARY lon/lat polygon — the
    authalic shoelace (VERDICT r11 item 6), over two array columns
    (``xs`` lon degrees, ``ys`` lat degrees, open ring: the last edge
    closes back to vertex 0):

        A = (a^2/4) | sum_i (lam_{i+1} - lam_i) (q_i + q_{i+1}) |

    with Snyder's authalic q (eq. 3-12) at each vertex.  The trapezoid
    sum telescopes into the PLANAR SHOELACE of the vertices in the
    ellipsoidal cylindrical-equal-area plane (x = a*lam, y = a*q/2):
    sum Dlam (q_i+q_{i+1}) = sum (lam_{i+1} q_i - lam_i q_{i+1}), so
    this kernel is EXACT for any polygon whose edges are straight in
    the CEA plane — the same edge convention the project-then-overlay
    regrid (operators/regrid.conservative_regrid_to_crs) uses — and
    exactly equal to ellipsoid_box_area_m2 on lon/lat-aligned boxes
    (iso-lat edges carry the whole integral, iso-lon edges contribute
    zero).  For edges meant as geodesics it is second-order accurate
    in edge length (grid-scale cells: relative error ~ (edge/R)^2).
    Orientation-insensitive (absolute value); property tests in
    tests/test_crs.py pin the box identity, the CEA-plane identity,
    and orientation invariance."""
    e = math.sqrt(e2)
    n = F.size(xs)
    idx = F.sequence(F.lit(0), n - 1)
    q_of = lambda i: _authalic_q_col(  # noqa: E731 — local closure
        F.sin(F.radians(F.element_at(ys, i + 1))), e, e2
    )
    lam_of = lambda i: F.radians(F.element_at(xs, i + 1))  # noqa: E731
    nxt = lambda i: (i + 1) % n  # noqa: E731
    s = F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, i: acc
        + (lam_of(nxt(i)) - lam_of(i)) * (q_of(i) + q_of(nxt(i))),
    )
    # degenerate rings (< 3 vertices) have zero area by definition —
    # and without the guard n = 0 would build sequence(0, -1) =
    # [0, -1] and crash on element_at(xs, 0) (CASE branches evaluate
    # lazily, so the guarded branch never runs for them)
    return F.when(n >= 3, F.lit(a * a / 4.0) * F.abs(s)).otherwise(
        F.lit(0.0)
    )


def ellipsoid_polygon_area_m2_float(
    xs, ys, a: float = GRS80_A, e2: float = GRS80_E2
) -> float:
    """Python-float twin of :func:`ellipsoid_polygon_area_m2` (same
    accumulation order: one pass over the edges)."""
    e = math.sqrt(e2)
    n = len(xs)
    lam = [math.radians(x) for x in xs]
    q = [_authalic_q_float(math.sin(math.radians(y)), e, e2) for y in ys]
    s = 0.0
    for i in range(n):
        j = (i + 1) % n
        s += (lam[j] - lam[i]) * (q[i] + q[j])
    return a * a / 4.0 * abs(s)


# ---------------------------------------------------------------------------
# Ellipsoidal geodesic distance — Vincenty's inverse formula (T. Vincenty,
# "Direct and inverse solutions of geodesics on the ellipsoid with
# application of nested equations", Survey Review XXIII(176), 1975).
# Sub-mm on WGS84 for non-near-antipodal pairs; pinned in
# tests/test_crs.py to Vincenty's own published test line (a) on the
# Bessel ellipsoid (14110526.170 m) and to GeographicLib's documented
# JFK->LHR example (5551759.4 m).  The iteration contracts at ~f|sin a|
# per step, so a FIXED unroll converges to double precision — the same
# fixed-unroll discipline as the OSGB Helmert chain.

VINCENTY_ITERS = 8


def vincenty_numpy(lat1, lon1, lat2, lon2, a: float = WGS_A,
                   f: float = WGS_F, iters: int = VINCENTY_ITERS):
    """Vectorized Vincenty inverse: geodesic distance (m) between two
    lon/lat arrays on the (a, f) ellipsoid.  Coincident points return
    exactly 0; NEAR-ANTIPODAL pairs (where Vincenty's lambda iteration
    is known not to converge) come back with the fixed-unroll estimate
    — error can reach ~0.1% there; everywhere else sub-mm."""
    b = a * (1.0 - f)
    (_lam, _su1, _cu1, _su2, _cu2, sin_sig, cos_sig, sig,
     cos2_alpha, cos_2sigm) = _vincenty_lambda_state(
        lat1, lon1, lat2, lon2, f, iters
    )
    usq = cos2_alpha * (a * a - b * b) / (b * b)
    big_a = 1.0 + usq / 16384.0 * (
        4096.0 + usq * (-768.0 + usq * (320.0 - 175.0 * usq))
    )
    big_b = usq / 1024.0 * (256.0 + usq * (-128.0 + usq * (74.0 - 47.0 * usq)))
    dsig = big_b * sin_sig * (
        cos_2sigm + big_b / 4.0 * (
            cos_sig * (-1.0 + 2.0 * cos_2sigm ** 2)
            - big_b / 6.0 * cos_2sigm
            * (-3.0 + 4.0 * sin_sig ** 2) * (-3.0 + 4.0 * cos_2sigm ** 2)
        )
    )
    return b * big_a * (sig - dsig)


def ellipsoidal_distance_udf(a: float = WGS_A, f: float = WGS_F,
                             iters: int = VINCENTY_ITERS):
    """Arrow-vectorized pandas_udf wrapping :func:`vincenty_numpy` —
    the ellipsoidal upgrade of :func:`haversine_m` for survey-grade
    distances.  A pandas_udf (not a JVM expression) because the fixed
    unroll references each iteration's state several times: inlined
    into one Project the expression tree grows ~5^iters and the
    generated Janino unit degenerates — the same reason the OSGB
    inverse runs through Arrow (see osgb_inverse_pandas_udf)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _vincenty(lat1: pd.Series, lon1: pd.Series, lat2: pd.Series,
                  lon2: pd.Series) -> pd.Series:
        return pd.Series(
            vincenty_numpy(lat1.to_numpy(), lon1.to_numpy(),
                           lat2.to_numpy(), lon2.to_numpy(),
                           a=a, f=f, iters=iters)
        )

    return _vincenty


def cea_constants(lat_ts: float, a: float = GRS80_A,
                  e2: float = GRS80_E2) -> dict:
    """Ellipsoidal Lambert-cylindrical-equal-area constants (Snyder
    ch. 10): k0 = cos(phi_s)/sqrt(1 - e^2 sin^2 phi_s)."""
    e = math.sqrt(e2)
    ps = math.radians(lat_ts)
    k0 = math.cos(ps) / math.sqrt(1.0 - e2 * math.sin(ps) ** 2)
    return {"e": e, "e2": e2, "k0": k0,
            "qp": _authalic_q_float(1.0, e, e2)}


def lonlat_to_cea(
    df,
    lon,
    lat,
    lat_ts: float,
    lon0d: float = 0.0,
    a: float = GRS80_A,
    e2: float = GRS80_E2,
    out_x: str = "cea_x",
    out_y: str = "cea_y",
):
    """Append ellipsoidal cylindrical-equal-area metre columns (Snyder
    eqs. 10-1/10-2 ellipsoidal): x = a k0 dl, y = a q / (2 k0) — the
    projection family of NSIDC's EASE-Grid 2.0 (EPSG:6933,
    lat_ts = 30 on WGS84; the engine's k0 reproduces the published
    half-width 17,367,530.45 m at lon = 180, tests/test_crs.py)."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    k = cea_constants(lat_ts, a, e2)
    dl = F.pmod(
        F.radians(lon - F.lit(lon0d)) + F.lit(math.pi),
        F.lit(2.0 * math.pi),
    ) - F.lit(math.pi)
    q = _authalic_q_col(F.sin(F.radians(lat)), k["e"], k["e2"])
    return df.withColumns({
        out_x: F.lit(a * k["k0"]) * dl,
        out_y: F.lit(a) * q / F.lit(2.0 * k["k0"]),
    })


def cea_to_lonlat(
    df,
    x,
    y,
    lat_ts: float,
    lon0d: float = 0.0,
    a: float = GRS80_A,
    e2: float = GRS80_E2,
    out_lon: str = "lon",
    out_lat: str = "lat",
):
    """Inverse ellipsoidal CEA: q = 2 y k0 / a, geodetic latitude via
    the authalic series 3-18, lon = lon0 + x/(a k0)."""
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    k = cea_constants(lat_ts, a, e2)
    c2, c4, c6 = authalic_series_coeffs(e2)
    d = df.withColumn(
        "_bt",
        F.asin(
            F.greatest(
                F.lit(-1.0),
                F.least(
                    F.lit(1.0),
                    F.lit(2.0 * k["k0"]) * y / F.lit(a) / F.lit(k["qp"]),
                ),
            )
        ),
    )
    d = d.withColumns({
        out_lat: F.degrees(
            F.col("_bt")
            + F.lit(c2) * F.sin(F.lit(2.0) * F.col("_bt"))
            + F.lit(c4) * F.sin(F.lit(4.0) * F.col("_bt"))
            + F.lit(c6) * F.sin(F.lit(6.0) * F.col("_bt"))
        ),
        out_lon: F.lit(lon0d) + F.degrees(x / F.lit(a * k["k0"])),
    })
    return d.drop("_bt")


def cea_forward_numpy(lon, lat, lat_ts, lon0d=0.0, a=GRS80_A,
                      e2=GRS80_E2):
    """Numpy twin of :func:`lonlat_to_cea`."""
    k = cea_constants(lat_ts, a, e2)
    dl = np.radians(np.asarray(lon, "float64") - lon0d)
    dl = np.mod(dl + np.pi, 2.0 * np.pi) - np.pi
    s = np.sin(np.radians(np.asarray(lat, "float64")))
    q = _authalic_q_np(s, k["e"], e2)
    return a * k["k0"] * dl, a * q / (2.0 * k["k0"])


def cea_inverse_numpy(x, y, lat_ts, lon0d=0.0, a=GRS80_A,
                      e2=GRS80_E2):
    """Numpy twin of :func:`cea_to_lonlat`."""
    k = cea_constants(lat_ts, a, e2)
    c2, c4, c6 = authalic_series_coeffs(e2)
    beta = np.arcsin(np.clip(
        2.0 * k["k0"] * np.asarray(y, "float64") / a / k["qp"],
        -1.0, 1.0,
    ))
    lat_out = np.degrees(
        beta + c2 * np.sin(2 * beta) + c4 * np.sin(4 * beta)
        + c6 * np.sin(6 * beta)
    )
    return (lon0d
            + np.degrees(np.asarray(x, "float64") / (a * k["k0"])),
            lat_out)


def _vincenty_lambda_state(lat1, lon1, lat2, lon2, f: float,
                           iters: int):
    """The shared lambda fixed-point of Vincenty's INVERSE problem:
    returns the converged iteration state (lam, su1, cu1, su2, cu2,
    sin_sig, cos_sig, sig, cos2_alpha, cos_2sigm) that both the
    distance and the forward-azimuth outputs read — ONE kernel so the
    two can never disagree."""
    phi1 = np.radians(np.asarray(lat1, "float64"))
    phi2 = np.radians(np.asarray(lat2, "float64"))
    L = np.radians(np.asarray(lon2, "float64")
                   - np.asarray(lon1, "float64"))
    L = np.mod(L + np.pi, 2.0 * np.pi) - np.pi
    u1 = np.arctan((1.0 - f) * np.tan(phi1))
    u2a = np.arctan((1.0 - f) * np.tan(phi2))
    su1, cu1 = np.sin(u1), np.cos(u1)
    su2, cu2 = np.sin(u2a), np.cos(u2a)
    lam = L
    for _ in range(iters):
        sl, cl = np.sin(lam), np.cos(lam)
        sin_sig = np.sqrt((cu2 * sl) ** 2 + (cu1 * su2 - su1 * cu2 * cl) ** 2)
        cos_sig = su1 * su2 + cu1 * cu2 * cl
        sig = np.arctan2(sin_sig, cos_sig)
        sin_alpha = cu1 * cu2 * sl / np.where(sin_sig == 0.0, 1.0, sin_sig)
        cos2_alpha = 1.0 - sin_alpha * sin_alpha
        cos_2sigm = cos_sig - 2.0 * su1 * su2 / np.where(
            cos2_alpha == 0.0, 1.0, cos2_alpha
        )
        cos_2sigm = np.where(cos2_alpha == 0.0, 0.0, cos_2sigm)
        C = f / 16.0 * cos2_alpha * (4.0 + f * (4.0 - 3.0 * cos2_alpha))
        lam = L + (1.0 - C) * f * sin_alpha * (
            sig + C * sin_sig * (
                cos_2sigm + C * cos_sig * (-1.0 + 2.0 * cos_2sigm ** 2)
            )
        )
    return lam, su1, cu1, su2, cu2, sin_sig, cos_sig, sig, cos2_alpha, cos_2sigm


def vincenty_bearing_numpy(lat1, lon1, lat2, lon2, a: float = WGS_A,
                           f: float = WGS_F,
                           iters: int = VINCENTY_ITERS):
    """Forward azimuth (degrees, atan2 convention) of the ellipsoidal
    geodesic from point 1 to point 2 — the inverse problem's other
    output (Vincenty 1975 eq. 20), reading the SAME converged lambda
    state as the distance kernel."""
    lam, su1, cu1, su2, cu2, *_ = _vincenty_lambda_state(
        lat1, lon1, lat2, lon2, f, iters
    )
    sl, cl = np.sin(lam), np.cos(lam)
    return np.degrees(np.arctan2(cu2 * sl, cu1 * su2 - su1 * cu2 * cl))


def vincenty_direct_numpy(lat1, lon1, az1_deg, dist_m, a: float = WGS_A,
                          f: float = WGS_F, iters: int = VINCENTY_ITERS):
    """Vincenty DIRECT problem (1975 eqs. 1-11): from (lat1, lon1)
    along initial azimuth ``az1_deg`` for ``dist_m`` metres on the
    (a, f) ellipsoid -> (lon2, lat2, az2) degrees — the ellipsoidal
    upgrade of the spherical :func:`destination_point` (which carries
    the documented 0.562% flattening bound).  The sigma iteration is a
    fixed unroll like the inverse; pinned to Vincenty's own published
    test line (a) and round-tripped against the inverse in
    tests/test_crs.py."""
    b = a * (1.0 - f)
    phi1 = np.radians(np.asarray(lat1, "float64"))
    alpha1 = np.radians(np.asarray(az1_deg, "float64"))
    s = np.asarray(dist_m, "float64")
    u1 = np.arctan((1.0 - f) * np.tan(phi1))
    su1, cu1 = np.sin(u1), np.cos(u1)
    sa1, ca1 = np.sin(alpha1), np.cos(alpha1)
    sigma1 = np.arctan2(np.tan(u1), ca1)
    sin_alpha = cu1 * sa1
    cos2_alpha = 1.0 - sin_alpha * sin_alpha
    usq = cos2_alpha * (a * a - b * b) / (b * b)
    big_a = 1.0 + usq / 16384.0 * (
        4096.0 + usq * (-768.0 + usq * (320.0 - 175.0 * usq))
    )
    big_b = usq / 1024.0 * (256.0 + usq * (-128.0 + usq * (74.0 - 47.0 * usq)))
    sigma = s / (b * big_a)
    for _ in range(iters):
        cos_2sigm = np.cos(2.0 * sigma1 + sigma)
        sin_sig, cos_sig = np.sin(sigma), np.cos(sigma)
        dsig = big_b * sin_sig * (
            cos_2sigm + big_b / 4.0 * (
                cos_sig * (-1.0 + 2.0 * cos_2sigm ** 2)
                - big_b / 6.0 * cos_2sigm
                * (-3.0 + 4.0 * sin_sig ** 2) * (-3.0 + 4.0 * cos_2sigm ** 2)
            )
        )
        sigma = s / (b * big_a) + dsig
    cos_2sigm = np.cos(2.0 * sigma1 + sigma)
    sin_sig, cos_sig = np.sin(sigma), np.cos(sigma)
    phi2 = np.arctan2(
        su1 * cos_sig + cu1 * sin_sig * ca1,
        (1.0 - f) * np.sqrt(
            sin_alpha ** 2 + (su1 * sin_sig - cu1 * cos_sig * ca1) ** 2
        ),
    )
    lam = np.arctan2(sin_sig * sa1, cu1 * cos_sig - su1 * sin_sig * ca1)
    C = f / 16.0 * cos2_alpha * (4.0 + f * (4.0 - 3.0 * cos2_alpha))
    L = lam - (1.0 - C) * f * sin_alpha * (
        sigma + C * sin_sig * (
            cos_2sigm + C * cos_sig * (-1.0 + 2.0 * cos_2sigm ** 2)
        )
    )
    lon2 = np.degrees(np.radians(np.asarray(lon1, "float64")) + L)
    lon2 = np.mod(lon2 + 180.0, 360.0) - 180.0
    az2 = np.degrees(
        np.arctan2(sin_alpha, -(su1 * sin_sig - cu1 * cos_sig * ca1))
    )
    return lon2, np.degrees(phi2), az2


def ellipsoidal_destination_udf(a: float = WGS_A, f: float = WGS_F,
                                iters: int = VINCENTY_ITERS):
    """Arrow pandas_udf wrapping :func:`vincenty_direct_numpy`:
    (lat, lon, bearing_deg, dist_m) -> struct(lat, lon) — the
    survey-grade :func:`destination_point`."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<lat: double, lon: double>")
    def _direct(lat: pd.Series, lon: pd.Series, bearing: pd.Series,
                dist_m: pd.Series) -> pd.DataFrame:
        lon2, lat2, _az2 = vincenty_direct_numpy(
            lat.to_numpy(), lon.to_numpy(), bearing.to_numpy(),
            dist_m.to_numpy(), a=a, f=f, iters=iters,
        )
        return pd.DataFrame({"lat": lat2, "lon": lon2})

    return _direct
