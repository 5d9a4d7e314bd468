"""CRS transforms (SURVEY.md §2 G8, wrf_voronoi.py:188 ``.to_crs``).

pyproj is not a dependency, so the engine implements the transforms it
needs from the published formulas.

ONE FORMULA PER PROJECTION.  Each per-row formula is written once, as a
private function of a small math namespace ``m`` (``sin`` ... ``atanh``,
``sqrt``, ``log``, ``exp``, ``radians``, ``degrees``, ``pow``, ``pmod``,
``greatest``/``least``/``clip``, ``where``, ``lit`` and ``let``), and
three namespaces evaluate it:

- the COLUMN namespace (``_ColumnMath``) builds Spark built-ins, so the
  public column transforms (``lonlat_to_*``, ``*_to_lonlat``,
  ``wrf_projection``, ``ellipsoid_box_area_m2``) stay JVM-side inside
  whole-stage codegen.  ``m.let({...})`` stages named intermediates
  (``_phi``, ``_dl``, ``_rho``, ...) through ``withColumns``, so each
  stage references the previous stage's aliases and the expression tree
  stays linear in formula length; a transform drops exactly the
  temporaries it made, and a temporary whose name is already a caller
  column is staged under a free name, so caller columns pass through
  unchanged.  Column-name arguments become Columns once.
- the NUMPY namespace (``_NUMPY``) evaluates the same formula over
  float64 arrays: the ``*_forward_numpy`` / ``*_inverse_numpy`` kernels,
  the forward pandas UDFs, and the GRIB2 grid decoders (``lcc_forward``,
  ``lcc_inverse``, ``rotated_to_true``, ``true_to_rotated``).  Its
  ``let`` returns the values unchanged.
- the SCALAR namespace (``_SCALAR``) is the ``math`` module, for the
  driver-side scalars: ``wrf_ll_to_xy_scalar``, the authalic q behind
  the projection constants, and the ``*_float`` area twins.  These use
  ``math`` rather than numpy because their results become literals in
  Spark plans and DuckDB oracle SQL, or answers the column transforms
  must reproduce: ``math`` is what they were always computed with, so
  those values stay bit-identical.

Literal placement matters for the Column namespace: PySpark builds
``2.0 * col`` as ``col * 2.0``, so a formula wraps a LEADING constant in
``m.lit`` (the identity outside Spark) and writes trailing ones bare.
With one source, the Column-vs-numpy parity tests compare only JVM and
numpy libm; the independent evidence is the worked examples, the
Redfearn series and the pyproj cross-checks listed in LEDGER.md.

Spherical Web Mercator (EPSG:4326 -> EPSG:3857), R = 6378137:
    x = R * radians(lon)
    y = R * ln(tan(pi/4 + radians(lat)/2))

Cross-engine note: ``ln``/``tan`` differ from DuckDB's libm in the last
bit for ~7% of inputs, so oracle-checked outputs must be rounded (cm
precision leaves ~9 orders of margin).
"""

from __future__ import annotations

import math
import operator
from types import SimpleNamespace

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


class _Math(SimpleNamespace):
    """A math namespace: the per-row formulas call only its members."""

    def let(self, cols: dict) -> list:
        """Name intermediates; outside Spark the values pass through."""
        return list(cols.values())

    def clip(self, x, lo: float, hi: float):
        return self.least(self.greatest(x, self.lit(lo)), self.lit(hi))


def _fpmod(a: float, n: float) -> float:
    """Spark's ``pmod`` on Python floats (result in [0, n))."""
    r = math.fmod(a, n)
    return r + n if r < 0.0 else r


_NUMPY = _Math(
    sin=np.sin, cos=np.cos, tan=np.tan, asin=np.arcsin, atan=np.arctan,
    atan2=np.arctan2, sinh=np.sinh, cosh=np.cosh, atanh=np.arctanh,
    sqrt=np.sqrt, log=np.log, exp=np.exp, radians=np.radians,
    degrees=np.degrees, pow=np.power, pmod=np.mod, greatest=np.maximum,
    least=np.minimum, where=np.where, lit=lambda v: v,
    arg=lambda v: np.asarray(v, "float64"),
)

_SCALAR = _Math(
    sin=math.sin, cos=math.cos, tan=math.tan, asin=math.asin,
    atan=math.atan, atan2=math.atan2, sinh=math.sinh, cosh=math.cosh,
    atanh=math.atanh, sqrt=math.sqrt, log=math.log, exp=math.exp,
    radians=math.radians, degrees=math.degrees, pow=operator.pow,
    pmod=_fpmod, greatest=max, least=min,
    where=lambda c, a, b: a if c else b, lit=lambda v: v, arg=float,
)


def _free_names(taken: set, *names: str) -> list:
    """Each of ``names``, or the first of ``name_1``, ``name_2``, ...
    not in ``taken``; every name returned is added to ``taken``."""
    out = []
    for name in names:
        free, k = name, 0
        while free in taken:
            k += 1
            free = f"{name}_{k}"
        taken.add(free)
        out.append(free)
    return out


class _ColumnMath(_Math):
    """The Column namespace over ``df``: ``let`` appends its columns and
    returns references to them; ``out`` appends the results and drops
    the temporaries this namespace made (never the caller's columns).
    A temporary named like a caller column is staged under a free name
    (``_free_names``; the caller's columns are read once, at the first
    ``let``), and later ``let``s of that name reuse it."""

    def __init__(self, df=None):
        super().__init__(
            sin=F.sin, cos=F.cos, tan=F.tan, asin=F.asin, atan=F.atan,
            atan2=F.atan2, sinh=F.sinh, cosh=F.cosh, atanh=F.atanh,
            sqrt=F.sqrt, log=F.log, exp=F.exp, radians=F.radians,
            degrees=F.degrees, pow=F.pow, pmod=F.pmod, greatest=F.greatest,
            least=F.least, where=lambda c, a, b: F.when(c, a).otherwise(b),
            lit=F.lit, df=df, made={}, taken=None,
        )

    @staticmethod
    def arg(v):
        return F.col(v) if isinstance(v, str) else v

    def let(self, cols: dict) -> list:
        if self.taken is None:
            self.taken = set(self.df.columns)
        for c in cols:
            if c not in self.made:
                [self.made[c]] = _free_names(self.taken, c)
        staged = {self.made[c]: v for c, v in cols.items()}
        self.df = self.df.withColumns(staged)
        return [F.col(c) for c in staged]

    def out(self, cols: dict):
        d = self.df.withColumns(cols)
        return d.drop(*self.made.values()) if self.made else d


# stage-free Column formulas (no ``let``) share one namespace
_COLUMNS = _ColumnMath()


def _columns(df, formula, a, b, outs: dict, *params):
    """Append ``formula``'s results for the column (or column-name)
    inputs ``a``/``b``: ``outs`` maps each result key to its output
    column name."""
    m = _ColumnMath(df)
    res = formula(m, m.arg(a), m.arg(b), *params)
    return m.out({outs[k]: v for k, v in res.items()})


def _arrays(formula, a, b, *params) -> dict:
    """``formula`` evaluated with numpy over float64 arrays."""
    return formula(_NUMPY, _NUMPY.arg(a), _NUMPY.arg(b), *params)


def _dl_wrapped(m, lon, lon0d: float):
    """lon - lon0 in radians, wrapped by pmod so grids straddling
    lon0 +- 180 stay continuous."""
    return m.pmod(
        m.radians(lon - lon0d) + math.pi, m.lit(2.0 * math.pi)
    ) - math.pi


R_EARTH = 6378137.0


def _webmercator_x(m, lon):
    return m.lit(R_EARTH) * m.radians(lon)


def _webmercator_y(m, lat):
    return m.lit(R_EARTH) * m.log(
        m.tan(m.lit(math.pi) / 4 + m.radians(lat) / 2)
    )


def lonlat_to_webmercator_x(lon: Column) -> Column:
    return _webmercator_x(_COLUMNS, lon)


def lonlat_to_webmercator_y(lat: Column) -> Column:
    return _webmercator_y(_COLUMNS, lat)


def webmercator_to_lon(x: Column) -> Column:
    return F.degrees(_COLUMNS.arg(x) / F.lit(R_EARTH))


def webmercator_to_lat(y: Column) -> Column:
    return F.degrees(
        F.lit(2.0) * F.atan(F.exp(_COLUMNS.arg(y) / F.lit(R_EARTH)))
        - F.lit(math.pi / 2)
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


def _osgb_fwd(m, lon, lat):
    """WGS84 degrees -> EPSG:27700 grid: geodetic -> cartesian, the
    Helmert shift, cartesian -> Airy geodetic (7 unrolled fixed-point
    steps), then the National Grid TM core."""
    L = m.lit
    phi, lam = m.let({"_phi": m.radians(lat), "_lam": m.radians(lon)})
    sp, cp = m.let({"_sp": m.sin(phi), "_cp": m.cos(phi)})
    [nu1] = m.let(
        {"_nu1": L(WGS_A) / m.sqrt(L(1.0) - L(E2_WGS) * sp * sp)}
    )
    X, Y, Z = m.let({
        "_X": nu1 * cp * m.cos(lam),
        "_Y": nu1 * cp * m.sin(lam),
        "_Z": (L(1.0) - E2_WGS) * nu1 * sp,
    })
    Xp, Yp, Zp = m.let({
        "_XP": L(H_TX) + L(H_S1) * X - L(H_RZ) * Y + L(H_RY) * Z,
        "_YP": L(H_TY) + L(H_RZ) * X + L(H_S1) * Y - L(H_RX) * Z,
        "_ZP": L(H_TZ) - L(H_RY) * X + L(H_RX) * Y + L(H_S1) * Z,
    })
    p, lam2 = m.let(
        {"_p": m.sqrt(Xp * Xp + Yp * Yp), "_lam2": m.atan2(Yp, Xp)}
    )
    [phi2] = m.let({"_phi2": m.atan2(Zp, p * (L(1.0) - E2_AIRY))})
    for _ in range(7):
        [s] = m.let({"_sphi": m.sin(phi2)})
        [phi2] = m.let({"_phi2": m.atan2(
            Zp + L(E2_AIRY)
            * (L(AIRY_A) / m.sqrt(L(1.0) - L(E2_AIRY) * s * s)) * s,
            p,
        )})
    return _osgb_tm(m, phi2, lam2)


def _osgb_tm(m, phi, lam):
    """OSGB36 geodetic radians -> National Grid E/N (OS guide Annex C
    series)."""
    L = m.lit
    s2, c2, t2, dl, dphi, sphi0 = m.let({
        "_s2": m.sin(phi),
        "_c2": m.cos(phi),
        "_t2": m.tan(phi),
        "_dl": lam - OSGB_LAM0,
        "_dphi": phi - OSGB_PHI0,
        "_sphi0": phi + OSGB_PHI0,
    })
    af0, bf0 = AIRY_A * OSGB_F0, AIRY_B * OSGB_F0
    nu, rho_d = m.let({
        "_nu": L(af0) / m.sqrt(L(1.0) - L(E2_AIRY) * s2 * s2),
        "_rho_d": L(1.0) - L(E2_AIRY) * s2 * s2,
    })
    [rho] = m.let(
        {"_rho": L(af0) * (L(1.0) - E2_AIRY) / (rho_d * m.sqrt(rho_d))}
    )
    eta2, t22, c23, M = m.let({
        "_eta2": nu / rho - 1.0,
        "_t22": t2 * t2,
        "_c23": c2 * c2 * c2,
        "_M": L(bf0) * (
            L(MA_C) * dphi
            - L(MB_C) * m.sin(dphi) * m.cos(sphi0)
            + L(MC_C) * m.sin(L(2.0) * dphi) * m.cos(L(2.0) * sphi0)
            - L(MD_C) * m.sin(L(3.0) * dphi) * m.cos(L(3.0) * sphi0)
        ),
    })
    c25, t24, dl2 = m.let(
        {"_c25": c23 * c2 * c2, "_t24": t22 * t22, "_dl2": dl * dl}
    )
    E = (
        L(OSGB_E0)
        + nu * c2 * dl
        + nu / 6.0 * c23 * (nu / rho - t22) * dl2 * dl
        + nu / 120.0 * c25
        * (L(5.0) - L(18.0) * t22 + t24 + L(14.0) * eta2
           - L(58.0) * t22 * eta2)
        * dl2 * dl2 * dl
    )
    N = (
        M + OSGB_N0
        + nu / 2.0 * s2 * c2 * dl2
        + nu / 24.0 * s2 * c23 * (L(5.0) - t22 + L(9.0) * eta2) * dl2 * dl2
        + nu / 720.0 * s2 * c25 * (L(61.0) - L(58.0) * t22 + t24)
        * dl2 * dl2 * dl2
    )
    return {"x": E, "y": N}


def lonlat_to_osgb(df, lon, lat, out_e: str = "easting", out_n: str = "northing"):
    """Append OSGB36 ``easting``/``northing`` columns for WGS84 ``lon``/
    ``lat`` columns — built-in JVM expressions only, staged through named
    intermediate columns (each stage references the previous stage's
    aliases, keeping the expression tree linear in formula length)."""
    return _columns(df, _osgb_fwd, lon, lat, {"x": out_e, "y": out_n})


def osgb_pandas_udf():
    """Arrow-vectorized numpy evaluation of :func:`lonlat_to_osgb`'s
    formula (the shape a pyproj transform would take in executors)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<easting: double, northing: double>")
    def _transform(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        r = _arrays(_osgb_fwd, lon, lat)
        return pd.DataFrame({"easting": r["x"], "northing": r["y"]})

    return _transform


def osgb36_geodetic_to_grid_numpy(phi, lam):
    """TM core alone (OSGB36 geodetic radians -> grid E/N) — exposed for
    the worked-example test, which states OSGB36 coordinates directly."""
    r = _arrays(_osgb_tm, phi, lam)
    return r["x"], r["y"]


def webmercator_pandas_udf():
    """The pandas_udf (Arrow-vectorized numpy) variant — how a pyproj
    transform would run in executors."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<x: double, y: double>")
    def _transform(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        return pd.DataFrame({
            "x": _webmercator_x(_NUMPY, _NUMPY.arg(lon)),
            "y": _webmercator_y(_NUMPY, _NUMPY.arg(lat)),
        })

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
# ``to_crs``, wrf_voronoi.py:188).  Snyder, Map Projections — A Working
# Manual, eqs. 15-1..15-5 spherical; 15-7..15-10 / EPSG 9802 ellipsoidal
# 2SP.  Projection constants are precomputed Python floats (identical
# literals for the Spark plan and any SQL oracle); the per-row formula
# serves the column transforms and the GRIB2 template 3.30 decoder.

WRF_SPHERE_R = 6370000.0  # WRF's spherical earth radius (share_config)


def lcc_constants(lat1d: float, lat2d: float, lat0d: float,
                  R: float) -> tuple[float, float, float]:
    """Spherical LCC constants (Snyder eqs. 15-1..15-3): cone constant
    n, F, and rho0 at the reference latitude, as Python floats (numpy
    scalar math, as the GRIB2 decoder has always computed them)."""
    p1, p2, p0 = map(np.radians, (lat1d, lat2d, lat0d))
    if abs(lat1d - lat2d) < 1e-12:
        n = np.sin(p1)
    else:
        n = (
            np.log(np.cos(p1) / np.cos(p2))
            / np.log(np.tan(np.pi / 4 + p2 / 2)
                     / np.tan(np.pi / 4 + p1 / 2))
        )
    F_ = np.cos(p1) * np.tan(np.pi / 4 + p1 / 2) ** n / n
    rho0 = R * F_ / np.tan(np.pi / 4 + p0 / 2) ** n
    return float(n), float(F_), float(rho0)


def _cone_xy(m, rho, n: float, dl, rho0: float, fe: float, fn: float):
    """Conic plane coordinates: x = rho sin(n dl), y = rho0 - rho cos(n dl)."""
    return {
        "x": rho * m.sin(m.lit(n) * dl) + fe,
        "y": m.lit(rho0 + fn) - rho * m.cos(m.lit(n) * dl),
    }


def _cone_shift(m, x, y, sgn: float, rho0: float, fe: float, fn: float):
    """Conic plane -> axes about the apex, sign-flipped for a
    south-viewing cone (n < 0)."""
    return m.let({
        "_xs": (x - fe) * sgn,
        "_ys": (m.lit(rho0 + fn) - y) * sgn,
    })


def _lcc_fwd(m, lon, lat, lat1d, lat2d, lat0d, lon0d, R, fe, fn):
    n, F_, rho0 = lcc_constants(lat1d, lat2d, lat0d, R)
    phi, dl = m.let({"_phi": m.radians(lat), "_dl": _dl_wrapped(m, lon, lon0d)})
    [rho] = m.let({"_rho": m.lit(R * F_) / m.pow(
        m.tan(m.lit(math.pi / 4) + phi / 2), m.lit(n)
    )})
    return _cone_xy(m, rho, n, dl, rho0, fe, fn)


def _lcc_inv(m, x, y, lat1d, lat2d, lat0d, lon0d, R, fe, fn):
    n, F_, rho0 = lcc_constants(lat1d, lat2d, lat0d, R)
    sgn = 1.0 if n >= 0 else -1.0
    xs, ys = _cone_shift(m, x, y, sgn, rho0, fe, fn)
    rho, theta = m.let({
        "_rho": m.lit(sgn) * m.sqrt(xs * xs + ys * ys),
        "_theta": m.atan2(xs, ys),
    })
    return {
        "lat": m.degrees(
            m.lit(2.0) * m.atan(m.pow(m.lit(R * F_) / rho, m.lit(1.0 / n)))
            - math.pi / 2
        ),
        "lon": m.lit(lon0d) + m.degrees(theta / n),
    }


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
    return _columns(
        df, _lcc_fwd, lon, lat, {"x": out_x, "y": out_y},
        lat1d, lat2d, lat0d, lon0d, R, false_easting, false_northing,
    )


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
    WGS84 degree columns."""
    return _columns(
        df, _lcc_inv, x, y, {"lon": out_lon, "lat": out_lat},
        lat1d, lat2d, lat0d, lon0d, R, false_easting, false_northing,
    )


def lcc_forward(lat, lon, lat1d, lat2d, lat0d, lon0d, R):
    """(lat, lon) degrees -> (x, y) metres on the spherical LCC (numpy;
    the GRIB2 template 3.30 decoder)."""
    r = _arrays(_lcc_fwd, lon, lat, lat1d, lat2d, lat0d, lon0d, R, 0.0, 0.0)
    return r["x"], r["y"]


def lcc_inverse(x, y, lat1d, lat2d, lat0d, lon0d, R):
    """(x, y) metres -> (lat, lon) degrees on the spherical LCC (numpy)."""
    r = _arrays(_lcc_inv, x, y, lat1d, lat2d, lat0d, lon0d, R, 0.0, 0.0)
    return r["lat"], r["lon"]


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


def _lcc2sp_fwd(m, lon, lat, lat1d, lat2d, lat0d, lon0d, a, e2, fe, fn):
    n, aF, rho0, e = lcc2sp_constants(lat1d, lat2d, lat0d, a, e2)
    phi, dl = m.let({"_phi": m.radians(lat), "_dl": _dl_wrapped(m, lon, lon0d)})
    [sp] = m.let({"_sp": m.sin(phi)})
    [t] = m.let({"_t": m.tan(m.lit(math.pi / 4) - phi / 2) * m.pow(
        (m.lit(1.0) + m.lit(e) * sp) / (m.lit(1.0) - m.lit(e) * sp),
        m.lit(e / 2),
    )})
    [rho] = m.let({"_rho": m.lit(aF) * m.pow(t, m.lit(n))})
    return _cone_xy(m, rho, n, dl, rho0, fe, fn)


def _lcc2sp_inv(m, x, y, lat1d, lat2d, lat0d, lon0d, a, e2, fe, fn):
    n, aF, rho0, e = lcc2sp_constants(lat1d, lat2d, lat0d, a, e2)
    sgn = 1.0 if n >= 0 else -1.0
    xs, ys = _cone_shift(m, x, y, sgn, rho0, fe, fn)
    rho, theta = m.let({
        "_rho": m.lit(sgn) * m.sqrt(xs * xs + ys * ys),
        "_theta": m.atan2(xs, ys),
    })
    [t] = m.let(
        {"_t": m.pow(m.lit(sgn) * rho / (sgn * aF), m.lit(1.0 / n))}
    )
    # chi (conformal latitude) seed, then unrolled fixed point
    [phi] = m.let({"_phi2": m.lit(math.pi / 2) - m.lit(2.0) * m.atan(t)})
    for _ in range(6):
        [s] = m.let({"_sphi": m.sin(phi)})
        [phi] = m.let({"_phi2": m.lit(math.pi / 2) - m.lit(2.0) * m.atan(
            t * m.pow(
                (m.lit(1.0) - m.lit(e) * s) / (m.lit(1.0) + m.lit(e) * s),
                m.lit(e / 2),
            )
        )})
    return {"lat": m.degrees(phi), "lon": m.lit(lon0d) + m.degrees(theta / n)}


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
    return _columns(
        df, _lcc2sp_fwd, lon, lat, {"x": out_x, "y": out_y},
        lat1d, lat2d, lat0d, lon0d, a, e2, false_easting, false_northing,
    )


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
    return _columns(
        df, _lcc2sp_inv, x, y, {"lon": out_lon, "lat": out_lat},
        lat1d, lat2d, lat0d, lon0d, a, e2, false_easting, false_northing,
    )


def lcc2sp_forward_numpy(lon, lat, lat1d, lat2d, lat0d, lon0d,
                         a=WGS_A, e2=E2_WGS):
    """Numpy evaluation of :func:`lonlat_to_lcc2sp` (no false offsets)."""
    r = _arrays(_lcc2sp_fwd, lon, lat, lat1d, lat2d, lat0d, lon0d,
                a, e2, 0.0, 0.0)
    return r["x"], r["y"]


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


def _tm_fwd(m, lon, lat, lon0d, k0, a, f, fe, fn):
    k = tm_constants(a, f)
    kA = k0 * k["A"]
    c = k["c"]
    sp, lp = m.let({
        "_sp": m.sin(m.radians(lat)),
        "_lp": m.radians(lon - lon0d),
    })
    [t] = m.let(
        {"_t": m.sinh(m.atanh(sp) - m.lit(c) * m.atanh(m.lit(c) * sp))}
    )
    xip, etap = m.let({
        "_xip": m.atan2(t, m.cos(lp)),
        "_etap": m.atanh(m.sin(lp) / m.sqrt(m.lit(1.0) + t * t)),
    })
    xi, eta = xip, etap
    for j, aj in enumerate(k["alpha"], 1):
        xi = xi + m.lit(aj) * m.sin(m.lit(2.0 * j) * xip) \
            * m.cosh(m.lit(2.0 * j) * etap)
        eta = eta + m.lit(aj) * m.cos(m.lit(2.0 * j) * xip) \
            * m.sinh(m.lit(2.0 * j) * etap)
    return {"x": m.lit(fe) + m.lit(kA) * eta, "y": m.lit(fn) + m.lit(kA) * xi}


def _tm_inv(m, e, n, lon0d, k0, a, f, fe, fn):
    k = tm_constants(a, f)
    kA = k0 * k["A"]
    xi, eta = m.let({"_xi": (n - fn) / kA, "_eta": (e - fe) / kA})
    xip, etap = xi, eta
    for j, bj in enumerate(k["beta"], 1):
        xip = xip - m.lit(bj) * m.sin(m.lit(2.0 * j) * xi) \
            * m.cosh(m.lit(2.0 * j) * eta)
        etap = etap - m.lit(bj) * m.cos(m.lit(2.0 * j) * xi) \
            * m.sinh(m.lit(2.0 * j) * eta)
    xip, etap = m.let({"_xip": xip, "_etap": etap})
    [chi] = m.let({"_chi": m.asin(m.sin(xip) / m.cosh(etap))})
    phi = chi
    for j, dj in enumerate(k["delta"], 1):
        phi = phi + m.lit(dj) * m.sin(m.lit(2.0 * j) * chi)
    return {
        "lat": m.degrees(phi),
        "lon": m.lit(lon0d) + m.degrees(m.atan2(m.sinh(etap), m.cos(xip))),
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
    return _columns(
        df, _tm_fwd, lon, lat, {"x": out_e, "y": out_n},
        lon0d, k0, a, f, false_easting, false_northing,
    )


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
    return _columns(
        df, _tm_inv, e_col, n_col, {"lon": out_lon, "lat": out_lat},
        lon0d, k0, a, f, false_easting, false_northing,
    )


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
    """Numpy evaluation of :func:`lonlat_to_tm` (no false offsets)."""
    r = _arrays(_tm_fwd, lon, lat, lon0d, k0, a, f, 0.0, 0.0)
    return r["x"], r["y"]


# ---------------------------------------------------------------------------
# Polar stereographic + Mercator (spherical) — WRF's other two
# projections (MAP_PROJ 2 and 3).  Snyder eqs. 21-33/21-34 (polar
# aspect with scale true at lat_ts: rho = 2 R k0 tan(pi/4 -+ phi/2),
# k0 = (1 +- sin lat_ts)/2) and 7-1/7-2 (Mercator true at lat_ts:
# k0 = cos lat_ts).  Same discipline as LCC: constants are Python
# floats, per-row math is one formula.


def _stere_k0(lat_ts: float) -> tuple[float, float]:
    """(pole sign, scale factor): the pole follows the sign of
    ``lat_ts`` (WRF's convention: TRUELAT1 < 0 = south polar)."""
    sgn = -1.0 if lat_ts < 0 else 1.0
    return sgn, (1.0 + math.sin(math.radians(abs(lat_ts)))) / 2.0


def _stere_fwd(m, lon, lat, lat_ts, lon0d, R):
    sgn, k0 = _stere_k0(lat_ts)
    phi = m.radians(lat) * sgn
    dl = m.radians(lon - lon0d) * sgn
    rho = m.lit(2.0 * R * k0) * m.tan(m.lit(math.pi / 4) - phi / 2)
    return {"x": rho * m.sin(dl) * sgn, "y": -rho * m.cos(dl) * sgn}


def _stere_inv(m, x, y, lat_ts, lon0d, R):
    sgn, k0 = _stere_k0(lat_ts)
    xs, ys = x * sgn, y * sgn
    rho = m.sqrt(xs * xs + ys * ys)
    phi = m.lit(math.pi / 2) - m.lit(2.0) * m.atan(rho / (2.0 * R * k0))
    return {
        "lat": m.degrees(phi) * sgn,
        "lon": m.lit(lon0d) + m.degrees(m.atan2(xs, -ys)) * sgn,
    }


def _merc_fwd(m, lon, lat, lat_ts, lon0d, R):
    rk = R * math.cos(math.radians(lat_ts))
    return {
        "x": m.lit(rk) * m.radians(lon - lon0d),
        "y": m.lit(rk) * m.log(m.tan(m.lit(math.pi / 4) + m.radians(lat) / 2)),
    }


def _merc_inv(m, x, y, lat_ts, lon0d, R):
    rk = R * math.cos(math.radians(lat_ts))
    return {
        "lon": m.lit(lon0d) + m.degrees(x / rk),
        "lat": m.degrees(m.lit(2.0) * m.atan(m.exp(y / rk)) - math.pi / 2),
    }


def lonlat_to_stere(
    df, lon, lat, lat_ts: float, lon0d: float, R: float = WRF_SPHERE_R,
    out_x: str = "x", out_y: str = "y",
):
    """Spherical polar stereographic forward, pole chosen by the sign
    of ``lat_ts`` (WRF's convention: TRUELAT1 < 0 = south polar)."""
    return _columns(df, _stere_fwd, lon, lat, {"x": out_x, "y": out_y},
                    lat_ts, lon0d, R)


def stere_to_lonlat(
    df, x, y, lat_ts: float, lon0d: float, R: float = WRF_SPHERE_R,
    out_lon: str = "lon", out_lat: str = "lat",
):
    """Inverse spherical polar stereographic (Snyder 20-14/20-16
    polar simplification)."""
    return _columns(df, _stere_inv, x, y, {"lon": out_lon, "lat": out_lat},
                    lat_ts, lon0d, R)


def lonlat_to_mercator(
    df, lon, lat, lat_ts: float = 0.0, lon0d: float = 0.0,
    R: float = WRF_SPHERE_R, out_x: str = "x", out_y: str = "y",
):
    """Spherical Mercator with scale true at ``lat_ts`` (Snyder
    7-1/7-2; ``lat_ts=0, R=6378137, lon0=0`` is Web Mercator)."""
    return _columns(df, _merc_fwd, lon, lat, {"x": out_x, "y": out_y},
                    lat_ts, lon0d, R)


def mercator_to_lonlat(
    df, x, y, lat_ts: float = 0.0, lon0d: float = 0.0,
    R: float = WRF_SPHERE_R, out_lon: str = "lon", out_lat: str = "lat",
):
    """Inverse spherical Mercator (Snyder 7-4/7-5)."""
    return _columns(df, _merc_inv, x, y, {"lon": out_lon, "lat": out_lat},
                    lat_ts, lon0d, R)


# ---------------------------------------------------------------------------
# Rotated lat-lon (the UKCP18 / regional-climate grid; GRIB2 template
# 3.1): an explicit rotation-matrix product on the unit sphere, which
# pins the sign conventions by construction instead of by a memorized
# formula — the invariants (pole image, origin image, angular-distance
# preservation, involution with the inverse) are asserted in
# tests/test_grib2.py.  The rotated system's north pole sits at true
# (-sp_lat, sp_lon - 180).


def _rotation(sp_lat: float, sp_lon: float) -> tuple[float, ...]:
    """cos/sin of the pole tilt theta = 90 - np_lat and of the pole
    longitude np_lon."""
    theta = math.radians(90.0 + sp_lat)
    lam_p = math.radians(sp_lon - 180.0)
    return math.cos(theta), math.sin(theta), math.cos(lam_p), math.sin(lam_p)


def _rotated_to_true(m, lon_r, lat_r, sp_lat, sp_lon):
    """Ry(theta) then Rz(np_lon), after a 180-degree pre-rotation about
    z: the rotated lambda_r = 0 meridian faces AWAY from the pole's
    true meridian, so rotated (0, 0) lands on the domain (the UK for
    UKCP18), not its antipode."""
    ct, st, cl, sl = _rotation(sp_lat, sp_lon)
    phi, lam = m.let({"_phi": m.radians(lat_r), "_lam": m.radians(lon_r)})
    x, y, z = m.let({
        "_x": -m.cos(phi) * m.cos(lam),
        "_y": -m.cos(phi) * m.sin(lam),
        "_z": m.sin(phi),
    })
    x1, z1 = m.let({"_x1": x * ct + z * st, "_z1": -x * st + z * ct})
    x2, y2 = m.let({"_x2": x1 * cl - y * sl, "_y2": x1 * sl + y * cl})
    return {
        "lat": m.degrees(m.asin(m.clip(z1, -1.0, 1.0))),
        "lon": m.degrees(m.atan2(y2, x2)),
    }


def _true_to_rotated(m, lon, lat, sp_lat, sp_lon):
    """Transpose rotations in reverse order, then undo the 180-degree
    pre-rotation."""
    ct, st, cl, sl = _rotation(sp_lat, sp_lon)
    phi, lam = m.let({"_phi": m.radians(lat), "_lam": m.radians(lon)})
    x, y, z = m.let({
        "_x": m.cos(phi) * m.cos(lam),
        "_y": m.cos(phi) * m.sin(lam),
        "_z": m.sin(phi),
    })
    x1, y1 = m.let({"_x1": x * cl + y * sl, "_y1": -x * sl + y * cl})
    x2, z2 = m.let({"_x2": x1 * ct - z * st, "_z2": x1 * st + z * ct})
    return {
        "lat": m.degrees(m.asin(m.clip(z2, -1.0, 1.0))),
        "lon": m.degrees(m.atan2(-y1, -x2)),
    }


def rotated_to_lonlat(
    df, lon_r, lat_r, sp_lat: float, sp_lon: float,
    out_lon: str = "lon", out_lat: str = "lat",
):
    """Rotated-pole coordinates -> true WGS84 degrees (columns)."""
    return _columns(df, _rotated_to_true, lon_r, lat_r,
                    {"lon": out_lon, "lat": out_lat}, sp_lat, sp_lon)


def lonlat_to_rotated(
    df, lon, lat, sp_lat: float, sp_lon: float,
    out_lon: str = "lon_r", out_lat: str = "lat_r",
):
    """True WGS84 degrees -> rotated-pole coordinates (columns)."""
    return _columns(df, _true_to_rotated, lon, lat,
                    {"lon": out_lon, "lat": out_lat}, sp_lat, sp_lon)


def rotated_to_true(lat_r, lon_r, sp_lat: float, sp_lon: float):
    """Rotated-pole coordinates -> true (lat, lon) degrees (numpy; the
    GRIB2 template 3.1 decoder)."""
    r = _arrays(_rotated_to_true, lon_r, lat_r, sp_lat, sp_lon)
    return r["lat"], r["lon"]


def true_to_rotated(lat, lon, sp_lat: float, sp_lon: float):
    """Inverse of ``rotated_to_true`` (numpy)."""
    r = _arrays(_true_to_rotated, lon, lat, sp_lat, sp_lon)
    return r["lat"], r["lon"]


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
    lat1, lon1, lat2, lon2 = map(_COLUMNS.arg, (lat1, lon1, lat2, lon2))
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
    lat1, lon1, lat2, lon2 = map(_COLUMNS.arg, (lat1, lon1, lat2, lon2))
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
    d = _COLUMNS.arg(dist_m) / F.lit(R)
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


def _latlon_fwd(m, lon, lat):
    return {"x": lon * 1.0, "y": lat * 1.0}


def _latlon_inv(m, x, y):
    return {"lon": x * 1.0, "lat": y * 1.0}


def _wrf_native(attrs: dict):
    """(forward formula, inverse formula, parameters) of a wrfout
    file's NATIVE projection — the one ``MAP_PROJ`` dispatch behind
    :func:`wrf_projection` and :func:`wrf_ll_to_xy_scalar`: 1 Lambert
    conformal, 2 polar stereographic (true at TRUELAT1, pole by its
    sign), 3 Mercator (true at TRUELAT1), 6 lat-lon identity.  Named
    error otherwise."""
    mp = int(_attr_scalar(attrs, "MAP_PROJ"))
    if mp == 1:
        p = wrf_lcc_params(attrs)
        return _lcc_fwd, _lcc_inv, (
            p["lat1d"], p["lat2d"], p["lat0d"], p["lon0d"], p["R"], 0.0, 0.0
        )
    if mp in (2, 3):
        params = (_attr_scalar(attrs, "TRUELAT1"),
                  _attr_scalar(attrs, "STAND_LON"), WRF_SPHERE_R)
        if mp == 2:
            return _stere_fwd, _stere_inv, params
        return _merc_fwd, _merc_inv, params
    if mp == 6:
        return _latlon_fwd, _latlon_inv, ()
    raise ValueError(
        f"MAP_PROJ={mp} is not a WRF projection this engine knows "
        "(1 LCC, 2 polar stereographic, 3 Mercator, 6 lat-lon)"
    )


def wrf_projection(attrs: dict):
    """(forward, inverse) column-transform pair for a wrfout file's
    NATIVE projection, dispatched on ``MAP_PROJ`` (see
    :func:`_wrf_native`).  Call as ``fwd(df, lon, lat, out_x=...,
    out_y=...)`` and ``inv(df, x, y, out_lon=..., out_lat=...)``."""
    fwd, inv, params = _wrf_native(attrs)

    def forward(df, lon, lat, out_x="x", out_y="y"):
        return _columns(df, fwd, lon, lat, {"x": out_x, "y": out_y}, *params)

    def inverse(df, x, y, out_lon="lon", out_lat="lat"):
        return _columns(
            df, inv, x, y, {"lon": out_lon, "lat": out_lat}, *params
        )

    return forward, inverse


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
    px, py, cx, cy = _free_names(
        set(df.columns), "_px", "_py", "_cx", "_cy"
    )
    d = fwd(df, lon, lat, out_x=px, out_y=py)
    d = fwd(d, F.lit(cen_lon), F.lit(cen_lat), out_x=cx, out_y=cy)
    return d.withColumns({
        out_i: (F.col(px) - F.col(cx)) / F.lit(dx)
        + F.lit((nx - 1) / 2.0),
        out_j: (F.col(py) - F.col(cy)) / F.lit(dy)
        + F.lit((ny - 1) / 2.0),
    }).drop(px, py, cx, cy)


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
    gx, gy, cx, cy = _free_names(
        set(df.columns), "_gx", "_gy", "_cx", "_cy"
    )
    d = fwd(df, F.lit(cen_lon), F.lit(cen_lat), out_x=cx, out_y=cy)
    d = d.withColumns({
        gx: (i - F.lit((nx - 1) / 2.0)) * F.lit(dx) + F.col(cx),
        gy: (j - F.lit((ny - 1) / 2.0)) * F.lit(dy) + F.col(cy),
    })
    d = inv(d, F.col(gx), F.col(gy), out_lon=out_lon, out_lat=out_lat)
    return d.drop(gx, gy, cx, cy)


def wrf_ll_to_xy_scalar(
    attrs: dict, lon: float, lat: float
) -> tuple[float, float]:
    """Driver-side SCALAR :func:`wrf_ll_to_xy`: fractional 0-based
    mass-grid (i, j) for ONE WGS84 point, from a wrfout attribute
    block — the endpoint-resolution twin the cross-section front
    doors use (wrf-python's ``to_xy_coords`` step for lat/lon
    ``CoordPair`` start/end), so resolving two endpoints never runs a
    Spark job.  Same MAP_PROJ dispatch, projection formula and
    center-normalized index arithmetic as the column transform,
    evaluated with ``math``."""
    dx, dy, cen_lon, cen_lat, nx, ny = _wrf_grid_geometry(attrs)
    fwd, _, params = _wrf_native(attrs)
    p = fwd(_SCALAR, float(lon), float(lat), *params)
    c = fwd(_SCALAR, cen_lon, cen_lat, *params)
    return (
        (p["x"] - c["x"]) / dx + (nx - 1) / 2.0,
        (p["y"] - c["y"]) / dy + (ny - 1) / 2.0,
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
        return _columns(df, _latlon_fwd, lon, lat, {"x": out_x, "y": out_y})
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
        return _columns(df, _latlon_inv, x, y, {"lon": out_lon, "lat": out_lat})
    if code == 3857:
        return df.withColumns({
            out_lon: webmercator_to_lon(x),
            out_lat: webmercator_to_lat(y),
        })
    if code == 27700:
        inv = osgb_inverse_pandas_udf()
        [ll] = _free_names(set(df.columns), "_ll")
        d = df.withColumn(ll, inv(x, y))
        return d.withColumns({
            out_lon: F.col(f"{ll}.lon"), out_lat: F.col(f"{ll}.lat"),
        }).drop(ll)
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


def _authalic_q(m, s, e: float, e2: float):
    """Snyder eq. 3-12 over sin(phi):
    q = (1-e^2)[ s/(1-e^2 s^2) - (1/2e) ln((1-es)/(1+es)) ].
    At e = 0 (spherical earth — the common GRIB2 shape) the limit is
    q = 2 s, a separate branch (the general form divides by e), which
    makes every authalic-based projection reduce EXACTLY to its Snyder
    spherical form (beta = phi, Rq = R, D = 1)."""
    if e == 0.0:
        return m.lit(2.0) * s
    return m.lit(1.0 - e2) * (
        s / (m.lit(1.0) - m.lit(e2) * s * s)
        - m.lit(1.0 / (2.0 * e))
        * m.log((m.lit(1.0) - m.lit(e) * s) / (m.lit(1.0) + m.lit(e) * s))
    )


def _authalic_q_float(sinphi: float, e: float, e2: float) -> float:
    """:func:`_authalic_q` as a Python float (constant precomputation)."""
    return _authalic_q(_SCALAR, sinphi, e, e2)


def _asin_clamped(m, ratio):
    """asin of an authalic ratio clamped to [-1, 1]: a last-ulp
    |ratio| > 1 at the pole must not go NaN."""
    return m.asin(m.greatest(m.lit(-1.0), m.least(m.lit(1.0), ratio)))


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
    14-15) shared by the column transforms, the numpy kernels, and the
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


def _geodetic_deg(m, bt, e2: float):
    """Geodetic latitude (degrees) from the authalic latitude ``bt`` by
    the closed series 3-18."""
    c2, c4, c6 = authalic_series_coeffs(e2)
    return m.degrees(
        bt
        + m.lit(c2) * m.sin(m.lit(2.0) * bt)
        + m.lit(c4) * m.sin(m.lit(4.0) * bt)
        + m.lit(c6) * m.sin(m.lit(6.0) * bt)
    )


def _laea_fwd(m, lon, lat, lat0d, lon0d, a, e2, fe, fn):
    k = laea_constants(lat0d, a, e2)
    s, dl = m.let({
        "_s": m.sin(m.radians(lat)), "_dl": _dl_wrapped(m, lon, lon0d),
    })
    [beta] = m.let({"_beta": _asin_clamped(
        m, _authalic_q(m, s, k["e"], k["e2"]) / k["qp"]
    )})
    sb, cb, cdl = m.let(
        {"_sb": m.sin(beta), "_cb": m.cos(beta), "_cdl": m.cos(dl)}
    )
    [B] = m.let({"_B": m.lit(k["rq"]) * m.sqrt(
        m.lit(2.0)
        / (m.lit(1.0) + m.lit(k["sinb1"]) * sb + m.lit(k["cosb1"]) * cb * cdl)
    )})
    return {
        "x": B * k["d"] * cb * m.sin(dl) + fe,
        "y": (B / k["d"])
        * (m.lit(k["cosb1"]) * sb - m.lit(k["sinb1"]) * cb * cdl)
        + fn,
    }


def _laea_inv(m, x, y, lat0d, lon0d, a, e2, fe, fn):
    k = laea_constants(lat0d, a, e2)
    d, qp, sinb1, cosb1 = k["d"], k["qp"], k["sinb1"], k["cosb1"]
    xs, ys = m.let({"_xs": x - fe, "_ys": y - fn})
    [rho] = m.let(
        {"_rho": m.sqrt((xs / d) * (xs / d) + (m.lit(d) * ys) * (m.lit(d) * ys))}
    )
    [ce] = m.let({"_ce": m.lit(2.0) * m.asin(rho / (2.0 * k["rq"]))})
    [q] = m.let({"_q": m.where(
        rho == 0.0,
        m.lit(qp * sinb1),
        m.lit(qp)
        * (m.cos(ce) * sinb1 + m.lit(d) * ys * m.sin(ce) * cosb1 / rho),
    )})
    [bt] = m.let({"_bt": _asin_clamped(m, q / qp)})
    return {
        "lat": _geodetic_deg(m, bt, e2),
        "lon": m.lit(lon0d) + m.degrees(m.where(
            rho == 0.0,
            m.lit(0.0),
            m.atan2(
                xs * m.sin(ce),
                m.lit(d) * rho * cosb1 * m.cos(ce)
                - m.lit(d ** 2) * ys * sinb1 * m.sin(ce),
            ),
        )),
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
    return _columns(
        df, _laea_fwd, lon, lat, {"x": out_x, "y": out_y},
        lat0d, lon0d, a, e2, false_easting, false_northing,
    )


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
    return _columns(
        df, _laea_inv, x, y, {"lon": out_lon, "lat": out_lat},
        lat0d, lon0d, a, e2, false_easting, false_northing,
    )


def laea_forward_numpy(lon, lat, lat0d, lon0d, a=GRS80_A, e2=GRS80_E2,
                       fe=0.0, fn=0.0):
    """Numpy evaluation of :func:`lonlat_to_laea`."""
    r = _arrays(_laea_fwd, lon, lat, lat0d, lon0d, a, e2, fe, fn)
    return r["x"], r["y"]


def laea_inverse_numpy(x, y, lat0d, lon0d, a=GRS80_A, e2=GRS80_E2,
                       fe=0.0, fn=0.0):
    """Numpy evaluation of :func:`laea_to_lonlat`."""
    with np.errstate(invalid="ignore", divide="ignore"):
        r = _arrays(_laea_inv, x, y, lat0d, lon0d, a, e2, fe, fn)
    return r["lon"], r["lat"]


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


def _albers_fwd(m, lon, lat, lat1d, lat2d, lat0d, lon0d, a, e2, fe, fn):
    k = albers_constants(lat1d, lat2d, lat0d, a, e2)
    s, th = m.let({
        "_s": m.sin(m.radians(lat)),
        "_th": m.lit(k["n"]) * _dl_wrapped(m, lon, lon0d),
    })
    [rho] = m.let({"_rho": m.lit(a) * m.sqrt(
        m.lit(k["c"]) - m.lit(k["n"]) * _authalic_q(m, s, k["e"], k["e2"])
    ) / k["n"]})
    return {
        "x": rho * m.sin(th) + fe,
        "y": m.lit(k["rho0"] + fn) - rho * m.cos(th),
    }


def _albers_inv(m, x, y, lat1d, lat2d, lat0d, lon0d, a, e2, fe, fn):
    k = albers_constants(lat1d, lat2d, lat0d, a, e2)
    sgn = 1.0 if k["n"] >= 0 else -1.0
    xs, ys = _cone_shift(m, x, y, sgn, k["rho0"], fe, fn)
    rho, th = m.let(
        {"_rho": m.sqrt(xs * xs + ys * ys), "_th": m.atan2(xs, ys)}
    )
    [q] = m.let({"_q": (
        m.lit(k["c"]) - rho * rho * (k["n"] ** 2 / (a * a))
    ) / k["n"]})
    [bt] = m.let({"_bt": _asin_clamped(m, q / k["qp"])})
    return {
        "lat": _geodetic_deg(m, bt, e2),
        "lon": m.lit(lon0d) + m.degrees(th / k["n"]),
    }


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
    return _columns(
        df, _albers_fwd, lon, lat, {"x": out_x, "y": out_y},
        lat1d, lat2d, lat0d, lon0d, a, e2, false_easting, false_northing,
    )


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
    return _columns(
        df, _albers_inv, x, y, {"lon": out_lon, "lat": out_lat},
        lat1d, lat2d, lat0d, lon0d, a, e2, false_easting, false_northing,
    )


def albers_forward_numpy(lon, lat, lat1d, lat2d, lat0d, lon0d,
                         a=GRS80_A, e2=GRS80_E2, fe=0.0, fn=0.0):
    """Numpy evaluation of :func:`lonlat_to_albers`."""
    r = _arrays(_albers_fwd, lon, lat, lat1d, lat2d, lat0d, lon0d,
                a, e2, fe, fn)
    return r["x"], r["y"]


def albers_inverse_numpy(x, y, lat1d, lat2d, lat0d, lon0d,
                         a=GRS80_A, e2=GRS80_E2, fe=0.0, fn=0.0):
    """Numpy evaluation of :func:`albers_to_lonlat`."""
    r = _arrays(_albers_inv, x, y, lat1d, lat2d, lat0d, lon0d,
                a, e2, fe, fn)
    return r["lon"], r["lat"]


def _box_area(m, lon1, lat1, lon2, lat2, a, e2):
    e = math.sqrt(e2)
    dq = _authalic_q(m, m.sin(m.radians(lat2)), e, e2) - _authalic_q(
        m, m.sin(m.radians(lat1)), e, e2
    )
    return m.lit(a * a / 2.0) * m.radians(lon2 - lon1) * dq


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
    m = _COLUMNS
    return _box_area(m, *map(m.arg, (lon1, lat1, lon2, lat2)), a, e2)


def ellipsoid_box_area_m2_float(
    lon1: float, lat1: float, lon2: float, lat2: float,
    a: float = GRS80_A, e2: float = GRS80_E2,
) -> float:
    """:func:`ellipsoid_box_area_m2` as a Python float."""
    return _box_area(_SCALAR, lon1, lat1, lon2, lat2, a, e2)


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
    # per-vertex radians and authalic q, each evaluated ONCE per vertex:
    # the arrays ride in the fold's initial accumulator, which Spark
    # evaluates once, whereas an expression inside the merge lambda is
    # re-evaluated on every step
    lam = F.transform(xs, F.radians)
    sin_phi = F.transform(ys, lambda y: F.sin(F.radians(y)))
    q = F.transform(sin_phi, lambda v: _authalic_q(_COLUMNS, v, e, e2))
    at = lambda arr, i: F.element_at(arr, i + 1)  # noqa: E731
    nxt = lambda i: (i + 1) % n  # noqa: E731
    s = F.aggregate(
        idx,
        F.struct(lam.alias("lam"), q.alias("q"), F.lit(0.0).alias("s")),
        lambda acc, i: acc.withField(
            "s",
            acc["s"]
            + (at(acc["lam"], nxt(i)) - at(acc["lam"], i))
            * (at(acc["q"], i) + at(acc["q"], nxt(i))),
        ),
        lambda acc: acc["s"],
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


def _cea_fwd(m, lon, lat, lat_ts, lon0d, a, e2):
    k = cea_constants(lat_ts, a, e2)
    q = _authalic_q(m, m.sin(m.radians(lat)), k["e"], k["e2"])
    return {
        "x": m.lit(a * k["k0"]) * _dl_wrapped(m, lon, lon0d),
        "y": m.lit(a) * q / (2.0 * k["k0"]),
    }


def _cea_inv(m, x, y, lat_ts, lon0d, a, e2):
    k = cea_constants(lat_ts, a, e2)
    [bt] = m.let({"_bt": _asin_clamped(
        m, m.lit(2.0 * k["k0"]) * y / a / k["qp"]
    )})
    return {
        "lat": _geodetic_deg(m, bt, e2),
        "lon": m.lit(lon0d) + m.degrees(x / (a * k["k0"])),
    }


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
    return _columns(df, _cea_fwd, lon, lat, {"x": out_x, "y": out_y},
                    lat_ts, lon0d, a, e2)


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
    return _columns(df, _cea_inv, x, y, {"lon": out_lon, "lat": out_lat},
                    lat_ts, lon0d, a, e2)


def cea_forward_numpy(lon, lat, lat_ts, lon0d=0.0, a=GRS80_A,
                      e2=GRS80_E2):
    """Numpy evaluation of :func:`lonlat_to_cea`."""
    r = _arrays(_cea_fwd, lon, lat, lat_ts, lon0d, a, e2)
    return r["x"], r["y"]


def cea_inverse_numpy(x, y, lat_ts, lon0d=0.0, a=GRS80_A,
                      e2=GRS80_E2):
    """Numpy evaluation of :func:`cea_to_lonlat`."""
    r = _arrays(_cea_inv, x, y, lat_ts, lon0d, a, e2)
    return r["lon"], r["lat"]


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
