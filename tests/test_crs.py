"""G8 CRS transform: expression path vs Arrow pandas_udf path parity,
and round-trip inversion."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from wrf_to_geodataframe_spark.functions.crs import (
    lonlat_to_webmercator_x,
    lonlat_to_webmercator_y,
    webmercator_pandas_udf,
    webmercator_to_lat,
    webmercator_to_lon,
)


def _lonlat_df(spark):
    return spark.range(100).select(
        (F.col("id").cast("double") * 0.7 - 35.0).alias("lon"),
        (F.col("id").cast("double") * 0.8 - 40.0).alias("lat"),
    )


def test_expression_and_pandas_udf_agree(spark):
    df = _lonlat_df(spark)
    udf = webmercator_pandas_udf()
    rows = df.select(
        lonlat_to_webmercator_x(F.col("lon")).alias("ex"),
        lonlat_to_webmercator_y(F.col("lat")).alias("ey"),
        udf(F.col("lon"), F.col("lat")).alias("u"),
    ).collect()
    for r in rows:
        # numpy and JVM trig agree to ~1 ulp; meters-scale values
        assert abs(r.ex - r.u.x) < 1e-6
        assert abs(r.ey - r.u.y) < 1e-6


def test_roundtrip_inverse(spark):
    df = _lonlat_df(spark)
    rows = df.select(
        "lon", "lat",
        webmercator_to_lon(lonlat_to_webmercator_x(F.col("lon"))).alias("lon2"),
        webmercator_to_lat(lonlat_to_webmercator_y(F.col("lat"))).alias("lat2"),
    ).collect()
    for r in rows:
        assert abs(r.lon - r.lon2) < 1e-9
        assert abs(r.lat - r.lat2) < 1e-9


def test_known_value(spark):
    # equator/prime meridian maps to origin; lat 45 known closed form
    rows = (
        spark.createDataFrame([(0.0, 0.0), (180.0, 45.0)], "lon double, lat double")
        .select(
            lonlat_to_webmercator_x(F.col("lon")).alias("x"),
            lonlat_to_webmercator_y(F.col("lat")).alias("y"),
        )
        .collect()
    )
    assert rows[0].x == 0.0
    assert abs(rows[0].y) < 1e-8  # tan(pi/4) != 1.0 exactly in FP
    assert abs(rows[1].x - 6378137.0 * math.pi) < 1e-6
    assert abs(rows[1].y - 6378137.0 * math.log(math.tan(3 * math.pi / 8))) < 1e-6


# ---------------------------------------------------------------------------
# EPSG:27700 (OSGB36 / British National Grid)

from wrf_to_geodataframe_spark.functions.crs import (  # noqa: E402
    lonlat_to_osgb,
    osgb36_geodetic_to_grid_numpy,
    osgb_pandas_udf,
)


def test_osgb_tm_matches_os_worked_example():
    """OS guide Annex C worked example: 52deg39'27.2531\"N 1deg43'4.5177\"E
    (OSGB36 geodetic) -> 651409.903 E, 313177.270 N."""
    phi = math.radians(52 + 39 / 60 + 27.2531 / 3600)
    lam = math.radians(1 + 43 / 60 + 4.5177 / 3600)
    E, N = osgb36_geodetic_to_grid_numpy(phi, lam)
    assert abs(E - 651409.903) < 2e-3
    assert abs(N - 313177.270) < 2e-3


def test_osgb_full_chain_within_helmert_envelope(spark):
    """The same station's ETRS89 coordinates through the full WGS84 chain
    (cartesian -> Helmert -> TM) must land within the documented accuracy
    of the small Helmert transform (~3.5 m vs the OSTN grid truth)."""
    lat = 52 + 39 / 60 + 28.8282 / 3600
    lon = 1 + 42 / 60 + 57.8663 / 3600
    df = spark.createDataFrame([(lon, lat)], "lon double, lat double")
    r = lonlat_to_osgb(df, F.col("lon"), F.col("lat")).collect()[0]
    assert abs(r.easting - 651409.903) < 5.0
    assert abs(r.northing - 313177.270) < 5.0


def test_osgb_expression_and_pandas_udf_agree(spark):
    df = spark.range(200).select(
        (F.col("id") % 20 * 0.4 - 7.0).alias("lon"),
        (F.floor(F.col("id") / 20) * 1.1 + 50.0).alias("lat"),
    )
    udf = osgb_pandas_udf()
    rows = (
        lonlat_to_osgb(df, F.col("lon"), F.col("lat"))
        .withColumn("u", udf(F.col("lon"), F.col("lat")))
        .collect()
    )
    for r in rows:
        # same formulas, JVM vs numpy libm: agree far below mm
        assert abs(r.easting - r.u.easting) < 1e-6
        assert abs(r.northing - r.u.northing) < 1e-6


def test_osgb_inverse_round_trips_forward(spark):
    """WGS84 -> grid -> WGS84 must close to a few mm over a GB-wide
    lattice.  The bound is 5e-8 deg (~5 mm): the inverse TM iterates to
    sub-nanometre and the Helmert inverse is an exact fixed-point
    solve, but any 2-D datum chain drops the intermediate ellipsoidal
    height (the Helmert-shifted point is ~50 m off the Airy ellipsoid),
    and reconstructing at h=0 costs ~1.5 mm — the same closure a
    pyproj 2-D 7-parameter pipeline has, and 3 orders below the 3.5 m
    Helmert-vs-OSTN15 model error."""
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        osgb_inverse_pandas_udf,
        osgb_pandas_udf,
    )

    lons = np.linspace(-6.0, 1.5, 6)
    lats = np.linspace(50.0, 58.5, 6)
    rows = [
        (float(lo), float(la)) for lo in lons for la in lats
    ]
    df = spark.createDataFrame(rows, "lon double, lat double")
    fwd = osgb_pandas_udf()
    inv = osgb_inverse_pandas_udf()
    out = (
        df.withColumn("en", fwd("lon", "lat"))
        .withColumn("ll", inv("en.easting", "en.northing"))
        .select("lon", "lat", "ll.lon", "ll.lat")
        .collect()
    )
    assert len(out) == 36
    for lon, lat, lon2, lat2 in out:
        # 5e-8 deg ~ 5 mm (see docstring for the height-drop floor)
        assert abs(lon2 - lon) < 5e-8, (lon, lon2)
        assert abs(lat2 - lat) < 5e-8, (lat, lat2)


def test_osgb_inverse_tm_matches_worked_example():
    """Inverse TM alone reproduces the OS guide worked-example OSGB36
    geodetic coordinates from its published E/N to ~1e-10 rad."""
    import math

    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        osgb_grid_to_geodetic_numpy,
    )

    phi_want = math.radians(52 + 39 / 60 + 27.2531 / 3600)
    lam_want = math.radians(1 + 43 / 60 + 4.5177 / 3600)
    phi, lam = osgb_grid_to_geodetic_numpy(
        np.array([651409.903]), np.array([313177.270])
    )
    assert abs(phi[0] - phi_want) < 1e-9
    assert abs(lam[0] - lam_want) < 1e-9


# ---------------------------------------------------------------------------
# Lambert conformal conic column transforms (WRF's native projection)


def test_lcc_columns_match_grib2_kernel_and_snyder(spark):
    """The LCC column transform and the Snyder-pinned numpy kernel in
    sources/grib2.py share their constants function — outputs must
    agree to fp roundoff, and the Snyder spherical worked example
    (unit sphere, eqs. 15-1/15-2: x=0.2966785, y=0.2462112) must hold
    through the COLUMN path too."""
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import lonlat_to_lcc
    from wrf_to_geodataframe_spark.sources.grib2 import lcc_forward

    rows = [(float(lo), float(la))
            for lo in np.linspace(-120.0, -80.0, 5)
            for la in np.linspace(25.0, 55.0, 5)]
    df = spark.createDataFrame(rows, "lon double, lat double")
    out = lonlat_to_lcc(
        df, F.col("lon"), F.col("lat"), 30.0, 60.0, 40.0, -100.0,
        6370000.0,
    ).collect()
    for r in out:
        x, y = lcc_forward(r["lat"], r["lon"], 30.0, 60.0, 40.0,
                           -100.0, 6370000.0)
        assert abs(r["lcc_x"] - float(x)) < 1e-6
        assert abs(r["lcc_y"] - float(y)) < 1e-6
    sn = lonlat_to_lcc(
        spark.createDataFrame([(-75.0, 35.0)], "lon double, lat double"),
        F.col("lon"), F.col("lat"), 33.0, 45.0, 23.0, -96.0, 1.0,
    ).collect()[0]
    assert abs(sn["lcc_x"] - 0.2966785) < 1e-6
    assert abs(sn["lcc_y"] - 0.2462112) < 1e-6


def test_lcc_column_roundtrip(spark):
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        lcc_to_lonlat,
        lonlat_to_lcc,
    )

    rows = [(float(lo), float(la))
            for lo in np.linspace(-130.0, -70.0, 6)
            for la in np.linspace(20.0, 60.0, 6)]
    df = spark.createDataFrame(rows, "lon double, lat double")
    args = (30.0, 60.0, 40.0, -100.0, 6370000.0, 10000.0, -5000.0)
    fwd = lonlat_to_lcc(df, F.col("lon"), F.col("lat"), *args)
    back = lcc_to_lonlat(
        fwd, F.col("lcc_x"), F.col("lcc_y"), *args,
        out_lon="lon2", out_lat="lat2",
    ).collect()
    for r in back:
        assert abs(r["lon2"] - r["lon"]) < 1e-9
        assert abs(r["lat2"] - r["lat"]) < 1e-9


def test_lcc2sp_matches_snyder_ellipsoidal_example(spark):
    """Snyder's ellipsoidal LCC numerical example (Clarke 1866,
    e2=0.00676866; standard parallels 33/45, origin (23, -96); point
    (35, -75) -> x=1,894,410.9 y=1,564,649.5) through the numpy twin
    AND the column transform."""
    from wrf_to_geodataframe_spark.functions.crs import (
        lcc2sp_forward_numpy,
        lonlat_to_lcc2sp,
    )

    A, E2 = 6378206.4, 0.00676866
    x, y = lcc2sp_forward_numpy(-75.0, 35.0, 33.0, 45.0, 23.0, -96.0,
                                A, E2)
    assert abs(float(x) - 1894410.9) < 0.5
    assert abs(float(y) - 1564649.5) < 0.5
    r = lonlat_to_lcc2sp(
        spark.createDataFrame([(-75.0, 35.0)], "lon double, lat double"),
        F.col("lon"), F.col("lat"), 33.0, 45.0, 23.0, -96.0, A, E2,
    ).collect()[0]
    assert abs(r["lcc_x"] - float(x)) < 1e-6
    assert abs(r["lcc_y"] - float(y)) < 1e-6


def test_lcc2sp_reduces_to_spherical_at_e0():
    """e2 = 0 must reduce the ellipsoidal 2SP formulas EXACTLY to the
    spherical Snyder kernel (t -> tan(pi/4 - phi/2) = 1/tan(pi/4 +
    phi/2), m -> cos phi) — an internal consistency check tying the
    two published formula families together."""
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        lcc2sp_forward_numpy,
    )
    from wrf_to_geodataframe_spark.sources.grib2 import lcc_forward

    lons = np.linspace(-120.0, -80.0, 7)
    lats = np.linspace(25.0, 55.0, 7)
    lo, la = np.meshgrid(lons, lats)
    x0, y0 = lcc2sp_forward_numpy(lo, la, 33.0, 45.0, 23.0, -96.0,
                                  6370997.0, 0.0)
    xs, ys = lcc_forward(la, lo, 33.0, 45.0, 23.0, -96.0, 6370997.0)
    np.testing.assert_allclose(x0, xs, rtol=0, atol=1e-7)
    np.testing.assert_allclose(y0, ys, rtol=0, atol=1e-7)


def test_lcc2sp_column_roundtrip(spark):
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        lcc2sp_to_lonlat,
        lonlat_to_lcc2sp,
    )

    rows = [(float(lo), float(la))
            for lo in np.linspace(-130.0, -70.0, 5)
            for la in np.linspace(20.0, 60.0, 5)]
    df = spark.createDataFrame(rows, "lon double, lat double")
    fwd = lonlat_to_lcc2sp(df, F.col("lon"), F.col("lat"),
                           33.0, 45.0, 23.0, -96.0)
    back = lcc2sp_to_lonlat(
        fwd, F.col("lcc_x"), F.col("lcc_y"), 33.0, 45.0, 23.0, -96.0,
        out_lon="lon2", out_lat="lat2",
    ).collect()
    for r in back:
        assert abs(r["lon2"] - r["lon"]) < 1e-9
        assert abs(r["lat2"] - r["lat"]) < 1e-9


# ---------------------------------------------------------------------------
# Transverse Mercator / UTM (Kruger series)


def test_tm_matches_snyder_utm_example(spark):
    """Snyder's TM ellipsoid example (p. 269: Clarke 1866, k0=0.9996,
    lon0=-75; point (40d30', -73d30') -> x=127,106.5 y=4,484,124.4)
    through the numpy twin AND the column transform."""
    from wrf_to_geodataframe_spark.functions.crs import (
        lonlat_to_tm,
        tm_forward_numpy,
    )

    a_c, b_c = 6378206.4, 6356583.8
    f_c = (a_c - b_c) / a_c
    E, N = tm_forward_numpy(-73.5, 40.5, -75.0, 0.9996, a_c, f_c)
    assert abs(float(E) - 127106.5) < 0.5
    assert abs(float(N) - 4484124.4) < 0.5
    r = lonlat_to_tm(
        spark.createDataFrame([(-73.5, 40.5)], "lon double, lat double"),
        F.col("lon"), F.col("lat"), -75.0, 0.9996, a_c, f_c,
    ).collect()[0]
    assert abs(r["easting"] - float(E)) < 1e-6
    assert abs(r["northing"] - float(N)) < 1e-6


def _tm_redfearn_numpy(lon, lat, lon0d, k0, a, f):
    """INDEPENDENT cross-check implementation: the Redfearn/OS-series
    transverse Mercator (the formula family functions/crs.py uses for
    OSGB, generalized to any ellipsoid) — a different published series
    than the shipped Kruger form, so agreement validates both."""
    import numpy as np

    b = a * (1.0 - f)
    e2 = (a * a - b * b) / (a * a)
    n = (a - b) / (a + b)
    ma = 1 + n + 5 / 4 * n**2 + 5 / 4 * n**3
    mb = 3 * n + 3 * n**2 + 21 / 8 * n**3
    mc = 15 / 8 * (n**2 + n**3)
    md = 35 / 24 * n**3
    af0, bf0 = a * k0, b * k0
    phi = np.radians(np.asarray(lat, "float64"))
    lam = np.radians(np.asarray(lon, "float64"))
    lam0 = np.radians(lon0d)
    s2, c2, t2 = np.sin(phi), np.cos(phi), np.tan(phi)
    nu = af0 / np.sqrt(1 - e2 * s2 * s2)
    rho = af0 * (1 - e2) * (1 - e2 * s2 * s2) ** -1.5
    eta2 = nu / rho - 1
    M = bf0 * (ma * phi - mb * np.sin(phi) * np.cos(phi)
               + mc * np.sin(2 * phi) * np.cos(2 * phi)
               - md * np.sin(3 * phi) * np.cos(3 * phi))
    dl = lam - lam0
    t22, t24, c23, c25 = t2 * t2, t2**4, c2**3, c2**5
    E = (nu * c2 * dl
         + nu / 6 * c23 * (nu / rho - t22) * dl**3
         + nu / 120 * c25
         * (5 - 18 * t22 + t24 + 14 * eta2 - 58 * t22 * eta2) * dl**5)
    N = (M + nu / 2 * s2 * c2 * dl * dl
         + nu / 24 * s2 * c23 * (5 - t22 + 9 * eta2) * dl**4
         + nu / 720 * s2 * c25 * (61 - 58 * t22 + t24) * dl**6)
    return E, N


def test_tm_kruger_agrees_with_redfearn_series():
    """Two independent published TM series (the shipped Kruger n-series
    vs a Redfearn/OS-style test-side implementation, WGS84, phi0=0)
    agree to < 2 mm across a full UTM zone — mirrored implementation
    bugs cannot hide because the formula families share nothing."""
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        WGS_A,
        WGS_F,
        tm_forward_numpy,
    )

    lons = np.linspace(-3.0, 3.0, 9) - 3.0  # zone 30, lon0 = -3
    lats = np.linspace(-80.0, 80.0, 17)
    lo, la = np.meshgrid(lons, lats)
    E1, N1 = tm_forward_numpy(lo, la, -3.0, 0.9996, WGS_A, WGS_F)
    E2_, N2 = _tm_redfearn_numpy(lo, la, -3.0, 0.9996, WGS_A, WGS_F)
    assert np.max(np.abs(E1 - E2_)) < 2e-3
    assert np.max(np.abs(N1 - N2)) < 2e-3


def test_utm_column_roundtrip_both_hemispheres(spark):
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        lonlat_to_utm,
        utm_to_lonlat,
    )

    rows = [(float(lo), float(la))
            for lo in np.linspace(-5.9, -0.1, 4)
            for la in np.linspace(1.0, 79.0, 5)]
    df = spark.createDataFrame(rows, "lon double, lat double")
    fwd = lonlat_to_utm(df, F.col("lon"), F.col("lat"), zone=30)
    back = utm_to_lonlat(
        fwd, F.col("easting"), F.col("northing"), zone=30,
        out_lon="lon2", out_lat="lat2",
    ).collect()
    # closure floor measured at 6.6e-9 deg (~0.7 mm) over the whole
    # zone: the forward alpha and inverse beta/delta series are
    # independent truncations at n^3, not exact inverses of each other
    for r in back:
        assert 100000 < r["easting"] < 900000
        assert abs(r["lon2"] - r["lon"]) < 2e-8
        assert abs(r["lat2"] - r["lat"]) < 2e-8
    south = [(float(lo), float(la))
             for lo in np.linspace(172.0, 177.0, 3)
             for la in np.linspace(-46.0, -35.0, 3)]
    df_s = spark.createDataFrame(south, "lon double, lat double")
    fwd_s = lonlat_to_utm(df_s, F.col("lon"), F.col("lat"), zone=59,
                          south=True)
    back_s = utm_to_lonlat(
        fwd_s, F.col("easting"), F.col("northing"), zone=59, south=True,
        out_lon="lon2", out_lat="lat2",
    ).collect()
    for r in back_s:
        assert 0 < r["northing"] < 10000000  # FN keeps N positive
        assert abs(r["lon2"] - r["lon"]) < 2e-8
        assert abs(r["lat2"] - r["lat"]) < 2e-8


def test_utm_zone_validation():
    import pytest

    from wrf_to_geodataframe_spark.functions.crs import utm_zone_lon0

    assert utm_zone_lon0(30) == -3.0
    assert utm_zone_lon0(1) == -177.0
    assert utm_zone_lon0(60) == 177.0
    with pytest.raises(ValueError, match="out of 1..60"):
        utm_zone_lon0(0)
    with pytest.raises(ValueError, match="out of 1..60"):
        utm_zone_lon0(61)


def test_crs_pyproj_crosscheck():
    """Env-gated parity vs pyproj (absent in this container): UTM 30N,
    the NCEP-style spherical LCC, and the ellipsoidal 2SP against
    pyproj's EPSG/proj-string transforms, sub-mm."""
    import pytest

    pyproj = pytest.importorskip("pyproj")
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        WGS_A,
        WGS_F,
        lcc2sp_forward_numpy,
        tm_forward_numpy,
    )
    from wrf_to_geodataframe_spark.sources.grib2 import lcc_forward

    lons = np.linspace(-5.9, -0.1, 5)
    lats = np.linspace(1.0, 79.0, 5)
    lo, la = np.meshgrid(lons, lats)
    t = pyproj.Transformer.from_crs("EPSG:4326", "EPSG:32630",
                                    always_xy=True)
    ex, ny = t.transform(lo, la)
    E, N = tm_forward_numpy(lo, la, -3.0, 0.9996, WGS_A, WGS_F)
    np.testing.assert_allclose(E + 500000.0, ex, rtol=0, atol=1e-3)
    np.testing.assert_allclose(N, ny, rtol=0, atol=1e-3)

    t2 = pyproj.Transformer.from_crs(
        "EPSG:4326",
        "+proj=lcc +lat_1=30 +lat_2=60 +lat_0=40 +lon_0=-100 "
        "+R=6370000 +units=m +no_defs",
        always_xy=True,
    )
    lo2, la2 = np.meshgrid(np.linspace(-120, -80, 5),
                           np.linspace(25, 55, 5))
    px, py = t2.transform(lo2, la2)
    x, y = lcc_forward(la2, lo2, 30.0, 60.0, 40.0, -100.0, 6370000.0)
    np.testing.assert_allclose(x, px, rtol=0, atol=1e-3)
    np.testing.assert_allclose(y, py, rtol=0, atol=1e-3)

    t3 = pyproj.Transformer.from_crs(
        "EPSG:4326",
        "+proj=lcc +lat_1=33 +lat_2=45 +lat_0=23 +lon_0=-96 "
        "+ellps=WGS84 +units=m +no_defs",
        always_xy=True,
    )
    qx, qy = t3.transform(lo2, la2)
    x2, y2 = lcc2sp_forward_numpy(lo2, la2, 33.0, 45.0, 23.0, -96.0)
    np.testing.assert_allclose(x2, qx, rtol=0, atol=1e-3)
    np.testing.assert_allclose(y2, qy, rtol=0, atol=1e-3)


# ---------------------------------------------------------------------------
# EPSG front door (the reference's to_crs("EPSG:...") API shape)


def test_to_crs_dispatch_matches_direct_transforms(spark):
    from wrf_to_geodataframe_spark.functions.crs import (
        from_crs,
        lonlat_to_osgb,
        lonlat_to_utm,
        lonlat_to_webmercator_x,
        lonlat_to_webmercator_y,
        to_crs,
    )

    df = spark.createDataFrame(
        [(-3.5, 52.0), (-1.0, 55.5)], "lon double, lat double"
    )
    # 4326: identity
    r = to_crs(df, "EPSG:4326").collect()[0]
    assert (r["x"], r["y"]) == (-3.5, 52.0)
    # 3857 == direct Web Mercator expressions
    wm = to_crs(df, 3857).collect()
    direct = df.select(
        lonlat_to_webmercator_x(F.col("lon")).alias("x"),
        lonlat_to_webmercator_y(F.col("lat")).alias("y"),
    ).collect()
    assert [(r["x"], r["y"]) for r in wm] == [
        (r["x"], r["y"]) for r in direct
    ]
    # 27700 == lonlat_to_osgb
    os_ = to_crs(df, "EPSG:27700").collect()
    dos = lonlat_to_osgb(df, F.col("lon"), F.col("lat")).collect()
    assert [(r["x"], r["y"]) for r in os_] == [
        (r["easting"], r["northing"]) for r in dos
    ]
    # 32630 == UTM zone 30 north
    ut = to_crs(df, "EPSG:32630").collect()
    dut = lonlat_to_utm(df, F.col("lon"), F.col("lat"), 30).collect()
    assert [(r["x"], r["y"]) for r in ut] == [
        (r["easting"], r["northing"]) for r in dut
    ]
    # round trips through from_crs for every implemented family
    for crs in ("EPSG:4326", "EPSG:3857", "EPSG:32630", "EPSG:27700"):
        back = from_crs(
            to_crs(df, crs), crs, out_lon="lon2", out_lat="lat2"
        ).collect()
        tol = 1e-7 if crs == "EPSG:27700" else 1e-8  # height-drop floor
        for r in back:
            assert abs(r["lon2"] - r["lon"]) < tol, crs
            assert abs(r["lat2"] - r["lat"]) < tol, crs


def test_to_crs_southern_utm_and_named_errors(spark):
    import pytest

    from wrf_to_geodataframe_spark.functions.crs import from_crs, to_crs

    df_s = spark.createDataFrame(
        [(174.8, -41.3)], "lon double, lat double"  # Wellington, 60S
    )
    r = to_crs(df_s, "EPSG:32760").collect()[0]
    assert 0 < r["y"] < 10000000  # false northing applied
    b = from_crs(
        to_crs(df_s, "EPSG:32760"), "EPSG:32760",
        out_lon="lon2", out_lat="lat2",
    ).collect()[0]
    assert abs(b["lon2"] - 174.8) < 1e-8
    assert abs(b["lat2"] + 41.3) < 1e-8
    with pytest.raises(ValueError, match="EPSG:2154 is not implemented"):
        to_crs(df_s, "EPSG:2154")
    with pytest.raises(ValueError, match="not implemented"):
        from_crs(df_s.withColumns({"x": F.lit(0.0), "y": F.lit(0.0)}),
                 "EPSG:2154")
    with pytest.raises(ValueError, match="expected an EPSG code"):
        to_crs(df_s, "+proj=lcc +lat_1=30")


def test_wrf_lcc_params_end_to_end(spark, tmp_path):
    """The WRF workflow closed loop: a wrfout-style file carrying the
    standard projection GLOBAL attributes (MAP_PROJ=1, TRUELAT1/2,
    MOAD_CEN_LAT, STAND_LON) is written by the engine's own classic
    sink, read back, and its attrs drive lonlat_to_lcc — matching the
    Snyder kernel with the same parameters."""
    import numpy as np
    import pytest

    from wrf_to_geodataframe_spark.functions.crs import (
        lcc_to_lonlat,
        lonlat_to_lcc,
        wrf_lcc_params,
    )
    from wrf_to_geodataframe_spark.sources.grib2 import lcc_forward
    from wrf_to_geodataframe_spark.sources.netcdf import (
        read_netcdf,
        write_netcdf,
    )

    p = str(tmp_path / "wrfout_d01.nc")
    write_netcdf(
        p, {"y": 2, "x": 2},
        {"T2": {"dims": ["y", "x"],
                "data": np.arange(4, dtype="float64").reshape(2, 2)}},
        gattrs={
            "TITLE": "OUTPUT FROM WRF V4", "MAP_PROJ": 1,
            "TRUELAT1": np.float32(30.0), "TRUELAT2": np.float32(60.0),
            "MOAD_CEN_LAT": np.float32(40.0),
            "STAND_LON": np.float32(-100.0),
            "CEN_LAT": np.float32(40.0), "DX": np.float32(12000.0),
        },
    )
    ds = read_netcdf(p)
    assert ds["attrs"]["TITLE"] == "OUTPUT FROM WRF V4"
    params = wrf_lcc_params(ds["attrs"])
    assert params["R"] == 6370000.0
    df = spark.createDataFrame(
        [(-105.0, 38.0), (-92.5, 45.0)], "lon double, lat double"
    )
    out = lonlat_to_lcc(df, F.col("lon"), F.col("lat"), **params)
    for r in out.collect():
        x, y = lcc_forward(r["lat"], r["lon"], 30.0, 60.0, 40.0,
                           -100.0, 6370000.0)
        assert abs(r["lcc_x"] - float(x)) < 1e-6
        assert abs(r["lcc_y"] - float(y)) < 1e-6
    back = lcc_to_lonlat(
        out, F.col("lcc_x"), F.col("lcc_y"), **params,
        out_lon="lon2", out_lat="lat2",
    ).collect()
    for r in back:
        assert abs(r["lon2"] - r["lon"]) < 1e-9
        assert abs(r["lat2"] - r["lat"]) < 1e-9
    # named errors: non-LCC projection, missing block
    with pytest.raises(ValueError, match="not Lambert conformal"):
        wrf_lcc_params({**ds["attrs"], "MAP_PROJ": 3})
    with pytest.raises(ValueError, match="TRUELAT1 is missing"):
        wrf_lcc_params({"MAP_PROJ": 1})


def test_polar_stereographic_invariants(spark):
    """Spherical polar stereographic (WRF MAP_PROJ=2): pole at the
    origin, closed-form meridian point, scale true at TRUELAT1
    (projected/great-circle distance ratio = 1 across lat_ts), and
    round-trip both poles."""
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        WRF_SPHERE_R,
        lonlat_to_stere,
        stere_to_lonlat,
    )

    R, lat_ts, lon0 = WRF_SPHERE_R, 60.0, -100.0
    k0 = (1.0 + math.sin(math.radians(60.0))) / 2.0
    df = spark.createDataFrame(
        [(-100.0, 90.0), (-100.0, 60.0)], "lon double, lat double"
    )
    rows = lonlat_to_stere(
        df, F.col("lon"), F.col("lat"), lat_ts, lon0
    ).collect()
    assert abs(rows[0]["x"]) < 1e-9 and abs(rows[0]["y"]) < 1e-9
    rho = 2.0 * R * k0 * math.tan(math.radians(15.0))  # pi/4 - 60/2
    assert abs(rows[1]["x"] - 0.0) < 1e-6
    assert abs(rows[1]["y"] + rho) < 1e-6
    # scale true at lat_ts: tiny east-west step along the parallel
    eps = 1e-4
    d2 = spark.createDataFrame(
        [(-100.0, 60.0), (-100.0 + eps, 60.0)], "lon double, lat double"
    )
    pts = lonlat_to_stere(
        d2, F.col("lon"), F.col("lat"), lat_ts, lon0
    ).collect()
    proj = math.hypot(pts[1]["x"] - pts[0]["x"],
                      pts[1]["y"] - pts[0]["y"])
    true_d = R * math.cos(math.radians(60.0)) * math.radians(eps)
    assert abs(proj / true_d - 1.0) < 1e-6
    # round-trip, both hemispheres (south: lat_ts < 0 picks the pole)
    for ts, lats in ((60.0, (30.0, 55.0, 89.0)),
                     (-60.0, (-30.0, -55.0, -89.0))):
        pts = [(float(lo), float(la))
               for lo in np.linspace(-170.0, 170.0, 5) for la in lats]
        dd = spark.createDataFrame(pts, "lon double, lat double")
        back = stere_to_lonlat(
            lonlat_to_stere(dd, F.col("lon"), F.col("lat"), ts, lon0),
            F.col("x"), F.col("y"), ts, lon0,
            out_lon="lon2", out_lat="lat2",
        ).collect()
        for r in back:
            dlon = (r["lon2"] - r["lon"] + 180.0) % 360.0 - 180.0
            assert abs(dlon) < 1e-9, (ts, r["lon"], r["lat"])
            assert abs(r["lat2"] - r["lat"]) < 1e-9


def test_mercator_truelat_and_webmercator_equivalence(spark):
    from wrf_to_geodataframe_spark.functions.crs import (
        lonlat_to_mercator,
        lonlat_to_webmercator_x,
        lonlat_to_webmercator_y,
        mercator_to_lonlat,
    )

    df = spark.createDataFrame(
        [(-50.0, 10.0), (120.0, -35.0)], "lon double, lat double"
    )
    # lat_ts=0 / R=6378137 / lon0=0 IS Web Mercator
    wm = lonlat_to_mercator(
        df, F.col("lon"), F.col("lat"), 0.0, 0.0, 6378137.0
    ).collect()
    direct = df.select(
        lonlat_to_webmercator_x(F.col("lon")).alias("x"),
        lonlat_to_webmercator_y(F.col("lat")).alias("y"),
    ).collect()
    for a, b in zip(wm, direct):
        assert abs(a["x"] - b["x"]) < 1e-9
        assert abs(a["y"] - b["y"]) < 1e-9
    # WRF-style true latitude + central meridian: round trip
    back = mercator_to_lonlat(
        lonlat_to_mercator(df, F.col("lon"), F.col("lat"), 20.0, -100.0),
        F.col("x"), F.col("y"), 20.0, -100.0,
        out_lon="lon2", out_lat="lat2",
    ).collect()
    for r in back:
        assert abs(r["lon2"] - r["lon"]) < 1e-9
        assert abs(r["lat2"] - r["lat"]) < 1e-9


def test_wrf_projection_dispatch_all_map_proj(spark):
    import pytest

    from wrf_to_geodataframe_spark.functions.crs import (
        lonlat_to_stere,
        wrf_projection,
    )

    base = {"TRUELAT1": 60.0, "TRUELAT2": 30.0, "MOAD_CEN_LAT": 40.0,
            "STAND_LON": -100.0}
    df = spark.createDataFrame([(-95.0, 45.0)], "lon double, lat double")
    # MAP_PROJ=2 dispatch == direct polar stereographic
    fwd, inv = wrf_projection({**base, "MAP_PROJ": 2})
    got = fwd(df, F.col("lon"), F.col("lat")).collect()[0]
    want = lonlat_to_stere(
        df, F.col("lon"), F.col("lat"), 60.0, -100.0
    ).collect()[0]
    assert (got["x"], got["y"]) == (want["x"], want["y"])
    b = inv(fwd(df, F.col("lon"), F.col("lat")), F.col("x"), F.col("y"),
            out_lon="lon2", out_lat="lat2").collect()[0]
    assert abs(b["lon2"] + 95.0) < 1e-9 and abs(b["lat2"] - 45.0) < 1e-9
    # every MAP_PROJ round-trips through its own pair
    for mp in (1, 2, 3, 6):
        fwd, inv = wrf_projection({**base, "MAP_PROJ": mp})
        r = inv(fwd(df, F.col("lon"), F.col("lat")),
                F.col("x"), F.col("y"),
                out_lon="lon2", out_lat="lat2").collect()[0]
        assert abs(r["lon2"] + 95.0) < 1e-8, mp
        assert abs(r["lat2"] - 45.0) < 1e-8, mp
    with pytest.raises(ValueError, match="MAP_PROJ=5"):
        wrf_projection({**base, "MAP_PROJ": 5})


def test_rotated_columns_match_grib2_kernel(spark):
    """The rotated-pole column transforms mirror the grib2
    rotation-matrix kernels (whose pole/origin/angular-distance
    invariants are pinned in tests/test_grib2.py) to fp roundoff, and
    invert each other."""
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        lonlat_to_rotated,
        rotated_to_lonlat,
    )
    from wrf_to_geodataframe_spark.sources.grib2 import rotated_to_true

    sp_lat, sp_lon = -37.5, -2.5  # UKCP18
    rows = [(float(lo), float(la))
            for lo in np.linspace(-8.0, 8.0, 5)
            for la in np.linspace(-6.0, 6.0, 5)]
    df = spark.createDataFrame(rows, "lon_r double, lat_r double")
    out = rotated_to_lonlat(
        df, F.col("lon_r"), F.col("lat_r"), sp_lat, sp_lon
    ).collect()
    for r in out:
        la, lo = rotated_to_true(r["lat_r"], r["lon_r"], sp_lat, sp_lon)
        assert abs(r["lat"] - float(la)) < 1e-9
        assert abs(r["lon"] - float(lo)) < 1e-9
    back = lonlat_to_rotated(
        rotated_to_lonlat(df, F.col("lon_r"), F.col("lat_r"),
                          sp_lat, sp_lon),
        F.col("lon"), F.col("lat"), sp_lat, sp_lon,
        out_lon="lon_r2", out_lat="lat_r2",
    ).collect()
    for r in back:
        assert abs(r["lon_r2"] - r["lon_r"]) < 1e-9
        assert abs(r["lat_r2"] - r["lat_r"]) < 1e-9


def test_haversine_known_values(spark):
    """Haversine: zero at identity, half-circumference at antipodes,
    1 degree of longitude at the equator = pi/180 * R, and symmetric."""
    import math as m

    from wrf_to_geodataframe_spark.functions.crs import haversine_m

    R = 6371000.0
    df = spark.createDataFrame(
        [(0.0, 0.0, 0.0, 0.0),
         (0.0, 0.0, 0.0, 180.0),
         (0.0, 0.0, 0.0, 1.0),
         (51.5, -0.12, 48.857, 2.351)],  # London -> Paris
        "lat1 double, lon1 double, lat2 double, lon2 double",
    )
    rows = df.select(
        haversine_m(F.col("lat1"), F.col("lon1"),
                    F.col("lat2"), F.col("lon2")).alias("d"),
        haversine_m(F.col("lat2"), F.col("lon2"),
                    F.col("lat1"), F.col("lon1")).alias("rev"),
    ).collect()
    assert rows[0]["d"] == 0.0
    assert abs(rows[1]["d"] - m.pi * R) < 1e-6
    assert abs(rows[2]["d"] - m.radians(1.0) * R) < 1e-6
    assert 330_000 < rows[3]["d"] < 350_000  # ~341 km
    for r in rows:
        assert abs(r["d"] - r["rev"]) < 1e-9


def test_bearing_and_destination_known_values_and_roundtrip(spark):
    """Geodesic direct/inverse consistency: due-compass bearings at
    the equator, destination(bearing(A,B), haversine(A,B)) lands on B
    (midpoint symmetry), and a due-east equatorial hop of one degree
    of arc moves exactly one degree of longitude."""
    from wrf_to_geodataframe_spark.functions.crs import (
        bearing_deg,
        destination_point,
        haversine_m,
    )

    df = spark.createDataFrame(
        [(0.0, 0.0, 0.0, 10.0),    # due east
         (0.0, 0.0, 10.0, 0.0),    # due north
         (51.5, -0.12, 48.857, 2.351)],  # London -> Paris
        "lat1 double, lon1 double, lat2 double, lon2 double",
    )
    rows = df.select(
        bearing_deg("lat1", "lon1", "lat2", "lon2").alias("b"),
        destination_point(
            F.col("lat1"), F.col("lon1"),
            bearing_deg("lat1", "lon1", "lat2", "lon2"),
            haversine_m("lat1", "lon1", "lat2", "lon2"),
        ).alias("dst"),
        "lat2", "lon2",
    ).collect()
    assert abs(rows[0]["b"] - 90.0) < 1e-9
    assert abs(rows[1]["b"] - 0.0) < 1e-9
    for r in rows:
        assert abs(r["dst"]["lat"] - r["lat2"]) < 1e-9
        assert abs(r["dst"]["lon"] - r["lon2"]) < 1e-9
    # one degree of arc due east on the equator = one degree longitude
    import math as m

    one_deg = m.radians(1.0) * 6371000.0
    r = spark.createDataFrame([(0.0, 5.0)], "lat double, lon double").select(
        destination_point(
            F.col("lat"), F.col("lon"), F.lit(90.0), F.lit(one_deg)
        ).alias("d")
    ).collect()[0]
    assert abs(r["d"]["lon"] - 6.0) < 1e-9
    assert abs(r["d"]["lat"]) < 1e-9


# ---------------------------------------------------------------------------
# Equal-area projections (LAEA / Albers) + exact ellipsoidal cell areas


def test_laea_matches_epsg_and_snyder_worked_examples():
    """Forward/inverse LAEA pinned to PUBLISHED numbers: the EPSG
    Guidance Note 7-2 ETRS89-LAEA (EPSG:3035) worked example — 50N 5E
    -> E 3962799.45, N 2999718.85 — and Snyder PP 1395's ellipsoidal
    worked example (Clarke 1866, origin 40N/100W): (30N, 110W) ->
    x -965932.1, y -1056814.9, plus its inverse."""
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        laea_forward_numpy,
        laea_inverse_numpy,
    )

    x, y = laea_forward_numpy(5.0, 50.0, 52.0, 10.0,
                              fe=4321000.0, fn=3210000.0)
    assert round(float(x), 2) == 3962799.45
    assert round(float(y), 2) == 2999718.85
    lo, la = laea_inverse_numpy(3962799.45, 2999718.85, 52.0, 10.0,
                                fe=4321000.0, fn=3210000.0)
    assert abs(float(lo) - 5.0) < 1e-7 and abs(float(la) - 50.0) < 1e-6

    a_c, e2_c = 6378206.4, 0.00676866  # Clarke 1866, Snyder's values
    x2, y2 = laea_forward_numpy(-110.0, 30.0, 40.0, -100.0,
                                a=a_c, e2=e2_c)
    assert round(float(x2), 1) == -965932.1
    assert round(float(y2), 1) == -1056814.9
    lo2, la2 = laea_inverse_numpy(-965932.1, -1056814.9, 40.0, -100.0,
                                  a=a_c, e2=e2_c)
    assert abs(float(lo2) - -110.0) < 1e-6
    assert abs(float(la2) - 30.0) < 1e-6


def test_albers_matches_snyder_worked_example():
    """Ellipsoidal Albers pinned to Snyder PP 1395's worked example
    (Clarke 1866, standard parallels 29.5/45.5, origin 23N/96W):
    (35N, 75W) -> x 1885472.7, y 1535925.0 — and its inverse."""
    from wrf_to_geodataframe_spark.functions.crs import (
        albers_forward_numpy,
        albers_inverse_numpy,
    )

    a_c, e2_c = 6378206.4, 0.00676866
    x, y = albers_forward_numpy(-75.0, 35.0, 29.5, 45.5, 23.0, -96.0,
                                a=a_c, e2=e2_c)
    assert round(float(x), 1) == 1885472.7
    assert round(float(y), 1) == 1535925.0
    lo, la = albers_inverse_numpy(1885472.7, 1535925.0, 29.5, 45.5,
                                  23.0, -96.0, a=a_c, e2=e2_c)
    assert abs(float(lo) - -75.0) < 1e-6 and abs(float(la) - 35.0) < 1e-6


def test_laea_albers_columns_match_numpy_twins(spark):
    """The JVM column transforms and the numpy twins are the same
    formula evaluated by two engines — agreement to sub-mm on a grid
    spanning the domain, INCLUDING the projection origin (the rho = 0
    guard of the inverse)."""
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        albers_forward_numpy,
        laea_forward_numpy,
        lonlat_to_albers,
        lonlat_to_laea,
    )

    df = spark.range(121).select(
        ((F.col("id") % 11).cast("double") * 3.0 - 10.0).alias("lon"),
        (F.floor(F.col("id") / 11).cast("double") * 3.5 + 35.0).alias("lat"),
    )
    # append the exact LAEA origin (10E, 52N)
    df = df.union(spark.sql("SELECT 10.0 AS lon, 52.0 AS lat"))
    rows = lonlat_to_laea(
        df, "lon", "lat", 52.0, 10.0,
        false_easting=4321000.0, false_northing=3210000.0,
    ).collect()
    lo = np.array([r.lon for r in rows])
    la = np.array([r.lat for r in rows])
    ex, ey = laea_forward_numpy(lo, la, 52.0, 10.0,
                                fe=4321000.0, fn=3210000.0)
    np.testing.assert_allclose([r.laea_x for r in rows], ex, atol=1e-4)
    np.testing.assert_allclose([r.laea_y for r in rows], ey, atol=1e-4)

    rows2 = lonlat_to_albers(
        spark.range(121).select(
            ((F.col("id") % 11).cast("double") * 5.0 - 120.0).alias("lon"),
            (F.floor(F.col("id") / 11).cast("double") * 2.5 + 25.0)
            .alias("lat"),
        ),
        "lon", "lat", 29.5, 45.5, 23.0, -96.0,
    ).collect()
    lo2 = np.array([r.lon for r in rows2])
    la2 = np.array([r.lat for r in rows2])
    ex2, ey2 = albers_forward_numpy(lo2, la2, 29.5, 45.5, 23.0, -96.0)
    np.testing.assert_allclose([r.albers_x for r in rows2], ex2, atol=1e-4)
    np.testing.assert_allclose([r.albers_y for r in rows2], ey2, atol=1e-4)


def test_laea_albers_to_crs_roundtrip(spark):
    """EPSG front door: to_crs(3035) -> from_crs(3035) and
    to_crs(5070) -> from_crs(5070) round-trip to sub-micro-degree
    (the 3-18 series' O(e^8) floor), including the origin."""
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import from_crs, to_crs

    df = spark.range(50).select(
        ((F.col("id") % 10).cast("double") * 4.0 - 8.0).alias("lon"),
        (F.floor(F.col("id") / 10).cast("double") * 7.0 + 36.0)
        .alias("lat"),
    ).union(spark.sql("SELECT 10.0, 52.0"))
    rt = from_crs(
        to_crs(df, "EPSG:3035", out_x="x", out_y="y"),
        3035, out_lon="lon2", out_lat="lat2",
    ).collect()
    for r in rt:
        assert abs(r.lon2 - r.lon) < 1e-6, r
        assert abs(r.lat2 - r.lat) < 1e-6, r

    df2 = spark.range(50).select(
        ((F.col("id") % 10).cast("double") * 5.5 - 122.0).alias("lon"),
        (F.floor(F.col("id") / 10).cast("double") * 5.0 + 25.0)
        .alias("lat"),
    )
    rt2 = from_crs(
        to_crs(df2, 5070, out_x="x", out_y="y"),
        "EPSG:5070", out_lon="lon2", out_lat="lat2",
    ).collect()
    for r in rt2:
        assert abs(r.lon2 - r.lon) < 1e-6, r
        assert abs(r.lat2 - r.lat) < 1e-6, r


def test_equal_area_property_both_projections():
    """THE defining property: the planar area of a densified projected
    lon/lat box equals the exact ellipsoidal area (closed form via
    authalic q) to ~1e-10 relative — for LAEA at European latitudes and
    Albers over CONUS.  A conformal projection (Web Mercator) fails
    this by design (area inflation ~ 1/cos^2(lat), > 2x at 50N) —
    asserted as the negative control."""
    import math as m

    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        albers_forward_numpy,
        ellipsoid_box_area_m2_float,
        laea_forward_numpy,
    )

    def densified_ring(lon1, lat1, lon2, lat2, nseg=1500):
        return np.concatenate([
            np.stack([np.linspace(lon1, lon2, nseg),
                      np.full(nseg, lat1)], 1),
            np.stack([np.full(nseg, lon2),
                      np.linspace(lat1, lat2, nseg)], 1),
            np.stack([np.linspace(lon2, lon1, nseg),
                      np.full(nseg, lat2)], 1),
            np.stack([np.full(nseg, lon1),
                      np.linspace(lat2, lat1, nseg)], 1),
        ])

    def shoelace(x, y):
        return 0.5 * abs(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))

    ring = densified_ring(5.0, 50.0, 6.0, 51.0)
    want = ellipsoid_box_area_m2_float(5.0, 50.0, 6.0, 51.0)
    px, py = laea_forward_numpy(ring[:, 0], ring[:, 1], 52.0, 10.0)
    got = shoelace(px, py)
    assert abs(got - want) / want < 1e-9, (got, want)

    ring2 = densified_ring(-100.0, 38.0, -99.0, 39.0)
    want2 = ellipsoid_box_area_m2_float(-100.0, 38.0, -99.0, 39.0)
    qx, qy = albers_forward_numpy(ring2[:, 0], ring2[:, 1],
                                  29.5, 45.5, 23.0, -96.0)
    got2 = shoelace(qx, qy)
    assert abs(got2 - want2) / want2 < 1e-9, (got2, want2)

    # negative control: Web Mercator inflates area by ~1/cos^2(lat)
    R = 6378137.0
    wx = np.radians(ring[:, 0]) * R
    wy = R * np.log(np.tan(np.pi / 4 + np.radians(ring[:, 1]) / 2))
    infl = shoelace(wx, wy) / want
    assert infl > 2.0, infl  # 1/cos(50.5 deg)^2 ~ 2.47


def test_ellipsoid_box_area_additive_and_matches_column(spark):
    """Additivity (the conservation precondition): splitting a box at
    any interior latitude or longitude gives parts whose closed-form
    areas sum to the whole within 1 ulp-scale tolerance; and the Spark
    column evaluates the identical formula (sub-m^2 on ~1e10 m^2)."""
    from wrf_to_geodataframe_spark.functions.crs import (
        ellipsoid_box_area_m2,
        ellipsoid_box_area_m2_float,
    )

    whole = ellipsoid_box_area_m2_float(3.0, 42.0, 7.0, 46.0)
    for latm in (42.5, 44.0, 45.9):
        parts = (ellipsoid_box_area_m2_float(3.0, 42.0, 7.0, latm)
                 + ellipsoid_box_area_m2_float(3.0, latm, 7.0, 46.0))
        assert abs(parts - whole) < 1e-3, (latm, parts, whole)
    for lonm in (3.1, 5.0, 6.8):
        parts = (ellipsoid_box_area_m2_float(3.0, 42.0, lonm, 46.0)
                 + ellipsoid_box_area_m2_float(lonm, 42.0, 7.0, 46.0))
        assert abs(parts - whole) < 1e-3, (lonm, parts, whole)

    rows = spark.range(20).select(
        (F.col("id").cast("double") * 0.37 - 3.0).alias("lon1"),
        (F.col("id").cast("double") * 0.41 + 38.0).alias("lat1"),
    ).select(
        "lon1", "lat1",
        ellipsoid_box_area_m2(
            "lon1", "lat1",
            F.col("lon1") + 0.25, F.col("lat1") + 0.25,
        ).alias("area"),
    ).collect()
    for r in rows:
        want = ellipsoid_box_area_m2_float(
            r.lon1, r.lat1, r.lon1 + 0.25, r.lat1 + 0.25
        )
        assert abs(r.area - want) < 1.0, (r, want)


def test_equalarea_pyproj_crosscheck():
    """Env-gated parity vs pyproj (absent in this container):
    EPSG:3035 and EPSG:5070 grids, sub-mm."""
    import pytest

    pyproj = pytest.importorskip("pyproj")
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        albers_forward_numpy,
        laea_forward_numpy,
    )

    lo, la = np.meshgrid(np.linspace(-10, 30, 5), np.linspace(35, 70, 5))
    t = pyproj.Transformer.from_crs("EPSG:4326", "EPSG:3035",
                                    always_xy=True)
    ex, ny = t.transform(lo, la)
    x, y = laea_forward_numpy(lo, la, 52.0, 10.0,
                              fe=4321000.0, fn=3210000.0)
    np.testing.assert_allclose(x, ex, rtol=0, atol=1e-3)
    np.testing.assert_allclose(y, ny, rtol=0, atol=1e-3)

    lo2, la2 = np.meshgrid(np.linspace(-120, -75, 5),
                           np.linspace(25, 48, 5))
    t2 = pyproj.Transformer.from_crs("EPSG:4326", "EPSG:5070",
                                     always_xy=True)
    ex2, ny2 = t2.transform(lo2, la2)
    x2, y2 = albers_forward_numpy(lo2, la2, 29.5, 45.5, 23.0, -96.0)
    np.testing.assert_allclose(x2, ex2, rtol=0, atol=1e-3)
    np.testing.assert_allclose(y2, ny2, rtol=0, atol=1e-3)


# ---------------------------------------------------------------------------
# Ellipsoidal geodesic distance (Vincenty inverse)


def test_vincenty_matches_published_lines():
    """Pinned to PUBLISHED numbers: Vincenty's own 1975 paper test
    line (a) on the Bessel ellipsoid — phi1 55°45', phi2 -33°26',
    L 108°13' -> s = 14110526.170 m — and GeographicLib's documented
    JFK->LHR example, (40.6N, 73.8W) -> (51.6N, 0.5W) = 5551759.4 m
    on WGS84 (Karney's geodesic and Vincenty agree to sub-mm there).
    Plus structure: coincident points -> exactly 0; the equator is a
    geodesic of length a * dlam; symmetry under swapping endpoints."""
    import math

    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import vincenty_numpy

    d = float(vincenty_numpy(55.0 + 45.0 / 60.0, 0.0,
                             -(33.0 + 26.0 / 60.0), 108.0 + 13.0 / 60.0,
                             a=6377397.155, f=1.0 / 299.1528128))
    assert abs(d - 14110526.170) < 1e-3, d

    d2 = float(vincenty_numpy(40.6, -73.8, 51.6, -0.5))
    assert abs(d2 - 5551759.400) < 1e-3, d2

    assert float(vincenty_numpy(10.0, 20.0, 10.0, 20.0)) == 0.0
    a_wgs = 6378137.0
    deq = float(vincenty_numpy(0.0, 0.0, 0.0, 10.0))
    assert abs(deq - a_wgs * math.radians(10.0)) < 1e-6
    fwd = vincenty_numpy([12.0, -40.0], [5.0, 100.0], [47.0, -41.0],
                         [-60.0, 121.0])
    rev = vincenty_numpy([47.0, -41.0], [-60.0, 121.0], [12.0, -40.0],
                         [5.0, 100.0])
    np.testing.assert_allclose(fwd, rev, rtol=0, atol=1e-6)


def test_vincenty_udf_matches_numpy_and_haversine_bound(spark):
    """The Arrow pandas_udf is the numpy kernel verbatim (bit-equal on
    a grid); and the documented spherical bound holds: haversine is
    within 0.56% of the ellipsoidal distance over a mid-latitude
    sweep (the flattening envelope the haversine_m docstring
    promises)."""
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        ellipsoidal_distance_udf,
        haversine_m,
        vincenty_numpy,
    )

    df = spark.range(200).select(
        ((F.col("id") % 20).cast("double") * 9.0 - 85.0).alias("lat1"),
        (F.floor(F.col("id") / 20).cast("double") * 35.0 - 170.0)
        .alias("lon1"),
    ).filter(F.col("lat1") != -40.0)  # keep away from near-antipodal
    vd = ellipsoidal_distance_udf()
    rows = df.select(
        "lat1", "lon1",
        vd(F.col("lat1"), F.col("lon1"),
           F.lit(40.0), F.lit(10.0)).alias("dv"),
        haversine_m(F.col("lat1"), F.col("lon1"),
                    F.lit(40.0), F.lit(10.0)).alias("dh"),
    ).collect()
    la = np.array([r.lat1 for r in rows])
    lo = np.array([r.lon1 for r in rows])
    want = vincenty_numpy(la, lo, np.full_like(la, 40.0),
                          np.full_like(la, 10.0))
    np.testing.assert_array_equal([r.dv for r in rows], want)
    for r in rows:
        if r.dv > 1000.0:
            assert abs(r.dh - r.dv) / r.dv < 0.0056, r


def test_vincenty_geographiclib_crosscheck():
    """Env-gated parity vs geographiclib/pyproj (absent here): Karney
    geodesic distances on a random sweep, within 1 mm of Vincenty for
    non-near-antipodal pairs."""
    import pytest

    pyproj = pytest.importorskip("pyproj")
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import vincenty_numpy

    g = pyproj.Geod(ellps="WGS84")
    rng = np.random.default_rng(7)
    la1 = rng.uniform(-70, 70, 50)
    lo1 = rng.uniform(-180, 180, 50)
    la2 = la1 + rng.uniform(-40, 40, 50)
    lo2 = lo1 + rng.uniform(-40, 40, 50)
    la2 = np.clip(la2, -89.0, 89.0)
    _a1, _a2, want = g.inv(lo1, la1, lo2, la2)
    got = vincenty_numpy(la1, lo1, la2, lo2)
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-3)


def test_cea_ease_grid2_constants_and_equal_area():
    """Cylindrical equal-area at EASE-Grid 2.0 parameters (WGS84,
    lat_ts = 30): the map half-width at lon = 180 reproduces NSIDC's
    PUBLISHED EASE-Grid 2.0 constant 17,367,530.45 m; the equal-area
    property holds to 1e-10 relative against the closed-form
    ellipsoidal box area; forward/inverse round-trip to the series
    floor."""
    import math

    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        WGS_A,
        WGS_F,
        cea_forward_numpy,
        cea_inverse_numpy,
        ellipsoid_box_area_m2_float,
    )

    e2w = WGS_F * (2.0 - WGS_F)
    # +180 wraps to -180 (the (-pi, pi] convention), so the half-width
    # appears with a minus sign
    x180, _y = cea_forward_numpy(180.0, 0.0, 30.0, a=WGS_A, e2=e2w)
    assert abs(abs(float(x180)) - 17367530.45) < 0.01, x180

    nseg = 1500
    ring = np.concatenate([
        np.stack([np.linspace(5, 6, nseg), np.full(nseg, 50.0)], 1),
        np.stack([np.full(nseg, 6.0), np.linspace(50, 51, nseg)], 1),
        np.stack([np.linspace(6, 5, nseg), np.full(nseg, 51.0)], 1),
        np.stack([np.full(nseg, 5.0), np.linspace(51, 50, nseg)], 1),
    ])
    px, py = cea_forward_numpy(ring[:, 0], ring[:, 1], 30.0,
                               a=WGS_A, e2=e2w)
    sh = 0.5 * abs(np.sum(px * np.roll(py, -1) - np.roll(px, -1) * py))
    want = ellipsoid_box_area_m2_float(5.0, 50.0, 6.0, 51.0,
                                       a=WGS_A, e2=e2w)
    assert abs(sh - want) / want < 1e-9

    lo = np.linspace(-170, 170, 15)
    la = np.linspace(-85, 85, 15)
    X, Y = cea_forward_numpy(lo, la, 30.0, a=WGS_A, e2=e2w)
    lo2, la2 = cea_inverse_numpy(X, Y, 30.0, a=WGS_A, e2=e2w)
    np.testing.assert_allclose(lo2, lo, atol=1e-9)
    np.testing.assert_allclose(la2, la, atol=1e-6)


def test_cea_to_crs_roundtrip_and_column_parity(spark):
    """EPSG:6933 through the front door: to_crs -> from_crs
    round-trips, and the JVM columns equal the numpy twin."""
    import numpy as np

    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.functions.crs import (
        WGS_A,
        WGS_F,
        cea_forward_numpy,
        from_crs,
        to_crs,
    )

    df = spark.range(60).select(
        ((F.col("id") % 12).cast("double") * 30.0 - 165.0).alias("lon"),
        (F.floor(F.col("id") / 12).cast("double") * 35.0 - 70.0)
        .alias("lat"),
    )
    rows = from_crs(
        to_crs(df, "EPSG:6933", out_x="x", out_y="y"),
        6933, out_lon="lon2", out_lat="lat2",
    ).collect()
    e2w = WGS_F * (2.0 - WGS_F)
    lo = np.array([r.lon for r in rows])
    la = np.array([r.lat for r in rows])
    ex, ey = cea_forward_numpy(lo, la, 30.0, a=WGS_A, e2=e2w)
    np.testing.assert_allclose([r.x for r in rows], ex, atol=1e-5)
    np.testing.assert_allclose([r.y for r in rows], ey, atol=1e-5)
    for r in rows:
        assert abs(r.lon2 - r.lon) < 1e-8, r
        assert abs(r.lat2 - r.lat) < 1e-6, r


# ---------------------------------------------------------------------------
# Hypothesis fuzz: equal-area + geodesic kernels


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(
    lon=st.floats(-179.5, 179.5),
    lat=st.floats(-85.0, 85.0),
    lat0=st.floats(-80.0, 80.0),
    lon0=st.floats(-179.0, 179.0),
)
def test_fuzz_laea_roundtrip(lon, lat, lat0, lon0):
    """Forward->inverse LAEA round-trips everywhere except near the
    antipode of the projection origin (where rho approaches the map
    edge and the inverse loses conditioning)."""
    import math

    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        laea_forward_numpy,
        laea_inverse_numpy,
    )

    # skip near-antipodal pairs: angular distance > 150 deg
    c = (math.sin(math.radians(lat0)) * math.sin(math.radians(lat))
         + math.cos(math.radians(lat0)) * math.cos(math.radians(lat))
         * math.cos(math.radians(lon - lon0)))
    if c < math.cos(math.radians(150.0)):
        return
    x, y = laea_forward_numpy(np.array([lon]), np.array([lat]),
                              lat0, lon0)
    lo2, la2 = laea_inverse_numpy(x, y, lat0, lon0)
    dlon = abs((float(lo2[0]) - lon + 180.0) % 360.0 - 180.0)
    assert dlon * math.cos(math.radians(lat)) < 1e-6
    assert abs(float(la2[0]) - lat) < 1e-6


@settings(max_examples=200, deadline=None)
@given(
    lon=st.floats(-120.0, -70.0),
    lat=st.floats(20.0, 50.0),
)
def test_fuzz_albers_cea_roundtrip_and_area_sign(lon, lat):
    """Albers (Conus parameters) and CEA (EASE-2 parameters)
    round-trip; the ellipsoidal box area of a small box around the
    point is positive and within 1% of the cos-lat planar estimate."""
    import math

    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        WGS_A,
        WGS_F,
        albers_forward_numpy,
        albers_inverse_numpy,
        cea_forward_numpy,
        cea_inverse_numpy,
        ellipsoid_box_area_m2_float,
    )

    x, y = albers_forward_numpy(np.array([lon]), np.array([lat]),
                                29.5, 45.5, 23.0, -96.0)
    lo2, la2 = albers_inverse_numpy(x, y, 29.5, 45.5, 23.0, -96.0)
    assert abs(float(lo2[0]) - lon) < 1e-7
    assert abs(float(la2[0]) - lat) < 1e-6

    e2w = WGS_F * (2.0 - WGS_F)
    x2, y2 = cea_forward_numpy(np.array([lon]), np.array([lat]), 30.0,
                               a=WGS_A, e2=e2w)
    lo3, la3 = cea_inverse_numpy(x2, y2, 30.0, a=WGS_A, e2=e2w)
    assert abs(float(lo3[0]) - lon) < 1e-7
    assert abs(float(la3[0]) - lat) < 1e-6

    a = ellipsoid_box_area_m2_float(lon, lat, lon + 0.1, lat + 0.1)
    est = (0.1 * 111194.9 * 0.1 * 111194.9
           * math.cos(math.radians(lat + 0.05)))
    assert a > 0 and abs(a - est) / est < 0.01


@settings(max_examples=150, deadline=None)
@given(
    lat1=st.floats(-75.0, 75.0),
    lon1=st.floats(-180.0, 180.0),
    dlat=st.floats(-25.0, 25.0),
    dlon=st.floats(-25.0, 25.0),
)
def test_fuzz_vincenty_bounds(lat1, lon1, dlat, dlon):
    """Vincenty distance sits within the documented 0.56% flattening
    envelope of the spherical haversine, is symmetric, and obeys
    d >= 0 with equality only for coincident points."""
    import math

    from wrf_to_geodataframe_spark.functions.crs import vincenty_numpy

    lat2 = max(-89.0, min(89.0, lat1 + dlat))
    lon2 = lon1 + dlon
    d = float(vincenty_numpy(lat1, lon1, lat2, lon2))
    dr = float(vincenty_numpy(lat2, lon2, lat1, lon1))
    assert d >= 0.0
    assert abs(d - dr) < 1e-5 * max(d, 1.0)
    R = 6371000.0
    dphi = math.radians(lat2 - lat1) / 2
    dlam = math.radians(lon2 - lon1) / 2
    a = (math.sin(dphi) ** 2 + math.cos(math.radians(lat1))
         * math.cos(math.radians(lat2)) * math.sin(dlam) ** 2)
    dh = 2 * R * math.asin(math.sqrt(min(max(a, 0.0), 1.0)))
    if d > 1000.0:
        # worst case is a short meridian arc at the equator:
        # R_sphere / (a (1 - e^2)) - 1 = 0.5613%
        assert abs(dh - d) / d < 0.00562


def test_vincenty_direct_matches_published_line_and_inverse():
    """The DIRECT problem pinned to Vincenty's own 1975 test line (a)
    on Bessel — from 55°45'N along azimuth 96°36'08.79960" for
    14110526.170 m -> phi2 = -33°26', L = 108°13',
    alpha2 = 137°52'22.01454" — and closed against the inverse: for a
    random sweep, direct(p1, bearing(p1, p2), dist(p1, p2)) lands on
    p2 to sub-mm."""
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        vincenty_bearing_numpy,
        vincenty_direct_numpy,
        vincenty_numpy,
    )

    az1 = 96.0 + 36.0 / 60.0 + 8.79960 / 3600.0
    lon2, lat2, az2 = vincenty_direct_numpy(
        55.0 + 45.0 / 60.0, 0.0, az1, 14110526.170,
        a=6377397.155, f=1.0 / 299.1528128,
    )
    assert abs(float(lat2) - -(33.0 + 26.0 / 60.0)) < 1e-8
    assert abs(float(lon2) - (108.0 + 13.0 / 60.0)) < 1e-8
    assert abs(float(az2) - (137.0 + 52.0 / 60.0 + 22.01454 / 3600.0)) < 1e-8

    rng = np.random.default_rng(42)
    la1 = rng.uniform(-70, 70, 40)
    lo1 = rng.uniform(-180, 180, 40)
    la2 = np.clip(la1 + rng.uniform(-30, 30, 40), -89, 89)
    lo2 = lo1 + rng.uniform(-30, 30, 40)
    d = vincenty_numpy(la1, lo1, la2, lo2)
    az = vincenty_bearing_numpy(la1, lo1, la2, lo2)
    glo, gla, _ = vincenty_direct_numpy(la1, lo1, az, d)
    wlo = np.mod(lo2 + 180.0, 360.0) - 180.0
    np.testing.assert_allclose(gla, la2, rtol=0, atol=1e-8)
    dl = np.abs(np.mod(glo - wlo + 180.0, 360.0) - 180.0)
    np.testing.assert_array_less(dl * np.cos(np.radians(la2)), 1e-8)


def test_ellipsoidal_destination_udf(spark):
    """The Arrow destination UDF equals the numpy direct kernel and
    improves on the spherical destination_point by the flattening
    margin (the spherical point sits within 0.562% of dist away)."""
    import numpy as np

    from wrf_to_geodataframe_spark.functions.crs import (
        destination_point,
        ellipsoidal_destination_udf,
        vincenty_direct_numpy,
        vincenty_numpy,
    )

    df = spark.range(40).select(
        ((F.col("id") % 8).cast("double") * 15.0 - 50.0).alias("lat"),
        (F.floor(F.col("id") / 8).cast("double") * 60.0 - 120.0)
        .alias("lon"),
        ((F.col("id") * 37) % 360 - 180).cast("double").alias("brg"),
        (F.lit(250000.0) + F.col("id") * 10000.0).alias("dist"),
    )
    dest = ellipsoidal_destination_udf()
    rows = df.select(
        "lat", "lon", "brg", "dist",
        dest("lat", "lon", "brg", "dist").alias("e"),
        destination_point(F.col("lat"), F.col("lon"), F.col("brg"),
                          F.col("dist")).alias("s"),
    ).collect()
    la = np.array([r.lat for r in rows])
    lo = np.array([r.lon for r in rows])
    br = np.array([r.brg for r in rows])
    di = np.array([r.dist for r in rows])
    wlo, wla, _ = vincenty_direct_numpy(la, lo, br, di)
    np.testing.assert_array_equal([r.e.lat for r in rows], wla)
    np.testing.assert_array_equal([r.e.lon for r in rows], wlo)
    for r in rows:
        gap = float(vincenty_numpy(r.e.lat, r.e.lon, r.s.lat, r.s.lon))
        assert gap < 0.00562 * r.dist + 1.0, (r, gap)


def test_ellipsoid_polygon_area_box_identity():
    """On a lon/lat-aligned rectangle the authalic shoelace equals the
    closed-form box area exactly (iso-lat edges carry the integral,
    iso-lon edges contribute zero) — swept over widths, heights and
    latitudes including the southern hemisphere."""
    from wrf_to_geodataframe_spark.functions.crs import (
        ellipsoid_box_area_m2_float,
        ellipsoid_polygon_area_m2_float,
    )

    for lon1, lat1, dlon, dlat in [
        (0.0, 0.0, 1.0, 1.0),
        (-120.0, 45.0, 0.25, 0.25),
        (10.0, -80.0, 5.0, 3.0),
        (170.0, 60.0, 2.0, 20.0),
        (-4.0, 40.0, 0.01, 0.01),
    ]:
        lon2, lat2 = lon1 + dlon, lat1 + dlat
        box = ellipsoid_box_area_m2_float(lon1, lat1, lon2, lat2)
        poly = ellipsoid_polygon_area_m2_float(
            [lon1, lon2, lon2, lon1], [lat1, lat1, lat2, lat2]
        )
        assert abs(poly - box) <= 1e-9 * box, (box, poly)


def test_ellipsoid_polygon_area_cea_plane_identity():
    """The kernel's exactness class: for ANY polygon it equals the
    planar shoelace of the vertices projected to the ellipsoidal
    cylindrical-equal-area plane (x = a*lam, y = a*q/2) — the
    telescoping identity in the docstring — so the EA-projection
    regrid route and this direct kernel measure identical areas."""
    import math

    from wrf_to_geodataframe_spark.functions.crs import (
        GRS80_A,
        GRS80_E2,
        _authalic_q_float,
        ellipsoid_polygon_area_m2_float,
    )

    e = math.sqrt(GRS80_E2)
    # an irregular pentagon (a Voronoi-cell-ish shape)
    xs = [5.0, 5.8, 6.1, 5.5, 4.7]
    ys = [50.0, 50.1, 50.7, 51.2, 50.6]
    got = ellipsoid_polygon_area_m2_float(xs, ys)
    px = [GRS80_A * math.radians(x) for x in xs]
    py = [
        GRS80_A * _authalic_q_float(math.sin(math.radians(y)), e, GRS80_E2) / 2.0
        for y in ys
    ]
    sho = 0.0
    for i in range(len(xs)):
        j = (i + 1) % len(xs)
        sho += px[i] * py[j] - px[j] * py[i]
    want = abs(sho) / 2.0
    assert abs(got - want) <= 1e-6 * want, (got, want)
    # orientation-insensitive
    rev = ellipsoid_polygon_area_m2_float(xs[::-1], ys[::-1])
    assert abs(rev - got) <= 1e-9 * got


def test_ellipsoid_polygon_area_column_matches_float_twin(spark):
    """The Column HOF kernel evaluates to the float twin on array
    columns (same accumulation order, so equality is tight)."""
    from wrf_to_geodataframe_spark.functions.crs import (
        ellipsoid_polygon_area_m2,
        ellipsoid_polygon_area_m2_float,
    )

    polys = [
        ([0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0]),
        ([5.0, 5.8, 6.1, 5.5, 4.7], [50.0, 50.1, 50.7, 51.2, 50.6]),
        ([-120.0, -119.0, -119.5], [-33.0, -33.2, -32.1]),
    ]
    df = spark.createDataFrame(
        [(i, xs, ys) for i, (xs, ys) in enumerate(polys)],
        "i long, xs array<double>, ys array<double>",
    )
    rows = df.select(
        "i", ellipsoid_polygon_area_m2(F.col("xs"), F.col("ys")).alias("a")
    ).collect()
    for r in rows:
        want = ellipsoid_polygon_area_m2_float(*polys[r.i])
        assert abs(r.a - want) <= 1e-9 * want, (r.i, r.a, want)


def test_ellipsoid_polygon_area_degenerate_rings(spark):
    """Empty / sub-triangle vertex arrays measure zero area instead of
    crashing on element_at(xs, 0) via sequence(0, -1)."""
    from wrf_to_geodataframe_spark.functions.crs import (
        ellipsoid_polygon_area_m2,
    )

    df = spark.createDataFrame(
        [(0, [], []), (1, [5.0], [50.0]), (2, [5.0, 6.0], [50.0, 51.0]),
         (3, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0])],
        "i long, xs array<double>, ys array<double>",
    )
    got = {
        r.i: r.a
        for r in df.select(
            "i", ellipsoid_polygon_area_m2(F.col("xs"), F.col("ys")).alias("a")
        ).collect()
    }
    assert got[0] == 0.0 and got[1] == 0.0 and got[2] == 0.0
    assert got[3] > 1e10  # the real 1-degree box still measures


def test_wrf_ll_to_xy_center_and_roundtrip_all_projections(spark):
    """wrf-python ll_to_xy/xy_to_ll: the domain center maps to the
    exact grid midpoint ((nx-1)/2, (ny-1)/2) under every MAP_PROJ
    branch, and xy_to_ll inverts ll_to_xy to fp precision."""
    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.functions.crs import (
        wrf_ll_to_xy,
        wrf_xy_to_ll,
    )

    base = {
        "TRUELAT1": 30.0, "TRUELAT2": 60.0, "MOAD_CEN_LAT": 40.0,
        "STAND_LON": -100.0, "CEN_LON": -97.0, "CEN_LAT": 41.5,
        "DX": 4000.0, "DY": 4000.0,
        "WEST-EAST_GRID_DIMENSION": 31, "SOUTH-NORTH_GRID_DIMENSION": 41,
    }
    pts = spark.createDataFrame(
        [(-97.0, 41.5), (-103.25, 38.0), (-92.5, 45.25)],
        "lon double, lat double",
    )
    for mp in (1, 2, 3, 6):
        attrs = dict(base, MAP_PROJ=mp)
        d = wrf_ll_to_xy(attrs, pts, "lon", "lat", out_i="i", out_j="j")
        d = wrf_xy_to_ll(attrs, d, "i", "j", out_lon="lon2", out_lat="lat2")
        rows = d.collect()
        center = [r for r in rows if r.lon == -97.0][0]
        # 31 staggered -> 30 mass points -> midpoint (30-1)/2 = 14.5
        assert center.i == 14.5 and center.j == 19.5, mp
        for r in rows:
            assert r.lon2 == pytest.approx(r.lon, abs=1e-9), mp
            assert r.lat2 == pytest.approx(r.lat, abs=1e-9), mp


def test_wrf_ll_to_xy_is_lazy(spark):
    """The center projection is a literal branch of the expression —
    building the transform must run zero Spark jobs."""
    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.functions.crs import wrf_ll_to_xy

    attrs = {
        "MAP_PROJ": 1, "TRUELAT1": 30.0, "TRUELAT2": 60.0,
        "MOAD_CEN_LAT": 40.0, "STAND_LON": -100.0,
        "CEN_LON": -97.0, "CEN_LAT": 41.5, "DX": 4000.0, "DY": 4000.0,
        "WEST-EAST_GRID_DIMENSION": 31, "SOUTH-NORTH_GRID_DIMENSION": 41,
    }
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = spark.range(10).select(
        (F.col("id") * 0.1 - 100.0).alias("lon"),
        (F.col("id") * 0.1 + 40.0).alias("lat"),
    )
    wrf_ll_to_xy(attrs, df, "lon", "lat")
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before


# -- every public column transform, one table -------------------------------

from wrf_to_geodataframe_spark.functions import crs as _C  # noqa: E402

_WRF_ATTRS = {
    "MAP_PROJ": 1, "TRUELAT1": 30.0, "TRUELAT2": 60.0,
    "MOAD_CEN_LAT": 40.0, "STAND_LON": -100.0,
    "CEN_LON": -97.0, "CEN_LAT": 41.5, "DX": 4000.0, "DY": 4000.0,
    "WEST-EAST_GRID_DIMENSION": 31, "SOUTH-NORTH_GRID_DIMENSION": 41,
}
_WRF_FWD, _WRF_INV = _C.wrf_projection(_WRF_ATTRS)
_LL, _XY, _IJ = ("lon", "lat"), ("x", "y"), ("i", "j")


def _col_fn(fn):
    """A Column-returning function as a frame transform."""
    return lambda d, *c: d.withColumn("out", fn(*c))


# name -> (transform(df, *columns), the input column names it reads)
_TRANSFORMS = {
    "lonlat_to_osgb": (_C.lonlat_to_osgb, _LL),
    "to_crs_27700": (lambda d, a, b: _C.to_crs(d, "EPSG:27700", a, b), _LL),
    "from_crs_32630": (lambda d, a, b: _C.from_crs(d, "EPSG:32630", a, b),
                       _XY),
    "from_crs_27700": (lambda d, a, b: _C.from_crs(d, "EPSG:27700", a, b),
                       _XY),
    "lonlat_to_lcc": (lambda d, a, b: _C.lonlat_to_lcc(
        d, a, b, 30.0, 60.0, 40.0, -2.0), _LL),
    "lcc_to_lonlat": (lambda d, a, b: _C.lcc_to_lonlat(
        d, a, b, 30.0, 60.0, 40.0, -2.0), _XY),
    "lonlat_to_lcc2sp": (lambda d, a, b: _C.lonlat_to_lcc2sp(
        d, a, b, 33.0, 45.0, 23.0, -96.0), _LL),
    "lcc2sp_to_lonlat": (lambda d, a, b: _C.lcc2sp_to_lonlat(
        d, a, b, 33.0, 45.0, 23.0, -96.0), _XY),
    "lonlat_to_tm": (lambda d, a, b: _C.lonlat_to_tm(d, a, b, -3.0), _LL),
    "tm_to_lonlat": (lambda d, a, b: _C.tm_to_lonlat(d, a, b, -3.0), _XY),
    "lonlat_to_utm": (lambda d, a, b: _C.lonlat_to_utm(d, a, b, 30), _LL),
    "utm_to_lonlat": (lambda d, a, b: _C.utm_to_lonlat(d, a, b, 30), _XY),
    "lonlat_to_stere": (lambda d, a, b: _C.lonlat_to_stere(
        d, a, b, 60.0, -2.0), _LL),
    "stere_to_lonlat": (lambda d, a, b: _C.stere_to_lonlat(
        d, a, b, 60.0, -2.0), _XY),
    "lonlat_to_mercator": (lambda d, a, b: _C.lonlat_to_mercator(
        d, a, b, 30.0, -2.0), _LL),
    "mercator_to_lonlat": (lambda d, a, b: _C.mercator_to_lonlat(
        d, a, b, 30.0, -2.0), _XY),
    "rotated_to_lonlat": (lambda d, a, b: _C.rotated_to_lonlat(
        d, a, b, -37.5, 177.5), _LL),
    "lonlat_to_rotated": (lambda d, a, b: _C.lonlat_to_rotated(
        d, a, b, -37.5, 177.5), _LL),
    "lonlat_to_laea": (lambda d, a, b: _C.lonlat_to_laea(
        d, a, b, 52.0, 10.0), _LL),
    "laea_to_lonlat": (lambda d, a, b: _C.laea_to_lonlat(
        d, a, b, 52.0, 10.0), _XY),
    "lonlat_to_albers": (lambda d, a, b: _C.lonlat_to_albers(
        d, a, b, 29.5, 45.5, 23.0, -96.0), _LL),
    "albers_to_lonlat": (lambda d, a, b: _C.albers_to_lonlat(
        d, a, b, 29.5, 45.5, 23.0, -96.0), _XY),
    "lonlat_to_cea": (lambda d, a, b: _C.lonlat_to_cea(d, a, b, 30.0), _LL),
    "cea_to_lonlat": (lambda d, a, b: _C.cea_to_lonlat(d, a, b, 30.0), _XY),
    "wrf_projection_fwd": (_WRF_FWD, _LL),
    "wrf_projection_inv": (_WRF_INV, _XY),
    "wrf_ll_to_xy": (lambda d, a, b: _C.wrf_ll_to_xy(_WRF_ATTRS, d, a, b),
                     _LL),
    "wrf_xy_to_ll": (lambda d, a, b: _C.wrf_xy_to_ll(_WRF_ATTRS, d, a, b),
                     _IJ),
    "lonlat_to_webmercator_x": (_col_fn(_C.lonlat_to_webmercator_x),
                                ("lon",)),
    "lonlat_to_webmercator_y": (_col_fn(_C.lonlat_to_webmercator_y),
                                ("lat",)),
    "webmercator_to_lon": (_col_fn(_C.webmercator_to_lon), ("x",)),
    "webmercator_to_lat": (_col_fn(_C.webmercator_to_lat), ("y",)),
    "haversine_m": (_col_fn(_C.haversine_m), ("lat", "lon", "i", "j")),
    "bearing_deg": (_col_fn(_C.bearing_deg), ("lat", "lon", "i", "j")),
    "destination_point": (_col_fn(_C.destination_point),
                          ("lat", "lon", "i", "j")),
    "ellipsoid_box_area_m2": (_col_fn(_C.ellipsoid_box_area_m2),
                              ("lon", "lat", "i", "j")),
}


def _transform_input(spark):
    rows = [
        (k, -4.0 + k, 50.0 + 1.2 * k, -1.5e5 + 6e4 * k, 1.2e5 - 5e4 * k,
         3.0 * k, 2.0 + 7.0 * k)
        for k in range(6)
    ]
    return spark.createDataFrame(
        rows, "_id long, lon double, lat double, x double, y double, "
        "i double, j double",
    )


@pytest.mark.parametrize("name", sorted(_TRANSFORMS))
def test_column_name_arguments_match_columns(spark, name):
    """Passing column NAMES gives the same rows as passing F.col(...)
    (a name must never become a string literal in the arithmetic)."""
    fn, names = _TRANSFORMS[name]
    df = _transform_input(spark)
    by_name = fn(df, *names).orderBy("_id").collect()
    by_col = fn(df, *map(F.col, names)).orderBy("_id").collect()
    assert repr(by_name) == repr(by_col)


@pytest.mark.parametrize("name", sorted(_TRANSFORMS))
def test_transforms_keep_caller_underscore_columns(spark, name):
    """A transform drops only the temporaries it made: the caller's
    ``_id`` column survives."""
    fn, names = _TRANSFORMS[name]
    out = fn(_transform_input(spark), *map(F.col, names))
    assert "_id" in out.columns


def _staged_names(monkeypatch, fn, df, names) -> list:
    """The column names ``fn`` passes to ``withColumns``/``withColumn``
    while building its frame."""
    cls = type(df)
    seen: list = []
    with_columns, with_column = cls.withColumns, cls.withColumn

    def _many(self, *cols_map):
        for m in cols_map:
            seen.extend(m)
        return with_columns(self, *cols_map)

    def _one(self, name, col):
        seen.append(name)
        return with_column(self, name, col)

    with monkeypatch.context() as mp:
        mp.setattr(cls, "withColumns", _many)
        mp.setattr(cls, "withColumn", _one)
        fn(df, *names)
    return seen


@pytest.mark.parametrize("name", sorted(_TRANSFORMS))
def test_temporaries_never_overwrite_caller_columns(spark, monkeypatch, name):
    """A caller column named like any temporary the transform stages
    (``_phi``, ``_rho``, ``_px``, ``_ll``, ...) comes out unchanged, and
    the transform's outputs equal a run without those columns."""
    fn, names = _TRANSFORMS[name]
    df = _transform_input(spark)
    plain = fn(df, *names)
    temps = [
        c for c in dict.fromkeys(_staged_names(monkeypatch, fn, df, names))
        if c not in plain.columns
    ]
    sentinels = {c: F.lit(-1000.0 - k) for k, c in enumerate(temps)}
    out = fn(df.withColumns(sentinels), *names) if temps else plain
    for k, c in enumerate(temps):
        assert {r[0] for r in out.select(c).collect()} == {-1000.0 - k}, c
    got = out.select(*plain.columns).orderBy("_id").collect()
    assert repr(got) == repr(plain.orderBy("_id").collect())
