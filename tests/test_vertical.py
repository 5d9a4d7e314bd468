"""Vertical operators (operators/vertical.py): destagger and
interplevel against independent numpy references, including boundary
and out-of-range semantics."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from wrf_to_geodataframe_spark.operators.vertical import (
    destagger,
    interplevel,
)


def test_destagger_matches_numpy_mean(spark):
    rng = np.random.default_rng(7)
    rows = []
    vals = {}
    for g in range(6):
        v = rng.normal(size=11)
        vals[g] = v
        rows += [(g, i, float(v[i])) for i in range(11)]
    df = spark.createDataFrame(rows, "g long, i long, u double")
    got = {
        (r.g, r.i): r.u_m
        for r in destagger(df, "i", "u", ["g"]).collect()
    }
    for g, v in vals.items():
        m = 0.5 * (v[:-1] + v[1:])
        for i in range(10):
            assert got[(g, i)] == pytest.approx(m[i], rel=0, abs=0)
    assert len(got) == 60  # last staggered point dropped per pencil


def test_interplevel_matches_numpy_reference(spark):
    """Random strictly-decreasing pressure columns with per-column
    level counts; targets bracketed at DIFFERENT k per column; NULL
    where out of range; exact level hit returns the level's value."""
    rng = np.random.default_rng(11)
    rows = []
    cols = {}
    for c in range(40):
        nk = rng.integers(4, 12)
        p = np.sort(rng.uniform(100.0, 1000.0, size=nk))[::-1]
        f = rng.normal(size=nk)
        cols[c] = (p, f)
        rows += [
            (c, float(p[k]), float(f[k])) for k in range(nk)
        ]
    df = spark.createDataFrame(rows, "c long, p double, f double")
    target = 480.0
    got = {
        r.c: r.f_interp
        for r in interplevel(df, "p", "f", target, ["c"]).collect()
    }
    assert len(got) == 40
    for c, (p, f) in cols.items():
        if p[0] < target or p[-1] > target:
            assert got[c] is None, c
            continue
        k = int(np.searchsorted(-p, -target, side="left"))
        if p[k] == target:
            want = f[k]
        else:
            k1 = k - 1
            want = f[k1] + (f[k] - f[k1]) * (p[k1] - target) / (
                p[k1] - p[k]
            )
        assert got[c] == pytest.approx(want, rel=1e-12), c


def test_interplevel_exact_level_hit_single_row(spark):
    """A target exactly on an interior level yields that level's value
    ONCE (the double-bracket tie dedupes), and a target equal to the
    bottom level interpolates with factor 1 -> the bottom value."""
    rows = [(0, 900.0, 1.0), (0, 800.0, 2.0), (0, 700.0, 3.0)]
    df = spark.createDataFrame(rows, "c long, p double, f double")
    out = interplevel(df, "p", "f", 800.0, ["c"]).collect()
    assert len(out) == 1 and out[0].f_interp == 2.0
    out2 = interplevel(df, "p", "f", 900.0, ["c"]).collect()
    assert len(out2) == 1 and out2[0].f_interp == 1.0


def test_interplevel_field_matches_per_column_scalar_calls(spark):
    """The varying-target kernel == one scalar interplevel call per
    distinct target value, column for column: random decreasing
    columns, each with its OWN target (in-range, out-of-range, and
    exactly-on-a-level arms all live)."""
    from wrf_to_geodataframe_spark.operators.vertical import (
        interplevel_field,
    )

    rng = np.random.default_rng(23)
    rows = []
    cols = {}
    for c in range(30):
        nk = int(rng.integers(4, 10))
        p = np.sort(rng.uniform(100.0, 1000.0, size=nk))[::-1]
        f = rng.normal(size=nk)
        if c % 3 == 0:
            t = float(rng.uniform(p[-1], p[0]))  # interior
        elif c % 3 == 1:
            t = float(p[0] + 50.0)  # above the column: NULL
        else:
            t = float(p[nk // 2])  # exactly ON a level: tie rule
        cols[c] = (p, f, t)
        rows += [
            (c, float(p[k]), float(f[k]), t) for k in range(nk)
        ]
    df = spark.createDataFrame(rows, "c long, p double, f double, t double")
    got = {
        r.c: r.f_interp
        for r in interplevel_field(df, "p", "f", "t", ["c"]).collect()
    }
    assert len(got) == 30
    for c, (p, f, t) in cols.items():
        one = interplevel(
            df.filter(F.col("c") == c), "p", "f", t, ["c"]
        ).collect()
        want = one[0].f_interp
        if want is None:
            assert got[c] is None, c
        else:
            assert got[c] == want, c  # identical arithmetic: bit-equal


def test_interplevel_field_null_target_yields_null_row(spark):
    """A column whose target is NULL (missing plane row after the
    front door's LEFT join) must still appear in the output with a
    NULL interpolant — never vanish."""
    from wrf_to_geodataframe_spark.operators.vertical import (
        interplevel_field,
    )

    rows = [
        (0, 900.0, 1.0, 850.0), (0, 800.0, 2.0, 850.0),
        (1, 900.0, 5.0, None), (1, 800.0, 6.0, None),
    ]
    df = spark.createDataFrame(
        rows, "c long, p double, f double, t double"
    )
    got = {r.c: r.f_interp
           for r in interplevel_field(df, "p", "f", "t", ["c"]).collect()}
    assert got[0] == pytest.approx(1.5)
    assert 1 in got and got[1] is None


def test_interplevel_field_50k_columns_exact_and_one_shuffle(spark):
    """Scale smoke for the varying-target kernel: 50k columns x 8
    levels, every column with its OWN dyadic-bracket target (factor
    exactly 0.25), checked bit-exact against the closed form — and a
    plan pin: the bracket groupBy REUSES the window's partitioning
    (no second hash exchange) and the column-universe join
    broadcasts, so a 100-TB field pays one shuffle for the whole
    interpolation."""
    from wrf_to_geodataframe_spark.operators.vertical import (
        interplevel_field,
    )

    n = 50_000
    base = spark.range(n).select(F.col("id").alias("c"))
    lev = base.select(
        "c", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("k")
    ).select(
        "c", "k",
        (1000.0 - F.col("k") * 100.0).alias("p"),
        (
            (2.0 * (1000.0 - F.col("k") * 100.0) + F.col("c") % 16) / 8.0
        ).alias("f"),
        (1000.0 - (F.col("c") % 5) * 100.0 - 25.0).alias("t"),
    )
    out = interplevel_field(lev, "p", "f", "t", ["c"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # the column-universe join
    # the window's hash partitioning is the ONLY per-column shuffle;
    # the groupBy reuses it
    assert plan.count("Exchange hashpartitioning") <= 1
    rows = out.collect()
    assert len(rows) == n
    for r in rows:
        t = 1000.0 - (r.c % 5) * 100.0 - 25.0
        assert r.f_interp == (2.0 * t + r.c % 16) / 8.0, r.c


def test_precipitable_water_matches_numpy_integral(spark):
    rng = np.random.default_rng(3)
    rows, want = [], {}
    for c in range(20):
        nk = int(rng.integers(3, 12))
        qv = rng.integers(1, 20, size=nk) / 1024.0  # dyadic
        dp = rng.integers(50, 120, size=nk) * 100.0
        want[c] = float((qv * dp).sum() / 9810.0)
        rows.append((c, qv.tolist(), dp.tolist()))
    from wrf_to_geodataframe_spark.operators.vertical import (
        precipitable_water,
    )

    df = spark.createDataFrame(
        rows, "c long, qv array<double>, dp array<double>"
    )
    got = {
        r.c: r.pw_mm
        for r in precipitable_water(df, "qv", "dp", ["c"]).collect()
    }
    for c in want:
        assert got[c] == pytest.approx(want[c], rel=1e-15), c


def test_cloud_top_temperature_picks_highest_cloudy_level(spark):
    from wrf_to_geodataframe_spark.operators.vertical import (
        cloud_top_temperature,
    )

    rows = [
        # column 0: cloud at k=2 (p=820) and k=5 (p=550) -> pick p=550
        (0, 1000.0, 280.0, 0.0),
        (0, 820.0, 270.0, 2e-4),
        (0, 550.0, 250.0, 1e-4),
        (0, 400.0, 230.0, 0.0),
        # column 1: clear sky -> NULL
        (1, 1000.0, 281.0, 0.0),
        (1, 500.0, 240.0, 9e-7),  # below threshold
    ]
    df = spark.createDataFrame(rows, "c long, p double, t double, qcl double")
    got = {
        r.c: r.ctt_k
        for r in cloud_top_temperature(df, "p", "t", "qcl", ["c"]).collect()
    }
    assert got[0] == 250.0
    assert got[1] is None


def test_wrf_postprocessing_end_to_end_from_netcdf(spark, tmp_path):
    """The full post-processing flow a reference user runs, end to end
    on a REAL NetCDF file through the engine's own scan: write a
    (k, j, i) model-level THETA/P file with the classic writer, ingest
    both variables with the distributed dir scan (k rides the t_idx
    axis), derive air temperature with functions/meteo.temperature_k,
    interpolate it onto 850 hPa per column, and match a pure-numpy
    replay exactly."""
    import os as _os

    from wrf_to_geodataframe_spark.functions.meteo import temperature_k
    from wrf_to_geodataframe_spark.operators.vertical import interplevel
    from wrf_to_geodataframe_spark.sources.netcdf import (
        read_netcdf_dir,
        write_netcdf,
    )

    nk, nj, ni = 6, 4, 5
    kk, jj, ii = np.meshgrid(
        np.arange(nk), np.arange(nj), np.arange(ni), indexing="ij"
    )
    theta = 290.0 + jj + 0.5 * ii + 2.0 * kk
    p = 100000.0 - 12000.0 * kk - 100.0 * ((ii + jj) % 3)
    lat = 40.0 + np.arange(nj)[:, None] * 0.5 + np.zeros((nj, ni))
    lon = -5.0 + np.arange(ni)[None, :] * 0.5 + np.zeros((nj, ni))
    d = str(tmp_path / "arch")
    _os.makedirs(d)
    write_netcdf(
        _os.path.join(d, "wrfout.nc"),
        {"k": nk, "j": nj, "i": ni},
        {
            "THETA": {"dims": ["k", "j", "i"], "data": theta},
            "P": {"dims": ["k", "j", "i"], "data": p},
            "XLAT": {"dims": ["j", "i"], "data": lat},
            "XLONG": {"dims": ["j", "i"], "data": lon},
        },
    )

    th = read_netcdf_dir(spark, d, "THETA", "XLAT", "XLONG").select(
        F.col("t_idx").alias("k"), "y_idx", "x_idx",
        F.col("value").alias("theta"),
    )
    pr = read_netcdf_dir(spark, d, "P", "XLAT", "XLONG").select(
        F.col("t_idx").alias("k"), "y_idx", "x_idx",
        F.col("value").alias("p"),
    )
    lev = th.join(pr, ["k", "y_idx", "x_idx"]).select(
        "y_idx", "x_idx", "p",
        temperature_k(F.col("theta"), F.col("p")).alias("tk"),
    )
    target = 85000.0
    got = {
        (r.y_idx, r.x_idx): r.tk_interp
        for r in interplevel(
            lev, "p", "tk", target, ["y_idx", "x_idx"]
        ).collect()
    }
    assert len(got) == nj * ni

    tkf = theta * (p / 100000.0) ** (2.0 / 7.0)
    for j in range(nj):
        for i in range(ni):
            pc, fc = p[:, j, i], tkf[:, j, i]
            k2 = int(np.searchsorted(-pc, -target, side="left"))
            k1 = k2 - 1
            want = fc[k1] + (fc[k2] - fc[k1]) * (pc[k1] - target) / (
                pc[k1] - pc[k2]
            )
            assert got[(j, i)] == pytest.approx(want, rel=1e-12), (j, i)


def test_destagger_emits_null_mass_point_for_missing_value(spark):
    """A NULL staggered VALUE must yield a NULL mass point (wrf's
    NaN), not silently drop the row — only the true end-of-pencil
    (detected on the coordinate) is dropped."""
    rows = [(0, 0, 1.0), (0, 1, None), (0, 2, 3.0), (0, 3, 5.0)]
    df = spark.createDataFrame(rows, "g long, i long, u double")
    got = {r.i: r.u_m for r in destagger(df, "i", "u", ["g"]).collect()}
    assert set(got) == {0, 1, 2}  # 3 mass points from 4 staggered
    assert got[0] is None and got[1] is None  # both touch the gap
    assert got[2] == 4.0


def test_vertcross_bilinear_reproduces_linear_field_exactly(spark):
    """Bilinear interpolation is exact on an affine field: sampling
    f = a x + b y + c along any line must return the closed form at
    every sample point and level."""
    from wrf_to_geodataframe_spark.operators.vertical import vertcross

    a, b, c = 2.5, -1.25, 7.0
    rows = [
        (x, y, k, a * x + b * y + c + 10.0 * k)
        for x in range(5)
        for y in range(5)
        for k in range(3)
    ]
    df = spark.createDataFrame(rows, "x long, y long, k long, f double")
    got = {
        (r.s, r.k): r.vc
        for r in vertcross(
            df, "f", "k", "x", "y", (0.5, 0.25), (3.5, 3.25), 7
        ).collect()
    }
    assert len(got) == 21
    for s in range(7):
        xi, yi = 0.5 + s * 0.5, 0.25 + s * 0.5
        for k in range(3):
            want = a * xi + b * yi + c + 10.0 * k
            assert got[(s, k)] == want, (s, k)


def test_vertcross_exact_node_hit_uses_single_cell(spark):
    """A sample landing exactly ON a grid node must return that node's
    value bit-for-bit, and must not reference neighbors (the zero-
    weight filter) — probed on a grid whose node (2, 1) neighbors are
    deliberately absent."""
    from wrf_to_geodataframe_spark.operators.vertical import vertcross

    rows = [(2, 1, 0, 42.5), (0, 0, 0, 1.0), (1, 0, 0, 2.0), (0, 1, 0, 3.0), (1, 1, 0, 4.0)]
    df = spark.createDataFrame(rows, "x long, y long, k long, f double")
    got = {
        r.s: r.vc
        for r in vertcross(
            df, "f", "k", "x", "y", (0.5, 0.5), (2.0, 1.0), 2
        ).collect()
    }
    assert got[1] == 42.5  # exact node, neighbors (3,1)/(2,2) absent
    assert got[0] == (1.0 + 2.0 + 3.0 + 4.0) / 4.0  # cell-center mean


def test_vertcross_broadcasts_the_point_table(spark):
    """The grid side must never shuffle: the corner table is the
    broadcast side of one BroadcastHashJoin."""
    from wrf_to_geodataframe_spark.operators.vertical import vertcross

    df = spark.range(100).select(
        (F.col("id") % 10).alias("x"),
        F.floor(F.col("id") / 10).alias("y"),
        F.lit(0).alias("k"),
        F.col("id").cast("double").alias("f"),
    )
    plan = vertcross(
        df, "f", "k", "x", "y", (0.5, 0.5), (8.5, 8.5), 5
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vinterp_matches_interplevel_per_target(spark):
    """vinterp at K targets must equal K independent interplevel runs
    bit-for-bit — same bracket search, same tie rule, same NULL
    convention."""
    from wrf_to_geodataframe_spark.operators.vertical import (
        interplevel,
        vinterp,
    )

    rows = [
        (c, float(1000 - 95 * k - c), float((k * k + 3 * c) / 8.0))
        for c in range(6)
        for k in range(8)
    ]
    df = spark.createDataFrame(rows, "cid long, p double, f double")
    targets = [980.0, 620.0, 350.0, 1.0]  # last: above top -> NULL
    multi = {
        (r.cid, r.level): r.fv
        for r in vinterp(
            df, "p", "f", targets, ["cid"], out_col="fv"
        ).collect()
    }
    assert len(multi) == 6 * len(targets)
    for t in targets:
        single = {
            r.cid: r.f_interp
            for r in interplevel(df, "p", "f", t, ["cid"]).collect()
        }
        for c in range(6):
            assert multi[(c, t)] == single[c], (c, t)


def test_sea_level_pressure_identities(spark):
    """A sea-level column (z_sfc = 0) reduces to exactly p_sfc
    (exp(0) = 1); raising the station raises the reduction; a column
    with no level 100 hPa above the surface yields NULL."""
    from wrf_to_geodataframe_spark.operators.vertical import (
        sea_level_pressure,
    )

    def column(cid, zsfc, nk):
        return (
            cid,
            [100000.0 - 9000.0 * k for k in range(nk)],
            [290.0 - 6.0 * k for k in range(nk)],
            [zsfc + 700.0 * k for k in range(nk)],
        )

    rows = [column(0, 0.0, 8), column(1, 500.0, 8), column(2, 500.0, 2)]
    df = spark.createDataFrame(
        rows, "cid long, p array<double>, t array<double>, z array<double>"
    )
    got = {
        r.cid: r.slp
        for r in sea_level_pressure(df, "p", "t", "z", ["cid"]).collect()
    }
    assert got[0] == 100000.0
    assert got[1] > 100000.0
    # hydrostatic sanity: ~12 hPa per 100 m
    assert 104000.0 < got[1] < 108000.0
    assert got[2] is None  # p(1) = 91000 > 90000: no pivot


def test_vertcross_partial_corner_yields_null_not_partial_sum(spark):
    """A sample whose bilinear cell hangs off the grid edge must yield
    NULL (wrf-python's missing-value convention), never the partial
    weighted sum of the surviving corners."""
    from wrf_to_geodataframe_spark.operators.vertical import vertcross

    rows = [(x, y, 0, 1.0) for x in range(3) for y in range(3)]
    df = spark.createDataFrame(rows, "x long, y long, k long, f double")
    out = {
        r.s: r.vc
        for r in vertcross(
            df, "f", "k", "x", "y", (0.5, 0.5), (2.5, 0.5), 2
        ).collect()
    }
    assert out[0] == 1.0  # fully inside
    assert out[1] is None  # x in (2,3): the x=3 corners don't exist


def test_smooth2d_in_place_and_zero_passes(spark):
    from wrf_to_geodataframe_spark.operators.dynamics import smooth2d

    df = spark.createDataFrame(
        [(y, x, float(x + y)) for y in range(4) for x in range(4)],
        "y long, x long, f double",
    )
    inplace = smooth2d(df, "f", "x", "y", passes=1, out_col="f")
    assert inplace.columns.count("f") == 1
    # x+y is harmonic for this stencil: interior values unchanged
    got = {(r.y, r.x): r.f for r in inplace.collect()}
    assert got[(1, 1)] == 2.0 and got[(2, 2)] == 4.0
    zero = smooth2d(df, "f", "x", "y", passes=0, out_col="fs")
    for r in zero.collect():
        assert r.fs == r.f


def test_updraft_helicity_group_cols_keep_slabs_separate(spark):
    """Two time slabs stacked in one DataFrame: group_cols must keep
    their pencils and column sums apart (each slab reproduces the
    solid-body closed form at its own omega)."""
    from wrf_to_geodataframe_spark.operators.dynamics import (
        updraft_helicity,
    )

    dx, w0 = 8.0, 0.5
    rows = []
    for slab, omega in ((0, 0.0625), (1, 0.125)):
        for y in range(5):
            for x in range(5):
                for k in range(8):
                    rows.append((
                        slab, y, x, k,
                        -omega * y * dx, omega * x * dx, w0,
                        k * 500.0 + 250.0, 500.0,
                    ))
    df = spark.createDataFrame(
        rows,
        "slab long, y long, x long, k long, u double, v double,"
        " w double, z double, dz double",
    )
    out = updraft_helicity(
        df, "w", "u", "v", "x", "y", "z", "k", dx, dx, "dz",
        z_bottom=2000.0, z_top=5000.0, group_cols=["slab"],
    ).collect()
    for r in out:
        omega = 0.0625 if r.slab == 0 else 0.125
        want = w0 * 2 * omega * 2000.0
        interior = 1 <= r.x <= 3 and 1 <= r.y <= 3
        assert r.uh == (want if interior else 0.0), (r.slab, r.x, r.y)
