"""Virtual-layer TIME AXIS: ``build_virtual_manifest(...,
time_var=...)`` decodes each file's CF time coordinate at INDEX time
into a metadata-sized ``times`` sidecar; ``read_virtual`` then emits a
real ``time`` timestamp column next to ``t_idx`` — the archive-scale
counterpart of ``read_netcdf_grid(..., time_var=...)`` (xarray
decode_cf at wrf_voronoi.py:115), and ``time_to_windows`` turns
timestamp ranges into pruned index windows (the time-axis sibling of
``bbox_to_windows``)."""

from __future__ import annotations

from datetime import datetime

import numpy as np
import pytest

from wrf_to_geodataframe_spark.sources.netcdf import write_netcdf
from wrf_to_geodataframe_spark.sources.virtual import (
    build_virtual_manifest,
    read_virtual,
    time_to_windows,
)

NY, NX = 3, 4


def _grid_vars(nt: int, seed: int):
    yy, xx = np.meshgrid(np.arange(NY), np.arange(NX), indexing="ij")
    tt = np.arange(nt)
    vals = (seed * 10000 + tt[:, None, None] * 100 + yy * NX + xx).astype(
        "float64"
    )
    return {
        "T2": {"dims": ["t", "y", "x"], "data": vals},
        "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
        "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
    }


def _write_classic(path: str, nt: int, seed: int, hour0: float,
                   record: bool = False):
    variables = dict(_grid_vars(nt, seed))
    variables["t"] = {
        "dims": ["t"],
        "data": (hour0 + np.arange(nt) * 6.0).astype("float64"),
        "attrs": {"units": "hours since 2021-06-01 00:00:00",
                  "calendar": "standard"},
    }
    write_netcdf(path, {"t": 0 if record else nt, "y": NY, "x": NX},
                 variables)


def _write_nc4(path: str, nt: int, seed: int, hour0: float):
    from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4

    variables = dict(_grid_vars(nt, seed))
    variables["t"] = {
        "dims": ["t"],
        "data": (hour0 + np.arange(nt) * 6.0).astype("float64"),
        "attrs": {"units": "hours since 2021-06-01 00:00:00",
                  "calendar": "standard"},
    }
    write_netcdf4(path, {"t": nt, "y": NY, "x": NX}, variables,
                  compress=True, chunk={"T2": (2, 2, 2)})


def _expected_time(step: int) -> datetime:
    base = np.datetime64("2021-06-01T00:00:00", "us")
    return (base + np.timedelta64(step * 6, "h")).astype(datetime)


def test_mixed_archive_time_column(spark, tmp_path):
    """Classic (record-dim coord) shard 0 + NetCDF-4 shard 1: global
    t_idx 0..5 maps onto one continuous 6-hourly axis spanning both
    files, decoded from each file's own units attribute."""
    _write_classic(str(tmp_path / "a_shard.nc"), 3, seed=1, hour0=0.0,
                   record=True)
    _write_nc4(str(tmp_path / "b_shard.nc"), 3, seed=2, hour0=18.0)
    man = str(tmp_path / "manifest")
    build_virtual_manifest(
        spark, str(tmp_path), "T2", "XLAT", "XLONG", man, time_var="t"
    )
    rows = read_virtual(spark, man).collect()
    assert len(rows) == 6 * NY * NX
    seen = {}
    for r in rows:
        seen.setdefault(r["t_idx"], set()).add(r["time"])
    assert sorted(seen) == list(range(6))
    for t_idx, times in seen.items():
        assert times == {_expected_time(t_idx)}, t_idx
    # values come from the right shard at the right step
    v = {(r["t_idx"], r["y_idx"], r["x_idx"]): r["value"] for r in rows}
    assert v[(1, 0, 1)] == 1 * 10000 + 1 * 100 + 1
    assert v[(4, 0, 1)] == 2 * 10000 + 1 * 100 + 1


def test_no_times_sidecar_reads_without_time_column(spark, tmp_path):
    _write_classic(str(tmp_path / "a.nc"), 2, seed=1, hour0=0.0)
    man = str(tmp_path / "manifest")
    build_virtual_manifest(spark, str(tmp_path), "T2", "XLAT", "XLONG", man)
    df = read_virtual(spark, man)
    assert "time" not in df.columns
    assert df.count() == 2 * NY * NX


def test_time_to_windows_prunes(spark, tmp_path):
    _write_classic(str(tmp_path / "a.nc"), 4, seed=1, hour0=0.0)
    _write_classic(str(tmp_path / "b.nc"), 4, seed=2, hour0=24.0)
    man = str(tmp_path / "manifest")
    build_virtual_manifest(
        spark, str(tmp_path), "T2", "XLAT", "XLONG", man, time_var="t"
    )
    # 12:00-30:00 covers steps 2,3 (12h,18h) and 4,5 (24h,30h)
    win = time_to_windows(
        spark, man,
        ("2021-06-01T12:00:00", "2021-06-02T06:00:00"),
    )
    assert win == (2, 5)
    rows = read_virtual(spark, man, time_range=win).collect()
    assert sorted({r["t_idx"] for r in rows}) == [2, 3, 4, 5]
    # timestamp sugar: read_virtual accepts the raw timestamp range
    sugar = read_virtual(
        spark, man,
        time_range=("2021-06-01T12:00:00", "2021-06-02T06:00:00"),
    ).collect()
    assert sorted({r["t_idx"] for r in sugar}) == [2, 3, 4, 5]
    # empty range -> impossible window -> empty well-typed read
    win = time_to_windows(
        spark, man, ("2030-01-01", "2030-01-02")
    )
    assert win == (-1, -1)
    assert read_virtual(spark, man, time_range=win).count() == 0
    # manifest without times: loud error
    plain = str(tmp_path / "plain_man")
    build_virtual_manifest(
        spark, str(tmp_path), "T2", "XLAT", "XLONG", plain
    )
    with pytest.raises(ValueError, match="no times sidecar"):
        time_to_windows(spark, plain, ("2021-06-01", "2021-06-02"))


def test_unitless_time_var_error_names_the_file(spark, tmp_path):
    """A time coordinate without a CF ``units`` attribute fails the
    build with a ``ValueError`` naming the shard and the variable, so
    the bad file of a many-shard archive is identifiable."""
    import re

    path = str(tmp_path / "b_shard.nc")
    _write_classic(str(tmp_path / "a_shard.nc"), 2, seed=1, hour0=0.0)
    variables = dict(_grid_vars(2, seed=2))
    variables["t"] = {"dims": ["t"], "data": np.arange(2.0)}
    write_netcdf(path, {"t": 2, "y": NY, "x": NX}, variables)
    with pytest.raises(Exception, match=re.escape(
        f"ValueError: {path}: t: no CF units attribute"
    )):
        build_virtual_manifest(
            spark, str(tmp_path), "T2", "XLAT", "XLONG",
            str(tmp_path / "manifest"), time_var="t",
        )


def test_wrf_times_char_axis(spark, tmp_path):
    """The WRF 'Times' convention: a (Time, DateStrLen) NC_CHAR array
    of 'YYYY-MM-DD_HH:MM:SS' strings, no units attribute — decoded
    through the same sidecar path."""
    nt = 2
    variables = dict(_grid_vars(nt, seed=3))
    strs = ["2021-06-01_00:00:00", "2021-06-01_06:00:00"]
    chars = np.array(
        [list(s.encode()) for s in strs], dtype="uint8"
    ).view("S1").reshape(nt, len(strs[0]))
    variables["Times"] = {"dims": ["t", "sl"], "data": chars}
    write_netcdf(
        str(tmp_path / "wrf.nc"),
        {"t": nt, "y": NY, "x": NX, "sl": len(strs[0])},
        variables,
    )
    man = str(tmp_path / "manifest")
    build_virtual_manifest(
        spark, str(tmp_path), "T2", "XLAT", "XLONG", man,
        time_var="Times",
    )
    rows = read_virtual(spark, man).collect()
    got = {r["t_idx"]: r["time"] for r in rows}
    assert got == {0: _expected_time(0), 1: _expected_time(1)}


def test_multivar_read_carries_var_column_and_times(spark, tmp_path):
    """A multi-variable manifest read with var=None keeps variables
    distinguishable (the new ``var`` output column) and maps each
    variable's t_idx through its own axis rows."""
    nt = 2
    yy, xx = np.meshgrid(np.arange(NY), np.arange(NX), indexing="ij")
    tt = np.arange(nt)
    variables = {
        "t": {"dims": ["t"], "data": tt.astype("float64") * 6.0,
              "attrs": {"units": "hours since 2021-06-01 00:00:00"}},
        "T2": {"dims": ["t", "y", "x"],
               "data": (tt[:, None, None] * 100 + yy * NX + xx) * 1.0},
        "Q2": {"dims": ["t", "y", "x"],
               "data": (tt[:, None, None] * 100 + yy * NX + xx) * -1.0},
        "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
        "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
    }
    write_netcdf(str(tmp_path / "a.nc"), {"t": nt, "y": NY, "x": NX},
                 variables)
    man = str(tmp_path / "manifest")
    build_virtual_manifest(
        spark, str(tmp_path), ["T2", "Q2"], "XLAT", "XLONG", man,
        time_var="t",
    )
    rows = read_virtual(spark, man).collect()
    assert len(rows) == 2 * nt * NY * NX
    got = {(r["var"], r["t_idx"], r["y_idx"], r["x_idx"]):
           (r["value"], r["time"]) for r in rows}
    assert got[("T2", 1, 0, 1)] == (101.0, _expected_time(1))
    assert got[("Q2", 1, 0, 1)] == (-101.0, _expected_time(1))
    # var= selection still narrows
    only = read_virtual(spark, man, var="Q2").collect()
    assert {r["var"] for r in only} == {"Q2"}


def test_grib2_member_message_times(spark, tmp_path):
    """GRIB2 members have no named time coordinate — any ``time_var``
    opts them into MESSAGE-time decoding: section 1 reference time +
    the section-4 forecast offset in its declared unit."""
    from wrf_to_geodataframe_spark.sources.grib2 import write_grib2

    msgs = [
        {"values": np.full((2, 2), float(i)), "lat0": 40.0,
         "lon0": -5.0, "dlat": 1.0, "dlon": 1.0,
         "ref_time": (2021, 6, 1, 0, 0, 0), "forecast_hours": 6 * i}
        for i in range(3)
    ]
    write_grib2(str(tmp_path / "m.grib2"), msgs)
    man = str(tmp_path / "manifest")
    build_virtual_manifest(
        spark, str(tmp_path), None, "XLAT", "XLONG", man,
        pattern="*.grib2", time_var="t",
    )
    rows = read_virtual(spark, man).collect()
    got = {r["t_idx"]: r["time"] for r in rows}
    assert got == {i: _expected_time(i) for i in range(3)}
    vals = {r["t_idx"]: r["value"] for r in rows}
    assert vals == {0: 0.0, 1: 1.0, 2: 2.0}


def test_grib2_template_48_uses_interval_end(spark, tmp_path):
    """Template 4.8 (statistical/accumulation) valid time is the END
    of the overall interval (octets 35-41), matching wgrib2/eccodes —
    NOT reference + forecast offset, which is the interval START.
    Here: ref 00:00, forecast +0h, 6-hour accumulation ending 06:00
    -> sidecar timestamp must be 06:00."""
    from wrf_to_geodataframe_spark.sources.grib2 import write_grib2

    msgs = [
        {"values": np.full((2, 2), float(i)), "lat0": 40.0,
         "lon0": -5.0, "dlat": 1.0, "dlon": 1.0,
         "ref_time": (2021, 6, 1, 0, 0, 0), "forecast_hours": 6 * i,
         "product": {
             "template": 8,
             # interval ends one step (6 h) after its start
             "interval_end": (2021, 6, 1, 6 * (i + 1), 0, 0),
             "stat_type": 1, "stat_hours": 6,
         }}
        for i in range(2)
    ]
    write_grib2(str(tmp_path / "acc.grib2"), msgs)
    man = str(tmp_path / "manifest")
    build_virtual_manifest(
        spark, str(tmp_path), None, "XLAT", "XLONG", man,
        pattern="*.grib2", time_var="t",
    )
    rows = read_virtual(spark, man).collect()
    got = {r["t_idx"]: r["time"] for r in rows}
    assert got == {0: _expected_time(1), 1: _expected_time(2)}
