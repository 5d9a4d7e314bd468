"""Distributed many-file NetCDF/HDF5 ingest (``read_netcdf_dir``):
the 100-TB shape of S1 (``xr.open_dataset`` at wrf_voronoi.py:115 —
a real WRF archive is a directory of per-timestep shards).

Contract under test (VERDICT r7 item #1):
- a mixed directory (NetCDF-3 classic AND NetCDF-4/HDF5 shards) reads
  through ONE distributed source and equals the union of per-file
  driver-side reads;
- record (3-D) variables unnest every time slice with explicit t_idx,
  or just the requested slice;
- parsing runs in executors — ≥1 task per file once file-packing is
  disabled, and the plan is a binaryFile scan feeding MapInPandas
  (no driver-side createDataFrame anywhere in the lineage).
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.hdf5_fixture import FixtureWriter
from wrf_to_geodataframe_spark.sources.netcdf import (
    read_netcdf_dir,
    read_netcdf_grid,
    read_netcdf_pencils,
    write_netcdf,
)


def _write_nc3_grid(path: str, seed: int, ny: int = 4, nx: int = 5) -> np.ndarray:
    rng = np.random.default_rng(seed)
    t2 = rng.normal(280.0, 5.0, (ny, nx)).astype(np.float64)
    lat = np.linspace(-30.0 - seed, -10.0, ny * nx).reshape(ny, nx)
    lon = np.linspace(-60.0, -40.0 + seed, ny * nx).reshape(ny, nx)
    write_netcdf(
        path,
        dims={"y": ny, "x": nx},
        variables={
            "T2": {"dims": ("y", "x"), "data": t2},
            "XLAT": {"dims": ("y", "x"), "data": lat},
            "XLONG": {"dims": ("y", "x"), "data": lon},
        },
    )
    return t2


def _write_nc4_grid(path: str, seed: int, ny: int = 4, nx: int = 5) -> np.ndarray:
    rng = np.random.default_rng(seed)
    t2 = rng.normal(280.0, 5.0, (ny, nx)).astype(np.float32)
    lat = np.linspace(-30.0 - seed, -10.0, ny * nx).reshape(ny, nx)
    lon = np.linspace(-60.0, -40.0 + seed, ny * nx).reshape(ny, nx)
    w = FixtureWriter()
    w.add_chunked("T2", t2, chunk=(3, 3))
    w.add_contiguous("XLAT", lat)
    w.add_contiguous("XLONG", lon)
    w.finish(path)
    return t2.astype(np.float64)


@pytest.fixture()
def mixed_dir(tmp_path):
    grids = {}
    for i in range(2):
        p = str(tmp_path / f"classic_{i}.nc")
        grids[p] = _write_nc3_grid(p, seed=i)
    for i in range(2):
        p = str(tmp_path / f"hdf5_{i}.nc")
        grids[p] = _write_nc4_grid(p, seed=10 + i)
    return str(tmp_path), grids


def test_mixed_dir_equals_union_of_driver_reads(spark, mixed_dir):
    path, grids = mixed_dir
    df = read_netcdf_dir(spark, path, "T2", "XLAT", "XLONG")
    got = {
        (r.file.split("/")[-1], r.t_idx, r.y_idx, r.x_idx): (
            r.lat,
            r.lon,
            r.value,
        )
        for r in df.collect()
    }
    assert len(got) == 4 * 4 * 5
    want = {}
    for p in grids:
        for r in read_netcdf_grid(spark, p, "T2", "XLAT", "XLONG").collect():
            want[(p.split("/")[-1], 0, r.y_idx, r.x_idx)] = (
                r.lat,
                r.lon,
                r.value,
            )
    assert set(got) == set(want)
    for k, (glat, glon, gval) in got.items():
        wlat, wlon, wval = want[k]
        assert abs(glat - wlat) < 1e-12
        assert abs(glon - wlon) < 1e-12
        assert abs(gval - wval) < 1e-6


def test_record_variable_unnests_every_time_slice(spark, tmp_path):
    nt, ny, nx = 3, 2, 4
    rng = np.random.default_rng(7)
    cube = rng.normal(0.0, 1.0, (nt, ny, nx))
    lat = np.linspace(50.0, 51.0, ny * nx).reshape(ny, nx)
    lon = np.linspace(-1.0, 0.0, ny * nx).reshape(ny, nx)
    p = str(tmp_path / "cube.nc")
    write_netcdf(
        p,
        dims={"t": nt, "y": ny, "x": nx},
        variables={
            "T2": {"dims": ("t", "y", "x"), "data": cube},
            "XLAT": {"dims": ("y", "x"), "data": lat},
            "XLONG": {"dims": ("y", "x"), "data": lon},
        },
    )
    df = read_netcdf_dir(spark, p, "T2", "XLAT", "XLONG")
    rows = df.collect()
    assert len(rows) == nt * ny * nx
    for r in rows:
        assert abs(r.value - cube[r.t_idx, r.y_idx, r.x_idx]) < 1e-12
    sliced = read_netcdf_dir(
        spark, p, "T2", "XLAT", "XLONG", time_index=1
    ).collect()
    assert {r.t_idx for r in sliced} == {1}
    assert len(sliced) == ny * nx


def test_pencils_name_a_staggered_variable(spark, tmp_path):
    """A variable on another (y, x) plane (WRF's U on west_east_stag)
    is a named error of the pencil reader, raised before any pencil is
    built against the shared mass-grid coordinates."""
    ny, nx = 3, 5
    lat = np.linspace(50.0, 51.0, ny * nx).reshape(ny, nx)
    lon = np.linspace(-1.0, 0.0, ny * nx).reshape(ny, nx)
    p = str(tmp_path / "wrfout_stag.nc")
    write_netcdf(
        p,
        dims={"t": 1, "y": ny, "x": nx, "xs": nx + 1},
        variables={
            "T": {"dims": ("t", "y", "x"), "data": np.zeros((1, ny, nx))},
            "U": {"dims": ("t", "y", "xs"),
                  "data": np.zeros((1, ny, nx + 1))},
            "XLAT": {"dims": ("y", "x"), "data": lat},
            "XLONG": {"dims": ("y", "x"), "data": lon},
        },
    )
    df = read_netcdf_pencils(spark, p, ["T", "U"], "XLAT", "XLONG")
    with pytest.raises(Exception, match="does not share"):
        df.collect()


def test_pencils_read_staggered_mass_and_plane_in_one_scan(spark, tmp_path):
    """PH/PHB (nk + 1 levels), T (nk) and HGT (2-D) share the (y, x)
    plane, not the level count, so ONE scan reads them: each cell's
    arrays are its column through the file, of lengths nk + 1, nk and
    1."""
    nk, ny, nx = 4, 3, 5
    rng = np.random.default_rng(11)
    t = rng.normal(280.0, 5.0, (nk, ny, nx))
    ph = rng.normal(0.0, 50.0, (nk + 1, ny, nx))
    phb = rng.normal(9000.0, 50.0, (nk + 1, ny, nx))
    hgt = rng.normal(300.0, 20.0, (ny, nx))
    lat = np.linspace(50.0, 51.0, ny * nx).reshape(ny, nx)
    lon = np.linspace(-1.0, 0.0, ny * nx).reshape(ny, nx)
    p = str(tmp_path / "wrfout_pencils.nc")
    write_netcdf(
        p,
        dims={"k": nk, "ks": nk + 1, "y": ny, "x": nx},
        variables={
            "T": {"dims": ("k", "y", "x"), "data": t},
            "PH": {"dims": ("ks", "y", "x"), "data": ph},
            "PHB": {"dims": ("ks", "y", "x"), "data": phb},
            "HGT": {"dims": ("y", "x"), "data": hgt},
            "XLAT": {"dims": ("y", "x"), "data": lat},
            "XLONG": {"dims": ("y", "x"), "data": lon},
        },
    )
    df = read_netcdf_pencils(
        spark, p, ["PH", "PHB", "T", "HGT"], "XLAT", "XLONG"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    rows = df.collect()
    assert len(rows) == ny * nx
    for r in rows:
        j, i = r.y_idx, r.x_idx
        assert (len(r.ph), len(r.phb), len(r.t), len(r.hgt)) == (
            nk + 1, nk + 1, nk, 1
        )
        assert r.ph == list(ph[:, j, i])
        assert r.phb == list(phb[:, j, i])
        assert r.t == list(t[:, j, i])
        assert r.hgt == [hgt[j, i]]
        assert (r.lat, r.lon) == (lat[j, i], lon[j, i])


def test_pencils_decode_cf_packing_like_read_netcdf_dir(spark, tmp_path):
    """A CF-packed (int16 + scale_factor/add_offset/_FillValue)
    variable decodes in the pencils exactly as read_netcdf_dir decodes
    it, the fill cell NULL in both."""
    nk, ny, nx = 3, 2, 3
    raw = (np.arange(nk * ny * nx, dtype="int16") * 37 - 200).reshape(
        nk, ny, nx
    )
    raw[1, 0, 2] = -32767
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    p = str(tmp_path / "packed.nc")
    write_netcdf(
        p,
        {"k": nk, "y": ny, "x": nx},
        {
            "T": {"dims": ["k", "y", "x"], "data": raw,
                  "attrs": {"scale_factor": 0.01, "add_offset": 270.0,
                            "_FillValue": np.int16(-32767)}},
            "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
            "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
        },
    )
    pen = {
        (r.y_idx, r.x_idx): r.t
        for r in read_netcdf_pencils(
            spark, p, ["T"], "XLAT", "XLONG"
        ).collect()
    }
    rows = read_netcdf_dir(spark, p, "T", "XLAT", "XLONG").collect()
    assert len(rows) == nk * ny * nx
    for r in rows:
        assert pen[(r.y_idx, r.x_idx)][r.t_idx] == r.value
    assert pen[(0, 2)][1] is None


def test_time_decode_error_names_the_shard(spark, tmp_path):
    """In a many-file read_netcdf_dir(time_var=...) the time-decode
    error names the shard whose time coordinate is broken, not just
    the variable."""
    ny, nx = 2, 3
    lat = np.linspace(50.0, 51.0, ny * nx).reshape(ny, nx)
    lon = np.linspace(-1.0, 0.0, ny * nx).reshape(ny, nx)
    paths = []
    for i, attrs in enumerate([{"units": "hours since 2000-01-01"}, {}]):
        p = str(tmp_path / f"shard_{i}.nc")
        write_netcdf(
            p,
            dims={"t": 1, "y": ny, "x": nx},
            variables={
                "T2": {"dims": ("t", "y", "x"),
                       "data": np.full((1, ny, nx), 280.0 + i)},
                "t": {"dims": ("t",), "data": np.array([6.0 * i]),
                      "attrs": attrs},
                "XLAT": {"dims": ("y", "x"), "data": lat},
                "XLONG": {"dims": ("y", "x"), "data": lon},
            },
        )
        paths.append(p)
    df = read_netcdf_dir(
        spark, str(tmp_path), "T2", "XLAT", "XLONG", time_var="t"
    )
    with pytest.raises(Exception) as info:
        df.collect()
    assert f"{paths[1]}: t: no CF units attribute" in str(info.value)


def test_one_task_per_file_and_executor_side_parse(spark, mixed_dir):
    path, grids = mixed_dir
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        # defeat small-file packing so each shard is its own split —
        # at archive scale (~100 MB-1 GB per .nc) this is the default
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
        spark.conf.set("spark.sql.files.openCostInBytes", "64")
        df = read_netcdf_dir(spark, path, "T2", "XLAT", "XLONG")
        assert df.rdd.getNumPartitions() >= len(grids)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
        assert "Scan binaryFile" in plan
        # still correct under forced 1-file splits
        assert df.count() == 4 * 4 * 5
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)


def test_rectilinear_coords_broadcast(spark, tmp_path):
    ny, nx = 3, 4
    v = np.arange(ny * nx, dtype=np.float64).reshape(ny, nx)
    ys = np.array([50.0, 50.5, 51.0])
    xs = np.array([-1.0, -0.5, 0.0, 0.5])
    p = str(tmp_path / "rect.nc")
    write_netcdf(
        p,
        dims={"y": ny, "x": nx},
        variables={
            "v": {"dims": ("y", "x"), "data": v},
            "ys": {"dims": ("y",), "data": ys},
            "xs": {"dims": ("x",), "data": xs},
        },
    )
    rows = read_netcdf_dir(spark, p, "v", "ys", "xs").collect()
    assert len(rows) == ny * nx
    for r in rows:
        assert r.lat == ys[r.y_idx]
        assert r.lon == xs[r.x_idx]


def test_slab_reader_header_probe_is_bounded(tmp_path):
    """The header prober must parse a file whose record payload is
    bigger than its first prefix read without loading it all (proxy
    check: header parse succeeds on a 64 KiB prefix alone)."""
    from wrf_to_geodataframe_spark.sources.netcdf import (
        _parse_header,
        _read_header_from_file,
    )

    nt, ny, nx = 40, 64, 64  # 40*64*64*8 = 1.25 MiB of payload
    cube = np.zeros((nt, ny, nx))
    p = str(tmp_path / "wide.nc")
    write_netcdf(
        p,
        dims={"t": 0, "y": ny, "x": nx},  # t unlimited -> record layout
        variables={"T2": {"dims": ("t", "y", "x"), "data": cube}},
    )
    hdr = _read_header_from_file(p)
    assert hdr["numrecs"] == nt
    with open(p, "rb") as f:
        prefix = f.read(1 << 16)
    assert _parse_header(prefix)["numrecs"] == nt
    import pytest as _pytest

    bad = tmp_path / "x.bin"
    bad.write_bytes(b"not netcdf at all")
    with _pytest.raises(ValueError, match="not a NetCDF"):
        _read_header_from_file(str(bad))


def test_distributed_sink_then_distributed_scan_round_trip(spark, tmp_path):
    """write_netcdf_dir -> read_netcdf_dir: the full archive->archive
    loop stays distributed on both ends (executor-side shard writes
    via applyInPandas, executor-side parses via mapInPandas), and the
    cell values survive bit-exactly."""
    from wrf_to_geodataframe_spark.sources.netcdf import (
        read_netcdf_dir,
        write_netcdf_dir,
    )
    from pyspark.sql import functions as F

    nt, ny, nx = 5, 4, 6
    cells = (
        spark.range(nt * ny * nx)
        .select(
            (F.col("id") / (ny * nx)).cast("long").alias("t_idx"),
            ((F.col("id") % (ny * nx)) / nx).cast("long").alias("y_idx"),
            (F.col("id") % nx).alias("x_idx"),
        )
        .select(
            "t_idx", "y_idx", "x_idx",
            (50.0 + F.col("y_idx") * 0.25).alias("lat"),
            (-3.0 + F.col("x_idx") * 0.125).alias("lon"),
            (F.col("t_idx") * 1000 + F.col("y_idx") * nx + F.col("x_idx"))
            .cast("double").alias("value"),
        )
    )
    outdir = str(tmp_path / "archive")
    manifest = write_netcdf_dir(cells, outdir).collect()
    assert len(manifest) == nt
    assert sorted(m.shard for m in manifest) == list(range(nt))
    assert all(m.n_cells == ny * nx and m.ny == ny and m.nx == nx
               for m in manifest)
    back = read_netcdf_dir(spark, outdir, "T2", "XLAT", "XLONG")
    rows = back.collect()
    assert len(rows) == nt * ny * nx
    for r in rows:
        shard = int(r.file.split("shard_")[1].split(".")[0])
        assert r.value == shard * 1000 + r.y_idx * nx + r.x_idx
        assert r.lat == 50.0 + r.y_idx * 0.25
        assert r.lon == -3.0 + r.x_idx * 0.125


def test_cf_mask_and_scale_applied_like_xarray(spark, tmp_path):
    """CF-packed variables (int16 raw + scale_factor/add_offset,
    _FillValue -> NaN) decode to physical values through the grid
    ingest — the mask-and-scale half of xr.open_dataset the reference
    relies on (wrf_voronoi.py:115)."""
    import numpy as np

    from wrf_to_geodataframe_spark.sources.netcdf import (
        read_netcdf_grid,
        write_netcdf,
    )

    ny, nx = 2, 3
    raw = np.array([[100, 200, -32767], [300, 400, 500]], dtype="int16")
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    p = str(tmp_path / "packed.nc")
    write_netcdf(
        p,
        {"y": ny, "x": nx},
        {
            "T2": {"dims": ["y", "x"], "data": raw,
                   "attrs": {"scale_factor": 0.01, "add_offset": 270.0,
                             "_FillValue": np.int16(-32767)}},
            "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
            "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
        },
    )
    rows = read_netcdf_grid(spark, p, "T2", "XLAT", "XLONG").collect()
    got = {(r["y_idx"], r["x_idx"]): r["value"] for r in rows}
    assert got[(0, 0)] == 100 * 0.01 + 270.0
    assert got[(1, 2)] == 500 * 0.01 + 270.0
    assert got[(0, 2)] is None  # fill -> NaN -> NULL at the boundary
