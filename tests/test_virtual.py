"""Virtual-dataset (kerchunk-style) manifest: build + pruned reads.

Covers the scale story the layer exists for — metadata parsed once on
executors, later reads answered from byte ranges with chunk-level
pruning that reaches the parquet scan as PushedFilters — against
directories mixing NetCDF-4 (chunked+deflate) and classic NetCDF-3
(fixed AND interleaved record layouts), multiple coordinate grids, and
boundary-straddling index windows."""

from __future__ import annotations

import os

import numpy as np
import pytest

from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4
from wrf_to_geodataframe_spark.sources.netcdf import write_netcdf
from wrf_to_geodataframe_spark.sources.virtual import (
    _time_offsets,
    build_virtual_manifest,
    read_virtual,
)

NT, NY, NX = 4, 6, 5


def _val(f, t, y, x):
    return f * 100000.0 + t * 1000.0 + y * NX + x


def _write_archive(d, n_files=3, classic_every=2, extra_recvar=False):
    """n_files files, each (NT, NY, NX); every ``classic_every``-th is
    classic NetCDF-3 with a RECORD time dimension (and optionally a
    second record variable, exercising the interleaved record
    stride)."""
    yy, xx = np.meshgrid(np.arange(NY), np.arange(NX), indexing="ij")
    lat = (50.0 + yy * 0.25).astype("float64")
    lon = (-3.0 + xx * 0.125).astype("float64")
    paths = []
    for f in range(n_files):
        tt = np.arange(NT)
        vals = _val(f, tt[:, None, None], yy, xx).astype("float64")
        path = os.path.join(d, f"shard_{f}.nc")
        if classic_every and f % classic_every == 1:
            variables = {
                "T2": {"dims": ["t", "y", "x"], "data": vals},
                "XLAT": {"dims": ["y", "x"], "data": lat},
                "XLONG": {"dims": ["y", "x"], "data": lon},
            }
            if extra_recvar:
                variables["Q2"] = {
                    "dims": ["t", "y", "x"], "data": vals * 0.5,
                }
            write_netcdf(path, {"t": 0, "y": NY, "x": NX}, variables)
        else:
            write_netcdf4(
                path,
                {"t": NT, "y": NY, "x": NX},
                {
                    "T2": {"dims": ["t", "y", "x"], "data": vals},
                    "XLAT": {"dims": ["y", "x"], "data": lat},
                    "XLONG": {"dims": ["y", "x"], "data": lon},
                },
                compress=True,
                chunk={"T2": (2, 4, 3)},
            )
        paths.append(path)
    return paths


@pytest.fixture(scope="module")
def archive(tmp_path_factory, spark):
    d = str(tmp_path_factory.mktemp("vds_src"))
    _write_archive(d, n_files=3, extra_recvar=True)
    out = str(tmp_path_factory.mktemp("vds_man"))
    build_virtual_manifest(spark, d, "T2", "XLAT", "XLONG", out)
    return d, out


def _expected(files=range(3), trange=None, yrange=None, xrange_=None):
    rows = []
    for f in files:
        for t in range(NT):
            g = f * NT + t
            if trange and not (trange[0] <= g <= trange[1]):
                continue
            for y in range(NY):
                if yrange and not (yrange[0] <= y <= yrange[1]):
                    continue
                for x in range(NX):
                    if xrange_ and not (xrange_[0] <= x <= xrange_[1]):
                        continue
                    rows.append((g, y, x, 50.0 + y * 0.25,
                                 -3.0 + x * 0.125, _val(f, t, y, x)))
    return sorted(rows)


def _got(df):
    return sorted(
        (r["t_idx"], r["y_idx"], r["x_idx"], r["lat"], r["lon"],
         r["value"])
        for r in df.collect()
    )


def test_full_read_matches_closed_form(spark, archive):
    _, out = archive
    assert _got(read_virtual(spark, out)) == _expected()


def test_time_window_straddles_chunks_and_files(spark, archive):
    _, out = archive
    got = _got(read_virtual(spark, out, time_range=(3, 9)))
    assert got == _expected(trange=(3, 9))


def test_spatial_window_trims_rows_at_chunk_boundary(spark, archive):
    _, out = archive
    got = _got(
        read_virtual(spark, out, y_range=(1, 4), x_range=(2, 2))
    )
    assert got == _expected(yrange=(1, 4), xrange_=(2, 2))


def test_manifest_pruning_reaches_parquet_scan(spark, archive):
    """The time predicate must appear as PushedFilters on t0/t1 in the
    manifest parquet scan — pruned chunks never materialize a row."""
    from pyspark.sql import functions as F

    _, out = archive
    man = spark.read.parquet(os.path.join(out, "chunks"))
    total = man.count()
    filtered = man.filter((F.col("t1") > 8) & (F.col("t0") <= 9))
    assert filtered.count() < total
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "GreaterThan(t1,8" in plan and "LessThanOrEqual(t0,9" in plan


def test_coords_sidecar_deduplicates_identical_grids(spark, archive):
    _, out = archive
    coords = spark.read.parquet(os.path.join(out, "coords"))
    assert coords.count() == 1  # 3 files, one shared grid


def test_distinct_coordinate_grids_resolved_per_file(spark, tmp_path):
    """Two files with DIFFERENT lat/lon grids: each chunk row resolves
    its own grid through the coord hash."""
    d, out = str(tmp_path / "src"), str(tmp_path / "man")
    os.makedirs(d)
    yy, xx = np.meshgrid(np.arange(NY), np.arange(NX), indexing="ij")
    for f, lat0 in enumerate((50.0, 70.0)):
        write_netcdf4(
            os.path.join(d, f"g{f}.nc"),
            {"t": 1, "y": NY, "x": NX},
            {
                "T2": {"dims": ["t", "y", "x"],
                       "data": np.full((1, NY, NX), float(f))},
                "XLAT": {"dims": ["y", "x"], "data": lat0 + yy * 0.25},
                "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
            },
            compress=True,
        )
    build_virtual_manifest(spark, d, "T2", "XLAT", "XLONG", out)
    coords = spark.read.parquet(os.path.join(out, "coords"))
    assert coords.count() == 2
    rows = read_virtual(spark, out).collect()
    for r in rows:
        want = (50.0 if r["t_idx"] == 0 else 70.0) + r["y_idx"] * 0.25
        assert r["lat"] == want
        assert r["value"] == float(r["t_idx"])


def test_matches_per_file_direct_reads(spark, archive):
    """Virtual read == union of the existing whole-file sources."""
    from wrf_to_geodataframe_spark.sources.netcdf import read_netcdf_dir

    d, out = archive
    direct = read_netcdf_dir(spark, d, "T2", "XLAT", "XLONG")
    want = sorted(
        (r["y_idx"], r["x_idx"], r["lat"], r["lon"], r["value"])
        for r in direct.collect()
    )
    got = sorted(
        (r["y_idx"], r["x_idx"], r["lat"], r["lon"], r["value"])
        for r in read_virtual(spark, out).collect()
    )
    assert got == want


def test_explicit_file_list_sets_time_order(spark, tmp_path):
    """Passing an ordered path list overrides name order — file 1
    first means its timesteps own global t 0..NT-1."""
    d, out = str(tmp_path / "src"), str(tmp_path / "man")
    os.makedirs(d)
    paths = _write_archive(d, n_files=2, classic_every=0)
    build_virtual_manifest(
        spark, [paths[1], paths[0]], "T2", "XLAT", "XLONG", out
    )
    got = _got(read_virtual(spark, out, time_range=(0, NT - 1)))
    want = sorted(
        (t, y, x, 50.0 + y * 0.25, -3.0 + x * 0.125, _val(1, t, y, x))
        for t in range(NT) for y in range(NY) for x in range(NX)
    )
    assert got == want


def test_bbox_to_windows_maps_bbox_to_tight_index_windows(spark, archive):
    from wrf_to_geodataframe_spark.sources.virtual import bbox_to_windows

    _, out = archive
    # lat = 50 + 0.25*y, lon = -3 + 0.125*x
    yr, xr = bbox_to_windows(
        spark, out, lat_range=(50.3, 51.0), lon_range=(-2.8, -2.5)
    )
    assert yr == (2, 4)   # y in {2,3,4}: 50.5, 50.75, 51.0
    assert xr == (2, 4)   # x in {2,3,4}: -2.75, -2.625, -2.5
    got = _got(read_virtual(spark, out, y_range=yr, x_range=xr))
    assert got == _expected(yrange=yr, xrange_=xr)


def test_bbox_to_windows_empty_bbox(spark, archive):
    from wrf_to_geodataframe_spark.sources.virtual import bbox_to_windows

    _, out = archive
    assert bbox_to_windows(spark, out, (80.0, 81.0), (0.0, 1.0)) == (
        None, None,
    )


def test_read_virtual_bbox_sugar(spark, archive):
    """read_virtual(bbox=...) is the one-call P4: same rows as the
    explicit window form; an empty bbox reads zero rows well-typed;
    mixing bbox with explicit windows raises."""
    import pytest

    _, out = archive
    got = _got(read_virtual(
        spark, out, bbox=((50.3, 51.0), (-2.8, -2.5))
    ))
    assert got == _expected(yrange=(2, 4), xrange_=(2, 4))
    empty = read_virtual(spark, out, bbox=((80.0, 81.0), (0.0, 1.0)))
    assert empty.count() == 0
    with pytest.raises(ValueError, match="not both"):
        read_virtual(spark, out, y_range=(0, 1),
                     bbox=((50.3, 51.0), (-2.8, -2.5)))


def _write_grib2_archive(d, n_files=2, n_msgs=4):
    """n_files GRIB2 files; message k of file f carries param
    (category k%2, number 0) — var filter "0.0" selects the even
    messages — on a 2^-3 value lattice."""
    from wrf_to_geodataframe_spark.sources.grib2 import write_grib2

    ny, nx = 5, 6
    for f in range(n_files):
        msgs = []
        for k in range(n_msgs):
            base = (f * n_msgs + k) * 1000
            x = base + np.arange(ny * nx).reshape(ny, nx)
            msgs.append({
                "values": x / 8.0,
                "lat0": 50.0, "lon0": 357.0,
                "dlat": -0.25, "dlon": 0.125,
                "param_category": k % 2,
                "packing": {"template": 0, "ref": 0.0, "e": -3,
                            "d": 0, "nbits": 16},
            })
        write_grib2(os.path.join(d, f"cycle_{f}.grib2"), msgs)
    return ny, nx


def test_grib2_virtual_selects_param_and_orders_time(spark, tmp_path):
    """GRIB2 archive through the virtual layer: var="0.0" keeps the
    even messages; their stored order becomes the global time axis
    across files; values decode via the section parser from the
    manifest's message byte ranges."""
    d, out = str(tmp_path / "src"), str(tmp_path / "man")
    os.makedirs(d)
    ny, nx = _write_grib2_archive(d)
    build_virtual_manifest(
        spark, d, "0.0", None, None, out, pattern="*.grib2"
    )
    got = sorted(
        (r["t_idx"], r["y_idx"], r["x_idx"], r["lat"], r["lon"],
         r["value"])
        for r in read_virtual(spark, out).collect()
    )
    want = []
    for g, (f, k) in enumerate([(0, 0), (0, 2), (1, 0), (1, 2)]):
        for y in range(ny):
            for x in range(nx):
                want.append((
                    g, y, x, 50.0 - y * 0.25, 357.0 + x * 0.125,
                    ((f * 4 + k) * 1000 + y * nx + x) / 8.0,
                ))
    assert got == sorted(want)


def test_grib2_virtual_time_window_prunes_messages(spark, tmp_path):
    d, out = str(tmp_path / "src"), str(tmp_path / "man")
    os.makedirs(d)
    ny, nx = _write_grib2_archive(d)
    build_virtual_manifest(
        spark, d, "", None, None, out, pattern="*.grib2"
    )
    man = spark.read.parquet(os.path.join(out, "chunks"))
    assert man.count() == 8  # every message indexed when var is empty
    df = read_virtual(spark, out, time_range=(5, 6))
    rows = df.collect()
    assert {r["t_idx"] for r in rows} == {5, 6}
    assert len(rows) == 2 * ny * nx
    for r in rows:
        g = r["t_idx"]
        assert r["value"] == (
            g * 1000 + r["y_idx"] * nx + r["x_idx"]
        ) / 8.0


def test_update_manifest_appends_new_files_only(spark, tmp_path):
    """Daily-cycle append: indexing the grown directory adds ONLY the
    new file's chunks, at the end of the global time axis; a second
    update with nothing new is a no-op."""
    from wrf_to_geodataframe_spark.sources.virtual import (
        update_virtual_manifest,
    )

    d, out = str(tmp_path / "src"), str(tmp_path / "man")
    os.makedirs(d)
    _write_archive(d, n_files=2)
    build_virtual_manifest(spark, d, "T2", "XLAT", "XLONG", out)
    before = spark.read.parquet(os.path.join(out, "chunks")).count()
    # a new cycle arrives (existing files must stay byte-identical —
    # the manifest indexes their offsets)
    yy, xx = np.meshgrid(np.arange(NY), np.arange(NX), indexing="ij")
    tt = np.arange(NT)
    write_netcdf4(
        os.path.join(d, "shard_2.nc"),
        {"t": NT, "y": NY, "x": NX},
        {
            "T2": {"dims": ["t", "y", "x"],
                   "data": _val(2, tt[:, None, None], yy, xx)},
            "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
            "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
        },
        compress=True,
        chunk={"T2": (2, 4, 3)},
    )
    assert update_virtual_manifest(
        spark, d, "T2", "XLAT", "XLONG", out
    ) == 1
    assert update_virtual_manifest(
        spark, d, "T2", "XLAT", "XLONG", out
    ) == 0
    after = spark.read.parquet(os.path.join(out, "chunks"))
    assert after.count() > before
    got = _got(read_virtual(spark, out))
    assert got == _expected(files=range(3))
    # the appended file owns the tail of the time axis
    tail = _got(read_virtual(spark, out, time_range=(2 * NT, 3 * NT - 1)))
    assert tail == _expected(files=[2])


def test_compact_manifest_coalesces_contiguous_records(spark, tmp_path):
    """A classic single-record-variable archive stores one manifest
    row per record; compaction must fuse each file's records into one
    byte-contiguous run and decode identically."""
    from wrf_to_geodataframe_spark.sources.virtual import compact_manifest

    d = str(tmp_path / "src")
    out, cout = str(tmp_path / "man"), str(tmp_path / "man_c")
    os.makedirs(d)
    yy, xx = np.meshgrid(np.arange(NY), np.arange(NX), indexing="ij")
    for f in range(2):
        tt = np.arange(NT)
        write_netcdf(
            os.path.join(d, f"s{f}.nc"),
            {"t": 0, "y": NY, "x": NX},
            {
                "T2": {"dims": ["t", "y", "x"],
                       "data": _val(f, tt[:, None, None], yy, xx)},
                "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
                "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
            },
        )
    build_virtual_manifest(spark, d, "T2", "XLAT", "XLONG", out)
    compact_manifest(spark, out, cout)
    n0 = spark.read.parquet(os.path.join(out, "chunks")).count()
    n1 = spark.read.parquet(os.path.join(cout, "chunks")).count()
    assert n0 == 2 * NT and n1 == 2  # one fused run per file
    got = _got(read_virtual(spark, cout))
    assert got == _expected(files=range(2))
    # pruned read through the fused rows still trims exactly
    assert _got(read_virtual(spark, cout, time_range=(2, 5))) == _expected(
        files=range(2), trange=(2, 5)
    )


def test_compact_manifest_leaves_compressed_chunks_alone(spark, archive):
    from wrf_to_geodataframe_spark.sources.virtual import compact_manifest

    _, out = archive
    cout = out + "_compacted"
    compact_manifest(spark, out, cout)
    # deflate chunks and interleaved record vars are not mergeable;
    # row count may only change via the classic single-var case, which
    # this mixed archive does not contain
    n0 = spark.read.parquet(os.path.join(out, "chunks")).count()
    n1 = spark.read.parquet(os.path.join(cout, "chunks")).count()
    assert n0 == n1
    assert _got(read_virtual(spark, cout)) == _expected()


def test_stale_manifest_fails_loudly_on_rewritten_file(spark, tmp_path):
    """Byte offsets are only valid for the indexed bytes: rewriting an
    indexed file (different size) must raise, not decode garbage."""
    d, out = str(tmp_path / "src"), str(tmp_path / "man")
    os.makedirs(d)
    _write_archive(d, n_files=1, classic_every=0)
    build_virtual_manifest(spark, d, "T2", "XLAT", "XLONG", out)
    # rewrite shard_0 in a different format -> different size/layout
    yy, xx = np.meshgrid(np.arange(NY), np.arange(NX), indexing="ij")
    tt = np.arange(NT)
    write_netcdf(
        os.path.join(d, "shard_0.nc"),
        {"t": 0, "y": NY, "x": NX},
        {
            "T2": {"dims": ["t", "y", "x"],
                   "data": _val(0, tt[:, None, None], yy, xx)},
            "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
            "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
        },
    )
    with pytest.raises(Exception, match="changed since the manifest"):
        read_virtual(spark, out).collect()


def _write_mosaic(d, tiles=(2, 2), h=32, w=32, px=0.125):
    """tiles[0] x tiles[1] north-up COG scenes on a shared pixel grid;
    scene (r, c) covers global pixels [r*h, (r+1)*h) x [c*w, (c+1)*w);
    value = global y*1000 + x on a 2^-3 lattice."""
    from wrf_to_geodataframe_spark.sources.geotiff import write_geotiff

    for r in range(tiles[0]):
        for c in range(tiles[1]):
            gy, gx = np.meshgrid(
                np.arange(h) + r * h, np.arange(w) + c * w,
                indexing="ij",
            )
            vals = ((gy * 1000.0 + gx) / 8.0).astype("float64")
            write_geotiff(
                os.path.join(d, f"scene_{r}_{c}.tif"),
                vals,
                transform=(px, 0, 10.0 + c * w * px,
                           0, -0.25, 60.0 - r * h * 0.25),
                epsg=4326,
                tiled=True,
                tile=(16, 16),
                compression=8,
                predictor=3,
            )
    return h, w


def test_mosaic_full_read_places_scenes_globally(spark, tmp_path):
    from wrf_to_geodataframe_spark.sources.virtual import (
        build_virtual_mosaic,
    )

    d, out = str(tmp_path / "src"), str(tmp_path / "man")
    os.makedirs(d)
    h, w = _write_mosaic(d)
    build_virtual_mosaic(spark, d, out)
    df = read_virtual(spark, out)
    rows = df.collect()
    assert len(rows) == (2 * h) * (2 * w)
    for r in rows[:: max(1, len(rows) // 211)]:
        assert r["value"] == (r["y_idx"] * 1000.0 + r["x_idx"]) / 8.0
        assert r["lon"] == 10.0 + r["x_idx"] * 0.125
        assert r["lat"] == 60.0 - r["y_idx"] * 0.25


def test_mosaic_window_prunes_across_scene_boundary(spark, tmp_path):
    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.sources.virtual import (
        build_virtual_mosaic,
    )

    d, out = str(tmp_path / "src"), str(tmp_path / "man")
    os.makedirs(d)
    h, w = _write_mosaic(d)
    build_virtual_mosaic(spark, d, out)
    man = spark.read.parquet(os.path.join(out, "chunks"))
    total = man.count()
    # a window straddling the scene seam at y=32, x=32
    df = read_virtual(spark, out, y_range=(24, 39), x_range=(28, 35))
    rows = df.collect()
    assert len(rows) == 16 * 8
    assert {r["y_idx"] for r in rows} == set(range(24, 40))
    assert {r["x_idx"] for r in rows} == set(range(28, 36))
    for r in rows:
        assert r["value"] == (r["y_idx"] * 1000.0 + r["x_idx"]) / 8.0
    touched = man.filter(
        (F.col("y1") > 24) & (F.col("y0") <= 39)
        & (F.col("x1") > 28) & (F.col("x0") <= 35)
    ).count()
    assert touched < total  # chunk pruning bites across all 4 scenes


def test_mosaic_bbox_to_windows_affine(spark, tmp_path):
    from wrf_to_geodataframe_spark.sources.virtual import (
        bbox_to_windows,
        build_virtual_mosaic,
    )

    d, out = str(tmp_path / "src"), str(tmp_path / "man")
    os.makedirs(d)
    _write_mosaic(d)
    build_virtual_mosaic(spark, d, out)
    # lon = 10 + 0.125x, lat = 60 - 0.25y
    yr, xr = bbox_to_windows(
        spark, out, lat_range=(51.0, 55.0), lon_range=(11.0, 12.0)
    )
    assert xr == (8, 16)
    assert yr == (20, 36)
    got = read_virtual(spark, out, y_range=yr, x_range=xr).count()
    assert got == (36 - 20 + 1) * (16 - 8 + 1)


def test_mosaic_nodata_becomes_null(spark, tmp_path):
    from wrf_to_geodataframe_spark.sources.geotiff import write_geotiff
    from wrf_to_geodataframe_spark.sources.virtual import (
        build_virtual_mosaic,
    )

    d, out = str(tmp_path / "src"), str(tmp_path / "man")
    os.makedirs(d)
    vals = np.arange(16 * 16, dtype="float64").reshape(16, 16)
    vals[3, 5] = -9999.0
    write_geotiff(
        os.path.join(d, "s.tif"), vals,
        transform=(0.125, 0, 10.0, 0, -0.25, 60.0), epsg=4326,
        tiled=True, tile=(16, 16), nodata=-9999.0,
    )
    build_virtual_mosaic(spark, d, out)
    df = read_virtual(spark, out)
    from pyspark.sql import functions as F

    nulls = df.filter(F.col("value").isNull()).collect()
    assert [(r["y_idx"], r["x_idx"]) for r in nulls] == [(3, 5)]


def test_grib2_incremental_update_appends_cycle(spark, tmp_path):
    """A new GRIB2 cycle file appended to the archive is indexed
    incrementally and owns the tail of the time axis."""
    from wrf_to_geodataframe_spark.sources.grib2 import write_grib2
    from wrf_to_geodataframe_spark.sources.virtual import (
        update_virtual_manifest,
    )

    d, out = str(tmp_path / "src"), str(tmp_path / "man")
    os.makedirs(d)
    ny, nx = _write_grib2_archive(d, n_files=1, n_msgs=2)
    build_virtual_manifest(spark, d, "", None, None, out,
                           pattern="*.grib2")
    x = 10000 + np.arange(ny * nx).reshape(ny, nx)
    write_grib2(os.path.join(d, "cycle_9.grib2"), [{
        "values": x / 8.0,
        "lat0": 50.0, "lon0": 357.0, "dlat": -0.25, "dlon": 0.125,
        "param_category": 0,
        "packing": {"template": 0, "ref": 0.0, "e": -3, "d": 0,
                    "nbits": 16},
    }])
    assert update_virtual_manifest(
        spark, d, "", None, None, out, pattern="*.grib2"
    ) == 1
    tail = read_virtual(spark, out, time_range=(2, 2)).collect()
    assert len(tail) == ny * nx
    for r in tail:
        assert r["value"] == (
            10000 + r["y_idx"] * nx + r["x_idx"]
        ) / 8.0


def test_multi_variable_manifest_selects_by_var(spark, tmp_path):
    """One indexing pass over an archive with TWO variables; reads
    select by var (a pushed manifest predicate) and each variable has
    its own correct values over the shared grid."""
    from pyspark.sql import functions as F

    d, out = str(tmp_path / "src"), str(tmp_path / "man")
    os.makedirs(d)
    yy, xx = np.meshgrid(np.arange(NY), np.arange(NX), indexing="ij")
    tt = np.arange(NT)
    for f in range(2):
        write_netcdf4(
            os.path.join(d, f"s{f}.nc"),
            {"t": NT, "y": NY, "x": NX},
            {
                "T2": {"dims": ["t", "y", "x"],
                       "data": _val(f, tt[:, None, None], yy, xx)},
                "Q2": {"dims": ["t", "y", "x"],
                       "data": _val(f, tt[:, None, None], yy, xx) * 0.5},
                "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
                "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
            },
            compress=True,
            chunk={"T2": (2, 4, 3), "Q2": (2, 4, 3)},
        )
    build_virtual_manifest(
        spark, d, ["T2", "Q2"], "XLAT", "XLONG", out
    )
    man = spark.read.parquet(os.path.join(out, "chunks"))
    assert man.select("var").distinct().count() == 2
    t2 = _got(read_virtual(spark, out, var="T2"))
    assert t2 == _expected(files=range(2))
    q2 = read_virtual(spark, out, var="Q2", time_range=(5, 6)).collect()
    assert len(q2) == 2 * NY * NX
    for r in q2:
        f, lt = divmod(r["t_idx"], NT)
        assert r["value"] == _val(f, lt, r["y_idx"], r["x_idx"]) * 0.5
    # the var predicate reaches the manifest parquet scan
    plan = (
        man.filter(F.col("var") == "T2")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "EqualTo(var,T2" in plan


def test_sidecar_size_guard_named_error(spark, archive):
    """read_virtual measures the coordinate sidecar EXECUTOR-side and
    refuses to broadcast one over max_sidecar_bytes with a named
    error — the many-distinct-grids archive must not OOM the driver."""
    _, out = archive
    with pytest.raises(ValueError, match="too large to broadcast"):
        read_virtual(spark, out, max_sidecar_bytes=16).collect()
    # raising the cap back restores the read
    assert len(read_virtual(spark, out, time_range=(0, 0),
                            max_sidecar_bytes=256 * 2**20).collect()) > 0


def test_update_manifest_anti_join_appends_only_new(spark, tmp_path):
    """update_virtual_manifest diffs the directory listing against the
    indexed set with a LEFT ANTI join (driver collects only the NEW
    batch) and appends at the end of the global time axis."""
    from wrf_to_geodataframe_spark.sources.virtual import (
        update_virtual_manifest,
    )

    d = str(tmp_path / "src")
    os.makedirs(d)
    _write_archive(d, n_files=2, classic_every=0)
    out = str(tmp_path / "man")
    build_virtual_manifest(spark, d, "T2", "XLAT", "XLONG", out)
    assert update_virtual_manifest(
        spark, d, "T2", "XLAT", "XLONG", out
    ) == 0  # no-op: nothing new
    # drop two more files in and re-update
    yy, xx = np.meshgrid(np.arange(NY), np.arange(NX), indexing="ij")
    lat = (50.0 + yy * 0.25).astype("float64")
    lon = (-3.0 + xx * 0.125).astype("float64")
    for f in (2, 3):
        tt = np.arange(NT)
        vals = _val(f, tt[:, None, None], yy, xx).astype("float64")
        write_netcdf4(
            os.path.join(d, f"shard_{f}.nc"),
            {"t": NT, "y": NY, "x": NX},
            {
                "T2": {"dims": ["t", "y", "x"], "data": vals},
                "XLAT": {"dims": ["y", "x"], "data": lat},
                "XLONG": {"dims": ["y", "x"], "data": lon},
            },
            compress=True, chunk={"T2": (2, 4, 3)},
        )
    assert update_virtual_manifest(
        spark, d, "T2", "XLAT", "XLONG", out
    ) == 2
    assert _got(read_virtual(spark, out)) == _expected(files=range(4))


def test_fsio_dispatch_and_named_error(tmp_path, monkeypatch):
    """fsio: plain + file:// paths use the stdlib; URL schemes go
    through fsspec when importable (stubbed here — the container has
    none) and raise a NAMED error when not."""
    import io
    import sys
    import types

    from wrf_to_geodataframe_spark.sources import fsio

    p = tmp_path / "x.bin"
    p.write_bytes(b"0123456789")
    assert not fsio.is_remote(str(p))
    assert not fsio.is_remote("file://" + str(p))
    assert fsio.is_remote("s3://bucket/key")
    assert fsio.getsize("file://" + str(p)) == 10
    with fsio.open_binary("file://" + str(p)) as fh:
        fh.seek(4)
        assert fh.read(3) == b"456"
    # absent fsspec: named error
    monkeypatch.setitem(sys.modules, "fsspec", None)
    monkeypatch.delitem(sys.modules, "fsspec")
    with pytest.raises(ValueError, match="fsspec"):
        fsio.open_binary("s3://bucket/key")
    # stub fsspec: ranged reads + size go through it
    store = {"mem://a/x.bin": b"abcdefgh"}

    class _OpenFile:
        def __init__(self, path):
            self.path = path

        def open(self):
            return io.BytesIO(store[self.path])

    class _FS:
        def size(self, rel):
            return len(store["mem://" + rel])

    stub = types.ModuleType("fsspec")
    stub.open = lambda path, mode: _OpenFile(path)
    stub.core = types.SimpleNamespace(
        url_to_fs=lambda path: (_FS(), path.split("://", 1)[1])
    )
    monkeypatch.setitem(sys.modules, "fsspec", stub)
    assert fsio.getsize("mem://a/x.bin") == 8
    with fsio.open_binary("mem://a/x.bin") as fh:
        fh.seek(2)
        assert fh.read(3) == b"cde"


def test_read_virtual_with_url_file_column(spark, tmp_path):
    """The manifest's ``file`` column may carry URLs (index once on a
    POSIX view, read from wherever the archive lives): rewriting the
    chunk table to file:// URLs reads identically through the real
    executor path."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "src")
    os.makedirs(d)
    _write_archive(d, n_files=2, classic_every=0)
    out = str(tmp_path / "man")
    build_virtual_manifest(spark, d, "T2", "XLAT", "XLONG", out)
    expect = _got(read_virtual(spark, out))

    out2 = str(tmp_path / "man_url")
    os.makedirs(out2)
    (
        spark.read.parquet(os.path.join(out, "chunks"))
        .withColumn("file", F.concat(F.lit("file://"), F.col("file")))
        .write.parquet(os.path.join(out2, "chunks"))
    )
    (
        spark.read.parquet(os.path.join(out, "coords"))
        .write.parquet(os.path.join(out2, "coords"))
    )
    assert _got(read_virtual(spark, out2)) == expect


# ---------------------------------------------------------------------------
# HTTP byte-range path: the 100-TB story ("index once, answer from byte
# ranges wherever the archive lives") exercised FOR REAL against an
# in-process stdlib http.server with Range support — zero dependencies.


def _start_range_server(directory, records, support_range=True):
    """Threaded HTTP server over ``directory`` recording every
    (path, Range-header) request; 206 partial content when
    ``support_range``, naive 200 full-body otherwise."""
    import http.server
    import threading

    class _H(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def do_GET(self):
            fp = os.path.join(directory, self.path.lstrip("/"))
            with open(fp, "rb") as f:
                data = f.read()
            rng = self.headers.get("Range")
            records.append((self.path, rng))
            if rng and support_range:
                a, b = rng.split("=", 1)[1].split("-")
                a = int(a)
                b = int(b) if b else len(data) - 1
                if a >= len(data):
                    self.send_response(416)
                    self.end_headers()
                    return
                b = min(b, len(data) - 1)
                body = data[a:b + 1]
                self.send_response(206)
                self.send_header(
                    "Content-Range", f"bytes {a}-{b}/{len(data)}"
                )
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                self.send_response(200)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, srv.server_address[1]


def test_http_range_file_unit(tmp_path):
    """HttpRangeFile: size via a 0-0 probe, seek/read slices, reads
    past EOF, and the LOUD failure against a server that ignores
    Range (silently downloading a multi-TB member would be worse)."""
    from wrf_to_geodataframe_spark.sources import fsio

    p = tmp_path / "blob.bin"
    p.write_bytes(bytes(range(200)))
    records = []
    srv, port = _start_range_server(str(tmp_path), records)
    try:
        url = f"http://127.0.0.1:{port}/blob.bin"
        assert fsio.is_remote(url)
        assert fsio.getsize(url) == 200
        with fsio.open_binary(url) as fh:
            fh.seek(10)
            assert fh.read(5) == bytes(range(10, 15))
            assert fh.tell() == 15
            fh.seek(-4, 2)
            assert fh.read() == bytes(range(196, 200))
            fh.seek(500)
            assert fh.read(10) == b""  # past EOF: empty, not an error
        # every request was ranged — exactly the bytes asked for
        assert records and all(r[1] for r in records)
    finally:
        srv.shutdown()
    records2 = []
    srv2, port2 = _start_range_server(
        str(tmp_path), records2, support_range=False
    )
    try:
        url2 = f"http://127.0.0.1:{port2}/blob.bin"
        with pytest.raises(ValueError, match="Range support"):
            fsio.getsize(url2)
        with pytest.raises(ValueError, match="Range support"):
            fsio.open_binary(url2).read(4)
    finally:
        srv2.shutdown()


def test_read_virtual_over_http_issues_pruned_ranged_gets(
    spark, tmp_path
):
    """End-to-end over HTTP: remap the chunk table's file column to
    http:// URLs and read a pruned window through REAL executors.
    Values must match the local read; the server must see ONLY Range
    requests (never a full-object 200 download) and ONLY for the file
    the index-window pruning keeps — the pruned shard is never
    touched."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "src")
    os.makedirs(d)
    _write_archive(d, n_files=2, classic_every=0)
    man = str(tmp_path / "man")
    build_virtual_manifest(spark, d, "T2", "XLAT", "XLONG", man)
    window = (0, NT - 1)  # file 0 only; shard_1's chunks prune away
    expect = _got(read_virtual(spark, man, time_range=window))

    records = []
    srv, port = _start_range_server(d, records)
    try:
        man2 = str(tmp_path / "man_http")
        os.makedirs(man2)
        (
            spark.read.parquet(os.path.join(man, "chunks"))
            .withColumn(
                "file",
                F.concat(
                    F.lit(f"http://127.0.0.1:{port}/"),
                    F.element_at(F.split(F.col("file"), "/"), -1),
                ),
            )
            .write.parquet(os.path.join(man2, "chunks"))
        )
        (
            spark.read.parquet(os.path.join(man, "coords"))
            .write.parquet(os.path.join(man2, "coords"))
        )
        got = _got(read_virtual(spark, man2, time_range=window))
        assert got == expect and len(got) == NT * NY * NX
        assert records, "no HTTP requests reached the server"
        assert all(rng for _p, rng in records), (
            "un-ranged full-object GET observed"
        )
        assert all("shard_0.nc" in p for p, _rng in records), (
            "pruned shard was fetched"
        )
    finally:
        srv.shutdown()


def test_s3_range_file_unit(tmp_path, monkeypatch):
    """s3://bucket/key over the stdlib ranged reader: the endpoint from
    the library-owned WRF_S3_ENDPOINT maps to the path-style URL
    {endpoint}/bucket/key (the address every S3-compatible gateway
    serves); every read is a ranged GET; malformed s3 paths and the
    no-endpoint/no-fsspec case fail with NAMED errors."""
    from wrf_to_geodataframe_spark.sources import fsio

    bucket = tmp_path / "my-bucket"
    bucket.mkdir()
    (bucket / "blob.bin").write_bytes(bytes(range(200)))
    records = []
    srv, port = _start_range_server(str(tmp_path), records)
    try:
        monkeypatch.setenv(
            fsio.S3_ENDPOINT_ENV, f"http://127.0.0.1:{port}"
        )
        url = "s3://my-bucket/blob.bin"
        assert fsio.is_remote(url)
        assert fsio.getsize(url) == 200
        with fsio.open_binary(url) as fh:
            fh.seek(42)
            assert fh.read(8) == bytes(range(42, 50))
        assert records and all(rng for _p, rng in records)
        assert all(p == "/my-bucket/blob.bin" for p, _rng in records)
        with pytest.raises(ValueError, match="s3://bucket/key"):
            fsio.open_binary("s3://bucket-only")
    finally:
        srv.shutdown()
    # endpoint unset again -> the fsspec discipline is intact
    import sys as _sys

    monkeypatch.delenv(fsio.S3_ENDPOINT_ENV)
    monkeypatch.setitem(_sys.modules, "fsspec", None)
    monkeypatch.delitem(_sys.modules, "fsspec")
    with pytest.raises(ValueError, match="fsspec"):
        fsio.open_binary("s3://my-bucket/blob.bin")


def test_s3_endpoint_does_not_hijack_aws_sdk_var(tmp_path, monkeypatch):
    """AWS_ENDPOINT_URL belongs to the AWS SDK: with s3fs INSTALLED it
    must flow to s3fs (signed SigV4) untouched — the stdlib unsigned
    reader engages on that var only as the no-s3fs backstop.  The
    probe is for s3fs SPECIFICALLY: fsspec alone (a ubiquitous
    transitive dep) cannot serve s3://, so gating on it would break
    previously-working unsigned reads.  The library-owned
    WRF_S3_ENDPOINT opts into the stdlib reader regardless.  Pins the
    ADVICE r11 regression: environments pointing AWS_ENDPOINT_URL at
    an authenticated MinIO/LocalStack gateway must not silently lose
    their signatures."""
    import importlib.machinery
    import sys
    import types

    from wrf_to_geodataframe_spark.sources import fsio

    monkeypatch.setenv(fsio._AWS_ENDPOINT_ENV, "http://aws-sdk-endpoint")
    monkeypatch.delenv(fsio.S3_ENDPOINT_ENV, raising=False)

    def _fake_module(name, **attrs):
        m = types.ModuleType(name)
        m.__spec__ = importlib.machinery.ModuleSpec(name, None)
        for k, v in attrs.items():
            setattr(m, k, v)
        return m

    # fake an installed s3fs + an fsspec whose open() records the call
    calls = []

    class _FakeFile:
        def open(self):
            return self

    monkeypatch.setitem(sys.modules, "s3fs", _fake_module("s3fs"))
    monkeypatch.setitem(
        sys.modules, "fsspec",
        _fake_module(
            "fsspec",
            open=lambda path, mode: (calls.append(path), _FakeFile())[1],
        ),
    )
    assert fsio._s3fs_available()
    assert fsio._s3_endpoint() is None  # AWS var NOT honored
    fsio.open_binary("s3://private-bucket/key")
    assert calls == ["s3://private-bucket/key"], (
        "s3fs-present read did not route through fsspec"
    )

    # the library-owned var opts in even with s3fs present
    monkeypatch.setenv(fsio.S3_ENDPOINT_ENV, "http://wrf-endpoint")
    assert fsio._s3_endpoint() == "http://wrf-endpoint"

    # fsspec WITHOUT s3fs: the AWS var must still engage the stdlib
    # reader (before the fix this raised ImportError through fsspec)
    monkeypatch.delenv(fsio.S3_ENDPOINT_ENV)
    monkeypatch.delitem(sys.modules, "s3fs")
    assert not fsio._s3fs_available()
    assert fsio._s3_endpoint() == "http://aws-sdk-endpoint"


def test_read_virtual_over_s3_issues_pruned_ranged_gets(
    spark, tmp_path
):
    """End-to-end over the s3:// scheme THROUGH REAL EXECUTORS: the
    endpoint travels as a Spark LOCAL PROPERTY (propagated to every
    python worker — the per-job configuration path a live cluster
    uses), the chunk table's file column holds s3://bucket/... URLs,
    and a pruned-window read must (a) match the local read, (b) issue
    ONLY ranged GETs, (c) touch ONLY the file the index-window pruning
    keeps, under path-style /bucket/key addressing."""
    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.sources import fsio

    d = str(tmp_path / "bucket")
    os.makedirs(d)
    _write_archive(d, n_files=2, classic_every=0)
    man = str(tmp_path / "man")
    build_virtual_manifest(spark, d, "T2", "XLAT", "XLONG", man)
    window = (0, NT - 1)  # file 0 only; shard_1's chunks prune away
    expect = _got(read_virtual(spark, man, time_range=window))

    records = []
    # the server's root is tmp_path, so /bucket/<file> resolves
    srv, port = _start_range_server(str(tmp_path), records)
    sc = spark.sparkContext
    try:
        sc.setLocalProperty(
            fsio.S3_ENDPOINT_PROP, f"http://127.0.0.1:{port}"
        )
        man2 = str(tmp_path / "man_s3")
        os.makedirs(man2)
        (
            spark.read.parquet(os.path.join(man, "chunks"))
            .withColumn(
                "file",
                F.concat(
                    F.lit("s3://bucket/"),
                    F.element_at(F.split(F.col("file"), "/"), -1),
                ),
            )
            .write.parquet(os.path.join(man2, "chunks"))
        )
        (
            spark.read.parquet(os.path.join(man, "coords"))
            .write.parquet(os.path.join(man2, "coords"))
        )
        got = _got(read_virtual(spark, man2, time_range=window))
        assert got == expect and len(got) == NT * NY * NX
        assert records, "no requests reached the S3 fake"
        assert all(rng for _p, rng in records), (
            "un-ranged full-object GET observed"
        )
        assert all(
            p.startswith("/bucket/") and "shard_0.nc" in p
            for p, _rng in records
        ), "pruned shard fetched or path-style addressing broken"
    finally:
        sc.setLocalProperty(fsio.S3_ENDPOINT_PROP, None)
        srv.shutdown()


def test_time_offsets_cumsum_per_var():
    """Files take consecutive slices of each var's time axis in
    ``file_no`` order (input order does not matter), starting at
    ``base_t``; each var restarts at ``base_t``."""
    files = ["a.nc", "b.nc", "c.nc"]
    triples = [("T2", 2, 4), ("Q2", 0, 3), ("T2", 0, 3), ("T2", 1, 2)]
    assert _time_offsets(triples, files, 10) == [
        ("Q2", 0, 10), ("T2", 0, 10), ("T2", 1, 13), ("T2", 2, 15),
    ]
    assert _time_offsets([], files, 0) == []


@pytest.mark.parametrize("bad", [(None, 1, 3), ("T2", 1, None)])
def test_time_offsets_missing_var_or_nt_names_file(bad):
    """A chunk row without a var or a time length is a named error
    naming its file, not a ``TypeError`` from sorting ``None``."""
    files = ["a.nc", "b.nc"]
    with pytest.raises(ValueError, match="b.nc"):
        _time_offsets([("T2", 0, 2), bad], files, 0)
