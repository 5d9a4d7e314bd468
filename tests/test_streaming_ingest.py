"""Streaming S1 ingest mirrors (streaming/ingest.py): stream==batch
equivalence for the NetCDF/GRIB2 archive scans and the live-zarr
chunk tail, plus exactly-once incremental file discovery through a
checkpoint."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from wrf_to_geodataframe_spark.sources.grib2 import write_grib2
from wrf_to_geodataframe_spark.sources.netcdf import (
    read_netcdf_dir,
    write_netcdf,
)
from wrf_to_geodataframe_spark.sources.zarr import read_zarr_dist, write_zarr
from wrf_to_geodataframe_spark.streaming.ingest import (
    stream_grib2_dir,
    stream_netcdf_dir,
    stream_zarr_chunks,
)


def _drain(stream_df, checkpoint: str) -> pd.DataFrame:
    """Run an availableNow pass collecting every micro-batch on the
    driver (test sink only)."""
    frames: list[pd.DataFrame] = []

    def _sink(batch_df, _bid):
        frames.append(batch_df.toPandas())

    q = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if frames:
        return pd.concat(frames, ignore_index=True)
    return pd.DataFrame()


def _write_nc_shards(d: str, shards: range, ny=4, nx=5):
    os.makedirs(d, exist_ok=True)
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    for s in shards:
        write_netcdf(
            os.path.join(d, f"shard_{s}.nc"),
            {"y": ny, "x": nx},
            {
                "T2": {"dims": ["y", "x"],
                       "data": (s * 100 + yy * nx + xx).astype("float64")},
                "XLAT": {"dims": ["y", "x"],
                         "data": (50.0 + yy * 0.25)},
                "XLONG": {"dims": ["y", "x"],
                          "data": (-3.0 + xx * 0.125)},
            },
        )


def _keyed(pdf: pd.DataFrame, cols) -> dict:
    return {
        tuple(
            os.path.basename(str(r[c])) if c in ("file",) else r[c]
            for c in cols
        ): r["value"]
        for _, r in pdf.iterrows()
    }


def test_netcdf_stream_equals_batch(spark, tmp_path):
    d = str(tmp_path / "arch")
    _write_nc_shards(d, range(3))
    sdf = stream_netcdf_dir(spark, d, "T2", "XLAT", "XLONG")
    assert sdf.isStreaming
    got = _drain(sdf, str(tmp_path / "ckpt"))
    batch = read_netcdf_dir(spark, d, "T2", "XLAT", "XLONG").toPandas()
    cols = ("file", "t_idx", "y_idx", "x_idx")
    assert _keyed(got, cols) == _keyed(batch, cols)
    assert len(got) == 3 * 4 * 5


def test_netcdf_stream_incremental_discovery(spark, tmp_path):
    """New shards arriving between runs are processed exactly once
    (file-source checkpoint): second availableNow pass sees ONLY the
    new files; the union covers the whole archive."""
    d = str(tmp_path / "arch")
    ckpt = str(tmp_path / "ckpt")
    _write_nc_shards(d, range(2))
    sdf = stream_netcdf_dir(spark, d, "T2", "XLAT", "XLONG")
    first = _drain(sdf, ckpt)
    assert sorted(set(os.path.basename(f) for f in first["file"])) == [
        "shard_0.nc", "shard_1.nc",
    ]
    _write_nc_shards(d, range(2, 5))
    second = _drain(stream_netcdf_dir(spark, d, "T2", "XLAT", "XLONG"), ckpt)
    assert sorted(set(os.path.basename(f) for f in second["file"])) == [
        "shard_2.nc", "shard_3.nc", "shard_4.nc",
    ]
    batch = read_netcdf_dir(spark, d, "T2", "XLAT", "XLONG").toPandas()
    cols = ("file", "t_idx", "y_idx", "x_idx")
    union = pd.concat([first, second], ignore_index=True)
    assert _keyed(union, cols) == _keyed(batch, cols)


def test_grib2_stream_equals_batch(spark, tmp_path):
    from wrf_to_geodataframe_spark.sources.grib2 import read_grib2_dir

    d = str(tmp_path / "feed")
    os.makedirs(d)
    for f in range(2):
        msgs = [
            {
                "values": ((f * 2 + k) * 100
                           + np.arange(12).reshape(3, 4)) / 8.0,
                "lat0": 40.0, "lon0": 10.0, "dlat": -0.5, "dlon": 0.25,
                "packing": {"template": 0, "ref": 0.0, "e": -3, "d": 0,
                            "nbits": 16},
            }
            for k in range(2)
        ]
        write_grib2(os.path.join(d, f"cycle_{f}.grib2"), msgs)
    got = _drain(stream_grib2_dir(spark, d), str(tmp_path / "ckpt"))
    batch = read_grib2_dir(spark, d).toPandas()
    cols = ("file", "msg_idx", "y_idx", "x_idx")
    assert _keyed(got, cols) == _keyed(batch, cols)
    assert len(got) == 2 * 2 * 12


@pytest.mark.parametrize(
    "sep,packed", [(".", False), ("/", False), (".", True)],
    ids=[".", "/", "packed"],
)
def test_zarr_chunk_tail_equals_dist_read(spark, tmp_path, sep, packed):
    store = str(tmp_path / "live")
    rng = np.random.default_rng(11)
    nt, ny, nx = 2, 6, 8
    vals = np.round(rng.standard_normal((nt, ny, nx)) * 8) / 8
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    variables = {
        "T2": {"dims": ["t", "y", "x"], "data": vals},
        "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
        "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
    }
    if packed:
        # CF-packed int16 value and coordinate: the tail must apply
        # the same mask-and-scale as the batch scan
        raw = np.arange(nt * ny * nx, dtype="int16").reshape(nt, ny, nx)
        raw[0, 0, 0] = -999
        variables["T2"] = {
            "dims": ["t", "y", "x"], "data": raw,
            "attrs": {"scale_factor": 0.5, "add_offset": 100.0,
                      "_FillValue": -999},
        }
        variables["XLAT"] = {
            "dims": ["y", "x"], "data": (yy * 4).astype("int16"),
            "attrs": {"scale_factor": 0.0625, "add_offset": 50.0},
        }
    write_zarr(
        store,
        {"t": nt, "y": ny, "x": nx},
        variables,
        chunks={"T2": (1, 4, 3), "XLAT": (4, 3), "XLONG": (4, 3)},
        dimension_separator=sep,
    )
    got = _drain(
        stream_zarr_chunks(spark, store, "T2", "XLAT", "XLONG"),
        str(tmp_path / "ckpt"),
    )
    dist = read_zarr_dist(spark, store, "T2", "XLAT", "XLONG").toPandas()
    cols = ("chunk_key", "t_idx", "y_idx", "x_idx")
    if packed:
        # the masked cell is NULL on both sides; NaN never compares
        # equal, so give it a sentinel no packed value can take
        got, dist = got.fillna(-1.0), dist.fillna(-1.0)
        cells = _keyed(got, ("t_idx", "y_idx", "x_idx"))
        assert cells[(0, 0, 0)] == -1.0
        assert cells[(1, 5, 7)] == raw[1, 5, 7] * 0.5 + 100.0
        coord = lambda df: sorted(  # noqa: E731
            zip(df["y_idx"], df["x_idx"], df["lat"], df["lon"])
        )
        assert coord(got) == coord(dist)
        assert {(y, la) for y, _x, la, _lo in coord(got)} == {
            (y, 50.0 + y * 0.25) for y in range(ny)
        }
    assert _keyed(got, cols) == _keyed(dist, cols)
    assert len(got) == nt * ny * nx


def test_npy_stream_equals_batch(spark, tmp_path):
    from wrf_to_geodataframe_spark.sources.npy import read_npy_dir
    from wrf_to_geodataframe_spark.streaming.ingest import stream_npy_dir

    d = str(tmp_path / "emb")
    os.makedirs(d)
    for f in range(3):
        arr = (np.arange(24, dtype="f8").reshape(6, 4) + f * 100) / 8.0
        np.save(os.path.join(d, f"shard_{f}.npy"), arr)
    sdf = stream_npy_dir(spark, d)
    assert sdf.isStreaming
    got = _drain(sdf, str(tmp_path / "ckpt"))
    batch = read_npy_dir(spark, d).toPandas()
    key = lambda df: sorted(  # noqa: E731
        (os.path.basename(f), i, tuple(v))
        for f, i, v in zip(df["file"], df["row_idx"], df["embedding"])
    )
    assert key(got) == key(batch)
    assert len(got) == 18


def test_virtual_stream_equals_batch_and_appends(spark, tmp_path):
    """stream_virtual tails a virtual manifest: the first availableNow
    pass replays the initial build's chunks; after
    update_virtual_manifest appends a new model cycle, a second pass
    (same checkpoint) decodes ONLY the new cycle's chunks; the union
    matches read_virtual over the grown manifest — exactly-once at the
    manifest level."""
    from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4
    from wrf_to_geodataframe_spark.sources.virtual import (
        build_virtual_manifest,
        read_virtual,
        stream_virtual,
        update_virtual_manifest,
    )

    nt, ny, nx = 4, 4, 5
    d = str(tmp_path / "arch")
    out = str(tmp_path / "man")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(d)
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    tt = np.arange(nt)

    def _shard(f):
        write_netcdf4(
            os.path.join(d, f"shard_{f}.nc"),
            {"t": nt, "y": ny, "x": nx},
            {
                "T2": {"dims": ["t", "y", "x"],
                       "data": (f * 100000.0 + tt[:, None, None] * 1000
                                + yy * nx + xx)},
                "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
                "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
            },
            compress=True, chunk={"T2": (2, 4, 3)},
        )

    for f in range(2):
        _shard(f)
    build_virtual_manifest(spark, d, "T2", "XLAT", "XLONG", out)

    sdf = stream_virtual(spark, out)
    assert sdf.isStreaming
    first = _drain(sdf, ckpt)
    assert len(first) == 2 * nt * ny * nx

    # a new model cycle lands; incremental index, then tail again
    _shard(2)
    assert update_virtual_manifest(
        spark, d, "T2", "XLAT", "XLONG", out
    ) == 1
    second = _drain(stream_virtual(spark, out), ckpt)
    assert len(second) == nt * ny * nx
    assert set(os.path.basename(f) for f in second["file"]) == {
        "shard_2.nc"
    }
    union = pd.concat([first, second], ignore_index=True)
    batch = read_virtual(spark, out).toPandas()
    cols = ("t_idx", "y_idx", "x_idx")
    assert _keyed(union, cols) == _keyed(batch, cols)
    assert len(union) == len(batch) == 3 * nt * ny * nx


def test_streaming_getvar_tk_equals_batch(spark, tmp_path):
    """Streaming diagnostics over a wrfout landing zone: the
    multi-variable shard stream (one parse per file, T/P/PB as
    columns) with the tk codegen expression equals batch
    wrf_getvar('tk') row for row — diagnostics are stateless column
    math, so the streaming mirror is the SAME expression over the
    unbounded source."""
    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.functions.meteo import temperature_k
    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar
    from wrf_to_geodataframe_spark.streaming.ingest import (
        stream_netcdf_dir_many,
    )

    nk, nj, ni = 3, 4, 5
    kk, jj, ii = np.meshgrid(
        np.arange(nk), np.arange(nj), np.arange(ni), indexing="ij"
    )
    d = str(tmp_path / "zone")
    os.makedirs(d)
    for f in range(3):
        write_netcdf(
            os.path.join(d, f"wrfout_d01_{f:03d}.nc"),
            {"k": nk, "j": nj, "i": ni},
            {
                "T": {"dims": ["k", "j", "i"],
                      "data": -8.0 * kk + (ii + jj) / 4.0 + f},
                "P": {"dims": ["k", "j", "i"], "data": 0.0 * kk},
                "PB": {"dims": ["k", "j", "i"],
                       "data": 95000.0 - 9000.0 * kk},
                "XLAT": {"dims": ["j", "i"],
                         "data": 38.0 + jj[0] * 0.25},
                "XLONG": {"dims": ["j", "i"],
                          "data": -101.0 + ii[0] * 0.25},
            },
        )
    sdf = stream_netcdf_dir_many(spark, d, ["T", "P", "PB"],
                                 "XLAT", "XLONG")
    tk_stream = sdf.select(
        "file", F.col("t_idx").alias("k"), "y_idx", "x_idx",
        temperature_k(
            F.col("t") + F.lit(300.0), F.col("p") + F.col("pb")
        ).alias("tk"),
    )
    got = _drain(tk_stream, str(tmp_path / "ckpt"))
    want = wrf_getvar(spark, d, "tk").toPandas()
    key = lambda pdf: {  # noqa: E731
        (os.path.basename(str(r["file"])), r["k"], r["y_idx"],
         r["x_idx"]): r["tk"]
        for _, r in pdf.iterrows()
    }
    gk, wk = key(got), key(want)
    assert len(gk) == 3 * nk * nj * ni
    assert gk == wk


def test_streaming_time_axis_daily_rollup(spark, tmp_path):
    """The streaming twin of wrf_getvar(times=True): time_var='Times'
    stamps each shard's rows with its decoded timestamp in the SAME
    parse pass, and stream_resample_daily over that event time equals
    the capstone's batch daily rollup — the reference's
    resample(XTIME='1D') over an unbounded landing zone."""
    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar
    from wrf_to_geodataframe_spark.streaming.ingest import (
        stream_netcdf_dir_many,
    )
    from wrf_to_geodataframe_spark.streaming.resample import (
        stream_resample_daily,
    )
    from wrf_to_geodataframe_spark.suite.dynamics import (
        _write_capstone_fixture,
    )

    d = _write_capstone_fixture()
    sdf = stream_netcdf_dir_many(
        spark, d, ["T2"], "XLAT", "XLONG", time_var="Times"
    )
    # row-level equality with the batch front door
    got = _drain(sdf.select("file", "y_idx", "x_idx", "time", "t2"),
                 str(tmp_path / "ck1"))
    want = wrf_getvar(spark, d, "T2", times=True).toPandas()
    key = lambda pdf: {  # noqa: E731
        (os.path.basename(str(r["file"])), r["y_idx"], r["x_idx"]):
        (r["time"], r["t2"])
        for _, r in pdf.iterrows()
    }
    assert key(got) == key(want)
    assert len(got) == 8 * 4 * 5

    # watermarked daily rollup on the decoded event time (complete
    # mode: a bounded availableNow source never advances the
    # watermark past its own tail)
    daily = stream_resample_daily(
        sdf, "time", "t2", ["y_idx", "x_idx"], watermark="2 days"
    )
    frames = []
    q = (
        daily.writeStream.outputMode("complete")
        .foreachBatch(lambda b, _i: frames.append(b.toPandas()))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = frames[-1]
    assert len(out) == 2 * 4 * 5  # two days x grid
    for _, r in out.iterrows():
        base = 288.0 + (r["x_idx"] + r["y_idx"]) / 8.0 \
            + {"2021-07-03": 0.0, "2021-07-04": 0.25}[str(r["day"])]
        assert r["v_min"] == base
        assert r["v_max"] == base + 4.0
        assert r["v_mean"] == base + 2.0
