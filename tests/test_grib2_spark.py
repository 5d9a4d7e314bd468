"""Spark surfaces of the GRIB2 source: distributed directory scan vs
driver union, long-table grid ingest, per-file task shape."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from wrf_to_geodataframe_spark.sources.grib2 import (
    read_grib2,
    read_grib2_dir,
    read_grib2_grid,
    write_grib2,
)


def _archive(d: str, nfiles=3, nmsg=2, nj=4, ni=5):
    os.makedirs(d, exist_ok=True)
    for f in range(nfiles):
        msgs = []
        for k in range(nmsg):
            base = (f * nmsg + k) * 1000
            x = base + np.arange(nj * ni).reshape(nj, ni)
            msgs.append(
                {
                    "values": x / 8.0,
                    "lat0": 50.0, "lon0": 357.0,
                    "dlat": -0.25, "dlon": 0.125,
                    "param_category": k,
                    "packing": {"template": 0, "ref": 0.0, "e": -3,
                                "d": 0, "nbits": 16},
                }
            )
        write_grib2(os.path.join(d, f"cycle_{f}.grib2"), msgs)


def test_grid_ingest_long_table(spark, tmp_path):
    d = str(tmp_path / "arch")
    _archive(d, nfiles=1, nmsg=2)
    df = read_grib2_grid(spark, os.path.join(d, "cycle_0.grib2"))
    rows = df.collect()
    assert len(rows) == 2 * 4 * 5
    for r in rows:
        want = (r["msg_idx"] * 1000 + r["y_idx"] * 5 + r["x_idx"]) / 8.0
        assert r["value"] == want
        assert r["lat"] == 50.0 - 0.25 * r["y_idx"]
        assert r["lon"] == 357.0 + 0.125 * r["x_idx"]


def test_dir_scan_matches_driver_union(spark, tmp_path):
    d = str(tmp_path / "arch")
    _archive(d)
    df = read_grib2_dir(spark, d)
    got = {
        (os.path.basename(r["file"]), r["msg_idx"], r["y_idx"], r["x_idx"]):
            (r["lat"], r["lon"], r["value"])
        for r in df.collect()
    }
    want = {}
    for f in sorted(os.listdir(d)):
        for mi, m in enumerate(read_grib2(os.path.join(d, f))):
            for y in range(m["nj"]):
                for x in range(m["ni"]):
                    want[(f, mi, y, x)] = (
                        m["lat"][y], m["lon"][x], m["values"][y, x]
                    )
    assert got == want


def test_dir_scan_runs_one_task_per_file(spark, tmp_path):
    d = str(tmp_path / "arch")
    _archive(d, nfiles=4)
    df = read_grib2_dir(spark, d)
    # binaryFile gives >= one split per file (not block-splittable)
    assert df.rdd.getNumPartitions() >= 1
    n_files = df.select("file").distinct().count()
    assert n_files == 4
    assert df.count() == 4 * 2 * 4 * 5


def test_dir_scan_aggregates(spark, tmp_path):
    d = str(tmp_path / "arch")
    _archive(d, nfiles=2, nmsg=1, nj=3, ni=3)
    df = read_grib2_dir(spark, d)
    agg = (
        df.groupBy("file")
        .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in agg:
        f = int(os.path.basename(r["file"]).split("_")[1].split(".")[0])
        base = f * 1000
        assert r["n"] == 9
        assert r["s"] == sum((base + i) / 8.0 for i in range(9))
