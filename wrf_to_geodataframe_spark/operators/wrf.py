"""``wrf_getvar`` — the wrf-python ``getvar`` front door over wrfout
archives, Spark-first.

The reference's users arrive from wrf-python, where every analysis
starts ``getvar(Dataset(...), "slp")``.  This module gives that call
shape over a DIRECTORY of per-timestep wrfout shards (the 100-TB
archive layout ``read_netcdf_dir`` scans: one binaryFile task per
shard, executor-side pure-numpy NetCDF parse, nothing data-sized on
the driver):

    df = wrf_getvar(spark, "/archive/wrfout_*", "slp")

Raw-variable conventions are the standard WRF ones (ARW users'
guide): perturbation + base splits (T+300 for theta, P+PB for
pressure, PH+PHB for geopotential), Arakawa-C staggering (U on
west_east_stag with XLAT_U/XLONG_U coords, V on south_north_stag with
XLAT_V/XLONG_V, W and PH/PHB on bottom_top_stag).  Each file is one
timestep.  Every raw variable on the mass (y, x) plane — mass-level,
vertically staggered (W, PH, PHB) or 2-D — rides ONE column-pencil
scan per session (``read_netcdf_pencils``: one row per (file, y_idx,
x_idx), one array per variable along its vertical axis), so layer
geometry (z at mass level k is the half-sum of adjacent staggered
heights, dz their exact difference), W's destagger, pw and slp are
computed inside the row with no window or shuffle.  The per-level
view keyed (file, k, y_idx, x_idx) (SURVEY.md §1.3 / J5) is one
posexplode of the pencils; U and V live on horizontally staggered
grids and keep their own scans and destagger windows.

Derived quantities dispatch to functions/meteo.py (codegen column
expressions) and operators/vertical.py / dynamics.py;
projection-dependent names (``uvmet``, ``avo``, ``pvo``) take the
wrfout global-attribute block via ``attrs=``.

Parity notes: the reference (C-H-Simpson/wrf_to_geodataframe) reaches
these fields through wrf-python/xarray before converting to
GeoDataFrames (wrf_voronoi.py:115); this front door covers the getvar
names its workflows consume.  CALDBZ defaults to rain-only; pass
``species=("QRAIN", "QSNOW", "QGRAUP")`` for the full-hydrometeor
form (the snow/graupel terms ride the same single pencil scan).
``times=True`` adds the decoded wrfout ``Times`` timestamp (and
``getvar('times')`` returns the axis itself).  :func:`wrf_getvar` is
the one-name case of :func:`wrf_getvar_many`, the one getvar path:
several names share one pencil scan, persisted only when two or
more names share it.  wrf-python alias
spellings (``temp``, ``th``, ``dp``, ``theta_e``, ...) resolve via
``ALIASES``; the storm diagnostics (``helicity``,
``updraft_helicity``) and ``cape_2d``'s lcl/lfc report heights above
ground like wrf-python, with the terrain plane read from the pencil.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_KEY = ["file", "k", "y_idx", "x_idx"]
_KEY3 = ["file", "y_idx", "x_idx"]

#: getvar name -> the raw variables it reads.  U and V get their own
#: scans; every other variable rides the session's pencil scan
SUPPORTED: dict[str, tuple[str, ...]] = {
    "theta": ("T",),
    "pressure": ("P", "PB"),
    "p": ("P", "PB"),  # wrf-python aliases for full pressure [Pa]
    "pres": ("P", "PB"),
    "tk": ("T", "P", "PB"),
    "tc": ("T", "P", "PB"),
    "tv": ("T", "P", "PB", "QVAPOR"),
    "rh": ("T", "P", "PB", "QVAPOR"),
    "td": ("P", "PB", "QVAPOR"),
    "eth": ("T", "P", "PB", "QVAPOR"),
    "twb": ("T", "P", "PB", "QVAPOR"),
    "z": ("PH", "PHB"),
    "height": ("PH", "PHB"),
    "geopt": ("PH", "PHB"),  # full geopotential [m2 s-2] = g z
    "height_agl": ("PH", "PHB", "HGT"),  # z above ground level
    "dbz": ("T", "P", "PB", "QVAPOR", "QRAIN"),
    "mdbz": ("T", "P", "PB", "QVAPOR", "QRAIN"),
    "omega": ("T", "P", "PB", "QVAPOR", "W"),
    "pw": ("P", "PB", "QVAPOR"),
    "ctt": ("T", "P", "PB", "QCLOUD"),
    "cloudfrac": ("T", "P", "PB", "QVAPOR"),
    "slp": ("T", "P", "PB", "QVAPOR", "PH", "PHB"),
    "cape_2d": ("T", "P", "PB", "QVAPOR", "PH", "PHB", "HGT"),
    "mcape": ("T", "P", "PB", "QVAPOR", "PH", "PHB", "HGT"),
    "cape_3d": ("T", "P", "PB", "QVAPOR", "PH", "PHB"),
    "wspd_wdir": ("U", "V"),
    "uvmet": ("U", "V"),
    "avo": ("U", "V"),
    "pvo": ("U", "V", "T", "P", "PB"),
    # destaggered wind components on mass points (wrf-python ua/va/wa)
    "ua": ("U",),
    "va": ("V",),
    "wa": ("W",),
    # storm diagnostics (operators/dynamics.py kernels): SRH and
    # updraft helicity — z bands are HEIGHT ABOVE GROUND (z - HGT).
    # `helicity` matches wrf-python's default semantics: with no
    # c_u/c_v the storm
    # motion is estimated per column from the 0-6 km mean wind
    # (Davies & Johns 1993, DCALRELHL's internal rule); explicit
    # c_u/c_v override the estimate
    "helicity": ("U", "V", "PH", "PHB", "HGT"),
    "updraft_helicity": ("U", "V", "W", "PH", "PHB", "HGT"),
    # coordinate reads: raw XLAT/XLONG planes and the STAGGERED
    # geopotential height (no destagger — k is the staggered index)
    "lat": (),
    "lon": (),
    "zstag": ("PH", "PHB"),
    "geopt_stag": ("PH", "PHB"),  # g * zstag, on the staggered levels
    # earth-rotated speed/direction: uvmet composed with wspd_wdir
    "wspd_wdir_uvmet": ("U", "V"),
    "wspd_wdir_uvmet10": ("U10", "V10"),
    # 2-D surface staples (single-plane mass-grid reads, keyed
    # (file, y_idx, x_idx)): the wrf-python names every plotting
    # session grabs first
    "T2": ("T2",),
    "td2": ("PSFC", "Q2"),
    "rh2": ("T2", "PSFC", "Q2"),
    "uvmet10": ("U10", "V10"),
    "wspd_wdir10": ("U10", "V10"),
    "ter": ("HGT",),
    # raw boundary-layer height plane (wrf-python reads it as a plain
    # wrfout variable) — the canonical 2-D target for interplevel's
    # varying-surface form
    "PBLH": ("PBLH",),
}

#: wrf-python accepts several spellings per product; aliases resolve
#: to the canonical name BEFORE validation and dispatch (output
#: column names stay canonical — wrf-python's own products are
#: identical objects under either spelling)
ALIASES: dict[str, str] = {
    "th": "theta",
    "temp": "tk",
    "dp": "td",
    "dp2": "td2",
    "theta_e": "eth",
    "geopotential": "geopt",
    "omg": "omega",
    "uvmet_wspd_wdir": "wspd_wdir_uvmet",
    "uvmet10_wspd_wdir10": "wspd_wdir_uvmet10",
}

#: single-component wind products (wrf-python's wspd / wdir family):
#: the matching pair branch computed, then ONE component projected —
#: same raw variables, same plan shape, one column out
_WIND_SINGLE: dict[str, tuple[str, str]] = {
    "wspd": ("wspd_wdir", "wspd"),
    "wdir": ("wspd_wdir", "wdir"),
    "wspd10": ("wspd_wdir10", "wspd10"),
    "wdir10": ("wspd_wdir10", "wdir10"),
    "uvmet_wspd": ("wspd_wdir_uvmet", "wspd_uv"),
    "uvmet_wdir": ("wspd_wdir_uvmet", "wdir_uv"),
    "uvmet10_wspd10": ("wspd_wdir_uvmet10", "wspd_uv10"),
    "uvmet10_wdir10": ("wspd_wdir_uvmet10", "wdir_uv10"),
}

#: names whose OUTPUT is a 2-D single plane — keyed
#: (file, y_idx, x_idx), no vertical axis
_SURFACE_2D = {"T2", "td2", "rh2", "uvmet10", "wspd_wdir10", "ter",
               "wspd_wdir_uvmet10", "PBLH"}

#: raw variables with no vertical axis: one-element pencils, read as
#: per-column scalars
_PLANE_VARS = ("HGT", "T2", "PSFC", "Q2", "U10", "V10", "PBLH", "MAPFAC_M")

#: vertically staggered raw variables: one level more than the mass axis
_STAG_K = ("PH", "PHB", "W")

#: horizontally staggered winds: their own scans and destagger windows
_STAG_XY = ("U", "V")

#: names that accept extra keyword options (everything else must
#: reject them — a silently-dropped typo'd option is a wrong answer)
_TAKES_KW = {"dbz", "mdbz", "cape_2d", "mcape", "cape_3d", "avo", "pvo",
             "cloudfrac", "helicity", "updraft_helicity"}


def _raw(
    spark: SparkSession,
    path: str,
    name: str,
    lat_var: str,
    lon_var: str,
) -> DataFrame:
    from wrf_to_geodataframe_spark.sources.netcdf import read_netcdf_dir

    df = read_netcdf_dir(spark, path, name, lat_var, lon_var)
    return df.select(
        "file",
        F.col("t_idx").alias("k"),
        "y_idx",
        "x_idx",
        F.col("value").alias(name.lower()),
    )


def _winds(
    spark: SparkSession,
    path: str,
    names: list[str],
    lev: DataFrame | None,
    lat_var: str,
    lon_var: str,
) -> DataFrame | None:
    """The per-level ``lev`` frame equi-joined (explicit key) with the
    destaggered U and/or V: each wind lives on its own horizontally
    staggered grid, so it gets its own scan and is moved onto mass
    points by one ``destagger`` window."""
    from wrf_to_geodataframe_spark.operators.vertical import destagger

    out = lev
    for name in names:
        if name == "U":
            d = destagger(
                _raw(spark, path, name, f"{lat_var}_U", f"{lon_var}_U"),
                "x_idx", "u", ["file", "k", "y_idx"], out_col="u",
            )
        else:
            d = destagger(
                _raw(spark, path, name, f"{lat_var}_V", f"{lon_var}_V"),
                "y_idx", "v", ["file", "k", "x_idx"], out_col="v",
            )
        d = d.select(*_KEY, name.lower())
        out = d if out is None else out.join(d, _KEY)
    return out


@functools.lru_cache(maxsize=None)
def _sql_of(fn, *args: str) -> str:
    """SQL text of the Column formula ``fn`` over the columns (or SQL
    lambda variables) ``args``: a functions/meteo formula stays written
    once and serves inside a SQL higher-order function, where a Python
    lambda would cost dozens of py4j round trips per build."""
    jss = SparkSession.active()._jsparkSession
    return jss.expression(fn(*map(F.col, args))._jc).sql()


def _tk(t, p):
    """Temperature [K] from WRF's perturbation potential temperature T."""
    from wrf_to_geodataframe_spark.functions.meteo import temperature_k

    return temperature_k(t + F.lit(300.0), p)


def _checked_levels(var: str, ref: str, extra: int):
    """Pencil column ``var`` when its vertical axis is ``extra`` levels
    longer than pencil ``ref``'s, else a raised error naming the file
    and both lengths (the arrays would otherwise zip with NULL
    padding)."""
    v, r = var.lower(), ref.lower()
    rule = (
        "a vertically staggered axis is exactly one level longer than "
        "the mass axis" if extra else "they must share one vertical axis"
    )
    return F.expr(
        f"CASE WHEN size({v}) = size({r}) + {extra} THEN {v} ELSE "
        f"raise_error(concat(file, ': {var} has ', "
        f"CAST(size({v}) AS STRING), ' vertical levels against ', "
        f"CAST(size({r}) AS STRING), ' in {ref}: {rule}')) END"
    )


def _pairs(a: str, body: str):
    """``body`` over each adjacent pair ``(x, y) = (a[k], a[k + 1])`` of
    pencil ``a`` (one element shorter than ``a``)."""
    n = f"size({a}) - 1"
    return F.expr(
        f"zip_with(slice({a}, 1, {n}), slice({a}, 2, {n}), (x, y) -> {body})"
    )


def _derive(pen: DataFrame, lvl: list[str], stag: list[str]) -> DataFrame:
    """The session's pencil frame with its vertical axes checked (every
    mass-level pencil as long as the first, every staggered one a
    level longer — or, with no mass-level variable, as long as the
    first staggered one) and the derived pencils added: ``_prs``
    (full pressure P + PB), ``zstag`` (geopotential height on the
    staggered levels), ``_z``/``_dz`` (the mass-level half-sums and
    differences of zstag) and ``_w`` (W's half-sums onto mass
    levels)."""
    from wrf_to_geodataframe_spark.functions.meteo import (
        geopotential_height,
    )

    ref = lvl[0] if lvl else (stag[0] if stag else None)
    checks = {
        v.lower(): _checked_levels(v, ref, int(bool(lvl) and v in stag))
        for v in (*lvl, *stag) if v != ref
    }
    if checks:
        pen = pen.withColumns(checks)
    derived = {}
    if "P" in lvl and "PB" in lvl:
        derived["_prs"] = F.expr("zip_with(p, pb, (x, y) -> x + y)")
    if "PH" in stag:
        pen = pen.withColumn("zstag", F.expr(
            "zip_with(ph, phb, (a, b) -> "
            f"{_sql_of(geopotential_height, 'a', 'b')})"
        ))
        derived.update(
            _z=_pairs("zstag", "(x + y) / 2.0D"), _dz=_pairs("zstag", "y - x")
        )
    if "W" in stag:
        derived["_w"] = _pairs("w", "(x + y) / 2.0D")
    return pen.withColumns(derived) if derived else pen


def _levels(
    pen: DataFrame, arrays: dict[str, str], scalars: list[str]
) -> DataFrame:
    """The long per-level view of pencil frame ``pen``: one row per
    (file, k, y_idx, x_idx) — ONE posexplode of the zipped ``arrays``
    ({output column: pencil column}), with ``lat``, ``lon`` and the
    per-column ``scalars`` (one-element plane pencils) on every row.
    A narrow step: no shuffle."""
    zipped = ", ".join(f"`{c}`" for c in arrays.values())
    return pen.selectExpr(
        *_KEY3, "lat", "lon", *[f"`{c}`[0] AS `{c}`" for c in scalars],
        f"posexplode(arrays_zip({zipped})) AS (k, _lvl)",
    ).selectExpr(
        "file", "CAST(k AS BIGINT) AS k", "y_idx", "x_idx", "lat", "lon",
        *[f"`{c}`" for c in scalars],
        *[f"_lvl.`{src}` AS `{out}`" for out, src in arrays.items()],
    )


def _first_shard(path: str) -> tuple[str, bytes]:
    """Resolve the archive path the way the scans do (directory, glob,
    or single file) to its lexicographically FIRST readable shard and
    that shard's 8-byte magic.  Real wrfout shards often carry no
    extension (``wrfout_d01_2023-07-01_00:00:00``), so candidates are
    all regular files, probed in sorted order until one has a NetCDF
    classic or HDF5 signature (sidecar files are skipped, not fatal).
    Named ValueError when nothing qualifies — the probes' callers
    catch exactly that."""
    import glob as _glob
    import os

    if os.path.isdir(path):
        cands = sorted(
            p for n in os.listdir(path)
            if os.path.isfile(p := os.path.join(path, n))
        )
    elif any(ch in path for ch in "*?["):
        cands = sorted(p for p in _glob.glob(path) if os.path.isfile(p))
    elif os.path.isfile(path):
        cands = [path]
    else:
        raise ValueError(f"{path}: no NetCDF shards to probe")
    for target in cands:
        try:
            with open(target, "rb") as f:
                magic = f.read(8)
        except OSError:
            continue
        if (magic[:3] == b"CDF" and magic[3:4] in (b"\x01", b"\x02")) or (
            magic == b"\x89HDF\r\n\x1a\n"
        ):
            return target, magic
    raise ValueError(
        f"{path}: no NetCDF classic or HDF5 shard found to probe"
    )


def _hdf5_root_walk(target: str, want_attrs: bool):
    """Metadata-only mmap walk of one HDF5 shard's root group: global
    attributes (``want_attrs``) or dataset shapes.  Corrupt offset
    chains surface as a NAMED ValueError (the read_hdf5_bytes hygiene
    rule) — never an uncontrolled struct/Index error."""
    import mmap
    import struct

    from wrf_to_geodataframe_spark.sources.hdf5 import (
        Hdf5Error,
        _Hdf5File,
        _parse_attribute,
    )

    with open(target, "rb") as fh:
        mm = mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ)
        try:
            f5 = _Hdf5File(mm)
            out: dict = {}
            if want_attrs:
                for mtype, body, _size in f5.messages(f5.root_header):
                    if mtype == 0x000C:
                        try:
                            k, v = _parse_attribute(mm, body)
                            out[k] = v
                        except Hdf5Error:
                            pass  # vlen/heap-backed attr: skip
                return out
            for name, addr in sorted(
                f5.group_links(f5.root_header).items()
            ):
                try:
                    info = f5.dataset_info(addr)
                except Hdf5Error:
                    continue  # subgroup / unsupported layout
                out[name] = tuple(int(s) for s in info["shape"])
            return out
        except Hdf5Error as exc:
            raise ValueError(f"{target}: malformed HDF5 shard: {exc}") from exc
        except (IndexError, KeyError, OverflowError, TypeError,
                struct.error) as exc:
            raise ValueError(f"{target}: malformed HDF5 shard: {exc}") from exc
        finally:
            mm.close()


def wrf_global_attrs(path: str) -> dict:
    """The wrfout GLOBAL attribute block (MAP_PROJ, TRUELAT1/2,
    MOAD_CEN_LAT, STAND_LON, CEN_LON/LAT, DX/DY, the staggered grid
    dimensions, ...) read from the ARCHIVE ITSELF — wrf-python reads
    these off the open Dataset, so ``getvar`` callers never type
    them; this is the engine's source for the ``attrs=`` blocks of
    uvmet / avo / pvo / updraft_helicity / ``wrf_projection`` /
    ``ll_to_xy`` (every attrs-needing front door falls back to it
    automatically when ``attrs`` is not passed).

    METADATA ONLY, driver-side: probes the lexicographically FIRST
    NetCDF/HDF5 shard of a directory, glob, or single-file path
    (:func:`_first_shard` — every shard of one WRF domain carries the
    same projection block; extension-less real wrfout names work) —
    classic files via the bounded 64-KiB-doubling header parse (a
    50 GB shard never round-trips through driver memory),
    NetCDF-4/HDF5 via an mmap object-header walk that touches no data
    pages.  Returns {} when the shard carries no global attributes;
    named ValueError when no shard qualifies or the shard is
    malformed."""
    target, magic = _first_shard(path)
    if magic[:3] == b"CDF":
        from wrf_to_geodataframe_spark.sources.netcdf import (
            _read_header_from_file,
        )

        return dict(_read_header_from_file(target)["attrs"])
    return _hdf5_root_walk(target, want_attrs=True)


def wrf_file_variables(path: str) -> dict[str, tuple[int, ...]]:
    """variable name -> dimension SIZES of the archive's first shard,
    METADATA ONLY (the :func:`wrf_global_attrs` probe discipline:
    :func:`_first_shard` path resolution, classic files via the
    bounded header-prefix parse, NetCDF-4/HDF5 via the mmap
    object-header walk — no data pages; malformed shards raise a
    NAMED ValueError).  Powers the getvar raw-variable fallback's
    existence/shape check."""
    target, magic = _first_shard(path)
    if magic[:3] == b"CDF":
        from wrf_to_geodataframe_spark.sources.netcdf import (
            _read_header_from_file,
        )

        hdr = _read_header_from_file(target)
        sizes = [sz for _n, sz in hdr["dims"]]
        # a 0-size dim is the record (unlimited) dimension: its actual
        # length is the header's record count
        sizes = [hdr["numrecs"] if s == 0 else s for s in sizes]
        out = {}
        for nm, dimids, _a, _t, _b in hdr["entries"]:
            # dimension ids come from untrusted header bytes: an
            # out-of-range id is a malformed shard, named (probe fuzz)
            if any(not 0 <= d < len(sizes) for d in dimids):
                raise ValueError(
                    f"{target}: malformed NetCDF header: variable "
                    f"{nm!r} references dimension id outside the "
                    f"{len(sizes)}-entry dimension list"
                )
            out[nm] = tuple(sizes[d] for d in dimids)
        return out
    return _hdf5_root_walk(target, want_attrs=False)


def _attrs_or_file(
    attrs: dict | None, path: str, varname: str, needed: str
) -> dict:
    """Resolve the wrfout global-attr block for an attrs-needing
    product: an explicit ``attrs=`` wins; otherwise the archive's own
    header is probed (:func:`wrf_global_attrs` — metadata-only).  The
    named error survives for archives whose shards carry no
    projection block (engine-written minimal fixtures)."""
    if attrs:
        return attrs
    got = wrf_global_attrs(path)
    if got:
        return got
    raise ValueError(
        f"{varname} needs the wrfout global attrs ({needed}) via "
        "attrs= — and the archive's first shard carries no global "
        "attributes to read them from"
    )


def wrf_times(
    spark: SparkSession,
    path: str,
    time_var: str = "Times",
    single_step: bool = False,
) -> DataFrame:
    """(file, lt, time): each shard's decoded time axis — the wrfout
    ``Times`` (Time, DateStrLen) char array ('YYYY-MM-DD_HH:MM:SS',
    no CF units attribute) or any CF ``units``-attributed numeric
    coordinate, decoded EXECUTOR-SIDE by ``netcdf.decode_time_axis``.
    One binaryFile task per shard; the output is #timesteps rows —
    metadata-sized, so downstream joins broadcast it.

    ``single_step=True`` enforces this engine's wrfout archive
    convention (one timestep per shard — the layout ``wrf_getvar``
    keys on, where ``t_idx`` carries the VERTICAL level): a shard
    with more than one entry raises a NAMED error inside the task
    instead of silently duplicating rows through a file-keyed join."""
    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType([
        StructField("file", StringType()),
        StructField("lt", LongType()),
        StructField("time", TimestampType()),
    ])
    files = spark.read.format("binaryFile").load(path)

    def _batches(it):
        from wrf_to_geodataframe_spark.sources.hdf5 import (
            read_netcdf_any_bytes,
        )
        from wrf_to_geodataframe_spark.sources.netcdf import decode_time_axis

        for pdf in it:
            rows = []
            for fname, buf in zip(pdf["path"], pdf["content"]):
                ds = read_netcdf_any_bytes(bytes(buf), name=fname)
                tns = decode_time_axis(ds, fname, time_var)
                if single_step and tns.shape[0] != 1:
                    raise ValueError(
                        f"{fname}: {tns.shape[0]} timesteps in "
                        f"{time_var!r}; wrf_getvar(times=True) "
                        "requires one-timestep-per-shard archives"
                    )
                for i, v in enumerate(tns):
                    rows.append((fname, i, pd.Timestamp(v)))
            yield pd.DataFrame(rows, columns=["file", "lt", "time"])

    return files.select("path", "content").mapInPandas(_batches, schema)


def wrf_getvar(
    spark: SparkSession,
    path: str,
    varname: str,
    lat_var: str = "XLAT",
    lon_var: str = "XLONG",
    attrs: dict | None = None,
    **kw,
) -> DataFrame:
    """wrf-python ``getvar(...)`` over an archive of per-timestep
    wrfout shards: the one-name case of :func:`wrf_getvar_many`
    (``kw`` are the name's options, ``times=True`` appends the shard's
    decoded ``Times`` timestamp as a ``time`` column — the wrf-python
    ``XTIME`` coordinate semantics — so multi-timestep archives feed
    daily-resample / period-mean rollups, the reference's
    wrf_voronoi.py:151-190 workflow).  Returns a long DataFrame keyed
    by (file, k, y_idx, x_idx) for per-level fields or (file, y_idx,
    x_idx) for column diagnostics, value column(s) named after the
    quantity.  Unknown names raise with the supported list (never a
    silent wrong answer).  ``getvar("times")`` returns the time axis
    itself."""
    if varname in ("times", "xtimes"):
        # wrf-python getvar("times"): the decoded time coordinate
        # itself — the metadata-sized (file, lt, time) axis, no grid
        if kw or attrs:
            raise TypeError(
                f"getvar({varname!r}) takes no options"
            )
        return wrf_times(spark, path)
    times = bool(kw.pop("times", False))
    return wrf_getvar_many(
        spark, path, [varname], lat_var=lat_var, lon_var=lon_var,
        attrs=attrs, times=times, options={varname: kw} if kw else None,
    )[varname]


def _check_raw_shape(
    varname: str, dims_by_var: dict, lat_var: str, kw: dict
) -> tuple[int, ...]:
    """The getvar raw-read validations: raw reads take no options, the
    mass-grid coordinate must exist to key rows, and only mass-grid
    (y, x) / (k, y, x) shapes qualify."""
    if kw:
        raise TypeError(
            f"getvar({varname!r}) is a raw file-variable read and "
            f"takes no options, got {sorted(kw)}"
        )
    shape = dims_by_var[varname]
    grid = dims_by_var.get(lat_var)
    if grid is None or len(grid) != 2:
        raise ValueError(
            f"raw getvar({varname!r}) needs the mass-grid coordinate "
            f"{lat_var!r} on the shard to key rows"
        )
    if len(shape) not in (2, 3) or shape[-2:] != tuple(grid):
        raise ValueError(
            f"raw getvar({varname!r}) supports mass-grid (y, x) or "
            f"(k, y, x) variables; {varname!r} has dim sizes {shape} "
            f"vs mass grid {tuple(grid)} — staggered winds go through "
            "getvar('ua'/'va'/'wa'/'uvmet')"
        )
    return shape


def _validate(
    varname: str, kw: dict
) -> tuple[str, tuple[tuple[str, ...], tuple]]:
    """Name/option validation of one getvar name: resolves wrf-python
    alias spellings to the CANONICAL name (returned first), then the
    raw-variable list (with hydrometeor species substituted for
    dbz/mdbz) and the species tuple.  Mutates ``kw`` (pops consumed
    options) and raises on unknown names or options."""
    varname = ALIASES.get(varname, varname)
    if varname not in SUPPORTED:
        raise ValueError(
            f"getvar name {varname!r} not implemented; supported: "
            f"{sorted(SUPPORTED)} (+ aliases {sorted(ALIASES)}, wind "
            f"singles {sorted(_WIND_SINGLE)}, and the time axis via "
            "'times'/'xtimes' in wrf_getvar)"
        )
    need = SUPPORTED[varname]
    species = ()
    if varname in ("dbz", "mdbz"):
        # the caller names which hydrometeor species the file carries
        # (wrfout microphysics options differ); QRAIN is the default
        species = tuple(kw.pop("species", ("QRAIN",)))
        bad = [s for s in species if s not in ("QRAIN", "QSNOW", "QGRAUP")]
        if bad or "QRAIN" not in species:
            raise ValueError(
                f"dbz species must include QRAIN and draw from "
                f"QRAIN/QSNOW/QGRAUP, got {species}"
            )
        need = tuple(n for n in need if n != "QRAIN") + species
        if kw:
            # dbz/mdbz consume ONLY species; the _dispatch branch never
            # looks at kw again, so a leftover (typo'd) option must
            # fail loudly here, like the avo/pvo/cloudfrac/cape checks
            raise TypeError(
                f"getvar({varname!r}) options: species only, got "
                f"{sorted(kw)}"
            )
    if kw and varname not in _TAKES_KW:
        raise TypeError(
            f"getvar({varname!r}) takes no extra options, got "
            f"{sorted(kw)}"
        )
    return varname, (need, species)


def _dispatch(
    path: str,
    varname: str,
    base: DataFrame | None,
    pen,
    cols,
    species: tuple,
    attrs: dict | None,
    **kw,
) -> DataFrame:
    """Compute one getvar quantity.  ``base`` is the per-level frame
    (the pencils' long view, joined with the destaggered winds when
    the name reads U/V); ``pen`` and ``cols`` are zero-arg callables
    returning the session's pencil frame and its per-column view
    (``lat``, ``lon`` and the 2-D plane scalars), so
    :func:`wrf_getvar_many` shares one pencil scan across every
    requested field."""
    from wrf_to_geodataframe_spark.functions import meteo as M

    theta = F.col("t") + F.lit(300.0)
    prs = F.col("prs")

    if varname in ("lat", "lon"):
        # raw coordinate planes: the pencil rows' XLAT/XLONG
        return cols().select(*_KEY3, varname)
    if varname in ("zstag", "geopt_stag"):
        d = _levels(pen(), {"zstag": "zstag"}, [])
        if varname == "zstag":
            return d.select(*_KEY, "zstag")
        return d.select(
            *_KEY,
            (F.col("zstag") * F.lit(M.G0)).alias("geopt_stag"),
        )
    if varname in ("ua", "va", "wa"):
        # destaggered components: U/V by their destagger windows, W
        # by the half-sums of its pencil
        src = {"ua": "u", "va": "v", "wa": "w"}[varname]
        return base.select(*_KEY, F.col(src).alias(varname))
    if varname in _SURFACE_2D:
        # single-plane 2-D reads: one row per column, keyed (file,
        # y_idx, x_idx)
        base = cols()
        if varname == "T2":
            return base.select(*_KEY3, F.col("t2"))
        if varname == "PBLH":
            return base.select(*_KEY3, F.col("pblh"))
        if varname == "ter":
            return base.select(*_KEY3, F.col("hgt").alias("ter"))
        if varname == "td2":
            return base.select(
                *_KEY3,
                M.dewpoint_k(F.col("psfc"), F.col("q2")).alias("td2"),
            )
        if varname == "rh2":
            return base.select(
                *_KEY3,
                M.relative_humidity(
                    F.col("t2"), F.col("psfc"), F.col("q2")
                ).alias("rh2"),
            )
        if varname == "wspd_wdir10":
            return base.select(
                *_KEY3,
                M.wind_speed(F.col("u10"), F.col("v10")).alias("wspd10"),
                M.wind_dir_met(F.col("u10"), F.col("v10")).alias(
                    "wdir10"
                ),
            )
        # uvmet10 / wspd_wdir_uvmet10: U10/V10 already live on the
        # mass grid (no destagger) — the same earth rotation as uvmet
        attrs = _attrs_or_file(attrs, path, varname, "TRUELAT1/2, STAND_LON")
        from wrf_to_geodataframe_spark.functions.crs import _attr_scalar

        d = base
        cone = M.lcc_cone(
            _attr_scalar(attrs, "TRUELAT1"),
            _attr_scalar(attrs, "TRUELAT2"),
        )
        ue, ve = M.uvmet(
            F.col("u10"), F.col("v10"), F.col("lon"),
            _attr_scalar(attrs, "STAND_LON"), cone,
        )
        if varname == "uvmet10":
            return d.select(*_KEY3, ue.alias("ue10"), ve.alias("ve10"))
        return d.select(
            *_KEY3,
            M.wind_speed(ue, ve).alias("wspd_uv10"),
            M.wind_dir_met(ue, ve).alias("wdir_uv10"),
        )

    if varname == "theta":
        return base.select(*_KEY, theta.alias("theta"))
    if varname in ("pressure", "p", "pres"):
        return base.select(*_KEY, prs.alias(varname))
    if varname in ("tk", "tc"):
        tk = M.temperature_k(theta, prs)
        v = tk if varname == "tk" else tk - F.lit(273.15)
        return base.select(*_KEY, v.alias(varname))
    if varname == "tv":
        tk = M.temperature_k(theta, prs)
        return base.select(
            *_KEY, M.virtual_temperature(tk, F.col("qvapor")).alias("tv")
        )
    if varname == "rh":
        tk = M.temperature_k(theta, prs)
        return base.select(
            *_KEY,
            M.relative_humidity(tk, prs, F.col("qvapor")).alias("rh"),
        )
    if varname == "td":
        return base.select(
            *_KEY, M.dewpoint_k(prs, F.col("qvapor")).alias("td")
        )
    if varname == "eth":
        tk = M.temperature_k(theta, prs)
        return base.select(
            *_KEY, M.theta_e_bolton(tk, prs, F.col("qvapor")).alias("eth")
        )
    if varname == "twb":
        tk = M.temperature_k(theta, prs)
        rh = M.relative_humidity(tk, prs, F.col("qvapor"))
        return base.select(
            *_KEY,
            (M.wet_bulb_stull_c(tk, rh) + F.lit(273.15)).alias("twb"),
        )
    if varname in ("z", "height"):
        return base.select(*_KEY, F.col("z").alias(varname))
    if varname == "geopt":
        return base.select(
            *_KEY, (F.col("z") * F.lit(M.G0)).alias("geopt")
        )
    if varname == "height_agl":
        return base.select(
            *_KEY, (F.col("z") - F.col("hgt")).alias("height_agl")
        )
    if varname in ("dbz", "mdbz"):
        tk = M.temperature_k(theta, prs)
        dbz = M.reflectivity_dbz(
            tk, prs, F.col("qvapor"), F.col("qrain"),
            F.col("qsnow") if "QSNOW" in species else None,
            F.col("qgraup") if "QGRAUP" in species else None,
        )
        if varname == "dbz":
            return base.select(*_KEY, dbz.alias("dbz"))
        return (
            base.withColumn("_dbz", dbz)
            .groupBy(*_KEY3)
            .agg(F.max("_dbz").alias("mdbz"))
        )
    if varname == "omega":
        tk = M.temperature_k(theta, prs)
        return base.select(
            *_KEY,
            M.omega_from_w(F.col("w"), tk, prs, F.col("qvapor")).alias(
                "omega"
            ),
        )
    if varname in ("pw", "slp"):
        # per-row over the pencils: pw's layer dp (adjacent full-level
        # pressure differences) or slp's temperatures
        from wrf_to_geodataframe_spark.operators.vertical import (
            precipitable_water,
            sea_level_pressure,
        )

        d = pen()
        if varname == "pw":
            d = d.withColumn("_dp", _pairs("_prs", "x - y"))
            return precipitable_water(
                d, "qvapor", "_dp", _KEY3, out_col="pw"
            )
        d = d.withColumn("_tk", F.expr(
            f"zip_with(t, _prs, (a, b) -> {_sql_of(_tk, 'a', 'b')})"
        ))
        # moist reduction (wrf-python parity): the pivot-level
        # temperature is the exact-eps virtual temperature
        return sea_level_pressure(
            d, "_prs", "_tk", "_z", _KEY3, out_col="slp",
            qv_col="qvapor",
        )
    if varname == "ctt":
        from wrf_to_geodataframe_spark.operators.vertical import (
            cloud_top_temperature,
        )

        d = base.withColumn("_tk", M.temperature_k(theta, prs))
        return cloud_top_temperature(
            d, "prs", "_tk", "qcloud", _KEY3, out_col="ctt"
        )
    if varname == "cloudfrac":
        from wrf_to_geodataframe_spark.operators.vertical import (
            cloud_fraction,
        )

        tk = M.temperature_k(theta, prs)
        rh = M.relative_humidity(tk, prs, F.col("qvapor"))
        # low/mid/high band bounds pass through as (p_hi, p_lo)
        # tuples, matching wrf-python's cloudfrac options
        return cloud_fraction(
            base.withColumn("_rh", rh), "prs", "_rh", _KEY3, **kw
        )
    if varname in ("cape_2d", "mcape", "cape_3d"):
        d = base.withColumn("_tk", M.temperature_k(theta, prs))
        if varname == "cape_3d":
            from wrf_to_geodataframe_spark.operators.vertical import (
                cape_3d,
            )

            return cape_3d(
                d, "prs", "_tk", "qvapor", "dz", "k", _KEY3, **kw
            ).select(*_KEY, "cape", "cin")
        from wrf_to_geodataframe_spark.operators.vertical import (
            surface_cape,
        )

        # wrf-python cape_2d reports lcl/lfc ABOVE GROUND: the
        # column's terrain height rides the column key, so the
        # subtraction needs no join
        out = surface_cape(
            d, "prs", "_tk", "qvapor", "dz", [*_KEY3, "hgt"],
            parcel="surface" if varname == "cape_2d" else "most_unstable",
            z_col="z",
            **kw,
        )
        return out.select(
            *_KEY3, "cape", "cin",
            (F.col("lcl") - F.col("hgt")).alias("lcl"),
            (F.col("lfc") - F.col("hgt")).alias("lfc"),
        )
    if varname == "wspd_wdir":
        return base.select(
            *_KEY,
            M.wind_speed(F.col("u"), F.col("v")).alias("wspd"),
            M.wind_dir_met(F.col("u"), F.col("v")).alias("wdir"),
        )
    if varname in ("uvmet", "wspd_wdir_uvmet"):
        attrs = _attrs_or_file(attrs, path, varname, "TRUELAT1/2, STAND_LON")
        from wrf_to_geodataframe_spark.functions.crs import _attr_scalar

        d = _with_cols(base, cols)
        cone = M.lcc_cone(
            _attr_scalar(attrs, "TRUELAT1"),
            _attr_scalar(attrs, "TRUELAT2"),
        )
        ue, ve = M.uvmet(
            F.col("u"), F.col("v"), F.col("lon"),
            _attr_scalar(attrs, "STAND_LON"), cone,
        )
        if varname == "uvmet":
            return d.select(*_KEY, ue.alias("ue"), ve.alias("ve"))
        return d.select(
            *_KEY,
            M.wind_speed(ue, ve).alias("wspd_uv"),
            M.wind_dir_met(ue, ve).alias("wdir_uv"),
        )
    if varname in ("helicity", "updraft_helicity"):
        # z bands are HEIGHT ABOVE GROUND: agl = z - ter per level,
        # both from the pencil row
        d = base.withColumn("_agl", F.col("z") - F.col("hgt"))
        if varname == "helicity":
            from wrf_to_geodataframe_spark.operators.dynamics import (
                storm_relative_helicity,
            )

            top = float(kw.pop("top", 3000.0))
            # no c_u/c_v -> wrf-python's internal Davies & Johns (1993)
            # estimate from the 0-6 km AGL mean wind, per column
            c_u = kw.pop("c_u", None)
            c_v = kw.pop("c_v", None)
            if kw:
                raise TypeError(
                    "getvar('helicity') options: top/c_u/c_v only, "
                    f"got {sorted(kw)}"
                )
            return storm_relative_helicity(
                d, "u", "v", "_agl", "k", _KEY3,
                c_u=None if c_u is None else float(c_u),
                c_v=None if c_v is None else float(c_v),
                depth=top, out_col="helicity",
            ).select(*_KEY3, "helicity")
        from wrf_to_geodataframe_spark.operators.dynamics import (
            updraft_helicity,
        )

        bottom = float(kw.pop("bottom", 2000.0))
        top = float(kw.pop("top", 5000.0))
        map_factors = bool(kw.pop("map_factors", False))
        if kw:
            raise TypeError(
                "getvar('updraft_helicity') options: bottom/top/"
                f"map_factors only, got {sorted(kw)}"
            )
        attrs = _attrs_or_file(attrs, path, "updraft_helicity", "DX, DY")
        from wrf_to_geodataframe_spark.functions.crs import _attr_scalar

        # map_factors: wrf-python's DCALCUH form — curvilinear zeta via
        # the mass-point map-scale factor (the avo pattern)
        msf_col = "mapfac_m" if map_factors else None
        return updraft_helicity(
            d, "w", "u", "v", "x_idx", "y_idx", "_agl", "k",
            _attr_scalar(attrs, "DX"), _attr_scalar(attrs, "DY"), "dz",
            z_bottom=bottom, z_top=top, group_cols=["file"],
            out_col="updraft_helicity", msf_col=msf_col,
        ).select(*_KEY3, "updraft_helicity")
    if varname in ("avo", "pvo"):
        # ``map_factors=True`` reads MAPFAC_M (the mass-point map-scale
        # factor every wrfout carries) and applies the curvilinear form
        # zeta = m^2 (d(v/m)/dx - d(u/m)/dy); without it derivatives
        # are the uniform-grid form — exact only near the projection's
        # true latitudes (stated: wrf-python's avo/pvo Fortran always
        # uses msfu/msfv/msft, and pvo here is the isobaric form
        # without tilting terms either way).
        map_factors = bool(kw.pop("map_factors", False))
        if kw:
            raise TypeError(
                f"getvar({varname!r}) options: map_factors only, got "
                f"{sorted(kw)}"
            )
        attrs = _attrs_or_file(attrs, path, varname, "DX, DY")
        from wrf_to_geodataframe_spark.functions.crs import _attr_scalar
        from wrf_to_geodataframe_spark.operators.dynamics import (
            absolute_vorticity,
            potential_vorticity,
        )

        d = _with_cols(base, cols)
        msf_col = "mapfac_m" if map_factors else None
        dx, dy = _attr_scalar(attrs, "DX"), _attr_scalar(attrs, "DY")
        if varname == "avo":
            return absolute_vorticity(
                d, "u", "v", "x_idx", "y_idx", dx, dy,
                lat_col="lat", group_cols=["file", "k"], out_col="avo",
                msf_col=msf_col,
            ).select(*_KEY, "avo")
        d = d.withColumn("_theta", theta)
        return potential_vorticity(
            d, "u", "v", "_theta", "prs", "x_idx", "y_idx", "k",
            dx, dy, lat_col="lat", group_cols=["file"], out_col="pvo",
            msf_col=msf_col,
        ).select(*_KEY, "pvo")
    raise AssertionError(varname)  # pragma: no cover


def _with_cols(base: DataFrame, cols) -> DataFrame:
    """``base`` with the per-column view's lat/lon (and plane scalars):
    already there when ``base`` comes from the pencils, else joined on
    the column key (a winds-only base)."""
    if "lat" in base.columns:
        return base
    return base.join(cols(), _KEY3)


def wrf_getvar_many(
    spark: SparkSession,
    path: str,
    varnames: list[str],
    lat_var: str = "XLAT",
    lon_var: str = "XLONG",
    attrs: dict | None = None,
    times: bool = False,
    options: dict[str, dict] | None = None,
) -> dict[str, DataFrame]:
    """``getvar`` for one or more names over ONE pencil scan — the
    real wrf-python session shape (`getvar(f, "slp")` then `getvar(f,
    "tk")` then ...), which called one-at-a-time re-reads the archive
    per name; :func:`wrf_getvar` is the one-name case.  Every raw
    variable the names need on the mass (y, x) plane — mass-level,
    vertically staggered or 2-D, raw fallbacks included — comes from
    one ``read_netcdf_pencils`` scan; only U and V, on their own
    staggered grids, add a scan each.  Column diagnostics (z/dz, pw,
    slp, W's destagger) are computed inside the pencil row, and the
    per-level view is one narrow posexplode of it.

    ``options`` maps a name to its keyword options (e.g.
    ``{"mdbz": {"species": ("QRAIN", "QSNOW")}}``); options for names
    not requested raise.  ``times=True`` broadcasts the shard
    timestamp onto every returned frame, as the last column.  Names
    the engine does not derive fall back to the raw file variable of
    that name (wrf-python's ``getvar(f, 'SMOIS')``), decided by a
    metadata-only probe of the first shard.  Returns {name:
    DataFrame}.

    With two or more names the pencil frame (and the wind-joined
    per-level frame, when a name reads U/V) is persisted and
    registers with session.track_persist — call
    ``release_persisted()`` (or clear the cache) when the session
    moves on, like every other multi-branch operator here; one name
    persists nothing."""
    from wrf_to_geodataframe_spark.session import track_persist

    if not varnames:
        raise ValueError("wrf_getvar_many needs at least one name")
    opts = {k: dict(v) for k, v in (options or {}).items()}
    unknown = sorted(set(opts) - set(varnames))
    if unknown:
        raise ValueError(
            f"options given for names not requested: {unknown}"
        )
    canon, needs, specs, kws, proj = {}, {}, {}, {}, {}
    raw_kind: dict[str, int] = {}  # raw file-variable name -> ndim
    raw_shapes: dict | None = None
    for name in varnames:
        kw = opts.get(name, {})
        pair = _WIND_SINGLE.get(name)
        proj[name] = pair[1] if pair else None
        nm = pair[0] if pair else name
        if pair is None and ALIASES.get(nm, nm) not in SUPPORTED:
            # the raw file-variable fallback: only MASS-GRID variables
            # qualify (horizontally staggered grids would misalign
            # against the XLAT/XLONG coordinates).  They ride the
            # pencil scan; a 3-D raw keeps its own level count (possibly
            # staggered, the zstag convention) as its own posexplode.
            if raw_shapes is None:
                try:
                    raw_shapes = wrf_file_variables(path)
                except ValueError:
                    raw_shapes = {}
            if nm in raw_shapes:
                shape = _check_raw_shape(nm, raw_shapes, lat_var, kw)
                raw_kind[name] = len(shape)
                needs[name] = (name,)
                continue
        canon[name], (needs[name], specs[name]) = _validate(nm, kw)
        if kw.get("map_factors"):  # avo / pvo / updraft_helicity
            needs[name] += ("MAPFAC_M",)
        kws[name] = kw

    derived = [n for n in varnames if n not in raw_kind]
    dneeds = [v for n in derived for v in needs[n]]
    pen_vars = list(dict.fromkeys(
        v for n in varnames for v in needs[n] if v not in _STAG_XY
    ))
    lvl = [v for v in pen_vars if v in dneeds and v not in (
        *_STAG_XY, *_STAG_K, *_PLANE_VARS
    )]
    stag = [v for v in _STAG_K if v in dneeds]
    plane = [v.lower() for v in pen_vars
             if v in _PLANE_VARS or raw_kind.get(v) == 2]
    arrays = {v.lower(): v.lower() for v in lvl}
    if "P" in lvl and "PB" in lvl:
        arrays["prs"] = "_prs"
    if "PH" in stag:
        arrays.update(z="_z", dz="_dz")
    if "W" in stag:
        arrays["w"] = "_w"
    winds = [v for v in _STAG_XY if v in dneeds]

    share = len(varnames) > 1
    memo: dict = {}

    def shared(key: str, build) -> DataFrame:
        # one table per session, persisted only when names can share it
        if key not in memo:
            df = build()
            memo[key] = track_persist(df) if share else df
        return memo[key]

    def pen() -> DataFrame:
        from wrf_to_geodataframe_spark.sources.netcdf import (
            read_netcdf_pencils,
        )

        if "derived" not in memo:
            memo["derived"] = _derive(shared("pen", lambda: (
                read_netcdf_pencils(spark, path, pen_vars, lat_var, lon_var)
            )), lvl, stag)
        return memo["derived"]

    def cols() -> DataFrame:
        return pen().select(
            *_KEY3, "lat", "lon", *[F.col(c)[0].alias(c) for c in plane]
        )

    lev = _levels(pen(), arrays, plane) if arrays else None

    def base(name: str) -> DataFrame | None:
        if not any(v in winds for v in needs[name]):
            return lev
        return shared("winds", lambda: _winds(
            spark, path, winds, lev, lat_var, lon_var
        ))

    tdf = None
    if times:
        tdf = wrf_times(spark, path, single_step=True).select(
            "file", "time"
        )
    out: dict[str, DataFrame] = {}
    for name in varnames:
        if raw_kind.get(name) == 2:
            df = cols().select(*_KEY3, name.lower())
        elif name in raw_kind:
            df = _levels(pen(), {name.lower(): name.lower()}, []).select(
                *_KEY, name.lower()
            )
        else:
            df = _dispatch(
                path, canon[name], base(name), pen, cols, specs[name],
                attrs, **kws[name],
            )
            if proj[name]:
                keys = [c for c in df.columns if c in _KEY]
                df = df.select(*keys, F.col(proj[name]).alias(name))
        if tdf is not None:
            df = df.join(F.broadcast(tdf), "file")
        out[name] = df
    return out


def _value_col(
    fld: DataFrame, name: str, op: str, per_level: bool, hint: str = ""
) -> str:
    """The one value column of getvar frame ``fld`` (for name
    ``name``) that ``op`` consumes — named errors when the frame is
    2-D but ``per_level`` is wanted (or the reverse) and when it
    carries more than one component.  ``time`` is a key, not a
    component: ``times=True`` frames pass."""
    cols = fld.columns
    if ("k" in cols) != per_level:
        want, got = "per-level", "2-D"
        if not per_level:
            want, got = got, want
        raise ValueError(
            f"{op} must be a {want} field; {name!r} is {got}{hint}"
        )
    vals = [c for c in cols if c not in (*_KEY, "time")]
    if len(vals) != 1:
        raise ValueError(
            f"{op} must be a single-component field; {name!r} carries "
            f"{vals}"
        )
    return vals[0]


def wrf_interplevel(
    spark: SparkSession,
    path: str,
    field: str,
    target: float,
    on: str = "pressure",
    lat_var: str = "XLAT",
    lon_var: str = "XLONG",
    attrs: dict | None = None,
    **kw,
) -> DataFrame:
    """The composed call every wrf-python session runs next:
    ``interplevel(getvar(f, "tk"), getvar(f, "pressure"), 850)`` —
    here one line over the archive:

        wrf_interplevel(spark, dir, "tk", 85000.0)

    Both the field and the vertical coordinate come through
    :func:`wrf_getvar_many` — ONE shared persisted mass scan covers
    both names' raw variables (the union typically adds nothing: tk
    and pressure share T/P/PB), join on the explicit key, and
    interpolate per column with operators/vertical.interplevel (NULL
    below ground / above top).  Pressure-like coordinates (decreasing
    with height) interpolate directly; ``on`` in ("z", "height") is
    negated internally so the bracket search's monotone-decreasing
    requirement holds — callers pass the target height in plain
    metres either way.

    ``target`` may be a SEQUENCE of levels (wrf-python's array form):
    the frame then carries a ``level`` column and one row per
    (column, level), computed by operators/vertical.vinterp — the
    bracket window runs ONCE and the bracket rows cross the literal
    target array, so k levels cost one archive pass and one window,
    never k of either.

    ``target`` may also be the NAME of a 2-D getvar field (wrf-python's
    ``interplevel(field3d, vert, field2d)`` form, e.g.
    ``wrf_interplevel(spark, dir, "tk", "PBLH", on="height_agl")`` —
    temperature at each column's own boundary-layer height): the target
    plane joins the level rows on the column key BEFORE the bracket
    window (operators/vertical.interplevel_field), so the varying
    surface costs the same one window + one groupBy as a constant
    level.  The target field must be 2-D and single-component (named
    errors otherwise), and its values are in the ``on`` coordinate's
    units.

    Aliases resolve for ``field``, ``on``, and a named target BEFORE
    validation and dispatch (the ALIASES rule); output columns carry
    the canonical names."""
    from wrf_to_geodataframe_spark.operators.vertical import (
        interplevel,
        interplevel_field,
        vinterp,
    )

    field = ALIASES.get(field, field)
    on = ALIASES.get(on, on)
    if field == on:
        raise ValueError(
            f"interplevel field and coordinate are both {field!r}"
        )
    # the supported vert_coord surface (wrf-python vinterp's):
    # pressure-like coordinates search directly; increasing-with-height
    # ones are negated so the bracket search's monotone-decreasing
    # requirement holds (theta is monotone for statically stable
    # profiles — an inversion keeps the LOWEST bracketing pair, the
    # interplevel tie rule, stated).  Any OTHER name is a named error:
    # a silently-wrong monotonicity would all-NULL the output (and the
    # staggered-level coordinates would misalign the mass-level join).
    if on in ("pressure", "p", "pres"):
        neg = False
    elif on in ("z", "height", "height_agl", "theta", "eth", "geopt"):
        neg = True
    else:
        raise ValueError(
            f"interplevel vertical coordinate {on!r} is not supported; "
            "decreasing-with-height: pressure/p/pres; "
            "increasing-with-height: z/height/height_agl/theta/eth/geopt"
        )
    tgt_name = target if isinstance(target, str) else None
    names = [field, on]
    if tgt_name is not None:
        tgt_name = ALIASES.get(tgt_name, tgt_name)
        if tgt_name in (field, on):
            raise ValueError(
                f"interplevel target surface {tgt_name!r} duplicates "
                "the field or the vertical coordinate"
            )
        names.append(tgt_name)
    many = wrf_getvar_many(
        spark, path, names, lat_var=lat_var, lon_var=lon_var,
        attrs=attrs, options={field: kw} if kw else None,
    )
    # the frames carry CANONICAL column names — derive them from the
    # frames, never from the caller's spelling
    fcol = _value_col(many[field], field, "interplevel's field", True)
    ocol = _value_col(many[on], on, "interplevel's coordinate", True)
    d = many[field].join(many[on], _KEY)
    if neg:
        d = d.withColumn(ocol, -F.col(ocol))
    if tgt_name is not None:
        tf = many[tgt_name]
        tcol = _value_col(
            tf, tgt_name, "interplevel's target surface", False,
            " — pass it as on= or pick a single-plane name",
        )
        # LEFT join: a column whose target plane is missing must keep
        # its rows so interplevel_field's column universe still emits
        # the promised NULL row (an inner join would silently drop the
        # column; wrf-python returns NaN there)
        d = d.join(tf.select(*_KEY3, tcol), _KEY3, "left")
        if neg:
            d = d.withColumn(tcol, -F.col(tcol))
        return interplevel_field(
            d, ocol, fcol, tcol, _KEY3, out_col=f"{field}_interp"
        )
    if not isinstance(target, (list, tuple)):
        tgt = -float(target) if neg else float(target)
        return interplevel(
            d, ocol, fcol, tgt, _KEY3, out_col=f"{field}_interp"
        )
    ts = [(-float(t) if neg else float(t)) for t in target]
    out = vinterp(
        d, ocol, fcol, ts, _KEY3, out_coord="level",
        out_col=f"{field}_interp",
    )
    if neg:  # report the caller's datum, not the search coordinate's
        out = out.withColumn("level", -F.col("level"))
    return out


def _calc_xy_pivot(
    nx: int, ny: int, px: float, py: float, angle: float
) -> tuple[tuple[float, float], tuple[float, float]]:
    """wrf-python's ``pivot_point`` + ``angle`` cross-section line
    (interputils ``_calc_xy``, RIP heritage): ``angle`` in degrees
    clockwise from north (0 = south->north column, 90 = west->east
    row); the line through the pivot spans the FULL domain, clamped at
    the boundaries, with the RIP 45-degree-sector PIECEWISE-LINEAR
    slope rule (slope = angle/45 within each octant — deliberately
    NOT tan(angle); exact only at the octant edges, matching the
    upstream convention rather than "fixing" it)."""
    import math

    if not 0.0 <= angle <= 360.0:
        raise ValueError(
            f"vertcross angle must be in [0, 360] degrees, got {angle}"
        )
    if not (0.0 <= px <= nx - 1 and 0.0 <= py <= ny - 1):
        raise ValueError(
            f"pivot point ({px}, {py}) is outside the "
            f"{nx}x{ny} mass domain"
        )
    if angle > 315.0 or angle < 45.0 or 135.0 < angle < 225.0:
        # mostly north-south: x as a function of y
        if angle > 315.0:
            slope = -(360.0 - angle) / 45.0
        elif angle < 45.0:
            slope = angle / 45.0
        else:
            slope = (angle - 180.0) / 45.0
        intercept = px - py * slope
        y0, x0 = 0.0, intercept
        if x0 < 0.0:
            x0, y0 = 0.0, (0.0 - intercept) / slope
        elif x0 > nx - 1:
            x0, y0 = nx - 1.0, (nx - 1.0 - intercept) / slope
        y1 = ny - 1.0
        x1 = y1 * slope + intercept
        if x1 < 0.0:
            x1, y1 = 0.0, (0.0 - intercept) / slope
        elif x1 > nx - 1:
            x1, y1 = nx - 1.0, (nx - 1.0 - intercept) / slope
    else:
        # mostly west-east: y as a function of x
        if angle > 225.0:
            slope = (270.0 - angle) / 45.0
        else:
            slope = (90.0 - angle) / 45.0
        intercept = py - px * slope
        x0, y0 = 0.0, intercept
        if y0 < 0.0:
            y0, x0 = 0.0, (0.0 - intercept) / slope
        elif y0 > ny - 1:
            y0, x0 = ny - 1.0, (ny - 1.0 - intercept) / slope
        x1 = nx - 1.0
        y1 = x1 * slope + intercept
        if y1 < 0.0:
            y1, x1 = 0.0, (0.0 - intercept) / slope
        elif y1 > ny - 1:
            y1, x1 = ny - 1.0, (ny - 1.0 - intercept) / slope
    if not (math.isfinite(x0) and math.isfinite(y0)
            and math.isfinite(x1) and math.isfinite(y1)):
        raise ValueError(
            f"pivot/angle line ({px}, {py}, {angle}) does not span "
            "the domain"
        )
    return (x0, y0), (x1, y1)


def _resolve_cross_line(
    spark: SparkSession,
    path: str,
    start,
    end,
    n_points,
    attrs,
    pivot_point,
    angle,
    latlon: bool,
) -> tuple[tuple[float, float], tuple[float, float], int]:
    """Shared endpoint resolution for the cross-section front doors —
    wrf-python's three call shapes onto one grid-index line:

    - grid-index ``start``/``end`` (x, y) tuples — passed through;
    - ``pivot_point`` (x, y) + ``angle`` — the full-domain RIP line
      (:func:`_calc_xy_pivot`), dims from the archive's own header;
    - ``latlon=True`` — ``start``/``end`` are (lat, lon) pairs
      (wrf-python ``CoordPair(lat=..., lon=...)``), resolved to the
      NEAREST integer mass point through the archive's projection
      block (``to_xy_coords``'s ``ll_to_xy`` as_int convention; the
      metadata-only scalar twin — no Spark job), named error when a
      point falls outside the mass domain.

    ``n_points=None`` auto-sizes to one sample per grid spacing along
    the line (ceil of the grid-index length, + 1 — the wrf-python
    count)."""
    import math

    from wrf_to_geodataframe_spark.functions.crs import (
        _wrf_grid_geometry,
        wrf_ll_to_xy_scalar,
    )

    if (pivot_point is None) != (angle is None):
        raise ValueError(
            "pivot_point and angle must be given together"
        )
    if pivot_point is not None:
        if start is not None or end is not None or latlon:
            raise ValueError(
                "pass either start/end or pivot_point+angle, not both"
            )
        a = attrs if attrs is not None else wrf_global_attrs(path)
        _, _, _, _, nx, ny = _wrf_grid_geometry(a)
        start, end = _calc_xy_pivot(
            nx, ny, float(pivot_point[0]), float(pivot_point[1]),
            float(angle),
        )
    elif latlon:
        if start is None or end is None:
            raise ValueError(
                "latlon=True needs (lat, lon) start and end points"
            )
        a = attrs if attrs is not None else wrf_global_attrs(path)
        _, _, _, _, nx, ny = _wrf_grid_geometry(a)
        pts = []
        for lat_, lon_ in (start, end):
            fi, fj = wrf_ll_to_xy_scalar(a, float(lon_), float(lat_))
            ii, jj = math.floor(fi + 0.5), math.floor(fj + 0.5)
            if not (0 <= ii <= nx - 1 and 0 <= jj <= ny - 1):
                raise ValueError(
                    f"lat/lon point ({lat_}, {lon_}) resolves to grid "
                    f"index ({ii}, {jj}) outside the {nx}x{ny} mass "
                    "domain"
                )
            pts.append((float(ii), float(jj)))
        start, end = pts
    elif start is None or end is None:
        raise ValueError(
            "vertcross needs start/end grid indices, "
            "pivot_point+angle, or latlon=True (lat, lon) endpoints"
        )
    if n_points is None:
        n_points = int(math.ceil(math.hypot(
            float(end[0]) - float(start[0]),
            float(end[1]) - float(start[1]),
        ))) + 1
    return (
        (float(start[0]), float(start[1])),
        (float(end[0]), float(end[1])),
        int(n_points),
    )


def wrf_vertcross(
    spark: SparkSession,
    path: str,
    field: str,
    start: tuple[float, float] | None = None,
    end: tuple[float, float] | None = None,
    n_points: int | None = None,
    lat_var: str = "XLAT",
    lon_var: str = "XLONG",
    attrs: dict | None = None,
    pivot_point: tuple[float, float] | None = None,
    angle: float | None = None,
    latlon: bool = False,
    **kw,
) -> DataFrame:
    """wrf-python ``vertcross`` over the archive: bilinear samples of
    any per-level getvar field along a grid-index line, per shard
    (one row per (file, sample, level)) — the broadcast corner join
    of operators/vertical.vertcross with the shard key kept.

    All three wrf-python call shapes resolve through
    :func:`_resolve_cross_line`: grid-index ``start``/``end``,
    ``pivot_point`` + ``angle`` (the full-domain RIP line), and
    ``latlon=True`` (lat, lon) endpoints through the archive's own
    projection block.  ``n_points=None`` auto-sizes to the wrf-python
    count."""
    from wrf_to_geodataframe_spark.operators.vertical import vertcross

    start, end, n_points = _resolve_cross_line(
        spark, path, start, end, n_points, attrs, pivot_point, angle,
        latlon,
    )
    fld = wrf_getvar(
        spark, path, field, lat_var=lat_var, lon_var=lon_var,
        attrs=attrs, **kw,
    )
    col = _value_col(
        fld, field, "vertcross's field", True, " — use wrf_interpline"
    )
    return vertcross(
        fld, col, "k", "x_idx", "y_idx", start, end, n_points,
        out_col=col, extra_keys=["file"],
    )


def wrf_interp2dxy(
    spark: SparkSession,
    path: str,
    field: str,
    xy: list[tuple[float, float]],
    lat_var: str = "XLAT",
    lon_var: str = "XLONG",
    attrs: dict | None = None,
    **kw,
) -> DataFrame:
    """wrf-python ``interp2dxy`` over the archive: bilinear samples of
    any per-level getvar field at an ARBITRARY sequence of fractional
    (x, y) grid-index points, per shard and level — the generalization
    of :func:`wrf_vertcross` the ``xy()`` helper feeds (vertcross IS
    interp2dxy on a straight line; here the path can bend).  Output
    one row per (file, sample s, level k); same single-component and
    per-level validations, same broadcast corner-join plan."""
    from wrf_to_geodataframe_spark.operators.vertical import interp2dxy

    fld = wrf_getvar(
        spark, path, field, lat_var=lat_var, lon_var=lon_var,
        attrs=attrs, **kw,
    )
    col = _value_col(
        fld, field, "interp2dxy's field", True, " — use wrf_interpline"
    )
    return interp2dxy(
        fld, col, "k", "x_idx", "y_idx", xy,
        out_col=col, extra_keys=["file"],
    )


def wrf_interpline(
    spark: SparkSession,
    path: str,
    field: str,
    start: tuple[float, float] | None = None,
    end: tuple[float, float] | None = None,
    n_points: int | None = None,
    lat_var: str = "XLAT",
    lon_var: str = "XLONG",
    attrs: dict | None = None,
    pivot_point: tuple[float, float] | None = None,
    angle: float | None = None,
    latlon: bool = False,
    **kw,
) -> DataFrame:
    """wrf-python ``interpline`` over the archive: bilinear samples of
    a 2-D field (surface staple or column diagnostic — ter, T2, slp,
    pw, mdbz, ...) along a straight line in grid-index space — the
    one-level special case of the vertcross kernel (same broadcast
    corner table into one equi join, the grid never shuffles; same
    NULL convention for samples leaving the domain).  Returns one row
    per (file, sample index s).

    Per-level fields raise with a pointer to :func:`wrf_vertcross`
    (the wrf-python split: interpline is the 2-D variant), and so do
    multi-component names like uvmet10 — interpline samples ONE scalar
    plane.  The same three call shapes as vertcross resolve through
    :func:`_resolve_cross_line` (grid-index, pivot+angle, lat/lon)."""
    from wrf_to_geodataframe_spark.operators.vertical import vertcross

    start, end, n_points = _resolve_cross_line(
        spark, path, start, end, n_points, attrs, pivot_point, angle,
        latlon,
    )
    fld = wrf_getvar(
        spark, path, field, lat_var=lat_var, lon_var=lon_var,
        attrs=attrs, **kw,
    )
    col = _value_col(
        fld, field, "interpline's field", False, " — use wrf_vertcross"
    )
    # the decoded timestamp of times=True rides through as a key
    keys = ["file"] + (["time"] if "time" in fld.columns else [])
    out = vertcross(
        fld.withColumn("_lvl", F.lit(0)), col, "_lvl",
        "x_idx", "y_idx", start, end, n_points,
        out_col=col, extra_keys=keys,
    )
    return out.select(*keys, "s", col)
