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
XLAT_V/XLONG_V, W and PH/PHB on bottom_top_stag) — destaggered here
with the pencil-window operators, never positional reshape.  Each
file is one timestep; the vertical level index rides the reader's
``t_idx`` axis, and (file, k, y_idx, x_idx) is the explicit key
everywhere (SURVEY.md §1.3 / J5).  Layer geometry for the column
diagnostics comes from the STAGGERED geopotential read on its own
(never inner-joined against mass levels, which would drop the top
staggered entry): z at mass level k is the half-sum of adjacent
staggered heights and dz their exact difference.

Derived quantities dispatch to functions/meteo.py (codegen column
expressions) and operators/vertical.py / dynamics.py (pencil-window
operators); projection-dependent names (``uvmet``, ``avo``, ``pvo``)
take the wrfout global-attribute block via ``attrs=``.

Parity notes: the reference (C-H-Simpson/wrf_to_geodataframe) reaches
these fields through wrf-python/xarray before converting to
GeoDataFrames (wrf_voronoi.py:115); this front door covers the getvar
names its workflows consume.  CALDBZ defaults to rain-only; pass
``species=("QRAIN", "QSNOW", "QGRAUP")`` for the full-hydrometeor
form (the snow/graupel terms ride the same single mass scan).
``times=True`` adds the decoded wrfout ``Times`` timestamp (and
``getvar('times')`` returns the axis itself); :func:`wrf_getvar_many`
shares one scan set across several names.  wrf-python alias
spellings (``temp``, ``th``, ``dp``, ``theta_e``, ...) resolve via
``ALIASES``; the storm diagnostics (``helicity``,
``updraft_helicity``) and ``cape_2d``'s lcl/lfc report heights above
ground like wrf-python, with the terrain plane read on its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_KEY = ["file", "k", "y_idx", "x_idx"]
_KEY3 = ["file", "y_idx", "x_idx"]

#: getvar name -> MASS-grid raw variables joined into the base table
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
    "z": (),
    "height": (),
    "geopt": (),  # full geopotential [m2 s-2] = g z
    "height_agl": ("HGT",),  # z above ground level
    "dbz": ("T", "P", "PB", "QVAPOR", "QRAIN"),
    "mdbz": ("T", "P", "PB", "QVAPOR", "QRAIN"),
    "omega": ("T", "P", "PB", "QVAPOR", "W"),
    "pw": ("P", "PB", "QVAPOR"),
    "ctt": ("T", "P", "PB", "QCLOUD"),
    "cloudfrac": ("T", "P", "PB", "QVAPOR"),
    "slp": ("T", "P", "PB", "QVAPOR"),
    "cape_2d": ("T", "P", "PB", "QVAPOR"),
    "mcape": ("T", "P", "PB", "QVAPOR"),
    "cape_3d": ("T", "P", "PB", "QVAPOR"),
    "wspd_wdir": ("U", "V"),
    "uvmet": ("U", "V"),
    "avo": ("U", "V"),
    "pvo": ("U", "V", "T", "P", "PB"),
    # destaggered wind components on mass points (wrf-python ua/va/wa)
    "ua": ("U",),
    "va": ("V",),
    "wa": ("W",),
    # storm diagnostics (operators/dynamics.py kernels): SRH and
    # updraft helicity — z bands are HEIGHT ABOVE GROUND (HGT read
    # inside the dispatch, like avo's MAPFAC_M).  `helicity` matches
    # wrf-python's default semantics: with no c_u/c_v the storm
    # motion is estimated per column from the 0-6 km mean wind
    # (Davies & Johns 1993, DCALRELHL's internal rule); explicit
    # c_u/c_v override the estimate
    "helicity": ("U", "V"),
    "updraft_helicity": ("U", "V", "W"),
    # coordinate reads: raw XLAT/XLONG planes and the STAGGERED
    # geopotential height (no destagger — k is the staggered index)
    "lat": (),
    "lon": (),
    "zstag": (),
    "geopt_stag": (),  # g * zstag, on the staggered levels
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

#: names whose RAW variables are 2-D planes — the scan-grouping set
#: for wrf_getvar_many (height_agl reads 2-D HGT but OUTPUTS
#: per-level, so the two sets differ; mixing 2-D and 3-D raw
#: variables in one read_netcdf_dir_many scan would fail its
#: same-grid row check)
_SFC_RAW = _SURFACE_2D | {"height_agl"}

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


def _base(
    spark: SparkSession,
    path: str,
    names: tuple[str, ...],
    lat_var: str,
    lon_var: str,
) -> DataFrame | None:
    """The requested variables on the mass grid.  All MASS-grid
    variables come from ONE archive scan (``read_netcdf_dir_many`` —
    each shard's bytes parsed once, one column per variable);
    staggered winds live on their own grids, so each gets its own
    scan, is destaggered onto mass points, and equi-joins the mass
    table on the explicit key."""
    from wrf_to_geodataframe_spark.operators.vertical import destagger
    from wrf_to_geodataframe_spark.sources.netcdf import (
        read_netcdf_dir_many,
    )

    stag = [n for n in names if n in ("U", "V", "W")]
    mass = [n for n in names if n not in ("U", "V", "W")]
    out = None
    if mass:
        out = read_netcdf_dir_many(
            spark, path, mass, lat_var, lon_var
        ).select(
            "file", F.col("t_idx").alias("k"), "y_idx", "x_idx",
            *[n.lower() for n in mass],
        )
    for name in stag:
        if name == "U":
            d = destagger(
                _raw(spark, path, name, f"{lat_var}_U", f"{lon_var}_U"),
                "x_idx", "u", ["file", "k", "y_idx"], out_col="u",
            )
        elif name == "V":
            d = destagger(
                _raw(spark, path, name, f"{lat_var}_V", f"{lon_var}_V"),
                "y_idx", "v", ["file", "k", "x_idx"], out_col="v",
            )
        else:
            d = destagger(
                _raw(spark, path, name, lat_var, lon_var),
                "k", "w", ["file", "y_idx", "x_idx"], out_col="w",
            )
        d = d.select(*_KEY, name.lower())
        out = d if out is None else out.join(d, _KEY)
    return out


def _coords(
    spark: SparkSession, path: str, lat_var: str, lon_var: str
) -> DataFrame:
    """Mass-grid (file, y_idx, x_idx, lat, lon) — the 2-D coordinate
    variable read as its own field (t_idx collapses to the single
    plane)."""
    from wrf_to_geodataframe_spark.sources.netcdf import read_netcdf_dir

    return (
        read_netcdf_dir(spark, path, lat_var, lat_var, lon_var)
        .select("file", "y_idx", "x_idx", "lat", "lon")
        .distinct()
    )


def _zdz(
    spark: SparkSession, path: str, lat_var: str, lon_var: str
) -> DataFrame:
    """(file, k, y_idx, x_idx, z, dz) at MASS levels from the
    staggered geopotential: z = half-sum of adjacent staggered
    heights, dz = their exact difference — one lead window per column
    pencil over the staggered-only table (joining staggered against
    mass levels first would silently drop the top staggered entry)."""
    from wrf_to_geodataframe_spark.functions.meteo import (
        geopotential_height,
    )
    from wrf_to_geodataframe_spark.sources.netcdf import (
        read_netcdf_dir_many,
    )

    d = read_netcdf_dir_many(
        spark, path, ["PH", "PHB"], lat_var, lon_var
    ).select(
        "file", F.col("t_idx").alias("k"), "y_idx", "x_idx", "ph", "phb"
    ).withColumn(
        "_zs", geopotential_height(F.col("ph"), F.col("phb"))
    )
    w = Window.partitionBy(*_KEY3).orderBy("k")
    return (
        d.withColumn("_zs2", F.lead("_zs").over(w))
        .filter(F.col("_zs2").isNotNull())
        .select(
            *_KEY,
            ((F.col("_zs") + F.col("_zs2")) / 2.0).alias("z"),
            (F.col("_zs2") - F.col("_zs")).alias("dz"),
        )
    )


def _zstag_tbl(
    spark: SparkSession, path: str, lat_var: str, lon_var: str
) -> DataFrame:
    """(file, k, y_idx, x_idx, zstag): geopotential height on the
    STAGGERED vertical levels (wrf-python ``zstag``) — one mass-grid
    archive scan of PH + PHB with NO destagger; ``k`` here is the
    staggered index (one more level than the mass fields)."""
    from wrf_to_geodataframe_spark.functions.meteo import (
        geopotential_height,
    )
    from wrf_to_geodataframe_spark.sources.netcdf import (
        read_netcdf_dir_many,
    )

    return read_netcdf_dir_many(
        spark, path, ["PH", "PHB"], lat_var, lon_var
    ).select(
        "file", F.col("t_idx").alias("k"), "y_idx", "x_idx",
        geopotential_height(F.col("ph"), F.col("phb")).alias("zstag"),
    )


def _ter_tbl(
    spark: SparkSession, path: str, lat_var: str, lon_var: str
) -> DataFrame:
    """(file, y_idx, x_idx, hgt): the terrain plane, read on its own
    like avo's MAPFAC_M (its grid shape differs from the 3-D mass
    scan, so it cannot ride the same read_netcdf_dir_many pass)."""
    return (
        _raw(spark, path, "HGT", lat_var, lon_var)
        .select("file", "y_idx", "x_idx", "hgt")
        .distinct()
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
    wrfout shards.  Returns a long DataFrame keyed by (file, k,
    y_idx, x_idx) for per-level fields or (file, y_idx, x_idx) for
    column diagnostics, value column(s) named after the quantity.
    Unknown names raise with the supported list (never a silent
    wrong answer).

    ``times=True`` (any name) appends the shard's decoded ``Times``
    timestamp as a ``time`` column — the wrf-python ``XTIME``
    coordinate semantics — via one broadcast join against the
    metadata-sized :func:`wrf_times` table (one row per shard,
    enforced), so multi-timestep archives feed daily-resample /
    period-mean rollups (the reference's wrf_voronoi.py:151-190
    workflow) without a separate virtual manifest."""
    from wrf_to_geodataframe_spark.functions import meteo as M

    if varname in _WIND_SINGLE:
        pair, comp = _WIND_SINGLE[varname]
        out = wrf_getvar(
            spark, path, pair, lat_var=lat_var, lon_var=lon_var,
            attrs=attrs, **kw,
        )
        keys = [c for c in out.columns
                if c in ("file", "k", "y_idx", "x_idx", "time")]
        return out.select(*keys, F.col(comp).alias(varname))
    if varname in ("times", "xtimes"):
        # wrf-python getvar("times"): the decoded time coordinate
        # itself — the metadata-sized (file, lt, time) axis, no grid
        if kw or attrs:
            raise TypeError(
                f"getvar({varname!r}) takes no options"
            )
        return wrf_times(spark, path)
    with_times = bool(kw.pop("times", False))
    if with_times:
        out = wrf_getvar(
            spark, path, varname, lat_var=lat_var, lon_var=lon_var,
            attrs=attrs, **kw,
        )
        tdf = wrf_times(spark, path, single_step=True).select(
            "file", "time"
        )
        return out.join(F.broadcast(tdf), "file")

    if ALIASES.get(varname, varname) not in SUPPORTED:
        # wrf-python's raw-variable fallback: getvar(f, 'SMOIS') returns
        # any variable the FILE itself carries.  A metadata-only probe
        # of the first shard decides existence and shape (never a
        # runtime surprise on executors), and only MASS-GRID variables
        # qualify — horizontally staggered grids would silently
        # misalign against the XLAT/XLONG coordinate join, so they
        # raise with a pointer to the dedicated wind front doors.
        raw = _raw_fallback(spark, path, varname, lat_var, lon_var, kw)
        if raw is not None:
            return raw

    varname, (need, species) = _validate(varname, kw)
    base = _base(spark, path, need, lat_var, lon_var)
    return _dispatch(
        spark, path, varname, base, species, attrs, lat_var, lon_var,
        zdz=lambda: _zdz(spark, path, lat_var, lon_var),
        coords=lambda: _coords(spark, path, lat_var, lon_var),
        **kw,
    )


def _raw_fallback(
    spark: SparkSession,
    path: str,
    varname: str,
    lat_var: str,
    lon_var: str,
    kw: dict,
) -> DataFrame | None:
    """The getvar raw-variable path: ``varname`` as the file spells it
    (case-sensitive, like wrf-python).  Returns None when the first
    shard has no such variable (the caller then raises the standard
    supported-names error); raises NAMED errors for options (raw reads
    take none) and horizontally-staggered shapes.  2-D ``(y, x)``
    planes key (file, y_idx, x_idx); per-level ``(k, y, x)`` variables
    key (file, k, y_idx, x_idx) — a VERTICALLY staggered leading dim
    (k+1 levels, PH/W-style) is fine, k is then the staggered index
    (the zstag convention).  ``attrs=`` is accepted-and-unused, the
    same convention as every non-projection name (tk, theta, ...):
    attrs is a general wrf_getvar parameter consumed only where a
    projection is involved."""
    try:
        dims_by_var = wrf_file_variables(path)
    except ValueError:
        return None  # unreadable/empty archive: standard error path
    if varname not in dims_by_var:
        return None
    shape = _check_raw_shape(varname, dims_by_var, lat_var, kw)
    d = _raw(spark, path, varname, lat_var, lon_var)
    if len(shape) == 2:
        return d.select(*_KEY3, varname.lower()).distinct()
    return d.select(*_KEY, varname.lower())


def _check_raw_shape(
    varname: str, dims_by_var: dict, lat_var: str, kw: dict
) -> tuple[int, ...]:
    """The raw-read validations shared by the single and MANY front
    doors (identical named errors, property-pinned parity): raw reads
    take no options, the mass-grid coordinate must exist to key rows,
    and only mass-grid (y, x) / (k, y, x) shapes qualify."""
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
    """Name/option validation shared by the single- and multi-name
    front doors: resolves wrf-python alias spellings to the CANONICAL
    name (returned first), then the raw-variable list (with
    hydrometeor species substituted for dbz/mdbz) and the species
    tuple.  Mutates ``kw`` (pops consumed options) and raises on
    unknown names or options."""
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
    spark: SparkSession,
    path: str,
    varname: str,
    base: DataFrame | None,
    species: tuple,
    attrs: dict | None,
    lat_var: str,
    lon_var: str,
    zdz,
    coords,
    **kw,
) -> DataFrame:
    """Compute one getvar quantity from a prebuilt raw-variable
    ``base`` (the mass-grid scan + destaggers).  ``zdz``/``coords``
    are zero-arg callables returning the layer-geometry / coordinate
    tables so the multi-name front door can share ONE of each across
    every requested field."""
    from wrf_to_geodataframe_spark.functions import meteo as M

    if base is not None and "p" in base.columns and "pb" in base.columns:
        base = base.withColumn("prs", F.col("p") + F.col("pb"))
    theta = F.col("t") + F.lit(300.0)
    prs = F.col("prs")

    if varname in ("lat", "lon"):
        # raw coordinate planes: the mass-grid XLAT/XLONG read itself
        return coords().select(*_KEY3, varname)
    if varname == "zstag":
        return _zstag_tbl(spark, path, lat_var, lon_var)
    if varname == "geopt_stag":
        return _zstag_tbl(spark, path, lat_var, lon_var).select(
            *_KEY,
            (F.col("zstag") * F.lit(M.G0)).alias("geopt_stag"),
        )
    if varname in ("ua", "va", "wa"):
        # destaggered components: _base already moved the staggered
        # wind onto mass points (one pencil window per component)
        src = {"ua": "u", "va": "v", "wa": "w"}[varname]
        return base.select(*_KEY, F.col(src).alias(varname))
    if varname in _SURFACE_2D:
        # single-plane 2-D reads: t_idx is the constant 0 plane, so
        # the key drops to (file, y_idx, x_idx)
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

        d = base.join(coords(), _KEY3)
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
        return zdz().select(*_KEY, F.col("z").alias(varname))
    if varname == "geopt":
        return zdz().select(
            *_KEY, (F.col("z") * F.lit(M.G0)).alias("geopt")
        )
    if varname == "height_agl":
        ter = base.select(*_KEY3, F.col("hgt"))
        return zdz().join(ter, _KEY3).select(
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
    if varname == "pw":
        # layer dp from adjacent full-level pressure differences
        w = Window.partitionBy(*_KEY3).orderBy("k")
        d = (
            base.withColumn("_p2", F.lead("prs").over(w))
            .filter(F.col("_p2").isNotNull())
            .withColumn("_dp", prs - F.col("_p2"))
        )
        from wrf_to_geodataframe_spark.operators.vertical import (
            precipitable_water,
        )

        return precipitable_water(d, "qvapor", "_dp", _KEY3, out_col="pw")
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
    if varname in ("slp", "cape_2d", "mcape", "cape_3d"):
        d = base.join(zdz(), _KEY)
        d = d.withColumn("_tk", M.temperature_k(theta, prs))
        if varname == "cape_3d":
            from wrf_to_geodataframe_spark.operators.vertical import (
                cape_3d,
            )

            return cape_3d(
                d, "prs", "_tk", "qvapor", "dz", "k", _KEY3, **kw
            ).select(*_KEY, "cape", "cin")
        if varname == "slp":
            from wrf_to_geodataframe_spark.operators.vertical import (
                sea_level_pressure,
            )

            # moist reduction (wrf-python parity): the pivot-level
            # temperature is the exact-eps virtual temperature
            return sea_level_pressure(
                d, "prs", "_tk", "z", _KEY3, out_col="slp",
                qv_col="qvapor",
            )
        from wrf_to_geodataframe_spark.operators.vertical import (
            surface_cape,
        )

        out = surface_cape(
            d, "prs", "_tk", "qvapor", "dz", _KEY3,
            parcel="surface" if varname == "cape_2d" else "most_unstable",
            z_col="z",
            **kw,
        )
        # wrf-python cape_2d reports lcl/lfc ABOVE GROUND: subtract
        # the terrain plane (its own HGT read, the helicity pattern)
        ter = _ter_tbl(spark, path, lat_var, lon_var)
        return out.join(ter, _KEY3).select(
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

        d = base.join(coords(), _KEY3)
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
        # z bands are HEIGHT ABOVE GROUND: layer geometry from the
        # staggered geopotential (zdz), terrain from its own HGT plane
        # read (the MAPFAC_M pattern) — agl = z - ter per level
        d = (
            base.join(zdz(), _KEY)
            .join(_ter_tbl(spark, path, lat_var, lon_var), _KEY3)
            .withColumn("_agl", F.col("z") - F.col("hgt"))
        )
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

        msf_col = None
        if map_factors:
            # wrf-python's DCALCUH form: curvilinear zeta via the
            # mass-point map-scale factor (the avo pattern)
            m = (
                _raw(spark, path, "MAPFAC_M", lat_var, lon_var)
                .select("file", "y_idx", "x_idx", "mapfac_m")
                .distinct()
            )
            d = d.join(m, _KEY3)
            msf_col = "mapfac_m"
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

        d = base.join(coords(), _KEY3)
        msf_col = None
        if map_factors:
            m = (
                _raw(spark, path, "MAPFAC_M", lat_var, lon_var)
                .select("file", "y_idx", "x_idx", "mapfac_m")
                .distinct()
            )
            d = d.join(m, _KEY3)
            msf_col = "mapfac_m"
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
    """Many ``getvar`` names over ONE shared set of archive scans —
    the real wrf-python session shape (`getvar(f, "slp")` then
    `getvar(f, "tk")` then ...), which called one-at-a-time re-reads
    the archive per name.  Here the union of every requested name's
    raw variables becomes a single persisted mass-grid scan per grid
    shape (per-level fields share one; 2-D surface staples share
    another — their row axes differ, so they cannot share a frame),
    and the layer-geometry (``_zdz``) and coordinate (``_coords``)
    tables are built and persisted at most once however many names
    consume them.  At archive scale this turns k names from ~k full
    passes into 2-4 bounded passes total.

    ``options`` maps a name to its keyword options (e.g.
    ``{"mdbz": {"species": ("QRAIN", "QSNOW")}}``); options for names
    not requested raise.  ``times=True`` broadcasts the shard
    timestamp onto every returned frame.  Returns {name: DataFrame}
    with exactly the single-name front door's schemas (property-pinned
    equal in tests/test_wrf_getvar.py).

    The persists register with session.track_persist — call
    ``release_persisted()`` (or clear the cache) when the session
    moves on, like every other multi-branch operator here."""
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
            # the raw file-variable fallback, MANY-shape (single-name
            # parity: same metadata-only probe, same named errors).
            # 2-D raws ride the shared SURFACE union scan (their grid
            # is validated identical); 3-D raws get their own scan —
            # their level count is the file's own (possibly staggered,
            # the zstag convention), not necessarily the mass k the
            # shared per-level union assumes.
            if raw_shapes is None:
                try:
                    raw_shapes = wrf_file_variables(path)
                except ValueError:
                    raw_shapes = {}
            if nm in raw_shapes:
                shape = _check_raw_shape(nm, raw_shapes, lat_var, kw)
                raw_kind[name] = len(shape)
                canon[name], needs[name], specs[name], kws[name] = (
                    name, (name,) if len(shape) == 2 else (), (), {}
                )
                continue
        canon[name], (needs[name], specs[name]) = _validate(nm, kw)
        kws[name] = kw

    def _is_sfc(n: str) -> bool:
        if n in raw_kind:
            return raw_kind[n] == 2
        return canon[n] in _SFC_RAW

    bases: dict[bool, DataFrame | None] = {}
    for is_sfc in (False, True):
        group = [n for n in varnames if _is_sfc(n) == is_sfc]
        union = tuple(
            dict.fromkeys(v for n in group for v in needs[n])
        )
        b = _base(spark, path, union, lat_var, lon_var)
        bases[is_sfc] = track_persist(b) if b is not None else None

    shared: dict[str, DataFrame] = {}

    def zdz() -> DataFrame:
        if "zdz" not in shared:
            shared["zdz"] = track_persist(
                _zdz(spark, path, lat_var, lon_var)
            )
        return shared["zdz"]

    def coords() -> DataFrame:
        if "coords" not in shared:
            shared["coords"] = track_persist(
                _coords(spark, path, lat_var, lon_var)
            )
        return shared["coords"]

    tdf = None
    if times:
        tdf = wrf_times(spark, path, single_step=True).select(
            "file", "time"
        )
    out: dict[str, DataFrame] = {}
    for name in varnames:
        if name in raw_kind:
            if raw_kind[name] == 2:
                df = bases[True].select(
                    *_KEY3, name.lower()
                ).distinct()
            else:
                df = _raw(spark, path, name, lat_var, lon_var).select(
                    *_KEY, name.lower()
                )
            if tdf is not None:
                df = df.join(F.broadcast(tdf), "file")
            out[name] = df
            continue
        df = _dispatch(
            spark, path, canon[name], bases[_is_sfc(name)],
            specs[name], attrs, lat_var, lon_var,
            zdz=zdz, coords=coords, **kws[name],
        )
        if proj[name]:
            keys = [c for c in df.columns
                    if c in ("file", "k", "y_idx", "x_idx")]
            df = df.select(*keys, F.col(proj[name]).alias(name))
        if tdf is not None:
            df = df.join(F.broadcast(tdf), "file")
        out[name] = df
    return out


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
    for name in (field, on):
        if "k" not in many[name].columns:
            raise ValueError(
                f"interplevel needs per-level inputs; {name!r} is 2-D"
            )

    def _vals(name: str, keys: tuple) -> str:
        got = [c for c in many[name].columns if c not in (*keys, "time")]
        if len(got) != 1:
            raise ValueError(
                f"interplevel needs single-component inputs; {name!r} "
                f"carries {got}"
            )
        return got[0]

    # the frames carry CANONICAL column names — derive them from the
    # frames (the wrf_vertcross rule), never from the caller's spelling
    fcol = _vals(field, _KEY)
    ocol = _vals(on, _KEY)
    d = many[field].join(many[on], _KEY)
    if neg:
        d = d.withColumn(ocol, -F.col(ocol))
    if tgt_name is not None:
        tf = many[tgt_name]
        if "k" in tf.columns:
            raise ValueError(
                f"interplevel's target surface must be a 2-D field; "
                f"{tgt_name!r} is per-level — pass it as on= or pick a "
                "single-plane name"
            )
        tcol = _vals(tgt_name, _KEY3)
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
    if "k" not in fld.columns:
        raise ValueError(
            f"vertcross needs a per-level field; {field!r} is 2-D — "
            "use wrf_interpline"
        )
    vals = [c for c in fld.columns if c not in (*_KEY, "time")]
    if len(vals) != 1:
        raise ValueError(
            f"vertcross needs a single-component field; {field!r} "
            f"carries {vals}"
        )
    return vertcross(
        fld, vals[0], "k", "x_idx", "y_idx", start, end, n_points,
        out_col=vals[0], extra_keys=["file"],
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
    if "k" not in fld.columns:
        raise ValueError(
            f"interp2dxy needs a per-level field; {field!r} is 2-D — "
            "use wrf_interpline"
        )
    vals = [c for c in fld.columns if c not in (*_KEY, "time")]
    if len(vals) != 1:
        raise ValueError(
            f"interp2dxy needs a single-component field; {field!r} "
            f"carries {vals}"
        )
    return interp2dxy(
        fld, vals[0], "k", "x_idx", "y_idx", xy,
        out_col=vals[0], extra_keys=["file"],
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
    if "k" in fld.columns:
        raise ValueError(
            f"interpline needs a 2-D field; {field!r} is per-level — "
            "use wrf_vertcross"
        )
    # 'time' is a key, not a component (the wrf_vertcross rule):
    # times=True must not trip the single-component check, and the
    # decoded timestamp rides through as a grouping key
    vals = [c for c in fld.columns if c not in (*_KEY3, "time")]
    if len(vals) != 1:
        raise ValueError(
            f"interpline needs a single-component field; {field!r} "
            f"carries {vals}"
        )
    keys = ["file"] + (["time"] if "time" in fld.columns else [])
    out = vertcross(
        fld.withColumn("_lvl", F.lit(0)), vals[0], "_lvl",
        "x_idx", "y_idx", start, end, n_points,
        out_col=vals[0], extra_keys=keys,
    )
    return out.select(*keys, "s", vals[0])
