"""Kerchunk-style VIRTUAL DATASET over a directory of NetCDF files.

The reference opens one file at a time through xarray
(wrf_voronoi.py:115 ``xr.open_dataset``); a real WRF/climate archive is
thousands of per-cycle files totalling terabytes.  The public pattern
for querying such archives without a rewrite is the *virtual dataset*
(kerchunk / VirtualiZarr): parse every file's METADATA once, persist
the resulting chunk index as a queryable table, then serve all later
reads from byte ranges listed in that index — no per-query metadata
walk, and chunk-level pruning for free from the table's own min/max
statistics.

This module is that pattern, Spark-native, on top of the repo's own
pure-numpy parsers:

- ``build_virtual_manifest``: one executor task per file batch runs the
  metadata-only walk (``hdf5_chunk_manifest`` — mmap, no data pages —
  for NetCDF-4/HDF5; header arithmetic for classic NetCDF-3, both fixed
  and record layouts; a section-header seek chain for GRIB2, where one
  MESSAGE is one chunk and ``var`` selects by ``"category.number"`` —
  ``lat_var``/``lon_var`` are ignored, the grid comes from section 3)
  and emits one row per chunk-grid cell with its GLOBAL time interval
  ``[t0, t1)`` (files are concatenated along time in sorted-name order,
  the archive convention).  The chunk table is
  range-partitioned and sorted on ``(t0, y0, x0)`` before the parquet
  write so row-group min/max statistics align with the query axes.
  Coordinate grids are deduplicated by content hash into a tiny sidecar
  (one row per DISTINCT grid, not per file — a 10k-file single-domain
  archive stores its lat/lon exactly once).

- ``read_virtual``: a parquet scan of the chunk table with the time /
  index-window predicates expressed as ordinary column filters — they
  reach the parquet reader as ``PushedFilters`` on ``t0/t1/y0/...``, so
  pruned chunks cost NOTHING (not even a manifest row is materialized;
  see tests/test_virtual.py's explain assertion) — followed by an
  Arrow-batched ``mapInPandas`` in which each task seeks straight to
  its chunks' byte ranges and runs the filter pipeline
  (deflate/shuffle/szip) itself.  Chunk-level pruning is made exact by
  a row-level trim inside the same task (no second pass).  This is the
  engine's one chunk-parallel NetCDF-4/HDF5 scan: a single huge file
  is a one-file manifest.  A manifest is built whole; an archive that
  grows is re-indexed with ``build_virtual_manifest``.

Scale shape: the manifest build is O(metadata) per file and embarrasses
in parallel; the manifest itself is a parquet table (queryable,
re-partitionable, join-able — e.g. against a calendar dimension); reads
never touch the driver beyond the O(#distinct-grids) coordinate
sidecar, which is broadcast.  Requires paths every executor can open
(local mode, NFS/Lustre — the HPC archive shape), like the other
byte-range sources.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import numpy as np

__all__ = [
    "bbox_to_windows",
    "build_virtual_manifest",
    "read_virtual",
]

def _virtual_out_schema():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType([
        StructField("file", StringType()),
        StructField("var", StringType()),
        StructField("t_idx", LongType()),
        StructField("y_idx", LongType()),
        StructField("x_idx", LongType()),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),
        StructField("value", DoubleType()),
    ])

_CHUNK_SCHEMA = (
    "file string, var string, file_no long, nt long, lt0 long, lt1 long, "
    "y0 long, y1 long, x0 long, x1 long, "
    "addr long, nbytes long, fmask long, "
    "ct long, cy long, cx long, "
    "dtype string, filters string, fill double, coord_hash string, "
    "fsize long, packing string"
)

_COORD_SCHEMA = (
    "coord_hash string, ny long, nx long, lat binary, lon binary, "
    "affine array<double>"
)


def _coord_grids(lat: np.ndarray, lon: np.ndarray):
    """Normalize coordinate variables to matching 2-D float64 grids."""
    lat = np.asarray(lat, dtype="float64")
    lon = np.asarray(lon, dtype="float64")
    if lat.ndim == 1 and lon.ndim == 1:
        lon, lat = np.meshgrid(lon, lat)
    if lat.shape != lon.shape or lat.ndim != 2:
        raise ValueError(f"coordinate shapes {lat.shape} vs {lon.shape}")
    return np.ascontiguousarray(lat), np.ascontiguousarray(lon)


def _hash_grids(lat: np.ndarray, lon: np.ndarray) -> str:
    h = hashlib.sha1()
    h.update(repr(lat.shape).encode())
    h.update(lat.tobytes())
    h.update(lon.tobytes())
    return h.hexdigest()


def _packing_json(attrs: dict | None) -> str:
    """CF packing attributes -> a compact JSON chunk-row column
    (``"{}"`` for the overwhelmingly common unpacked variable).  The
    decode task replays xarray's default mask-and-scale from it:
    fill/missing compared on RAW stored values, then
    ``raw * scale_factor + add_offset`` (netcdf.cf_mask_and_scale)."""
    out = {}
    for k in ("scale_factor", "add_offset", "_FillValue",
              "missing_value"):
        if attrs and k in attrs:
            v = np.asarray(attrs[k]).ravel()
            if v.size:
                out[k] = float(v[0])
    uns = attrs.get("_Unsigned") if attrs else None
    if isinstance(uns, np.ndarray):
        uns = "".join(uns.astype(str))
    if isinstance(uns, bytes):
        uns = uns.decode("ascii", "replace")
    if isinstance(uns, str) and uns.lower() == "true":
        out["_Unsigned"] = "true"
    return json.dumps(out, sort_keys=True) if out else "{}"


def _file_chunk_rows(path: str, file_no: int, var: str,
                     lat_var: str, lon_var: str, time_var: str | None = None):
    """Metadata-only chunk enumeration of ONE file -> (chunk row list,
    coords rows, time rows).  Chunk rows carry LOCAL time bounds
    (lt0/lt1) plus the file's time length ``nt``; the builder converts
    to global bounds declaratively.  Every chunk-grid cell is listed —
    unwritten HDF5 chunks with ``addr = -1`` (the reader fills them),
    matching the whole-file reader's semantics
    (hdf5.py:read_hdf5).  GRIB2 files contribute one chunk
    per (selected) MESSAGE — the byte-range unit wgrib2's ``.idx``
    sidecars index — with the whole message as the chunk payload and
    ``dtype = "grib2"`` telling the reader to decode it with the
    section parser.

    ``time_var`` names the file's CF time coordinate: its values +
    attributes (or a WRF 'Times' char array) decode at INDEX time into
    ``(var, file_no, lt, time_ns)`` rows — the manifest's time
    sidecar, still metadata-sized (one row per timestep)."""
    with open(path, "rb") as fh:
        magic = fh.read(8)
    if magic[:4] == b"\x89HDF":
        rows, coords, times = _hdf5_rows(
            path, file_no, var, lat_var, lon_var, time_var
        )
    elif magic[:3] == b"CDF" and magic[3] in (1, 2):
        rows, coords, times = _classic_rows(
            path, file_no, var, lat_var, lon_var, time_var
        )
    elif magic[:4] == b"GRIB":
        # any time_var opts GRIB2 members into message-time decoding
        # (section 1 reference + section 4 forecast offset) — GRIB2
        # has no named coordinate variable to point at
        return _grib2_rows(
            path, file_no, var, with_times=time_var is not None
        )
    else:
        raise ValueError(f"{path}: not HDF5 / NetCDF classic / GRIB2")
    return rows, [coords], times


def _hdf5_rows(path, file_no, var, lat_var, lon_var, time_var=None):
    from wrf_to_geodataframe_spark.sources.hdf5 import hdf5_chunk_manifest
    from wrf_to_geodataframe_spark.sources.netcdf import cf_mask_and_scale

    aux = (lat_var, lon_var) + (
        (time_var,) if time_var is not None else ()
    )
    man = hdf5_chunk_manifest(path, var, aux_vars=aux)
    shape, chunk = man["shape"], man["chunks"]
    if len(shape) == 2:
        shape = (1,) + tuple(shape)
        chunk = (1,) + tuple(chunk)
        tdim = False
    elif len(shape) == 3:
        shape, chunk = tuple(shape), tuple(chunk)
        tdim = True
    else:
        raise ValueError(f"{var}: expected (t,y,x) or (y,x), got {shape}")
    lat, lon = _coord_grids(
        np.asarray(cf_mask_and_scale(
            man["aux"][lat_var], man["aux_attrs"][lat_var]
        )),
        np.asarray(cf_mask_and_scale(
            man["aux"][lon_var], man["aux_attrs"][lon_var]
        )),
    )
    packing = _packing_json(man["attrs"])
    chash = _hash_grids(lat, lon)
    stored = {}
    for offs, addr, nbytes, mask in man["entries"]:
        key = tuple(offs) if tdim else (0,) + tuple(offs)
        stored[tuple(o // c for o, c in zip(key, chunk))] = (
            addr, nbytes, mask,
        )
    grid = tuple(-(-s // c) for s, c in zip(shape, chunk))
    filters = json.dumps([[fid, list(cd)] for fid, cd in man["filters"]])
    fsize = os.path.getsize(path)
    rows = []
    for idx in np.ndindex(*grid):
        addr, nbytes, mask = stored.get(idx, (-1, 0, 0))
        o = tuple(int(i * c) for i, c in zip(idx, chunk))
        e = tuple(min(oo + c, s) for oo, c, s in zip(o, chunk, shape))
        rows.append((
            path, var, file_no, shape[0],
            o[0], e[0], o[1], e[1], o[2], e[2],
            addr, nbytes, mask, chunk[0], chunk[1], chunk[2],
            man["dtype"], filters, float(man["fill"]), chash, fsize,
            packing,
        ))
    coords = (chash, lat.shape[0], lat.shape[1],
              lat.tobytes(), lon.tobytes())
    times = []
    if time_var is not None:
        times = _time_rows(
            var, file_no, man["aux"][time_var],
            man["aux_attrs"][time_var], shape[0], path, time_var,
        )
    return rows, coords, times


def _time_rows(var, file_no, data, attrs, nt, path, time_var):
    """Decode one file's time coordinate -> (var, file_no, lt,
    time_ns) sidecar rows, length-checked against the variable's
    time extent."""
    from wrf_to_geodataframe_spark.sources.netcdf import (
        decode_cf_time_values,
    )

    tns = decode_cf_time_values(np.asarray(data), attrs).astype("int64")
    if tns.ndim != 1 or tns.shape[0] != nt:
        raise ValueError(
            f"{path}: time coordinate {time_var!r} has "
            f"{tns.shape[0] if tns.ndim == 1 else tns.shape} steps, "
            f"variable {var!r} has {nt}"
        )
    return [
        (var, file_no, int(i), int(v)) for i, v in enumerate(tns)
    ]


def _classic_rows(path, file_no, var, lat_var, lon_var, time_var=None):
    from wrf_to_geodataframe_spark.sources.netcdf import (
        _DTYPES,
        _SIZES,
        _read_header_from_file,
        cf_mask_and_scale,
    )

    def _fixed_var(hdr, name):
        """Bounded byte-range read of one non-record variable — the
        coordinate grids of a multi-GB classic file cost two seeks,
        not a whole-file read."""
        e = next((e for e in hdr["entries"] if e[0] == name), None)
        if e is None:
            raise ValueError(f"{path}: no variable {name!r}")
        _, ids, atts, t, beg = e
        if hdr["rec_dim"] is not None and ids[:1] == [hdr["rec_dim"]]:
            raise ValueError(f"{name}: record coordinate unsupported")
        shp = [hdr["dims"][d][1] for d in ids]
        n = int(np.prod(shp, initial=1))
        with open(path, "rb") as fh:
            fh.seek(beg)
            buf = fh.read(n * _SIZES[t])
        arr = np.frombuffer(buf, _DTYPES[t], count=n).reshape(shp)
        return np.asarray(cf_mask_and_scale(arr, atts or {}))

    hdr = _read_header_from_file(path)
    dims, rec_dim = hdr["dims"], hdr["rec_dim"]
    numrecs, recsize = hdr["numrecs"], hdr["recsize"]
    entry = next((e for e in hdr["entries"] if e[0] == var), None)
    if entry is None:
        raise ValueError(f"{path}: no variable {var!r}")
    _, dimids, vatts, nc_type, begin = entry
    shape = [dims[d][1] for d in dimids]
    is_rec = rec_dim is not None and dimids and dimids[0] == rec_dim
    if is_rec:
        shape[0] = numrecs
    if len(shape) == 2:
        nt, (ny, nx) = 1, shape
        is_rec = False
    elif len(shape) == 3:
        nt, ny, nx = shape
    else:
        raise ValueError(f"{var}: expected (t,y,x) or (y,x), got {shape}")
    size, dtype = _SIZES[nc_type], np.dtype(_DTYPES[nc_type]).str
    plane = size * ny * nx
    # one pseudo-chunk per time plane; record vars stride by the shared
    # record slab when several record variables interleave (recsize)
    step = (
        recsize if (is_rec and hdr["n_recvars"] > 1) else plane
    )
    lat, lon = _coord_grids(_fixed_var(hdr, lat_var),
                            _fixed_var(hdr, lon_var))
    chash = _hash_grids(lat, lon)
    fsize = os.path.getsize(path)
    rows = []
    packing = _packing_json(vatts)
    for t in range(nt):
        rows.append((
            path, var, file_no, nt, t, t + 1, 0, ny, 0, nx,
            begin + t * step, plane, 0, 1, ny, nx,
            dtype, "[]", 0.0, chash, fsize, packing,
        ))
    coords = (chash, lat.shape[0], lat.shape[1],
              lat.tobytes(), lon.tobytes())
    times = []
    if time_var is not None:
        te = next((e for e in hdr["entries"] if e[0] == time_var), None)
        if te is None:
            raise ValueError(f"{path}: no time variable {time_var!r}")
        _, tids, tatts, tt, tbeg = te
        t_rec = rec_dim is not None and tids[:1] == [rec_dim]
        tail = [dims[d][1] for d in (tids[1:] if t_rec else tids)]
        per = int(np.prod(tail, initial=1))
        isz = _SIZES[tt]
        if t_rec:
            # record coordinate: one small value per interleaved slab
            tstep = recsize if hdr["n_recvars"] > 1 else isz * per
            parts = []
            with open(path, "rb") as fh:
                for rec in range(numrecs):
                    fh.seek(tbeg + rec * tstep)
                    parts.append(fh.read(isz * per))
            tarr = np.frombuffer(
                b"".join(parts), _DTYPES[tt], count=numrecs * per
            ).reshape([numrecs] + tail)
        else:
            n = int(np.prod([dims[d][1] for d in tids], initial=1))
            with open(path, "rb") as fh:
                fh.seek(tbeg)
                buf = fh.read(n * isz)
            tarr = np.frombuffer(buf, _DTYPES[tt], count=n).reshape(
                [dims[d][1] for d in tids]
            )
        times = _time_rows(
            var, file_no, tarr, tatts, nt, path, time_var
        )
    return rows, coords, times


_GRIB2_TIME_UNITS_NS = {
    0: 60_000_000_000,            # minute
    1: 3_600_000_000_000,         # hour
    2: 86_400_000_000_000,        # day
    10: 3 * 3_600_000_000_000,    # 3 hours
    11: 6 * 3_600_000_000_000,    # 6 hours
    12: 12 * 3_600_000_000_000,   # 12 hours
    13: 1_000_000_000,            # second
}


def _grib2_rows(path: str, file_no: int, var: str | None,
                with_times: bool = False):
    """GRIB2 file -> one chunk per selected message.  ``var`` filters
    by ``"<param_category>.<param_number>"`` (empty/None = every
    message); selected messages become the file's LOCAL time axis in
    stored order — the GFS/ERA5 cycle-file convention.  Only section
    HEADERS plus sections 3/4 bodies are read (seek chain): the data
    payload (section 7, the bulk of the file) is never touched.

    ``with_times``: additionally decode each message's VALID time —
    section 1 reference time plus the section-4 forecast offset in its
    declared time-range unit (code table 4.4); for template 4.8
    (statistical interval) the END of the overall interval (octets
    35-41, what wgrib2/eccodes report) — into time-sidecar rows;
    messages whose product template carries no forecast octets count
    as the reference time."""
    from wrf_to_geodataframe_spark.sources.grib2 import (
        Grib2Error,
        _parse_grid_template_3_0,
        _parse_grid_template_3_1,
        _parse_grid_template_3_30,
        _parse_grid_template_3_40,
        scan_grib2_offsets,
    )
    import struct

    parsers = {
        0: _parse_grid_template_3_0,
        1: _parse_grid_template_3_1,
        30: _parse_grid_template_3_30,
        40: _parse_grid_template_3_40,
    }
    rows, coords, times, seen = [], [], [], set()
    lt = 0
    with open(path, "rb") as fh:
        for _mi, off, mlen in scan_grib2_offsets(path):
            p = off + 16
            grid = param = None
            ref_ns = fcst_ns = end_ns = None
            while p < off + mlen:
                fh.seek(p)
                head = fh.read(5)
                if head[:4] == b"7777":
                    break
                (slen,) = struct.unpack_from(">I", head, 0)
                snum = head[4]
                if snum == 1 and with_times:
                    fh.seek(p)
                    s1 = fh.read(min(slen, 21))
                    y = struct.unpack_from(">H", s1, 12)[0]
                    ref_ns = int(np.datetime64(
                        f"{y:04d}-{s1[14]:02d}-{s1[15]:02d}"
                        f"T{s1[16]:02d}:{s1[17]:02d}:{s1[18]:02d}",
                        "ns",
                    ).astype("int64"))
                elif snum == 3:
                    fh.seek(p)
                    s3 = fh.read(slen)
                    (tmpl3,) = struct.unpack_from(">H", s3, 12)
                    if tmpl3 not in parsers:
                        raise Grib2Error(
                            f"{path}: grid template 3.{tmpl3} unsupported"
                        )
                    grid = parsers[tmpl3](s3[14:])
                elif snum == 4:
                    fh.seek(p)
                    s4 = fh.read(min(slen, 64))
                    (tmpl4,) = struct.unpack_from(">H", s4, 7)
                    if tmpl4 in (0, 1, 8):
                        param = f"{s4[9]}.{s4[10]}"
                        if with_times:
                            unit = s4[17]
                            if unit not in _GRIB2_TIME_UNITS_NS:
                                raise Grib2Error(
                                    f"{path}: time-range unit {unit} "
                                    "(code table 4.4) unsupported for "
                                    "the times sidecar"
                                )
                            fcst = struct.unpack_from(">i", s4, 18)[0]
                            fcst_ns = fcst * _GRIB2_TIME_UNITS_NS[unit]
                            if tmpl4 == 8:
                                # statistical/accumulation products:
                                # valid time is the END of the overall
                                # interval (octets 35-41), matching
                                # wgrib2/eccodes — ref+forecast is the
                                # interval START
                                if len(s4) < 41:
                                    raise Grib2Error(
                                        f"{path}: truncated product "
                                        "template 4.8 (need 41 octets "
                                        f"for the interval end, got "
                                        f"{len(s4)})"
                                    )
                                ey = struct.unpack_from(">H", s4, 34)[0]
                                end_ns = int(np.datetime64(
                                    f"{ey:04d}-{s4[36]:02d}-{s4[37]:02d}"
                                    f"T{s4[38]:02d}:{s4[39]:02d}"
                                    f":{s4[40]:02d}",
                                    "ns",
                                ).astype("int64"))
                elif snum == 7:
                    break  # data payload: stop the walk, never read
                p += slen
            if grid is None:
                raise Grib2Error(f"{path}: message without section 3")
            if var and param != var:
                continue
            if with_times:
                if ref_ns is None:
                    raise Grib2Error(
                        f"{path}: message without section 1 reference "
                        "time"
                    )
                times.append((
                    var or "", file_no, lt,
                    end_ns if end_ns is not None
                    else ref_ns + (fcst_ns or 0),
                ))
            lat, lon = _coord_grids(grid["lat"], grid["lon"])
            chash = _hash_grids(lat, lon)
            if chash not in seen:
                seen.add(chash)
                coords.append((chash, lat.shape[0], lat.shape[1],
                               lat.tobytes(), lon.tobytes()))
            nj, ni = lat.shape
            # the var column is the SELECTION key: rows carry the
            # requested selector (empty = every message, one shared
            # time axis in stored order), so an unfiltered index does
            # not split into per-param axes
            rows.append((
                path, var or "", file_no, -1, lt, lt + 1, 0, nj, 0, ni,
                off, mlen, 0, 1, nj, ni,
                "grib2", "[]", 0.0, chash, os.path.getsize(path), "{}",
            ))
            lt += 1
    if not rows:
        raise Grib2Error(f"{path}: no message matches {var!r}")
    # patch nt (index 3: file, var, file_no, nt) = #selected messages
    rows = [r[:3] + (lt,) + r[4:] for r in rows]
    return rows, coords, times


def build_virtual_manifest(
    spark,
    src: str | list[str],
    var: str,
    lat_var: str,
    lon_var: str,
    out_path: str,
    pattern: str = "*.nc",
    time_var: str | None = None,
) -> str:
    """Build and persist the virtual-dataset manifest for ``src`` (a
    directory, globbed with ``pattern`` in sorted-name order — the
    archive's time order — or an explicit ordered path list).  Writes
    ``out_path/chunks`` (the chunk table) and ``out_path/coords`` (the
    deduplicated coordinate sidecar).  Returns ``out_path``.

    ``time_var`` names each file's CF time coordinate (numeric
    ``units``-attributed values or a WRF 'Times' char array): it is
    decoded at INDEX time into an ``out_path/times`` sidecar (one row
    per global timestep — still metadata-sized), and ``read_virtual``
    then emits a real ``time`` timestamp column next to ``t_idx`` (the
    archive-scale counterpart of ``read_netcdf_grid(..., time_var=...)``).

    The metadata walk runs ON EXECUTORS (one task per file batch); the
    driver only lists file names.  Global time bounds are assigned with
    a cumulative-sum window over the O(#files) per-file lengths — a
    single-partition window over a frame that is tiny by construction,
    then broadcast-joined back onto the chunk rows."""
    files = (
        sorted(glob.glob(os.path.join(src, pattern)))
        if isinstance(src, str)
        else list(src)
    )
    if not files:
        raise ValueError(f"no input files under {src!r}")
    _index_files(
        spark, files, var, lat_var, lon_var, out_path, time_var=time_var
    )
    return out_path


def _time_offsets(triples, files):
    """``(var, file_no, t_off)`` rows from distinct ``(var, file_no,
    nt)`` triples: within each var the files, in ``file_no`` order,
    take consecutive slices of the global time axis starting at 0.  A
    triple without a var or a time length raises a ``ValueError``
    naming its file (``files[file_no]``)."""
    for v, fno, nt in triples:
        if v is None or nt is None:
            raise ValueError(
                f"{files[fno]}: indexed chunks have var={v!r}, nt={nt!r}; "
                "a manifest needs a variable name and a time length "
                "for every file"
            )
    off_rows, acc, cur_var = [], 0, None
    for v, fno, nt in sorted(triples):
        if v != cur_var:
            cur_var, acc = v, 0
        off_rows.append((v, fno, acc))
        acc += nt
    return off_rows


def _index_files(
    spark, files, var, lat_var, lon_var, out_path, time_var=None
):
    import pickle

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    sc = spark.sparkContext
    # Parallelize the file list into exactly the slice count the walk
    # needs (r18): a bare createDataFrame slices tiny lists over
    # defaultParallelism mostly-empty partitions and the old
    # repartition added an exchange on top — every downstream job then
    # carried a 32-task parallelize stage for a handful of files.
    # Positional slices spread the files as evenly as the old
    # file_no hash did.
    n_slices = max(1, min(len(files), sc.defaultParallelism * 2))
    fdf = spark.createDataFrame(
        sc.parallelize(list(enumerate(files)), n_slices),
        "file_no long, path string",
    )

    vars_ = [var] if isinstance(var, str) or var is None else list(var)

    def _scan_all(it):
        """ONE metadata walk per file, serialized per-file — the
        chunk/coords/times consumers below unpack from the persisted
        blobs instead of re-walking (a remote archive's header reads
        are the expensive part of indexing; without the persist, the
        offsets broadcast subtree and the three sidecar writes would
        each re-run the walk)."""
        for pdf in it:
            for row in pdf.itertuples(index=False):
                rows, coords, times = [], [], []
                for v in vars_:
                    r, c, t = _file_chunk_rows(
                        row.path, int(row.file_no), v, lat_var, lon_var,
                        time_var,
                    )
                    rows.extend(r)
                    coords.extend(c)
                    times.extend(t)
                yield pd.DataFrame(
                    {"blob": [pickle.dumps((rows, coords, times))]}
                )

    scanned = fdf.mapInPandas(_scan_all, "blob binary").persist(
        StorageLevel.MEMORY_AND_DISK
    )

    def _part(idx, columns):
        def _it(batches):
            for pdf in batches:
                for b in pdf["blob"]:
                    recs = pickle.loads(bytes(b))[idx]
                    if recs:
                        yield pd.DataFrame(recs, columns=columns)
        return _it

    try:
        chunks = scanned.mapInPandas(
            _part(0, [
                "file", "var", "file_no", "nt", "lt0", "lt1",
                "y0", "y1", "x0", "x1",
                "addr", "nbytes", "fmask", "ct", "cy", "cx",
                "dtype", "filters", "fill", "coord_hash",
                "fsize", "packing",
            ]),
            _CHUNK_SCHEMA,
        )
        # Per-(var, file) time offsets, computed DRIVER-SIDE from one
        # tiny collect over the persisted walk output (r18): the old
        # window-over-distinct subquery was re-planned and re-broadcast
        # as a separate job for EACH of the two sidecar writes that
        # join it.  The distinct (var, file_no, nt) set is
        # metadata-sized by construction (one row per file per var —
        # the same boundedness class as the times sidecar itself), and
        # this builder is already an eager indexing call, so the
        # collect does not change the laziness contract.
        off_rows = _time_offsets(
            [
                (r["var"], r["file_no"], r["nt"])
                for r in chunks.select("var", "file_no", "nt")
                .distinct()
                .collect()
            ],
            files,
        )
        offsets = spark.createDataFrame(
            sc.parallelize(off_rows, 1),
            "var string, file_no long, t_off long",
        )
        n_out = max(1, min(len(files), sc.defaultParallelism))
        (
            chunks.join(F.broadcast(offsets), ["var", "file_no"])
            .withColumn("t0", F.col("lt0") + F.col("t_off"))
            .withColumn("t1", F.col("lt1") + F.col("t_off"))
            .drop("lt0", "lt1", "nt", "t_off", "file_no")
            .repartitionByRange(n_out, "t0", "y0", "x0")
            .sortWithinPartitions("t0", "y0", "x0")
            .write.mode("overwrite")
            .parquet(os.path.join(out_path, "chunks"))
        )

        def _coords_it(batches):
            for pdf in batches:
                for b in pdf["blob"]:
                    cs = pickle.loads(bytes(b))[1]
                    if cs:
                        frame = pd.DataFrame(
                            cs,
                            columns=["coord_hash", "ny", "nx",
                                     "lat", "lon"],
                        )
                        frame["affine"] = None
                        yield frame

        # (r17 note: submitting the coords and times sidecar writes
        # CONCURRENTLY from a two-thread pool — guide §2.6 — was tried
        # and measured WORSE here (s1_virtual_time 5-sample median
        # 4.2 s -> 7.5 s): both jobs are tiny mapInPandas passes over
        # the same persisted walk output, and they contend for the
        # python-worker pool and the cache instead of back-filling a
        # tail that doesn't exist at this job size.  Sequential it
        # stays; §2.6 pays off when the overlapped jobs have real
        # task tails.)
        (
            scanned.mapInPandas(_coords_it, _COORD_SCHEMA)
            .dropDuplicates(["coord_hash"])
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out_path, "coords"))
        )
        if time_var is not None:
            (
                scanned.mapInPandas(
                    _part(2, ["var", "file_no", "lt", "time_ns"]),
                    "var string, file_no long, lt long, time_ns long",
                )
                .join(F.broadcast(offsets), ["var", "file_no"])
                .select(
                    "var",
                    (F.col("lt") + F.col("t_off")).alias("t"),
                    "time_ns",
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(out_path, "times"))
            )
    finally:
        scanned.unpersist()


def build_virtual_mosaic(
    spark,
    src: str | list[str],
    out_path: str,
    pattern: str = "*.tif",
    band: int = 0,
) -> str:
    """Virtual dataset over a GeoTIFF/COG MOSAIC — files that tile
    SPACE instead of time (the satellite/DEM distribution shape: one
    north-up COG per scene on a shared pixel grid).  Each tile/strip
    becomes one chunk whose y0/x0 are GLOBAL pixel coordinates (file
    placement derived from the affine transforms), so the same
    ``read_virtual`` window/bbox pruning that slices a time archive
    slices a continental raster; the time axis is a single step.

    Georeferencing is one AFFINE sidecar row (not per-pixel grids —
    a mosaic's lat/lon are closed-form), and the reader synthesizes
    coordinates arithmetically.  The mosaic origin is a 1-row
    bounded aggregate over per-file origins (the A1 bbox pattern);
    rotated transforms or mixed pixel sizes fail loudly.  Metadata
    parsing (IFD walk, KBs per COG of any size) runs ON EXECUTORS."""
    import pandas as pd
    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.sources.geotiff import (
        GeoTiffError,
        geotiff_info,
    )

    files = (
        sorted(glob.glob(os.path.join(src, pattern)))
        if isinstance(src, str)
        else list(src)
    )
    if not files:
        raise ValueError(f"no input files under {src!r}")
    sc = spark.sparkContext
    fdf = spark.createDataFrame(
        [(p,) for p in files], "path string"
    ).repartition(max(1, min(len(files), sc.defaultParallelism * 2)))

    def _scan_blocks(it):
        import mmap

        for pdf in it:
            for prow in pdf.itertuples(index=False):
                path = prow.path
                with open(path, "rb") as fh:
                    mm = mmap.mmap(
                        fh.fileno(), 0, access=mmap.ACCESS_READ
                    )
                    try:
                        info = geotiff_info(mm)
                    finally:
                        mm.close()
                a, b_, c, d_, e, f = info["transform"]
                if b_ != 0.0 or d_ != 0.0:
                    raise GeoTiffError(
                        f"{path}: rotated transform in mosaic"
                    )
                dec = json.dumps({"geotiff": {
                    "block_w": info["block_w"],
                    "block_h": info["block_h"],
                    "bands": info["bands"],
                    "dtype": info["dtype"],
                    "compression": info["compression"],
                    "predictor": info["predictor"],
                    "nodata": info["nodata"],
                    "band": band,
                }})
                fsize = os.path.getsize(path)
                h, w = info["height"], info["width"]
                bh, bw = info["block_h"], info["block_w"]
                rows = []
                for bi, (off, cnt) in enumerate(
                    zip(info["offsets"], info["counts"])
                ):
                    by, bx = divmod(bi, info["nbx"])
                    y0, x0 = by * bh, bx * bw
                    stored_rows = bh if info["tiled"] else min(
                        bh, h - y0
                    )
                    rows.append((
                        path, y0, min(y0 + bh, h), x0, min(x0 + bw, w),
                        off, cnt, stored_rows, bw,
                        dec, a, e, c, f, fsize,
                    ))
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "file", "ly0", "ly1", "lx0", "lx1",
                        "addr", "nbytes", "cy", "cx",
                        "filters", "px_w", "px_h", "wx", "wy",
                        "fsize",
                    ],
                )

    blocks = fdf.mapInPandas(
        _scan_blocks,
        "file string, ly0 long, ly1 long, lx0 long, lx1 long, "
        "addr long, nbytes long, cy long, cx long, "
        "filters string, px_w double, px_h double, "
        "wx double, wy double, fsize long",
    )
    # mosaic origin + pixel-size consistency: 1-row bounded aggregate
    org = blocks.agg(
        F.min("wx").alias("ox"),
        F.max("wy").alias("oy"),
        F.count_distinct("px_w", "px_h").alias("n_px"),
        F.first("px_w").alias("pw"),
        F.first("px_h").alias("ph"),
    ).collect()[0]
    if org["n_px"] != 1:
        raise ValueError("mosaic files disagree on pixel size")
    ox, oy, pw, ph = org["ox"], org["oy"], org["pw"], org["ph"]
    chash = "affine:" + hashlib.sha1(
        repr((pw, ph, ox, oy)).encode()
    ).hexdigest()

    n_out = max(1, min(len(files), sc.defaultParallelism))
    (
        blocks.withColumn(
            "gx", F.round((F.col("wx") - F.lit(ox)) / F.lit(pw))
            .cast("bigint")
        )
        .withColumn(
            "gy", F.round((F.col("wy") - F.lit(oy)) / F.lit(ph))
            .cast("bigint")
        )
        .select(
            "file",
            F.lit(f"band{band}").alias("var"),
            F.lit(0).cast("bigint").alias("t0"),
            F.lit(1).cast("bigint").alias("t1"),
            (F.col("ly0") + F.col("gy")).alias("y0"),
            (F.col("ly1") + F.col("gy")).alias("y1"),
            (F.col("lx0") + F.col("gx")).alias("x0"),
            (F.col("lx1") + F.col("gx")).alias("x1"),
            "addr", "nbytes",
            F.lit(0).cast("bigint").alias("fmask"),
            F.lit(1).cast("bigint").alias("ct"),
            "cy", "cx",
            F.lit("geotiff").alias("dtype"),
            "filters",
            F.lit(0.0).alias("fill"),
            F.lit(chash).alias("coord_hash"),
            "fsize",
            F.lit("{}").alias("packing"),
        )
        .repartitionByRange(n_out, "y0", "x0")
        .sortWithinPartitions("y0", "x0")
        .write.mode("overwrite")
        .parquet(os.path.join(out_path, "chunks"))
    )
    import pandas as pd  # noqa: F811 (driver-side tiny frame)

    spark.createDataFrame(
        pd.DataFrame(
            {
                "coord_hash": [chash],
                "ny": [0],
                "nx": [0],
                "lat": [None],
                "lon": [None],
                "affine": [[float(pw), float(ph), float(ox),
                            float(oy)]],
            }
        ),
        _COORD_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_path, "coords")
    )
    return out_path


def bbox_to_windows(
    spark,
    manifest_path: str,
    lat_range: tuple[float, float],
    lon_range: tuple[float, float],
) -> tuple[tuple[int, int] | None, tuple[int, int] | None]:
    """Convert a lat/lon bbox into the tightest (y_range, x_range)
    INDEX windows covering every grid cell inside it, by scanning the
    coordinate SIDECAR only — never the chunk table, never a data
    page.  This is P4's bbox filter (suite/spatial.py:60) lifted to
    archive scale: the returned windows feed ``read_virtual``, which
    prunes excluded chunks inside the parquet scan.  Returns
    ``(None, None)`` when no cell matches (the caller gets an
    empty-but-well-typed read via an impossible window).  With several
    distinct grids the windows are the union — conservative for all,
    exact for one.

    The per-grid window search runs ON EXECUTORS (an Arrow map over
    the sidecar rows followed by a 4-column min/max aggregate), so an
    archive of many DISTINCT curvilinear grids costs the driver O(1):
    only the final union row is ever collected."""
    import pandas as pd
    from pyspark.sql import functions as F

    coords = spark.read.parquet(os.path.join(manifest_path, "coords"))
    la0, la1 = float(lat_range[0]), float(lat_range[1])
    lo0, lo1 = float(lon_range[0]), float(lon_range[1])

    def _windows(it):
        import math

        for pdf in it:
            out = []
            for r in pdf.itertuples(index=False):
                if r.affine is not None:
                    pw, ph, ox, oy = r.affine
                    # sample-point convention (lon = ox + x*pw);
                    # ph < 0 for north-up, so the lat bounds swap
                    xa = math.ceil((lo0 - ox) / pw)
                    xb = math.floor((lo1 - ox) / pw)
                    ya = math.ceil((la1 - oy) / ph)
                    yb = math.floor((la0 - oy) / ph)
                    if ph > 0:
                        ya = math.ceil((la0 - oy) / ph)
                        yb = math.floor((la1 - oy) / ph)
                    if xa > xb or ya > yb:
                        continue
                    out.append((max(ya, 0), yb, max(xa, 0), xb))
                    continue
                lat = np.frombuffer(r.lat, "float64").reshape(r.ny, r.nx)
                lon = np.frombuffer(r.lon, "float64").reshape(r.ny, r.nx)
                inside = (
                    (lat >= la0) & (lat <= la1)
                    & (lon >= lo0) & (lon <= lo1)
                )
                ys, xs = np.nonzero(inside)
                if not ys.size:
                    continue
                out.append((int(ys.min()), int(ys.max()),
                            int(xs.min()), int(xs.max())))
            yield pd.DataFrame(
                out, columns=["ylo", "yhi", "xlo", "xhi"]
            )

    row = (
        coords.mapInPandas(
            _windows, "ylo long, yhi long, xlo long, xhi long"
        )
        .agg(
            F.min("ylo").alias("ylo"), F.max("yhi").alias("yhi"),
            F.min("xlo").alias("xlo"), F.max("xhi").alias("xhi"),
        )
        .collect()[0]
    )
    if row["ylo"] is None:
        return None, None
    return (
        (int(row["ylo"]), int(row["yhi"])),
        (int(row["xlo"]), int(row["xhi"])),
    )


def read_virtual(
    spark,
    manifest_path: str,
    time_range: tuple[int, int] | None = None,
    y_range: tuple[int, int] | None = None,
    x_range: tuple[int, int] | None = None,
    var: str | None = None,
    max_sidecar_bytes: int = 256 * 2**20,
    bbox: tuple | None = None,
):
    """Scan a virtual dataset built by ``build_virtual_manifest`` ->
    the engine's long grid table ``(file, var, t_idx, y_idx, x_idx,
    lat, lon, value)`` (plus ``time`` when the manifest has a times
    sidecar).  Ranges are INCLUSIVE index windows; each becomes a
    plain column predicate on the chunk table (pushed into the parquet
    scan — pruned chunks are never read, not even their manifest rows)
    plus an exact row-level trim inside the decode task.
    ``time_range`` also accepts TIMESTAMPS (ISO strings, datetime,
    numpy datetime64) when the manifest was built with ``time_var`` —
    converted through ``time_to_windows`` before pruning.
    ``bbox=(lat_range, lon_range)`` is the one-call spatial form:
    converted through ``bbox_to_windows`` (sidecar scan only) into
    the pruning y/x windows; a bbox touching no cell yields an
    empty-but-well-typed read.

    The coordinate sidecar is broadcast to the decode tasks; its size
    is measured executor-side first and reads exceeding
    ``max_sidecar_bytes`` fail loudly (many-distinct-grids archives
    should be split per grid or read per ``var``) rather than OOM the
    driver."""
    from pyspark.sql import functions as F

    if time_range is not None and not all(
        isinstance(b, (int, np.integer)) for b in time_range
    ):
        time_range = time_to_windows(
            spark, manifest_path, time_range, var=var
        )
    if bbox is not None:
        if y_range is not None or x_range is not None:
            raise ValueError("pass bbox OR y_range/x_range, not both")
        y_range, x_range = bbox_to_windows(
            spark, manifest_path, bbox[0], bbox[1]
        )
        if y_range is None:
            y_range = x_range = (-1, -1)  # no matching cell: empty read
    man = _with_packing(
        spark.read.parquet(os.path.join(manifest_path, "chunks"))
    )
    if var is not None:
        man = man.filter(F.col("var") == var)
    for (col0, col1), rng in (
        (("t0", "t1"), time_range),
        (("y0", "y1"), y_range),
        (("x0", "x1"), x_range),
    ):
        if rng is not None:
            lo, hi = int(rng[0]), int(rng[1])
            man = man.filter(
                (F.col(col1) > F.lit(lo)) & (F.col(col0) <= F.lit(hi))
            )

    bgrids = _broadcast_sidecar(spark, manifest_path, max_sidecar_bytes)
    bounds = (time_range, y_range, x_range)
    _scan = _chunk_scanner(bgrids, bounds)
    n = spark.sparkContext.defaultParallelism * 2
    out = man.repartition(n, "file", "t0", "y0", "x0").mapInPandas(
        _scan, _virtual_out_schema()
    )
    times = _try_read_times(spark, manifest_path)
    if times is not None:
        out = _with_time_column(out, times, var)
    return out


def _try_read_times(spark, manifest_path: str):
    """The ``times`` sidecar DataFrame (var, t, time_ns), or None for
    manifests built without ``time_var`` — probed with one parquet
    footer read, no filesystem-specific existence check."""
    from pyspark.errors.exceptions.captured import AnalysisException

    tdir = os.path.join(manifest_path, "times")
    if "://" not in str(manifest_path) and not os.path.isdir(tdir):
        return None  # cheap local check; avoids a logged JVM error
    try:
        return spark.read.parquet(tdir)
    except AnalysisException:
        return None


def _with_time_column(out, times, var):
    """LEFT-join the (small, broadcast) times sidecar onto the decoded
    grid rows on ``(var, t_idx)`` — each variable maps to its own
    axis, so multi-variable manifests with diverging axes stay
    unambiguous.  ``time`` is a microsecond timestamp; the sidecar
    keeps exact int64 ns."""
    from pyspark.sql import functions as F

    if var is not None:
        times = times.filter(F.col("var") == var)
    tm = times.select(
        "var", F.col("t").alias("t_idx"), "time_ns"
    ).distinct()
    time_col = F.timestamp_micros(F.expr("time_ns div 1000"))
    return (
        out.join(F.broadcast(tm), ["var", "t_idx"], "left")
        .withColumn("time", time_col)
        .select(
            "file", "var", "t_idx", "y_idx", "x_idx", "lat", "lon",
            "value", "time",
        )
    )


def time_to_windows(
    spark,
    manifest_path: str,
    time_range: tuple,
    var: str | None = None,
) -> tuple[int, int]:
    """Convert a TIMESTAMP range (inclusive; numpy datetime64,
    datetime, or ISO strings) into the tightest t-INDEX window
    covering it, by scanning the metadata-sized times sidecar only —
    the time-axis mirror of ``bbox_to_windows``.  Feed the result to
    ``read_virtual(time_range=...)``, which prunes excluded chunks
    inside the manifest parquet scan.  Returns ``(-1, -1)`` (an
    impossible window -> empty-but-well-typed read) when no timestep
    falls inside the range."""
    from pyspark.sql import functions as F

    times = _try_read_times(spark, manifest_path)
    if times is None:
        raise ValueError(
            f"{manifest_path}: manifest has no times sidecar — build "
            "with build_virtual_manifest(..., time_var=...)"
        )
    if var is not None:
        times = times.filter(F.col("var") == var)
    lo = int(np.datetime64(time_range[0], "ns").astype("int64"))
    hi = int(np.datetime64(time_range[1], "ns").astype("int64"))
    row = (
        times.filter(
            (F.col("time_ns") >= F.lit(lo))
            & (F.col("time_ns") <= F.lit(hi))
        )
        .agg(F.min("t").alias("lo"), F.max("t").alias("hi"))
        .collect()[0]
    )
    if row["lo"] is None:
        return (-1, -1)
    return (int(row["lo"]), int(row["hi"]))


def _with_packing(df):
    """Backward compat for manifests written before the ``packing``
    column existed: read them as unpacked (their build-time
    semantics) instead of failing on the missing column."""
    from pyspark.sql import functions as F

    if "packing" not in df.columns:
        df = df.withColumn("packing", F.lit("{}"))
    return df


def _broadcast_sidecar(spark, manifest_path: str, max_sidecar_bytes: int):
    """Collect + broadcast the coordinate sidecar as {coord_hash ->
    ("affine", params) | ("grid", lat, lon)}.  Size guard first: the
    sidecar is normally KBs (shared-grid archives dedupe to a handful
    of rows), but an archive of many DISTINCT large curvilinear grids
    would make it O(#grids x ny x nx x 16 B) — measured executor-side
    and rejected with a NAMED error before materializing anything
    driver-sized."""
    from pyspark.sql import functions as F

    coords_df = spark.read.parquet(os.path.join(manifest_path, "coords"))
    stats = coords_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.coalesce(F.length("lat"), F.lit(0))
            + F.coalesce(F.length("lon"), F.lit(0))
        ).alias("nbytes"),
    ).collect()[0]
    sidecar_bytes = int(stats["nbytes"] or 0)
    if sidecar_bytes > max_sidecar_bytes:
        raise ValueError(
            f"{manifest_path}: coordinate sidecar is "
            f"{sidecar_bytes / 2**20:.0f} MiB across {stats['n']} "
            "distinct grids — too large to broadcast (cap "
            f"{max_sidecar_bytes / 2**20:.0f} MiB).  Select one "
            "variable (var=...), split the archive into per-grid "
            "manifests, or raise max_sidecar_bytes explicitly."
        )
    grids = {}
    for r in coords_df.collect():
        if r["affine"] is not None:
            grids[r["coord_hash"]] = (
                "affine", np.asarray(r["affine"], "float64"),
            )
        else:
            grids[r["coord_hash"]] = (
                "grid",
                np.frombuffer(r["lat"], "float64").reshape(
                    r["ny"], r["nx"]
                ),
                np.frombuffer(r["lon"], "float64").reshape(
                    r["ny"], r["nx"]
                ),
            )
    return spark.sparkContext.broadcast(grids)


def _chunk_scanner(bgrids, bounds):
    """The per-task chunk decoder of ``read_virtual``: manifest rows
    in, long grid rows out, byte-range reads against the indexed
    files."""
    import pandas as pd

    from wrf_to_geodataframe_spark.sources.grib2 import read_grib2_bytes
    from wrf_to_geodataframe_spark.sources.hdf5 import decode_chunk_pipeline
    from wrf_to_geodataframe_spark.sources.netcdf import cf_mask_and_scale

    def _scan(it):
        grids = bgrids.value
        trange, yrange, xrange_ = bounds
        handles: dict[str, object] = {}
        fcache: dict[str, list] = {}
        pcache: dict[str, dict] = {}

        def _open(file, fsize):
            """Stale-manifest guard: byte offsets are only valid for
            the exact file that was indexed — a rewritten file must
            fail LOUDLY, not decode garbage.  Opens through fsio, so
            a manifest whose ``file`` column carries object-store
            URLs reads wherever the archive lives (index once on a
            POSIX view, serve byte ranges from anywhere)."""
            from wrf_to_geodataframe_spark.sources import fsio

            fh = handles.get(file)
            if fh is None:
                actual = fsio.getsize(file)
                if actual != int(fsize):
                    raise ValueError(
                        f"{file}: size {actual} != {int(fsize)} at "
                        "index time — file changed since the manifest "
                        "was built; re-run build_virtual_manifest"
                    )
                fh = handles[file] = fsio.open_binary(file)
            return fh

        try:
            for pdf in it:
                for row in pdf.itertuples(index=False):
                    csh = (int(row.ct), int(row.cy), int(row.cx))
                    nchunk = csh[0] * csh[1] * csh[2]
                    if row.dtype == "grib2":
                        fh = _open(row.file, row.fsize)
                        fh.seek(int(row.addr))
                        msg = read_grib2_bytes(
                            fh.read(int(row.nbytes)), name=row.file
                        )[0]
                        carr = msg["values"][None, ...].astype("float64")
                    elif row.dtype == "geotiff":
                        from wrf_to_geodataframe_spark.sources.geotiff import (  # noqa: E501
                            _decode_block,
                        )

                        meta = json.loads(row.filters)["geotiff"]
                        fh = _open(row.file, row.fsize)
                        fh.seek(int(row.addr))
                        raw = fh.read(int(row.nbytes))
                        arr = _decode_block(raw, meta, int(row.cy))
                        carr = arr[:, :, meta["band"]][None, ...].astype(
                            "float64"
                        )
                        if meta["nodata"] is not None:
                            carr = carr.copy()
                            carr[carr == meta["nodata"]] = np.nan
                    elif row.addr >= 0:
                        dt = np.dtype(row.dtype)
                        fh = _open(row.file, row.fsize)
                        fh.seek(int(row.addr))
                        raw = fh.read(int(row.nbytes))
                        filt = fcache.get(row.filters)
                        if filt is None:
                            filt = fcache[row.filters] = [
                                (fid, tuple(cd))
                                for fid, cd in json.loads(row.filters)
                            ]
                        if filt:
                            raw = decode_chunk_pipeline(
                                raw, filt, dt.itemsize, nchunk,
                                int(row.fmask),
                            )
                        carr = np.frombuffer(raw, dt, count=nchunk)
                        carr = carr.reshape(csh).astype(
                            dt.newbyteorder("="), copy=False
                        )
                    else:  # unwritten chunk: fill, native byte order
                        carr = np.full(
                            csh, row.fill,
                            np.dtype(row.dtype).newbyteorder("="),
                        )
                    pk = getattr(row, "packing", "{}") or "{}"
                    if pk != "{}":
                        attrs = pcache.get(pk)
                        if attrs is None:
                            attrs = pcache[pk] = json.loads(pk)
                        carr = np.asarray(cf_mask_and_scale(carr, attrs))
                    t0, y0, x0 = int(row.t0), int(row.y0), int(row.x0)
                    nt = int(row.t1) - t0
                    ny = int(row.y1) - y0
                    nx = int(row.x1) - x0
                    block = carr[:nt, :ny, :nx]
                    g = grids.get(row.coord_hash)
                    if g is None:
                        raise ValueError(
                            f"{row.file}: coordinate grid "
                            f"{row.coord_hash} is not in the sidecar "
                            "snapshot — the manifest gained a new grid "
                            "after this read was defined; "
                            "restart it to pick up the new sidecar"
                        )
                    yy, xx = np.meshgrid(
                        np.arange(ny) + y0, np.arange(nx) + x0,
                        indexing="ij",
                    )
                    yf, xf = yy.ravel(), xx.ravel()
                    if g[0] == "affine":
                        pw, ph, ox_, oy_ = g[1]
                        lat_c = oy_ + yf * ph
                        lon_c = ox_ + xf * pw
                    else:
                        _, lat_g, lon_g = g
                        lat_c = lat_g[y0:y0 + ny, x0:x0 + nx].ravel()
                        lon_c = lon_g[y0:y0 + ny, x0:x0 + nx].ravel()
                    mask = np.ones(ny * nx, bool)
                    if yrange is not None:
                        mask &= (yf >= yrange[0]) & (yf <= yrange[1])
                    if xrange_ is not None:
                        mask &= (xf >= xrange_[0]) & (xf <= xrange_[1])
                    for rel_t in range(nt):
                        t = t0 + rel_t
                        if trange is not None and not (
                            trange[0] <= t <= trange[1]
                        ):
                            continue
                        yield pd.DataFrame({
                            "file": row.file,
                            "var": row.var,
                            "t_idx": np.full(int(mask.sum()), t, "int64"),
                            "y_idx": yf[mask].astype("int64"),
                            "x_idx": xf[mask].astype("int64"),
                            "lat": lat_c[mask],
                            "lon": lon_c[mask],
                            "value": block[rel_t].ravel()[mask].astype(
                                "float64"
                            ),
                        })
        finally:
            for fh in handles.values():
                fh.close()

    return _scan
