"""NetCDF-3 classic scan + sink (SURVEY.md §2 S1/S4;
``xr.open_dataset`` at wrf_voronoi.py:115, ``to_netcdf`` at
delphine/regrid.py:330).

Pure-numpy implementation of the NetCDF classic format (CDF-1/CDF-2,
big-endian; the format every WRF/HadUK file in the reference's workflow
can be converted to).  The reader returns plain numpy arrays; the
ingest helper unnests a 2-D grid variable into the engine's long-table
shape with explicit (y_idx, x_idx) keys (C1) — ravel-order alignment
never leaves this module (SURVEY.md §1.3).

Scale path: one driver-side read is fine for a single model file
(``read_netcdf_grid``); a DIRECTORY of files — the real shape of a
WRF/HadUK archive, one file per timestep/member — distributes via
``read_netcdf_dir``: ``spark.read.format("binaryFile")`` (one split
per file; .nc is not block-splittable) + ``mapInPandas`` running the
same pure-numpy parser inside each executor task, emitting the long
(file, t_idx, y_idx, x_idx, lat, lon, value) table.  No file content
ever crosses the driver; at 100 TB the parallelism unit is the file,
exactly as with WARC archives (sources/warc.py).
"""

from __future__ import annotations

import struct

import numpy as np

_NC_BYTE, _NC_CHAR, _NC_SHORT, _NC_INT, _NC_FLOAT, _NC_DOUBLE = 1, 2, 3, 4, 5, 6
_DTYPES = {
    _NC_BYTE: np.dtype(">i1"),
    _NC_CHAR: np.dtype("S1"),
    _NC_SHORT: np.dtype(">i2"),
    _NC_INT: np.dtype(">i4"),
    _NC_FLOAT: np.dtype(">f4"),
    _NC_DOUBLE: np.dtype(">f8"),
}
_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 4, 6: 8}
_ABSENT = 0
_NC_DIMENSION, _NC_VARIABLE, _NC_ATTRIBUTE = 0x0A, 0x0B, 0x0C


def _pad4(n: int) -> int:
    return (n + 3) & ~3


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def i4(self) -> int:
        (v,) = struct.unpack_from(">i", self.buf, self.pos)
        self.pos += 4
        return v

    def i8(self) -> int:
        (v,) = struct.unpack_from(">q", self.buf, self.pos)
        self.pos += 8
        return v

    def name(self) -> str:
        n = self.i4()
        s = self.buf[self.pos:self.pos + n].decode("utf-8")
        self.pos += _pad4(n)
        return s

    def values(self, nc_type: int, n: int):
        nbytes = _SIZES[nc_type] * n
        raw = self.buf[self.pos:self.pos + nbytes]
        self.pos += _pad4(nbytes)
        if nc_type == _NC_CHAR:
            return raw.decode("utf-8", errors="replace")
        return np.frombuffer(raw, dtype=_DTYPES[nc_type], count=n)


def read_netcdf(path: str) -> dict:
    """Parse a NetCDF-3 classic file -> {dims, attrs, variables} where
    variables maps name -> {dims, attrs, data (numpy, native order)}."""
    with open(path, "rb") as f:
        buf = f.read()
    return read_netcdf_bytes(buf, name=path)


def _parse_header(buf: bytes, name: str = "<bytes>") -> dict:
    """Parse ONLY the classic-format header -> {cdf2, numrecs, dims
    (list of (name, size)), attrs, entries (list of (name, dimids,
    attrs, nc_type, begin)), rec_dim, recsize}.  Needs just the header
    bytes, not the whole file — the slab-parallel single-file source
    (``read_netcdf_slabs``) feeds it a bounded prefix read."""
    if buf[:3] != b"CDF" or buf[3] not in (1, 2):
        raise ValueError(f"{name}: not a NetCDF classic (CDF-1/CDF-2) file")
    cdf2 = buf[3] == 2
    r = _Reader(buf)
    r.pos = 4
    numrecs = r.i4()

    def read_dims():
        tag, n = r.i4(), r.i4()
        out = []
        if tag == _ABSENT:
            return out
        assert tag == _NC_DIMENSION
        for _ in range(n):
            out.append((r.name(), r.i4()))
        return out

    def read_attrs():
        tag, n = r.i4(), r.i4()
        out = {}
        if tag == _ABSENT:
            return out
        assert tag == _NC_ATTRIBUTE
        for _ in range(n):
            nm = r.name()
            t = r.i4()
            cnt = r.i4()
            out[nm] = r.values(t, cnt)
        return out

    dims = read_dims()
    gatts = read_attrs()
    tag, nvars = r.i4(), r.i4()
    order: list[tuple] = []
    if tag != _ABSENT:
        assert tag == _NC_VARIABLE
        for _ in range(nvars):
            nm = r.name()
            ndims = r.i4()
            dimids = [r.i4() for _ in range(ndims)]
            vatts = read_attrs()
            t = r.i4()
            _vsize = r.i4()
            begin = r.i8() if cdf2 else r.i4()
            order.append((nm, dimids, vatts, t, begin))

    rec_dim = next((i for i, (_, sz) in enumerate(dims) if sz == 0), None)
    # record-variable slab size per record (padded per spec when >1 var)
    recvars = [v for v in order if rec_dim is not None and v[1][:1] == [rec_dim]]
    recsize = sum(
        _pad4(
            _SIZES[t]
            * int(np.prod([dims[d][1] for d in dimids[1:]], initial=1))
        )
        for (_, dimids, _, t, _) in recvars
    )
    return {
        "cdf2": cdf2,
        "numrecs": numrecs,
        "dims": dims,
        "attrs": gatts,
        "entries": order,
        "rec_dim": rec_dim,
        "recsize": recsize,
        "n_recvars": len(recvars),
    }


def read_netcdf_bytes(buf: bytes, name: str = "<bytes>") -> dict:
    """``read_netcdf`` over an in-memory buffer — the executor-side
    entry point of the distributed source (``read_netcdf_dir``), where
    file content arrives as a ``binaryFile`` row, not a local path."""
    hdr = _parse_header(buf, name=name)
    dims = hdr["dims"]
    gatts = hdr["attrs"]
    numrecs = hdr["numrecs"]
    rec_dim = hdr["rec_dim"]
    recsize = hdr["recsize"]
    recvars_n = hdr["n_recvars"]
    variables: dict[str, dict] = {}
    for nm, dimids, vatts, t, begin in hdr["entries"]:
        shape = [dims[d][1] for d in dimids]
        is_rec = rec_dim is not None and dimids and dimids[0] == rec_dim
        if is_rec:
            shape[0] = numrecs
            per_rec = int(np.prod(shape[1:], initial=1))
            step = recsize if recvars_n > 1 else _SIZES[t] * per_rec
            parts = [
                np.frombuffer(buf, dtype=_DTYPES[t], count=per_rec,
                              offset=begin + rec * step)
                for rec in range(numrecs)
            ]
            data = (
                np.stack(parts).reshape(shape)
                if parts
                else np.empty(shape, _DTYPES[t])
            )
        else:
            count = int(np.prod(shape, initial=1))
            data = np.frombuffer(buf, dtype=_DTYPES[t], count=count, offset=begin)
            data = data.reshape(shape)
        variables[nm] = {
            "dims": [dims[d][0] for d in dimids],
            "attrs": vatts,
            "data": data.astype(data.dtype.newbyteorder("=")),
        }
    return {"dims": dict(dims), "attrs": gatts, "variables": variables}


def write_netcdf(path: str, dims: dict[str, int], variables: dict[str, dict],
                 gattrs: dict | None = None) -> None:
    """Write a NetCDF-3 classic (CDF-1) file.

    ``variables``: name -> {dims: [names], data: numpy array}.  A
    dimension with size 0 is the RECORD (unlimited) dimension;
    variables whose first dimension is the record dimension are
    written in the spec's interleaved record layout (per-record slabs,
    4-byte padded when more than one record variable exists).
    ``gattrs``: optional GLOBAL attributes (the WRF projection /
    provenance block: MAP_PROJ, TRUELAT1/2, STAND_LON, …).  The S4
    sink: collect the (small, re-densified C3) result grid and persist.
    """
    dim_names = list(dims)
    dim_ids = {n: i for i, n in enumerate(dim_names)}
    rec_id = next((i for i, n in enumerate(dim_names) if dims[n] == 0), None)

    def enc_name(s: str) -> bytes:
        b = s.encode("utf-8")
        return struct.pack(">i", len(b)) + b + b"\x00" * (_pad4(len(b)) - len(b))

    np_to_nc = {
        np.dtype("S1"): _NC_CHAR,  # WRF 'Times' char arrays
        np.dtype("int8"): _NC_BYTE,
        np.dtype("int16"): _NC_SHORT,
        np.dtype("int32"): _NC_INT,
        np.dtype("float32"): _NC_FLOAT,
        np.dtype("float64"): _NC_DOUBLE,
    }

    def enc_attrs(attrs: dict) -> bytes:
        """NC_ATTRIBUTE list: strings as NC_CHAR, python ints as
        NC_INT (range-checked), floats as NC_DOUBLE, numpy values as
        their own type — the CF packing attributes
        (scale_factor/_FillValue/units) the reader mask-and-scales."""
        if not attrs:
            return struct.pack(">ii", _ABSENT, 0)
        out = struct.pack(">ii", _NC_ATTRIBUTE, len(attrs))
        for k, v in attrs.items():
            out += enc_name(k)
            if isinstance(v, str):
                b = v.encode("utf-8")
                out += struct.pack(">ii", _NC_CHAR, len(b))
                out += b + b"\x00" * (_pad4(len(b)) - len(b))
                continue
            if isinstance(v, (int, np.integer)) and not isinstance(
                v, np.generic
            ):
                if not -(2**31) <= int(v) < 2**31:
                    raise ValueError(
                        f"attr {k!r}: int {v} exceeds NC_INT range"
                    )
                arr = np.array([v], dtype=">i4")
            elif isinstance(v, float):
                arr = np.array([v], dtype=">f8")
            else:
                arr = np.atleast_1d(np.asarray(v))
            nat = arr.dtype.newbyteorder("=")
            if nat not in np_to_nc:
                raise ValueError(
                    f"attr {k!r}: unsupported dtype {arr.dtype}"
                )
            nc_t = np_to_nc[nat]
            raw = arr.astype(_DTYPES[nc_t]).tobytes()
            out += struct.pack(">ii", nc_t, arr.size)
            out += raw + b"\x00" * (_pad4(len(raw)) - len(raw))
        return out

    fixed, recs = [], []
    var_attrs: dict[str, bytes] = {}
    numrecs = 0
    for nm, spec in variables.items():
        arr = np.ascontiguousarray(spec["data"])
        nc_t = np_to_nc[arr.dtype.newbyteorder("=")]
        var_attrs[nm] = enc_attrs(spec.get("attrs", {}))
        vdims = list(spec["dims"])
        is_rec = (
            rec_id is not None and vdims and dim_ids[vdims[0]] == rec_id
        )
        if is_rec:
            if numrecs not in (0, arr.shape[0]):
                raise ValueError(
                    f"{nm}: record count {arr.shape[0]} != {numrecs}"
                )
            numrecs = arr.shape[0]
            slab = arr.nbytes // max(arr.shape[0], 1)
            recs.append((nm, vdims, nc_t, arr, _pad4(slab)))
        else:
            fixed.append((nm, vdims, nc_t, arr, _pad4(arr.nbytes)))
    entries = fixed + recs

    header = b"CDF\x01" + struct.pack(">i", numrecs)
    header += struct.pack(">ii", _NC_DIMENSION, len(dim_names))
    for n in dim_names:
        header += enc_name(n) + struct.pack(">i", dims[n])
    header += enc_attrs(gattrs or {})  # global attribute list

    # var header size must be known to compute begins: build twice
    def var_header(begin_map):
        out = struct.pack(">ii", _NC_VARIABLE, len(entries))
        for nm, vdims, nc_t, _arr, vsize in entries:
            out += enc_name(nm)
            out += struct.pack(">i", len(vdims))
            for d in vdims:
                out += struct.pack(">i", dim_ids[d])
            out += var_attrs[nm]
            out += struct.pack(">iii", nc_t, vsize, begin_map[nm])
        return out

    zero = {nm: 0 for nm, *_ in entries}
    base = len(header) + len(var_header(zero))
    begins = {}
    off = base
    for nm, _vdims, _t, _arr, vsize in fixed:
        begins[nm] = off
        off += vsize
    # record-variable begins point into the FIRST record; the single-
    # record-variable case packs records tightly (no inter-record pad,
    # matching the reader's step = elem * per_rec)
    for nm, _vdims, nc_t, arr, vsize in recs:
        begins[nm] = off
        off += vsize
    blob = bytearray(header + var_header(begins))
    for nm, _vdims, nc_t, arr, vsize in fixed:
        raw = arr.astype(_DTYPES[nc_t]).tobytes()
        blob += raw + b"\x00" * (vsize - len(raw))
    if recs:
        pad_slabs = len(recs) > 1
        for rec in range(numrecs):
            for nm, _vdims, nc_t, arr, vsize in recs:
                # np.asarray: a 1-D record var yields a SCALAR at
                # arr[rec], and scalar .astype silently drops the
                # big-endian byte order
                raw = np.asarray(arr[rec]).astype(_DTYPES[nc_t]).tobytes()
                blob += raw
                if pad_slabs:
                    blob += b"\x00" * (vsize - len(raw))
    with open(path, "wb") as f:
        f.write(bytes(blob))


def read_netcdf_grid(
    spark,
    path: str,
    var: str,
    lat_var: str,
    lon_var: str,
    time_index: int | None = None,
    time_var: str | None = None,
):
    """S1 ingest: NetCDF grid variable -> long DataFrame with explicit
    (y_idx, x_idx) integer keys + coord + value columns (the engine's
    data model, SURVEY.md §1.1; parameterized names per the
    haduk_voronoi.py:22-29 contract).  Accepts classic (CDF-1/2) AND
    NetCDF-4/HDF5 files — dispatch on magic bytes (sources/hdf5.py).
    ``time_var`` names a CF time coordinate to decode into a ``time``
    timestamp column (xarray's decode_cf parity)."""
    from wrf_to_geodataframe_spark.sources.hdf5 import read_netcdf_any

    import pandas as pd

    ds = read_netcdf_any(path)
    frames = list(
        _unnest_grid(ds, var, lat_var, lon_var, time_index, time_var)
    )
    pdf = pd.concat(frames, ignore_index=True)
    if time_var is None:
        pdf = pdf.drop(columns=["t_idx"])
    return spark.createDataFrame(pdf)


def decode_cf_time_values(data: "np.ndarray", attrs: dict) -> "np.ndarray":
    """Decode one CF time coordinate's values + attributes ->
    datetime64[ns], without needing a whole-dataset dict — the entry
    point the virtual layer's index-time axis decoding uses.  Fixed
    HDF5 strings (``S19`` 1-D) normalize to the classic (n, strlen)
    ``S1`` shape so the WRF 'Times' branch handles both layouts."""
    data = np.asarray(data)
    if data.dtype.kind == "S" and data.dtype.itemsize > 1 and data.ndim == 1:
        data = data.view("S1").reshape(data.shape[0], data.dtype.itemsize)
    return _cf_time_axis(
        {"variables": {"t": {"data": data, "attrs": attrs or {}}}}, "t"
    )


def _cf_time_axis(ds: dict, time_var: str) -> "np.ndarray":
    """Decode a CF time coordinate variable (``units`` [+
    ``calendar``] attributes) -> datetime64[ns] axis (functions/
    cftime.py — the half of ``xr.open_dataset`` that isn't the array
    read)."""
    from wrf_to_geodataframe_spark.functions.cftime import (
        cf_times_to_datetime64,
    )

    tv = ds["variables"][time_var]
    data = np.asarray(tv["data"])
    if data.dtype.kind == "S" and data.ndim == 2:
        # the WRF 'Times' convention: a (Time, DateStrLen) char array
        # of 'YYYY-MM-DD_HH:MM:SS' strings, no CF units attribute —
        # the OTHER time encoding every real WRF output carries
        # besides numeric XTIME
        out = np.empty(data.shape[0], dtype="datetime64[ns]")
        for i, row in enumerate(data):
            s = b"".join(row).decode("ascii", "strict").strip("\x00 ")
            try:
                out[i] = np.datetime64(s.replace("_", "T"), "ns")
            except ValueError as exc:
                raise ValueError(
                    f"{time_var}[{i}]: unparseable WRF time {s!r}"
                ) from exc
        return out
    attrs = tv.get("attrs", {})
    units = attrs.get("units")
    if isinstance(units, np.ndarray):
        units = "".join(units.astype(str))
    if not isinstance(units, str):
        raise ValueError(f"{time_var}: no CF units attribute")
    calendar = attrs.get("calendar", "standard")
    if isinstance(calendar, np.ndarray):
        calendar = "".join(calendar.astype(str))
    return cf_times_to_datetime64(data, units, calendar)


def _attr_scalar(attrs: dict, *names) -> float | None:
    for n in names:
        if n in attrs:
            v = np.asarray(attrs[n]).ravel()
            if v.size:
                return float(v[0])
    return None


def cf_mask_and_scale(arr: "np.ndarray", attrs: dict) -> "np.ndarray":
    """CF packing decode — the mask-and-scale half of
    ``xr.open_dataset`` the reference relies on (xarray defaults
    ``mask_and_scale=True``): ``_Unsigned = "true"`` reinterprets
    signed storage as unsigned (the NC_BYTE convention; the signed
    ``_FillValue`` attribute shifts with it), fill/missing values
    (compared on the RAW stored integers, per CF) become NaN, then
    ``value = raw * scale_factor + add_offset``.  A no-op (and
    dtype-preserving) when none of the attributes are present."""
    sf = _attr_scalar(attrs, "scale_factor")
    ao = _attr_scalar(attrs, "add_offset")
    fv = _attr_scalar(attrs, "_FillValue", "missing_value")
    uns = attrs.get("_Unsigned") if attrs else None
    if isinstance(uns, np.ndarray):
        uns = "".join(uns.astype(str))
    if isinstance(uns, bytes):
        uns = uns.decode("ascii", "replace")
    a = np.asarray(arr)
    unsigned = (
        isinstance(uns, str) and uns.lower() == "true"
        and a.dtype.kind == "i"
    )
    if unsigned:
        a = np.ascontiguousarray(a).view(a.dtype.str.replace("i", "u"))
        if fv is not None and fv < 0:
            fv += float(2 ** (8 * a.dtype.itemsize))
    if sf is None and ao is None and fv is None:
        return a if unsigned else arr
    out = np.asarray(a, dtype="float64")
    if fv is not None:
        out = np.where(np.asarray(a, "float64") == fv, np.nan, out)
    if sf is not None:
        out = out * sf
    if ao is not None:
        out = out + ao
    return out


def _unnest_grid(ds: dict, var: str, lat_var: str, lon_var: str,
                 time_index: int | None, time_var: str | None = None):
    """Yield one pandas frame per time slice of ``var`` with columns
    (t_idx, y_idx, x_idx, lat, lon, value).  2-D variables yield one
    frame with t_idx 0; 3-D variables yield every record (or just
    ``time_index`` when given).  When ``time_var`` names a CF time
    coordinate, each frame additionally carries the decoded ``time``
    timestamp.  CF packing attributes (scale_factor/add_offset/
    _FillValue/missing_value) are applied per variable, matching
    xarray's default mask-and-scale.  Shared by the driver-side
    ``read_netcdf_grid`` and the executor-side ``read_netcdf_dir``."""
    import pandas as pd

    times = _cf_time_axis(ds, time_var) if time_var else None

    def _scaled(name):
        spec = ds["variables"][name]
        return cf_mask_and_scale(spec["data"], spec.get("attrs", {}))

    v = _scaled(var)
    lat = _scaled(lat_var)
    lon = _scaled(lon_var)
    if lat.ndim == 1 and lon.ndim == 1:  # rectilinear: broadcast to 2-D
        lon, lat = np.meshgrid(lon, lat)
    if v.ndim == 2:
        slices = [(0, v)]
    elif time_index is not None:
        from wrf_to_geodataframe_spark.sources.chunkscan import check_grid

        check_grid(var, v.shape, time_index)
        slices = [(time_index, v[time_index])]
    else:
        slices = list(enumerate(v))
    ny, nx = slices[0][1].shape
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    y_flat = yy.ravel().astype("int64")
    x_flat = xx.ravel().astype("int64")
    lat_flat = lat.ravel().astype("float64")
    lon_flat = lon.ravel().astype("float64")
    for t, sl in slices:
        frame = pd.DataFrame(
            {
                "t_idx": np.full(ny * nx, t, dtype="int64"),
                "y_idx": y_flat,
                "x_idx": x_flat,
                "lat": lat_flat,
                "lon": lon_flat,
                "value": sl.ravel().astype("float64"),
            }
        )
        if times is not None:
            frame.insert(
                1, "time",
                np.full(ny * nx, times[t], dtype="datetime64[ns]"),
            )
        yield frame


def _grid_fields(value_cols, time_col: int | None = None):
    """(file, t_idx, y_idx, x_idx, lat, lon, *value_cols) schema, with
    a ``time`` timestamp inserted at field ``time_col`` when given."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    fields = (
        [StructField("file", StringType())]
        + [StructField(c, LongType()) for c in ("t_idx", "y_idx", "x_idx")]
        + [StructField(c, DoubleType()) for c in ("lat", "lon", *value_cols)]
    )
    if time_col is not None:
        fields.insert(time_col, StructField("time", TimestampType()))
    return StructType(fields)


def _decode_netcdf_files(files, var: str, lat_var: str, lon_var: str,
                         time_index: int | None = None,
                         time_var: str | None = None):
    """The per-file decode behind ``read_netcdf_dir`` AND its stream
    mirror: a (path, content) ``binaryFile`` frame — batch or
    streaming — becomes the long table (file, t_idx, [time,] y_idx,
    x_idx, lat, lon, value), each executor task running the pure-numpy
    classic/HDF5 parser (``read_netcdf_any_bytes``) on its files."""

    def _batches(it):
        from wrf_to_geodataframe_spark.sources.hdf5 import (
            read_netcdf_any_bytes,
        )

        for pdf in it:
            for fname, buf in zip(pdf["path"], pdf["content"]):
                ds = read_netcdf_any_bytes(bytes(buf), name=fname)
                for frame in _unnest_grid(
                    ds, var, lat_var, lon_var, time_index, time_var
                ):
                    frame.insert(0, "file", fname)
                    yield frame

    schema = _grid_fields(["value"], 2 if time_var is not None else None)
    return files.select("path", "content").mapInPandas(_batches, schema)


def read_netcdf_dir(
    spark,
    path: str,
    var: str,
    lat_var: str,
    lon_var: str,
    time_index: int | None = None,
    time_var: str | None = None,
):
    """Distributed S1 over a DIRECTORY (or glob) of NetCDF files — the
    100-TB shape of ``xr.open_dataset`` at wrf_voronoi.py:115, where a
    model archive is thousands of per-timestep ``.nc`` shards.
    ``time_var`` adds a CF-decoded ``time`` timestamp column
    (executor-side decode, functions/cftime.py).

    ``binaryFile`` scan (one split per file — NetCDF is not
    block-splittable, matching how such archives shard in practice) ->
    ``_decode_netcdf_files``.  Emits the long table
    (file string, t_idx, y_idx, x_idx, lat, lon, value) — the engine's
    explicit-keys data model (SURVEY.md §1.1/§1.3) with the source
    file kept as a column so per-shard provenance survives the unnest.
    Nothing data-sized ever touches the driver."""
    return _decode_netcdf_files(
        spark.read.format("binaryFile").load(path),
        var, lat_var, lon_var, time_index, time_var,
    )


def _shard_time(ds: dict, fname: str, time_var: str):
    """The ONE decoded timestamp of a one-timestep shard's
    ``time_var`` (WRF ``Times`` chars or a CF numeric coordinate);
    a named error on any other step count."""
    import pandas as pd

    if time_var not in ds["variables"]:
        raise ValueError(f"{fname}: no time variable {time_var!r}")
    tv = ds["variables"][time_var]
    tns = decode_cf_time_values(np.asarray(tv["data"]), tv.get("attrs", {}))
    if tns.shape[0] != 1:
        raise ValueError(
            f"{fname}: {tns.shape[0]} timesteps in {time_var!r}; "
            "stream_netcdf_dir_many(time_var=...) requires "
            "one-timestep-per-shard archives"
        )
    return pd.Timestamp(tns[0])


def _decode_netcdf_files_many(files, variables: list[str], lat_var: str,
                              lon_var: str, time_var: str | None = None):
    """The per-file decode behind ``read_netcdf_dir_many`` AND its
    stream mirror: each shard is parsed ONCE and every requested
    variable becomes its own column.  ``time_var`` (stream mirror
    only) stamps every row with the shard's single decoded timestamp
    as a ``time`` column after ``lon``."""
    variables = list(variables)
    if not variables:
        raise ValueError("read_netcdf_dir_many needs at least one variable")

    def _batches(it):
        from wrf_to_geodataframe_spark.sources.hdf5 import (
            read_netcdf_any_bytes,
        )

        for pdf in it:
            for fname, buf in zip(pdf["path"], pdf["content"]):
                ds = read_netcdf_any_bytes(bytes(buf), name=fname)
                frames = [
                    f.rename(columns={"value": variables[0].lower()})
                    for f in _unnest_grid(
                        ds, variables[0], lat_var, lon_var, None
                    )
                ]
                for var in variables[1:]:
                    extra = list(
                        _unnest_grid(ds, var, lat_var, lon_var, None)
                    )
                    if len(extra) != len(frames) or any(
                        len(e) != len(f) for e, f in zip(extra, frames)
                    ):
                        raise ValueError(
                            f"{var} does not share {variables[0]}'s grid "
                            f"in {fname} — read staggered variables with "
                            "their own read_netcdf_dir call"
                        )
                    for e, f in zip(extra, frames):
                        # identical (t, y, x) ravel order by construction
                        f[var.lower()] = e["value"].to_numpy()
                for f in frames:
                    f.insert(0, "file", fname)
                    if time_var is not None:
                        f.insert(6, "time", _shard_time(ds, fname, time_var))
                    yield f

    schema = _grid_fields(
        [v.lower() for v in variables], 6 if time_var is not None else None
    )
    return files.select("path", "content").mapInPandas(_batches, schema)


def read_netcdf_dir_many(
    spark,
    path: str,
    variables: list[str],
    lat_var: str,
    lon_var: str,
):
    """``read_netcdf_dir`` for SEVERAL same-grid variables in ONE
    archive scan: each shard's bytes are fetched and parsed once, and
    every requested variable becomes its own column —
    (file, t_idx, y_idx, x_idx, lat, lon, <var1.lower()>, ...).

    The variables must share the first variable's grid shape (same
    dims per time slice) — a mismatch raises a NAMED error inside the
    task rather than mis-aligning raveled cells.  This is the reader
    multi-variable derivations (wrf_getvar's T/P/PB/QVAPOR joins)
    should use: N columns for one scan instead of N scans."""
    return _decode_netcdf_files_many(
        spark.read.format("binaryFile").load(path),
        variables, lat_var, lon_var,
    )


def write_netcdf_dir(
    df,
    outdir: str,
    var_col: str = "value",
    shard_col: str = "t_idx",
    lat_col: str = "lat",
    lon_col: str = "lon",
    names: tuple[str, str, str] = ("T2", "XLAT", "XLONG"),
    dtype: str | None = None,
):
    """Distributed S4 at archive shape: the inverse of
    ``read_netcdf_dir``.  One classic NetCDF shard per distinct
    ``shard_col`` value (the per-timestep layout real model archives
    use), each written INSIDE an executor task via ``applyInPandas``
    — the driver never sees cell data.  Cells are re-densified from
    the explicit (y_idx, x_idx) keys; absent cells become NaN.

    ``names`` sets the on-disk (variable, lat, lon) names (default the
    wrfout convention; e.g. ``("population", "lat", "lon")`` for the
    delphine/regrid.py:330 result file).  ``dtype`` optionally narrows
    the data variable before writing — the reference's
    ``.astype("float32")`` at delphine/regrid.py:312.

    Returns the lazy MANIFEST DataFrame (shard, file, ny, nx,
    n_cells) — executing it performs the writes, and its row count is
    the shard count.  ``outdir`` must be a directory every executor
    can create files in (local mode, NFS/Lustre)."""
    import os

    import pandas as pd

    os.makedirs(outdir, exist_ok=True)
    var_name, lat_name, lon_name = names

    def _write_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        shard = int(pdf[shard_col].iloc[0])
        ny = int(pdf["y_idx"].max()) + 1
        nx = int(pdf["x_idx"].max()) + 1
        grid = np.full((ny, nx), np.nan)
        lat = np.full((ny, nx), np.nan)
        lon = np.full((ny, nx), np.nan)
        yi = pdf["y_idx"].to_numpy()
        xi = pdf["x_idx"].to_numpy()
        grid[yi, xi] = pdf[var_col].to_numpy()
        lat[yi, xi] = pdf[lat_col].to_numpy()
        lon[yi, xi] = pdf[lon_col].to_numpy()
        if dtype is not None:
            grid = grid.astype(dtype)
        fname = os.path.join(outdir, f"shard_{shard:06d}.nc")
        write_netcdf(
            fname,
            {"y": ny, "x": nx},
            {
                var_name: {"dims": ("y", "x"), "data": grid},
                lat_name: {"dims": ("y", "x"), "data": lat},
                lon_name: {"dims": ("y", "x"), "data": lon},
            },
        )
        return pd.DataFrame(
            {
                "shard": [shard],
                "file": [fname],
                "ny": [ny],
                "nx": [nx],
                "n_cells": [len(pdf)],
            }
        )

    return df.groupBy(shard_col).applyInPandas(
        _write_shard, "shard long, file string, ny long, nx long, n_cells long"
    )


def read_netcdf_chunks(
    spark,
    path: str,
    var: str,
    lat_var: str,
    lon_var: str,
    time_index: int | None = None,
):
    """Chunk-parallel scan of ONE huge NetCDF-4/HDF5 file — the HDF5
    counterpart of ``read_netcdf_slabs`` (classic), closing the one
    layout where single-file parallelism was previously per-file only.

    The driver extracts the CHUNK MANIFEST (``hdf5_chunk_manifest``:
    mmap walk of object headers + v1 chunk B-tree — O(index), no data
    pages) and broadcasts the small coordinate scales; each executor
    task seeks directly to its chunks' byte ranges and runs the
    filter pipeline (deflate/shuffle/szip) itself.  Unwritten chunks
    yield the reader's fill (0.0).  Emits the same
    (t_idx, y_idx, x_idx, lat, lon, value) long table as the other
    single-file source, through the zarr scans' kernel
    (``sources/chunkscan.py``).  Requires a path every executor can
    open (local mode, NFS/Lustre — the HPC archive shape)."""
    from wrf_to_geodataframe_spark.sources.chunkscan import (
        grid_coords,
        scan_chunks,
    )
    from wrf_to_geodataframe_spark.sources.hdf5 import (
        decode_chunk_pipeline,
        hdf5_chunk_manifest,
    )

    man = hdf5_chunk_manifest(path, var, aux_vars=(lat_var, lon_var))
    chunks = man["chunks"]
    meta = {
        "shape": man["shape"],
        "chunks": chunks,
        "dtype": np.dtype(man["dtype"]),
        "filters": man["filters"],
        "fill": man["fill"],
        "attrs": man["attrs"],
    }
    stored = {
        tuple(o // c for o, c in zip(offs, chunks)): (addr, nbytes, mask)
        for offs, addr, nbytes, mask in man["entries"]
    }

    def _decode(m, rows):
        dt = m["dtype"]
        nchunk = int(np.prod(m["chunks"]))
        with open(path, "rb") as fh:
            for row in rows:
                if row.addr < 0:
                    yield row, None
                    continue
                fh.seek(int(row.addr))
                raw = decode_chunk_pipeline(
                    fh.read(int(row.nbytes)), m["filters"],
                    dt.itemsize, nchunk, int(row.fmask),
                )
                carr = np.frombuffer(raw, dt, count=nchunk)
                yield row, carr.reshape(m["chunks"]).astype(
                    dt.newbyteorder("="), copy=False
                )

    return scan_chunks(
        spark, var, meta,
        grid_coords(man["aux"][lat_var], man["aux_attrs"][lat_var],
                    man["aux"][lon_var], man["aux_attrs"][lon_var]),
        time_index, "addr long, nbytes long, fmask long",
        lambda idx: stored.get(idx, (-1, 0, 0)), _decode, keyed=False,
    )


def _read_header_from_file(path: str) -> dict:
    """Parse the classic header with bounded prefix reads (64 KiB
    doubling) — a 50 GB model file never round-trips through memory
    just to learn its layout."""
    with open(path, "rb") as f:
        magic = f.read(4)
    if magic[:3] != b"CDF" or magic[3:4] not in (b"\x01", b"\x02"):
        raise ValueError(f"{path}: not a NetCDF classic (CDF-1/CDF-2) file")
    size = 1 << 16
    while True:
        with open(path, "rb") as f:
            buf = f.read(size)
        try:
            return _parse_header(buf, name=path)
        except (struct.error, IndexError, KeyError, OverflowError,
                UnicodeDecodeError, ValueError, AssertionError):
            # KeyError/OverflowError/UnicodeDecodeError: corrupt type
            # tags / lengths in an untrusted header (probe fuzz) must
            # surface as the NAMED error, not an internal escape
            if len(buf) < size:  # whole file read and still malformed
                raise ValueError(
                    f"{path}: truncated or malformed NetCDF header"
                )
            size *= 8


def read_netcdf_slabs(
    spark,
    path: str,
    var: str,
    lat_var: str,
    lon_var: str,
    records_per_slab: int | None = None,
):
    """Record-parallel scan of ONE huge classic NetCDF file — the
    complement of ``read_netcdf_dir`` (which parallelizes across
    files): a single multi-year model output can be tens of GB, and
    one-file-one-task would serialize it.

    The driver reads ONLY the header (bounded prefix read) plus the
    small fixed coordinate variables; the record dimension is split
    into slabs of ``records_per_slab`` records, and each executor task
    seeks directly to its slab's byte ranges (the classic format's
    record layout is arithmetic: ``begin + rec * step``), reading just
    its own bytes.  Coordinates ship once via a broadcast.  Emits the
    same (t_idx, y_idx, x_idx, lat, lon, value) long table as the
    other S1 sources.

    Requires a filesystem every executor can open by path (local mode,
    NFS/Lustre — the usual HPC archive home); HDF5-backed NetCDF-4
    files get the same single-file parallelism via chunk-index walks
    in ``read_netcdf_chunks``."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    hdr = _read_header_from_file(path)
    dims = hdr["dims"]
    entry = {e[0]: e for e in hdr["entries"]}
    if var not in entry:
        raise ValueError(f"{path}: no variable {var!r}")
    nm, dimids, vatts, t, begin = entry[var]
    rec_dim = hdr["rec_dim"]
    is_rec = rec_dim is not None and dimids and dimids[0] == rec_dim
    if len(dimids) == 2:
        # plain 2-D grid: nothing to slab over; one driver read
        return read_netcdf_grid(spark, path, var, lat_var, lon_var)
    if len(dimids) != 3:
        raise ValueError(f"{path}: {var!r} is not a (t, y, x) grid")
    grid_shape = [dims[d][1] for d in dimids[1:]]
    ny, nx = grid_shape
    per_rec = ny * nx
    if is_rec:
        # record layout: slabs interleave across record variables
        step = (
            hdr["recsize"] if hdr["n_recvars"] > 1 else _SIZES[t] * per_rec
        )
        nrec = hdr["numrecs"]
    else:
        # fixed 3-D variable: contiguous slices along axis 0
        step = _SIZES[t] * per_rec
        nrec = dims[dimids[0]][1]
    dtype = _DTYPES[t]

    def _fixed_var(name: str) -> np.ndarray:
        e = entry[name]
        shape = [dims[d][1] for d in e[1]]
        count = int(np.prod(shape, initial=1))
        with open(path, "rb") as f:
            f.seek(e[4])
            raw = f.read(count * _SIZES[e[3]])
        arr = np.frombuffer(raw, dtype=_DTYPES[e[3]], count=count)
        arr = arr.reshape(shape).astype(arr.dtype.newbyteorder("="))
        return np.asarray(cf_mask_and_scale(arr, e[2] or {}))

    lat = _fixed_var(lat_var)
    lon = _fixed_var(lon_var)
    if lat.ndim == 1 and lon.ndim == 1:
        lon, lat = np.meshgrid(lon, lat)
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    coords = spark.sparkContext.broadcast(
        (
            yy.ravel().astype("int64"),
            xx.ravel().astype("int64"),
            lat.ravel().astype("float64"),
            lon.ravel().astype("float64"),
        )
    )
    if records_per_slab is None:
        target = spark.sparkContext.defaultParallelism * 2
        records_per_slab = max(1, -(-nrec // target))
    ranges = [
        (s, min(s + records_per_slab, nrec))
        for s in range(0, nrec, records_per_slab)
    ]
    schema = StructType(
        [
            StructField("t_idx", LongType()),
            StructField("y_idx", LongType()),
            StructField("x_idx", LongType()),
            StructField("lat", DoubleType()),
            StructField("lon", DoubleType()),
            StructField("value", DoubleType()),
        ]
    )
    rdf = spark.createDataFrame(
        ranges, "rec_start long, rec_end long"
    ).repartition(len(ranges), "rec_start")

    nbytes_rec = _SIZES[t] * per_rec

    def _slabs(it):
        y_f, x_f, lat_f, lon_f = coords.value
        with open(path, "rb") as f:
            for pdf in it:
                for rs, re_ in zip(pdf["rec_start"], pdf["rec_end"]):
                    for rec in range(int(rs), int(re_)):
                        f.seek(begin + rec * step)
                        vals = np.frombuffer(
                            f.read(nbytes_rec), dtype=dtype, count=per_rec
                        )
                        vals = cf_mask_and_scale(vals, vatts or {})
                        yield pd.DataFrame(
                            {
                                "t_idx": np.full(
                                    per_rec, rec, dtype="int64"
                                ),
                                "y_idx": y_f,
                                "x_idx": x_f,
                                "lat": lat_f,
                                "lon": lon_f,
                                "value": vals.astype("float64"),
                            }
                        )

    return rdf.mapInPandas(_slabs, schema)
