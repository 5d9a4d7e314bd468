"""Shapefile scan (SURVEY.md §2 S2, ``gpd.read_file`` at
wrf_voronoi.py:185-187): pure-struct parser for .shp (point/polyline/
polygon) + .dbf (dBase III attributes), from the public ESRI spec.

Returns the engine's wire format — one row per shape with the vertex
array (outer ring for polygons), WKT, and the DBF attribute columns.
The reference reads a borough boundary file this way and broadcasts it
into P5; such files are small, so a driver-side parse +
``createDataFrame`` is the right physical plan.
"""

from __future__ import annotations

import struct

import numpy as np

SHP_POINT, SHP_POLYLINE, SHP_POLYGON = 1, 3, 5


class ShapefileError(ValueError):
    """Malformed .shp/.dbf input — truncations and corrupted offsets
    surface as this named error, never a raw struct/Index error (the
    malformed-input hygiene rule shared with Hdf5Error/Grib2Error)."""


def read_shp(path: str) -> list[dict]:
    """Parse a .shp file -> [{fid, shape_type, parts: [np.ndarray]}]."""
    with open(path, "rb") as f:
        buf = f.read()
    try:
        return _read_shp_inner(buf, path)
    except ShapefileError:
        raise
    except (struct.error, IndexError, OverflowError, ValueError,
            MemoryError) as exc:
        raise ShapefileError(
            f"{path}: malformed shapefile: {exc}"
        ) from exc


def _read_shp_inner(buf: bytes, path: str) -> list[dict]:
    (magic,) = struct.unpack_from(">i", buf, 0)
    if magic != 9994:
        raise ShapefileError(
            f"{path}: not a shapefile (bad magic {magic})"
        )
    (flen_words,) = struct.unpack_from(">i", buf, 24)
    end = flen_words * 2
    if end > len(buf):
        raise ShapefileError(
            f"{path}: header says {end} bytes, file has {len(buf)}"
        )
    out = []
    pos = 100
    while pos < end:
        recno, content_words = struct.unpack_from(">ii", buf, pos)
        if content_words < 2:  # content always includes the type int
            raise ShapefileError(
                f"{path}: record {recno}: content length "
                f"{content_words} words"
            )
        pos += 8
        (stype,) = struct.unpack_from("<i", buf, pos)
        if stype == SHP_POINT:
            x, y = struct.unpack_from("<dd", buf, pos + 4)
            parts = [np.array([[x, y]])]
        elif stype in (SHP_POLYLINE, SHP_POLYGON):
            nparts, npoints = struct.unpack_from("<ii", buf, pos + 36)
            if nparts < 0 or npoints < 0:
                # a negative count would make frombuffer read to EOF
                raise ShapefileError(
                    f"{path}: record {recno}: {nparts} parts / "
                    f"{npoints} points"
                )
            part_idx = list(
                struct.unpack_from(f"<{nparts}i", buf, pos + 44)
            ) + [npoints]
            pts = np.frombuffer(
                buf, dtype="<f8", count=npoints * 2, offset=pos + 44 + 4 * nparts
            ).reshape(-1, 2)
            parts = [
                pts[part_idx[k]:part_idx[k + 1]].copy() for k in range(nparts)
            ]
        elif stype == 0:  # null shape
            parts = []
        else:
            raise ShapefileError(f"{path}: shape type {stype}")
        out.append({"fid": recno, "shape_type": stype, "parts": parts})
        pos += 8 + content_words * 2 - 8  # content includes the type int
    return out


def read_dbf(path: str) -> list[dict]:
    """Parse a dBase III .dbf -> one attribute dict per record
    (C -> str, N/F -> float/int, L -> bool)."""
    with open(path, "rb") as f:
        buf = f.read()
    try:
        return _read_dbf_inner(buf)
    except ShapefileError:
        raise
    except (struct.error, IndexError, OverflowError, ValueError,
            MemoryError) as exc:
        raise ShapefileError(f"{path}: malformed .dbf: {exc}") from exc


def _read_dbf_inner(buf: bytes) -> list[dict]:
    nrec, hsize, rsize = struct.unpack_from("<iHH", buf, 4)
    if nrec < 0 or rsize <= 0 or nrec * rsize > len(buf):
        raise ShapefileError(
            f"header claims {nrec} records x {rsize} bytes, "
            f"file has {len(buf)}"
        )
    fields = []
    pos = 32
    while buf[pos] != 0x0D:
        name = buf[pos:pos + 11].split(b"\x00")[0].decode("ascii")
        ftype = chr(buf[pos + 11])
        flen = buf[pos + 16]
        fdec = buf[pos + 17]
        fields.append((name, ftype, flen, fdec))
        pos += 32
    out = []
    pos = hsize
    for _ in range(nrec):
        if buf[pos:pos + 1] == b"*":  # deleted
            pos += rsize
            continue
        rec, off = {}, pos + 1
        for name, ftype, flen, fdec in fields:
            raw = buf[off:off + flen].decode("ascii", errors="replace").strip()
            off += flen
            if ftype in ("N", "F"):
                if raw == "":
                    rec[name] = None
                elif fdec or ftype == "F" or "." in raw:
                    rec[name] = float(raw)
                else:
                    rec[name] = int(raw)
            elif ftype == "L":
                rec[name] = raw.upper() in ("T", "Y")
            else:
                rec[name] = raw
        out.append(rec)
        pos += rsize
    return out


def read_shapefile(spark, shp_path: str):
    """S2: .shp + (optional) .dbf -> DataFrame with fid, vertex-array
    geometry (outer ring), WKT, and attribute columns."""
    import os

    import pandas as pd

    from wrf_to_geodataframe_spark.geometry.polygons import polygon_wkt

    shapes = read_shp(shp_path)
    dbf_path = shp_path[:-4] + ".dbf"
    attrs = read_dbf(dbf_path) if os.path.exists(dbf_path) else [{}] * len(shapes)
    rows = []
    for shp, att in zip(shapes, attrs):
        ring = shp["parts"][0] if shp["parts"] else np.empty((0, 2))
        # .shp outer rings are CLOCKWISE per spec; the engine's
        # convention is ccw (O2) — reverse on ingest
        if shp["shape_type"] == SHP_POLYGON and len(ring) >= 3:
            ring = ring[::-1].copy()
            if np.allclose(ring[0], ring[-1]):
                ring = ring[:-1]  # drop the closing duplicate
        rows.append(
            {
                "fid": shp["fid"],
                "shape_type": shp["shape_type"],
                "geom": [[float(x), float(y)] for x, y in ring],
                "wkt": polygon_wkt(ring)
                if shp["shape_type"] == SHP_POLYGON
                else None,
                **att,
            }
        )
    return spark.createDataFrame(pd.DataFrame(rows))


def write_shapefile(
    path: str,
    rings: list,
    attrs: list[dict] | None = None,
) -> None:
    """S2 sink: polygon rings -> .shp + .shx + .dbf (ESRI shapefile
    spec; dBase III attributes).  ``rings`` are open outer rings in
    the engine's CCW convention (O2) — the spec stores outer rings
    CLOCKWISE with an explicit closing vertex, so the writer reverses
    and closes; ``read_shapefile`` undoes both on ingest.  ``attrs``
    is one dict per ring; string values become C(32) fields, ints and
    floats N(18[,6]) fields (field set taken from the first record).
    The boundary files the reference writes/reads this way (borough
    polygons at wrf_voronoi.py:185-187) are small — a driver-side
    sink, like the GPKG path."""
    n = len(rings)
    attrs = attrs if attrs is not None else [{}] * n
    if len(attrs) != n:
        raise ValueError(f"{n} rings but {len(attrs)} attribute rows")

    records = b""
    offsets = []  # (offset_words, content_words) for the .shx index
    allx, ally = [], []
    pos = 100
    for i, ring in enumerate(rings):
        ring = np.asarray(ring, dtype="<f8").reshape(-1, 2)
        if len(ring) < 3:
            raise ValueError(f"ring {i}: needs >= 3 vertices")
        # engine ccw -> spec cw, with the closing vertex appended
        closed = np.vstack([ring[::-1], ring[::-1][:1]])
        content = struct.pack("<i", SHP_POLYGON)
        content += struct.pack(
            "<dddd",
            closed[:, 0].min(), closed[:, 1].min(),
            closed[:, 0].max(), closed[:, 1].max(),
        )
        content += struct.pack("<ii", 1, len(closed))
        content += struct.pack("<i", 0)  # one part at point 0
        content += closed.astype("<f8").tobytes()
        offsets.append((pos // 2, len(content) // 2))
        records += struct.pack(">ii", i + 1, len(content) // 2) + content
        pos += 8 + len(content)
        allx += [closed[:, 0].min(), closed[:, 0].max()]
        ally += [closed[:, 1].min(), closed[:, 1].max()]

    def _header(length_bytes: int) -> bytes:
        h = struct.pack(">i", 9994) + b"\x00" * 20
        h += struct.pack(">i", length_bytes // 2)
        h += struct.pack("<ii", 1000, SHP_POLYGON)
        h += struct.pack(
            "<dddd", min(allx), min(ally), max(allx), max(ally)
        )
        h += struct.pack("<dddd", 0.0, 0.0, 0.0, 0.0)  # Z/M unused
        return h

    with open(path, "wb") as f:
        f.write(_header(100 + len(records)) + records)
    with open(path[:-4] + ".shx", "wb") as f:
        f.write(_header(100 + 8 * n))
        for off_w, len_w in offsets:
            f.write(struct.pack(">ii", off_w, len_w))

    # dBase III: field set from the first record; C(32) / N(18[,6])
    fields = []
    for k, v in (attrs[0] or {}).items():
        if isinstance(v, str):
            fields.append((k, "C", 32, 0))
        elif isinstance(v, (int, np.integer)) and not isinstance(v, bool):
            fields.append((k, "N", 18, 0))
        elif isinstance(v, (float, np.floating)):
            fields.append((k, "N", 18, 6))
        else:
            raise ValueError(f"attr {k!r}: unsupported type {type(v)}")
    rsize = 1 + sum(fl for _, _, fl, _ in fields)
    hsize = 32 + 32 * len(fields) + 1
    dbf = struct.pack("<B3BiHH", 3, 24, 1, 1, n, hsize, rsize)
    dbf += b"\x00" * 20
    for name, ftype, flen, fdec in fields:
        dbf += (
            name.encode("ascii")[:10].ljust(11, b"\x00")
            + ftype.encode("ascii")
            + b"\x00" * 4
            + bytes([flen, fdec])
            + b"\x00" * 14
        )
    dbf += b"\x0D"
    for att in attrs:
        dbf += b" "
        for name, ftype, flen, fdec in fields:
            v = (att or {}).get(name)
            if ftype == "C":
                dbf += str(v if v is not None else "").encode(
                    "ascii", "replace"
                ).ljust(flen)[:flen]
            else:
                s = (
                    "" if v is None
                    else f"{float(v):.{fdec}f}" if fdec
                    else str(int(v))
                )
                dbf += s.rjust(flen).encode("ascii")[:flen]
    dbf += b"\x1a"
    with open(path[:-4] + ".dbf", "wb") as f:
        f.write(dbf)
    # .prj: WKT1 CRS sidecar GIS tools expect next to the .shp
    with open(path[:-4] + ".prj", "w") as f:
        f.write(
            'GEOGCS["WGS 84",DATUM["WGS_1984",'
            'SPHEROID["WGS 84",6378137,298.257223563]],'
            'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]'
        )

