"""GeoPackage sink (SURVEY.md §2 S3, ``to_file(..., driver="GPKG")`` at
wrf_voronoi.py:149): write a polygon layer into a .gpkg using the
stdlib sqlite3 module + hand-built GPKG geometry blobs (header per the
OGC GeoPackage spec, then standard WKB).

The reference's outputs are small (<= ~10^5 cells), so the GPKG sink
is a deliberate driver-side collect (SURVEY.md §7 hard-thing #6);
large results use :func:`write_geoparquet` — a fully distributed
``df.write.parquet`` of the WKB-encoded geometry with CRS metadata on
the field, round-tripped by :func:`read_geoparquet`.

Beyond the engine's native single-ring model, the WKB layer reads the
full GeoParquet polygon surface: :func:`parse_wkb` handles polygons
with holes and multipolygons in either byte order (Z/M rejected
cleanly), :func:`wkb_area` subtracts holes.
"""

from __future__ import annotations

import sqlite3
import struct

import numpy as np
import pandas as pd


def polygon_wkb(ring: np.ndarray) -> bytes:
    """Little-endian WKB POLYGON with one (closed, ccw) ring."""
    ring = np.asarray(ring, dtype="<f8")
    if len(ring) and not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    head = struct.pack("<BII", 1, 3, 1)  # LE, wkbPolygon, 1 ring
    return head + struct.pack("<I", len(ring)) + ring.tobytes()


def parse_polygon_wkb(wkb: bytes) -> np.ndarray:
    """Inverse of :func:`polygon_wkb`: strict single-ring polygon ->
    open (n, 2) vertex array.  Multi-ring / multipolygon input raises —
    use :func:`parse_wkb` for the general geometry model."""
    gtype, polys = parse_wkb(wkb)
    if gtype != "Polygon" or len(polys) != 1 or len(polys[0]) != 1:
        raise ValueError(
            "not a single-ring Polygon — use parse_wkb for holes/multiparts"
        )
    return polys[0][0]


def polygon_wkb_rings(rings) -> bytes:
    """Little-endian WKB POLYGON with holes: ``rings[0]`` is the outer
    boundary, the rest are interior rings (holes); each is closed on
    write if open."""
    out = struct.pack("<BII", 1, 3, len(rings))
    for r in rings:
        r = np.asarray(r, dtype="<f8")
        if len(r) and not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        out += struct.pack("<I", len(r)) + r.tobytes()
    return out


def multipolygon_wkb(polys) -> bytes:
    """Little-endian WKB MULTIPOLYGON: ``polys`` is a list of ring
    lists (each per :func:`polygon_wkb_rings`)."""
    out = struct.pack("<BII", 1, 6, len(polys))
    for rings in polys:
        out += polygon_wkb_rings(rings)
    return out


def _parse_rings(wkb: bytes, pos: int, fmt: str, nrings: int):
    rings = []
    for _ in range(nrings):
        (npts,) = struct.unpack_from(fmt + "I", wkb, pos)
        pos += 4
        pts = np.frombuffer(
            wkb, dtype=fmt + "f8", count=npts * 2, offset=pos
        ).reshape(-1, 2)
        pos += npts * 16
        if npts and np.array_equal(pts[0], pts[-1]):
            pts = pts[:-1]
        rings.append(pts.astype("<f8", copy=True))
    return rings, pos


def _parse_wkb_geom(wkb: bytes, pos: int):
    fmt = "<" if wkb[pos] == 1 else ">"
    (gtype,) = struct.unpack_from(fmt + "I", wkb, pos + 1)
    pos += 5
    if gtype & 0xE0000000 or gtype >= 1000:
        # EWKB Z/M/SRID flags or ISO Z/M variants (1003, 2003, ...)
        raise ValueError("Z/M WKB geometries not supported")
    base = gtype
    if base == 3:  # Polygon
        (nrings,) = struct.unpack_from(fmt + "I", wkb, pos)
        rings, pos = _parse_rings(wkb, pos + 4, fmt, nrings)
        return ("Polygon", [rings]), pos
    if base == 6:  # MultiPolygon
        (nparts,) = struct.unpack_from(fmt + "I", wkb, pos)
        pos += 4
        polys = []
        for _ in range(nparts):
            (kind, sub), pos = _parse_wkb_geom(wkb, pos)
            if kind != "Polygon":
                raise ValueError("MultiPolygon member is not a Polygon")
            polys.append(sub[0])
        return ("MultiPolygon", polys), pos
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def parse_wkb(wkb: bytes):
    """General WKB parse (both byte orders) -> (kind, polys) where
    ``kind`` is ``"Polygon"`` or ``"MultiPolygon"`` and ``polys`` is a
    list of parts, each part a list of open (n, 2) float64 rings —
    ``part[0]`` the outer boundary, the rest holes.  This is the read
    surface for third-party GeoParquet, whose geometry model goes
    beyond the engine's native single-ring polygons."""
    (kind, polys), _pos = _parse_wkb_geom(bytes(wkb), 0)
    return kind, polys


def _ring_area(r: np.ndarray) -> float:
    """|shoelace| of an open ring."""
    if len(r) < 3:
        return 0.0
    x, y = r[:, 0], r[:, 1]
    return abs(
        0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    )


def wkb_area(wkb: bytes) -> float:
    """Planar area of a WKB Polygon/MultiPolygon with holes subtracted
    (shoelace per ring; orientation-insensitive)."""
    _kind, polys = parse_wkb(wkb)
    total = 0.0
    for rings in polys:
        total += _ring_area(rings[0]) - sum(_ring_area(h) for h in rings[1:])
    return total


def _geom_wkb_and_kind(geom) -> tuple[bytes, str]:
    """Normalize a row's geometry spec to (WKB, type name):

    - ``bytes``            -> raw WKB, passed through (type from WKB);
    - ``(n, 2) ndarray``   -> single-ring POLYGON;
    - ``[ring, ...]``      -> POLYGON with holes (first ring outer);
    - ``[[ring, ...], ..]`` -> MULTIPOLYGON.
    """
    if isinstance(geom, (bytes, bytearray)):
        kind, _ = parse_wkb(bytes(geom))
        return bytes(geom), kind.upper()
    if isinstance(geom, np.ndarray):
        return polygon_wkb(geom), "POLYGON"
    geom = list(geom)
    if geom and isinstance(geom[0], (list, tuple)):
        return multipolygon_wkb(geom), "MULTIPOLYGON"
    return polygon_wkb_rings(geom), "POLYGON"


def _wkb_vertices(wkb: bytes) -> np.ndarray:
    _kind, polys = parse_wkb(wkb)
    return np.vstack([r for rings in polys for r in rings])


def _gpkg_geom_blob(geom, srs_id: int) -> bytes:
    """GPKG geometry blob: magic 'GP', version 0, flags (LE byte order,
    envelope type 1), srs_id, [minx maxx miny maxy], WKB.  ``geom`` is
    any spec :func:`_geom_wkb_and_kind` accepts."""
    wkb, _kind = _geom_wkb_and_kind(geom)
    pts = _wkb_vertices(wkb)
    flags = 0b00000011  # envelope=1 (xy), little-endian
    env = struct.pack(
        "<dddd",
        float(pts[:, 0].min()), float(pts[:, 0].max()),
        float(pts[:, 1].min()), float(pts[:, 1].max()),
    )
    return b"GP" + struct.pack("<BBi", 0, flags, srs_id) + env + wkb


def write_geopackage(
    path: str,
    layer: str,
    rows: list[dict],
    geom_key: str = "geom",
    srs_id: int = 4326,
) -> None:
    """Write one polygon layer.  ``rows``: dicts with ``geom_key`` -> an
    (n, 2) vertex array plus scalar attribute keys (str/int/float)."""
    con = sqlite3.connect(path)
    cur = con.cursor()
    cur.execute("PRAGMA application_id = 0x47504B47")  # 'GPKG'
    cur.execute("PRAGMA user_version = 10300")
    cur.executescript(
        """
        CREATE TABLE IF NOT EXISTS gpkg_spatial_ref_sys (
          srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
          organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL,
          definition TEXT NOT NULL, description TEXT);
        CREATE TABLE IF NOT EXISTS gpkg_contents (
          table_name TEXT PRIMARY KEY, data_type TEXT NOT NULL,
          identifier TEXT UNIQUE, description TEXT DEFAULT '',
          last_change DATETIME DEFAULT (strftime('%Y-%m-%dT%H:%M:%fZ','now')),
          min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE,
          srs_id INTEGER);
        CREATE TABLE IF NOT EXISTS gpkg_geometry_columns (
          table_name TEXT NOT NULL, column_name TEXT NOT NULL,
          geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL,
          z TINYINT NOT NULL, m TINYINT NOT NULL,
          CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name));
        """
    )
    cur.execute(
        "INSERT OR IGNORE INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)",
        ("WGS 84", 4326, "EPSG", 4326, "GEOGCS[\"WGS 84\"]", None),
    )

    attr_keys = [k for k in rows[0] if k != geom_key] if rows else []

    def sql_type(v) -> str:
        if isinstance(v, bool):
            return "BOOLEAN"
        if isinstance(v, (int, np.integer)):
            return "INTEGER"
        if isinstance(v, (float, np.floating)):
            return "DOUBLE"
        return "TEXT"

    def col_type(k: str) -> str:
        # derive from the first NON-None value so a leading NULL doesn't
        # mistype the whole column as TEXT
        for r in rows:
            if r.get(k) is not None:
                return sql_type(r[k])
        return "TEXT"

    cols = ", ".join(f'"{k}" {col_type(k)}' for k in attr_keys)
    cur.execute(
        f'CREATE TABLE "{layer}" (fid INTEGER PRIMARY KEY AUTOINCREMENT, '
        f'geom BLOB{", " + cols if cols else ""})'
    )
    allx, ally = [], []
    kinds: set[str] = set()
    for r in rows:
        geom = r[geom_key]
        if isinstance(geom, np.ndarray):
            geom = np.asarray(geom, dtype=float)
        blob = _gpkg_geom_blob(geom, srs_id)
        kinds.add(_geom_wkb_and_kind(geom)[1])
        pts = _wkb_vertices(blob[8 + 32:])
        allx += [pts[:, 0].min(), pts[:, 0].max()]
        ally += [pts[:, 1].min(), pts[:, 1].max()]
        cur.execute(
            f'INSERT INTO "{layer}" (geom{"".join("," + chr(34) + k + chr(34) for k in attr_keys)}) '
            f'VALUES (?{", ?" * len(attr_keys)})',
            [blob] + [
                r[k].item() if isinstance(r[k], np.generic) else r[k]
                for k in attr_keys
            ],
        )
    # empty layer => NULL extent in gpkg_contents (per the GPKG spec an
    # unknown/empty extent is represented as NULLs, not a crash)
    extent = (
        (min(allx), min(ally), max(allx), max(ally))
        if allx
        else (None, None, None, None)
    )
    cur.execute(
        "INSERT INTO gpkg_contents (table_name, data_type, identifier, "
        "min_x, min_y, max_x, max_y, srs_id) VALUES (?,?,?,?,?,?,?,?)",
        (layer, "features", layer, *extent, srs_id),
    )
    if len(kinds) == 1:
        type_name = kinds.pop()
    else:
        type_name = "GEOMETRY" if kinds else "POLYGON"
    cur.execute(
        "INSERT INTO gpkg_geometry_columns VALUES (?,?,?,?,0,0)",
        (layer, "geom", type_name, srs_id),
    )
    con.commit()
    con.close()


def read_geopackage(
    path: str, layer: str | None = None, geom_key: str = "geom"
) -> list[dict]:
    """Inverse of :func:`write_geopackage`: read one feature layer back
    into row dicts.  A plain single-ring polygon comes back as its
    (n, 2) vertex array; polygons with holes and multipolygons come
    back as ``(kind, polys)`` in the :func:`parse_wkb` form.  Driver-
    side by design, like the writer — the GPKG format is a single
    sqlite file (<= ~1e5 rows in this engine's usage); the at-scale
    path is :func:`read_geoparquet`."""
    con = sqlite3.connect(path)
    try:
        cur = con.cursor()
        if layer is None:
            row = cur.execute(
                "SELECT table_name FROM gpkg_contents WHERE data_type='features'"
            ).fetchone()
            if row is None:
                raise ValueError(f"{path}: no feature layer in gpkg_contents")
            layer = row[0]
        cols = [
            r[1]
            for r in cur.execute(f'PRAGMA table_info("{layer}")')
            if r[1] not in ("fid", "geom")
        ]
        sel = ", ".join(['"geom"'] + [f'"{c}"' for c in cols])
        out = []
        for rec in cur.execute(f'SELECT {sel} FROM "{layer}" ORDER BY fid'):
            blob = rec[0]
            if blob[:2] != b"GP":
                raise ValueError(f"{path}: bad GPKG geometry magic")
            flags = blob[3]
            env_type = (flags >> 1) & 0x07
            env_len = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}.get(env_type)
            if env_len is None:
                raise ValueError(f"{path}: invalid envelope indicator {env_type}")
            wkb = bytes(blob[8 + env_len:])
            kind, polys = parse_wkb(wkb)
            if kind == "Polygon" and len(polys) == 1 and len(polys[0]) == 1:
                geom = polys[0][0]  # plain single-ring polygon: (n, 2)
            else:
                geom = (kind, polys)  # holes / multipolygon: full form
            row = {geom_key: geom}
            row.update(dict(zip(cols, rec[1:])))
            out.append(row)
        return out
    finally:
        con.close()


def with_wkb_column(df, poly_col: str, out_col: str = "wkb"):
    """Attach a WKB BinaryType column encoding the vertex-array polygon —
    the GeoParquet-compatible scale sink: ``df.write.parquet`` of the
    result is the distributed alternative to the driver-side GPKG
    collect (SURVEY.md §2 S3 scale note).  Arrow-vectorized pandas_udf;
    inverse is :func:`parse_polygon_wkb`."""
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("binary")
    def _encode(polys: pd.Series) -> pd.Series:
        return polys.map(
            lambda p: polygon_wkb(np.asarray([list(v) for v in p], dtype=float))
            if p is not None and len(p) >= 3
            else None
        )

    return df.withColumn(out_col, _encode(col(poly_col)))


def _crs_projjson(crs: str):
    """Map the engine's CRS identifiers to the GeoParquet ``crs`` field:
    ``None`` for the spec default (OGC:CRS84 / plain lon-lat WGS84),
    else a minimal PROJJSON-style reference carrying the authority
    code (enough for readers that resolve by EPSG id)."""
    if crs in (None, "OGC:CRS84", "EPSG:4326"):
        return None
    auth, _, code = crs.partition(":")
    return {
        "type": "ProjectedCRS",
        "name": crs,
        "id": {"authority": auth, "code": int(code) if code.isdigit() else code},
    }


def _geo_footer_meta(geom_col: str, crs: str, bbox: bool) -> dict:
    """GeoParquet 1.1 ``geo`` file-metadata payload (spec: the ``geo``
    key in the parquet footer key/value metadata), including the bbox
    covering declaration when the bbox struct column is written."""
    col_meta = {
        "encoding": "WKB",
        "geometry_types": ["Polygon"],
        "crs": _crs_projjson(crs),
    }
    if bbox:
        col_meta["covering"] = {
            "bbox": {
                "xmin": ["bbox", "xmin"],
                "ymin": ["bbox", "ymin"],
                "xmax": ["bbox", "xmax"],
                "ymax": ["bbox", "ymax"],
            }
        }
    return {
        "version": "1.1.0",
        "primary_column": geom_col,
        "columns": {geom_col: col_meta},
    }


def stamp_geo_footer(path: str, geo_meta: dict) -> int:
    """Driver-side pyarrow post-pass: add the standard GeoParquet
    ``geo`` key to each part file's parquet footer WITHOUT rewriting
    data pages.  A parquet reader locates the footer from the file
    tail (``footer | footer_len | "PAR1"``), so appending a fresh
    footer that carries the extra key/value pair supersedes the old
    one in place; row-group byte offsets are unchanged because no data
    moved.  Cost is O(footer bytes) per part file — safe at any data
    scale.  Returns the number of files stamped."""
    import glob
    import json
    import os
    import tempfile

    import pyarrow.parquet as pq

    geo_bytes = json.dumps(geo_meta).encode()
    parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
    for part in parts:
        md = pq.read_metadata(part)
        schema = pq.read_schema(part)
        kv = dict(schema.metadata or {})
        kv[b"geo"] = geo_bytes
        fd, tmp = tempfile.mkstemp(suffix=".footer")
        os.close(fd)
        try:
            pq.write_metadata(
                schema.with_metadata(kv), tmp, metadata_collector=[md]
            )
            with open(tmp, "rb") as f:
                footer = f.read()
            if footer[:4] != b"PAR1" or footer[-4:] != b"PAR1":
                raise ValueError("unexpected footer framing from pyarrow")
            with open(part, "ab") as f:
                f.write(footer[4:])  # drop the leading magic; keep tail framing
            # Hadoop's local FS keeps a ".name.crc" checksum sidecar that
            # the append invalidates — drop it (object stores have none)
            crc = os.path.join(os.path.dirname(part), "." + os.path.basename(part) + ".crc")
            if os.path.exists(crc):
                os.unlink(crc)
        finally:
            os.unlink(tmp)
    return len(parts)


def write_geoparquet(
    df,
    path: str,
    poly_col: str = "geom",
    geom_col: str = "geometry",
    crs: str = "OGC:CRS84",
    mode: str = "error",
    bbox: bool = True,
    stamp_footer: bool = True,
    options: dict | None = None,
) -> None:
    """Distributed GeoParquet sink — the at-scale alternative to the
    driver-side GPKG collect: every executor writes its own part files
    via ``df.write.parquet``, nothing funnels through the driver.

    The vertex-array polygon column is encoded as standard WKB (the
    GeoParquet geometry encoding; Arrow-vectorized pandas_udf).  With
    ``bbox=True`` (default) a GeoParquet 1.1 *bbox covering* column —
    ``bbox struct<xmin,ymin,xmax,ymax double>`` computed entirely
    JVM-side from the vertex arrays — is written alongside, so parquet
    row-group min/max statistics let a spatial-filter read PRUNE row
    groups instead of full-scanning (the engine's own P4 design rule,
    SURVEY.md §4.1, applied to the sink; ``tests/test_plans.py`` pins
    the pruning).  With ``stamp_footer=True`` a driver-side pyarrow
    post-pass (:func:`stamp_geo_footer`) adds the spec's ``geo`` key to
    each part file's footer so geopandas/GDAL/DuckDB-spatial recognize
    the output as GeoParquet; the same payload also rides the Spark
    field metadata for :func:`read_geoparquet`.  Metadata-blind engines
    still see a plain WKB binary column (DuckDB: ``ST_GeomFromWKB``)."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    geo_meta = _geo_footer_meta(geom_col, crs, bbox)
    meta = {"geoparquet": json.dumps(geo_meta)}
    out = with_wkb_column(df, poly_col, "__wkb__")
    if bbox:
        xs = F.transform(col(poly_col), lambda v: v.getItem(0))
        ys = F.transform(col(poly_col), lambda v: v.getItem(1))
        out = out.withColumn(
            "bbox",
            F.struct(
                F.array_min(xs).alias("xmin"),
                F.array_min(ys).alias("ymin"),
                F.array_max(xs).alias("xmax"),
                F.array_max(ys).alias("ymax"),
            ),
        )
    out = out.drop(poly_col)
    out = out.withColumn(geom_col, col("__wkb__").alias(geom_col, metadata=meta))
    writer = out.drop("__wkb__").write.mode(mode)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)  # e.g. parquet.block.size for small row groups
    writer.parquet(path)
    if stamp_footer:
        stamp_geo_footer(path, geo_meta)


def read_geoparquet(spark, path: str, geom_col: str = "geometry", bbox=None):
    """Read a :func:`write_geoparquet` dataset -> (DataFrame, geo meta
    dict or None).  Geometry stays WKB; :func:`parse_polygon_wkb`
    recovers vertex arrays.  Metadata is taken from the Spark field
    metadata, falling back to the standard ``geo`` parquet footer key
    (so third-party GeoParquet files read too).

    ``bbox=(xmin, ymin, xmax, ymax)`` applies the covering-column
    intersection filter FIRST, so the nested predicates reach the
    parquet scan and prune row groups on min/max statistics (pinned by
    ``tests/test_plans.py``) — the one-liner form of the engine's P4
    design rule for spatial reads at scale."""
    import glob
    import json
    import os

    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    if bbox is not None:
        xmin, ymin, xmax, ymax = bbox
        df = df.filter(
            (F.col("bbox.xmax") >= xmin)
            & (F.col("bbox.xmin") <= xmax)
            & (F.col("bbox.ymax") >= ymin)
            & (F.col("bbox.ymin") <= ymax)
        )
    meta = None
    for f in df.schema.fields:
        if f.name == geom_col and f.metadata and "geoparquet" in f.metadata:
            meta = json.loads(f.metadata["geoparquet"])
    if meta is None:
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if parts:
            import pyarrow.parquet as pq

            kv = pq.read_schema(parts[0]).metadata or {}
            if b"geo" in kv:
                meta = json.loads(kv[b"geo"])
    return df, meta

