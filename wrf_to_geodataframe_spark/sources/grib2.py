"""GRIB2 scan + sink (SURVEY.md §2 S1 at met-archive shape).

The reference's workflow starts from model fields (``xr.open_dataset``
at wrf_voronoi.py:115); the exchange format those fields arrive in
across the WRF ecosystem — GFS/ERA5 initial conditions, every WMO
dissemination feed — is GRIB2 (WMO FM 92 Edition 2).  Pure-python/
numpy implementation of the public spec:

* Section structure 0-8 (Indicator / Identification / Local use /
  Grid definition / Product definition / Data representation /
  Bitmap / Data / End), multi-message files (messages are simply
  concatenated; each states its own total length).
* Grid template 3.0 — regular latitude/longitude, microdegree
  coordinates, sign-magnitude signed fields, scanning modes 0x00
  (north->south) and 0x40 (south->north); 3.1, ROTATED lat/lon (the
  UKCP18/HadUK/COSMO regional-climate grid — the reference's own data
  family): rotation-matrix construction with the rotated origin on
  the south pole's meridian, invariants pinned in tests; 3.30,
  Lambert conformal conic (WRF's native projection; NAM/HRRR):
  from-scratch spherical LCC forward/inverse (Snyder eqs. 15-1..15-5,
  pinned to his published worked example); and 3.40, GAUSSIAN grids
  (ERA5's native rows): latitudes = arcsin of the Legendre P_2N
  roots, re-verified against the polynomial.  Curvilinear grids come
  out as 2-D lat/lon — the engine's explicit-key model carries them
  natively.
* Data representation template 5.0 — simple packing
  ``value = (R + X * 2^E) / 10^D`` with MSB-first n-bit fields — 5.2
  (complex packing: general group splitting — per-group reference/
  width/length arrays, each byte-aligned, then one continuous data
  bitstream) and 5.3 (complex packing + spatial differencing of
  order 1/2: sign-magnitude extra descriptors h1[, h2], hmin in
  section 7, recurrence ``x[n] = g[n] + hmin + x[n-1]`` resp.
  ``+ 2x[n-1] - x[n-2]``) — the templates real GFS/NCEP files use —
  5.4 (IEEE float32), 5.40 (JPEG2000 packing, operational ECMWF/
  NCEP: gated on the system libopenjp2 via ``sources/openjpeg.py`` —
  SIZ-marker triage always works, decode raises a named error when
  the library is absent), and 5.41 (PNG packing, NCEP/MRMS: the
  packed integers ride as raw PNG samples, decoded through the
  repo's own libpng-cross-validated decoder via ``decode_png_raw``).
  Bitmapped (section 6) sparse fields read as NaN at absent points.
* Product template 4.0 (parameter category/number, forecast hour).

No GRIB implementation exists in this environment (no eccodes/
wgrib2/pygrib), so correctness rests on hand-assembled spec-golden
bitstreams plus write->read round-trip fuzz (tests/test_grib2.py) —
the szip discipline; a gated eccodes interop test belongs here the
moment an environment provides one.

Scale path: a met archive is many files x many messages.
``read_grib2_dir`` distributes per-file via ``binaryFile`` +
``mapInPandas`` (the WARC/NetCDF-dir pattern, sources/warc.py:132);
within a task, messages decode independently.  Nothing data-sized
crosses the driver.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "Grib2Error",
    "is_grib2",
    "read_grib2",
    "read_grib2_bytes",
    "write_grib2",
    "read_grib2_grid",
    "read_grib2_dir",
]


class Grib2Error(ValueError):
    """Malformed or unsupported GRIB2 content."""


def _smag(u: int, bits: int) -> int:
    """GRIB2 signed fields are sign-magnitude: high bit set means
    negative magnitude (NOT two's complement)."""
    sign = u >> (bits - 1)
    mag = u & ((1 << (bits - 1)) - 1)
    return -mag if sign else mag


def _enc_smag(v: int, nbytes: int) -> bytes:
    bits = nbytes * 8
    mag = abs(int(v))
    if mag >= 1 << (bits - 1):
        raise Grib2Error(f"sign-magnitude overflow: {v}")
    u = mag | ((1 << (bits - 1)) if v < 0 else 0)
    return int(u).to_bytes(nbytes, "big")


def is_grib2(buf: bytes) -> bool:
    return len(buf) >= 16 and buf[:4] == b"GRIB" and buf[7] == 2


def _unpack_bits(data: bytes, nbits: int, n: int) -> np.ndarray:
    """n MSB-first nbits-wide unsigned fields -> int64 array."""
    if nbits == 0:
        return np.zeros(n, dtype="int64")
    need = (n * nbits + 7) // 8
    if len(data) < need:
        raise Grib2Error("data section shorter than packed field")
    bits = np.unpackbits(np.frombuffer(data[:need], dtype="u1"))[: n * nbits]
    weights = (1 << np.arange(nbits - 1, -1, -1, dtype="int64"))
    return bits.reshape(n, nbits).astype("int64") @ weights


def _pack_bits(vals: np.ndarray, nbits: int) -> bytes:
    if nbits == 0:
        return b""
    v = np.asarray(vals, dtype="int64")
    if v.size and (v.min() < 0 or v.max() >= (1 << nbits)):
        raise Grib2Error(f"value out of range for {nbits}-bit packing")
    weights = np.arange(nbits - 1, -1, -1, dtype="int64")
    bits = ((v[:, None] >> weights) & 1).astype("u1").reshape(-1)
    return np.packbits(bits).tobytes()


class _BitCursor:
    """MSB-first bit reader over a byte payload, with the complex-
    packing alignment rule: each descriptor array is padded to a byte
    boundary; the group data stream is continuous across groups."""

    def __init__(self, data: bytes):
        self.bits = np.unpackbits(np.frombuffer(data, dtype="u1"))
        self.pos = 0

    def fields(self, width: int, count: int) -> np.ndarray:
        if width == 0:
            return np.zeros(count, dtype="int64")
        end = self.pos + width * count
        if end > self.bits.size:
            raise Grib2Error("packed stream shorter than declared")
        w = (1 << np.arange(width - 1, -1, -1, dtype="int64"))
        out = self.bits[self.pos:end].reshape(count, width).astype("int64") @ w
        self.pos = end
        return out

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _unpack_complex(s5: bytes, payload: bytes, ndata: int,
                    tmpl5: int, name: str) -> np.ndarray:
    """Data templates 5.2/5.3 -> float64 values (missing-value
    management 0 only; 1/2 rejected loudly)."""
    (ref,) = struct.unpack_from(">f", s5, 11)
    e = _smag(struct.unpack_from(">H", s5, 15)[0], 16)
    d = _smag(struct.unpack_from(">H", s5, 17)[0], 16)
    nbits = s5[19]
    split = s5[21]
    missing = s5[22]
    if split != 1:
        raise Grib2Error(f"{name}: group splitting method {split}")
    if missing != 0:
        raise Grib2Error(
            f"{name}: missing value management {missing} not supported"
        )
    (ng,) = struct.unpack_from(">I", s5, 31)
    wref, wbits = s5[35], s5[36]
    (lref,) = struct.unpack_from(">I", s5, 37)
    linc = s5[41]
    (last_len,) = struct.unpack_from(">I", s5, 42)
    lbits = s5[46]
    if ng == 0:
        raise Grib2Error(f"{name}: zero groups")

    order, extra_octets = 0, 0
    pos = 0
    h = []
    if tmpl5 == 3:
        order, extra_octets = s5[47], s5[48]
        if order not in (1, 2):
            raise Grib2Error(f"{name}: spatial differencing order {order}")
        if ndata <= order:
            # the recurrence seeds `order` initial values x[0..order-1];
            # a message declaring fewer data points than that is
            # malformed and must surface as Grib2Error, not IndexError
            raise Grib2Error(
                f"{name}: order-{order} spatial differencing needs "
                f"> {order} data points, message declares {ndata}"
            )
        for _ in range(order + 1):
            u = int.from_bytes(payload[pos:pos + extra_octets], "big")
            h.append(_smag(u, extra_octets * 8))
            pos += extra_octets

    cur = _BitCursor(payload[pos:])
    refs = cur.fields(nbits, ng)
    cur.align()
    widths = wref + cur.fields(wbits, ng)
    cur.align()
    scaled = cur.fields(lbits, ng)
    cur.align()
    lengths = lref + linc * scaled
    lengths[-1] = last_len
    total = int(lengths.sum())
    if total != ndata:
        raise Grib2Error(
            f"{name}: group lengths sum {total} != {ndata} data points"
        )
    x = np.empty(ndata, dtype="int64")
    off = 0
    for g in range(ng):
        n = int(lengths[g])
        x[off:off + n] = refs[g] + cur.fields(int(widths[g]), n)
        off += n

    if tmpl5 == 3:
        hmin = h[-1]
        if order == 1:
            x[1:] += hmin
            x[0] = h[0]
            np.cumsum(x, out=x)
        else:
            # x[n] = g[n] + hmin + 2x[n-1] - x[n-2]: a second-order
            # recurrence = double cumulative sum with x[0]=h1, x[1]=h2
            x[2:] += hmin
            x[0], x[1] = h[0], h[1]
            if ndata > 1:
                first = x[1:].copy()
                first[0] = h[1] - h[0]
                np.cumsum(first, out=first)
                x[1:] = h[0] + np.cumsum(first)
    return (float(ref) + x.astype("float64") * (2.0 ** e)) / (10.0 ** d)


def _lcc_constants(lat1d: float, lat2d: float, lat0d: float, R: float):
    """Spherical Lambert conformal conic constants (Snyder, Map
    Projections — A Working Manual, eqs. 15-1..15-3): cone constant
    n, F, and rho0 at the reference latitude."""
    p1, p2, p0 = map(np.radians, (lat1d, lat2d, lat0d))
    if abs(lat1d - lat2d) < 1e-12:
        n = np.sin(p1)
    else:
        n = (
            np.log(np.cos(p1) / np.cos(p2))
            / np.log(np.tan(np.pi / 4 + p2 / 2)
                     / np.tan(np.pi / 4 + p1 / 2))
        )
    F = np.cos(p1) * np.tan(np.pi / 4 + p1 / 2) ** n / n
    rho0 = R * F / np.tan(np.pi / 4 + p0 / 2) ** n
    return n, F, rho0


def lcc_forward(lat, lon, lat1d, lat2d, lat0d, lon0d, R):
    """(lat, lon) degrees -> (x, y) metres on the spherical LCC."""
    n, F, rho0 = _lcc_constants(lat1d, lat2d, lat0d, R)
    p = np.radians(np.asarray(lat, dtype="float64"))
    dl = np.radians(np.asarray(lon, dtype="float64") - lon0d)
    # wrap to (-pi, pi] so grids straddling lon0 +- 180 stay sane
    dl = (dl + np.pi) % (2 * np.pi) - np.pi
    rho = R * F / np.tan(np.pi / 4 + p / 2) ** n
    return rho * np.sin(n * dl), rho0 - rho * np.cos(n * dl)


def lcc_inverse(x, y, lat1d, lat2d, lat0d, lon0d, R):
    """(x, y) metres -> (lat, lon) degrees on the spherical LCC."""
    n, F, rho0 = _lcc_constants(lat1d, lat2d, lat0d, R)
    x = np.asarray(x, dtype="float64")
    y = np.asarray(y, dtype="float64")
    rho = np.sign(n) * np.sqrt(x * x + (rho0 - y) ** 2)
    theta = np.arctan2(
        np.sign(n) * x, np.sign(n) * (rho0 - y)
    )
    lat = 2 * np.arctan((R * F / rho) ** (1.0 / n)) - np.pi / 2
    return np.degrees(lat), lon0d + np.degrees(theta / n)


def _earth_radius(body: bytes) -> float:
    """Shape-of-earth octets (template offset 0..15): spherical radii
    only (projected grids on a spheroid are out of scope; NCEP LCC and
    the common 3.140 LAEA grids are spherical)."""
    shape = body[0]
    if shape == 0:
        return 6367470.0
    if shape == 6:
        return 6371229.0
    if shape == 1:
        sf = body[1]
        val = struct.unpack_from(">I", body, 2)[0]
        return val / (10.0 ** sf)
    raise Grib2Error(f"shape of earth {shape} not supported for projected grids")


def rotated_to_true(lat_r, lon_r, sp_lat: float, sp_lon: float):
    """Rotated-pole coordinates -> true (lat, lon) degrees.  The
    rotated system's north pole sits at true (-sp_lat, sp_lon - 180);
    implemented as an explicit rotation-matrix product (Ry then Rz),
    which pins the sign conventions by construction instead of by a
    memorized formula — the invariants (pole image, origin image,
    angular-distance preservation, involution with the inverse) are
    asserted in tests/test_grib2.py."""
    np_lat = -sp_lat
    np_lon = sp_lon - 180.0
    phi = np.radians(np.asarray(lat_r, dtype="float64"))
    lam = np.radians(np.asarray(lon_r, dtype="float64"))
    # the rotated lambda_r = 0 meridian faces AWAY from the pole's
    # true meridian (rotated origin lands at (90 - np_lat, sp_lon) —
    # the UKCP18 rotation puts rotated (0,0) on the UK, not its
    # antipode): pre-rotate 180 degrees about z
    x = -np.cos(phi) * np.cos(lam)
    y = -np.cos(phi) * np.sin(lam)
    z = np.sin(phi)
    theta = np.radians(90.0 - np_lat)
    # Ry(theta): tilt the pole toward +x, then Rz(np_lon)
    x1 = x * np.cos(theta) + z * np.sin(theta)
    z1 = -x * np.sin(theta) + z * np.cos(theta)
    lam_p = np.radians(np_lon)
    x2 = x1 * np.cos(lam_p) - y * np.sin(lam_p)
    y2 = x1 * np.sin(lam_p) + y * np.cos(lam_p)
    lat = np.degrees(np.arcsin(np.clip(z1, -1.0, 1.0)))
    lon = np.degrees(np.arctan2(y2, x2))
    return lat, lon


def true_to_rotated(lat, lon, sp_lat: float, sp_lon: float):
    """Inverse of ``rotated_to_true`` (transpose rotations, reverse
    order)."""
    np_lat = -sp_lat
    np_lon = sp_lon - 180.0
    phi = np.radians(np.asarray(lat, dtype="float64"))
    lam = np.radians(np.asarray(lon, dtype="float64"))
    x = np.cos(phi) * np.cos(lam)
    y = np.cos(phi) * np.sin(lam)
    z = np.sin(phi)
    lam_p = np.radians(np_lon)
    x1 = x * np.cos(lam_p) + y * np.sin(lam_p)
    y1 = -x * np.sin(lam_p) + y * np.cos(lam_p)
    theta = np.radians(90.0 - np_lat)
    x2 = x1 * np.cos(theta) - z * np.sin(theta)
    z2 = x1 * np.sin(theta) + z * np.cos(theta)
    lat_r = np.degrees(np.arcsin(np.clip(z2, -1.0, 1.0)))
    # undo the 180-degree pre-rotation (see rotated_to_true)
    lon_r = np.degrees(np.arctan2(-y1, -x2))
    return lat_r, lon_r


def _parse_grid_template_3_1(body: bytes) -> dict:
    """Rotated latitude/longitude (template 3.1 — the UKCP/HadUK/
    COSMO regional-climate grid): template 3.0 fields, then octets
    73-76/77-80 southern-pole latitude/longitude and 81-84 rotation
    angle (only 0 supported).  Grid is regular in ROTATED coords;
    true coords come out 2-D curvilinear."""
    base = _parse_grid_template_3_0(body)
    def u4(o):
        return struct.unpack_from(">I", body, o)[0]

    sp_lat = _smag(u4(58), 32) / 1e6
    sp_lon = u4(62) / 1e6
    angle = u4(66)
    if angle != 0:
        raise Grib2Error(f"rotated-grid rotation angle {angle} != 0")
    # base lat/lon are the ROTATED-frame axes
    lon_r, lat_r = np.meshgrid(
        ((base["lon"] + 180.0) % 360.0) - 180.0, base["lat"]
    )
    lat, lon = rotated_to_true(lat_r, lon_r, sp_lat, sp_lon)
    return {
        "ni": base["ni"],
        "nj": base["nj"],
        "lat": lat,
        "lon": lon % 360.0,
        "scan": base["scan"],
        "projection": {
            "name": "rotated_latlon",
            "sp_lat": sp_lat,
            "sp_lon": sp_lon,
            "lat_rot_first": float(base["lat"][0]),
            "lon_rot_first": float(base["lon"][0]),
        },
    }


def gaussian_latitudes(n: int) -> np.ndarray:
    """The 2N Gaussian latitudes (degrees, north->south): arcsin of
    the roots of the Legendre polynomial P_2N — ERA5's native grid
    rows.  Exact by construction (numpy's Gauss-Legendre nodes ARE
    the P_2N roots; the test re-verifies |P_2N(sin lat)| ~ 0)."""
    nodes, _w = np.polynomial.legendre.leggauss(2 * n)
    return np.degrees(np.arcsin(nodes))[::-1]  # descending (N -> S)


def _parse_grid_template_3_40(body: bytes) -> dict:
    """Gaussian latitude/longitude (template 3.40): identical octet
    layout to 3.0 except octets 68-71 carry N (parallels between pole
    and equator) instead of Dj; latitude rows are the computed
    Gaussian latitudes clipped to [La1, La2]."""
    def u4(o):
        return struct.unpack_from(">I", body, o)[0]

    def s4(o):
        return _smag(u4(o), 32)

    ni, nj = u4(16), u4(20)
    la1, lo1 = s4(32) / 1e6, u4(36) / 1e6
    la2 = s4(41) / 1e6
    di = u4(49)
    n = u4(53)
    scan = body[57]
    if scan not in (0x00, 0x40):
        raise Grib2Error(f"unsupported scanning mode 0x{scan:02x}")
    glats = gaussian_latitudes(int(n))
    lo_b, hi_b = sorted((la1, la2))
    rows = glats[(glats >= lo_b - 1e-6) & (glats <= hi_b + 1e-6)]
    if scan & 0x40:
        rows = rows[::-1]  # south -> north
    if rows.size != nj:
        raise Grib2Error(
            f"Gaussian grid: {rows.size} latitudes in [{la1}, {la2}] "
            f"but Nj = {nj}"
        )
    lon = lo1 + np.arange(ni) * (di / 1e6)
    return {
        "ni": int(ni),
        "nj": int(nj),
        "lat": rows,
        "lon": lon,
        "scan": scan,
        "projection": {"name": "gaussian", "n": int(n)},
    }


def _parse_grid_template_3_30(body: bytes) -> dict:
    """Lambert conformal (template 3.30) — WRF's native projection.
    ``body`` = section 3 octets 15.. (0-based offset = octet - 15):
    shape block 0-15, Nx 16, Ny 20, La1 24, Lo1 28, resolution 32,
    LaD 33, LoV 37, Dx 41, Dy 45 (both millimetres), projection
    centre 49, scan mode 50, Latin1 51, Latin2 55, south pole 59-66.
    Returns 2-D curvilinear lat/lon computed by inverse projection."""
    def u4(o):
        return struct.unpack_from(">I", body, o)[0]

    def s4(o):
        return _smag(u4(o), 32)

    ni, nj = u4(16), u4(20)
    la1, lo1 = s4(24) / 1e6, u4(28) / 1e6
    lad, lov = s4(33) / 1e6, u4(37) / 1e6
    dx, dy = u4(41) / 1e3, u4(45) / 1e3
    centre = body[49]
    scan = body[50]
    latin1, latin2 = s4(51) / 1e6, s4(55) / 1e6
    if centre & 0x80:
        raise Grib2Error("south-pole-centred LCC not supported")
    if scan not in (0x00, 0x40):
        raise Grib2Error(f"unsupported scanning mode 0x{scan:02x}")
    R = _earth_radius(body)
    lov_c = ((lov + 180.0) % 360.0) - 180.0
    x1, y1 = lcc_forward(la1, lo1, latin1, latin2, lad, lov_c, R)
    xs = x1 + np.arange(ni) * dx
    ys = y1 + np.arange(nj) * (dy if scan & 0x40 else -dy)
    xg, yg = np.meshgrid(xs, ys)
    lat, lon = lcc_inverse(xg, yg, latin1, latin2, lad, lov_c, R)
    return {
        "ni": int(ni),
        "nj": int(nj),
        "lat": lat,
        "lon": lon % 360.0,
        "scan": scan,
        "projection": {
            "name": "lambert_conformal_conic",
            "latin1": latin1, "latin2": latin2,
            "lad": lad, "lov": lov, "radius": R,
        },
    }


def _parse_grid_template_3_140(body: bytes) -> dict:
    """Lambert azimuthal equal-area (template 3.140 — the EUMETSAT
    OSI-SAF / EASE-style equal-area grids).  ``body`` = section 3
    octets 15.. (0-based offset = octet - 15): shape block 0-15,
    Nx 16, Ny 20, La1 24, Lo1 28, standard parallel 32, central
    longitude 36, resolution flags 40, Dx 41, Dy 45 (both
    millimetres), scan mode 49.  Grid points are regular in the LAEA
    plane; lat/lon come from the inverse transform
    (functions/crs.laea_inverse_numpy — Snyder ch. 24; the e = 0
    authalic limit makes the spherical GRIB2 earths exact)."""
    from wrf_to_geodataframe_spark.functions.crs import (
        laea_forward_numpy,
        laea_inverse_numpy,
    )

    def u4(o):
        return struct.unpack_from(">I", body, o)[0]

    def s4v(o):
        return _smag(u4(o), 32)

    ni, nj = u4(16), u4(20)
    la1, lo1 = s4v(24) / 1e6, u4(28) / 1e6
    lat0, lon0 = s4v(32) / 1e6, u4(36) / 1e6
    dx, dy = u4(41) / 1e3, u4(45) / 1e3
    scan = body[49]
    if scan not in (0x00, 0x40):
        raise Grib2Error(f"unsupported scanning mode 0x{scan:02x}")
    R = _earth_radius(body)
    lon0_c = ((lon0 + 180.0) % 360.0) - 180.0
    x1, y1 = laea_forward_numpy(lo1, la1, lat0, lon0_c, a=R, e2=0.0)
    xs = float(x1) + np.arange(ni) * dx
    ys = float(y1) + np.arange(nj) * (dy if scan & 0x40 else -dy)
    xg, yg = np.meshgrid(xs, ys)
    lon, lat = laea_inverse_numpy(xg, yg, lat0, lon0_c, a=R, e2=0.0)
    return {
        "ni": int(ni),
        "nj": int(nj),
        "lat": lat,
        "lon": lon % 360.0,
        "scan": scan,
        "projection": {
            "name": "lambert_azimuthal_equal_area",
            "lat0": lat0, "lon0": lon0, "radius": R,
        },
    }


def _parse_grid_template_3_0(body: bytes) -> dict:
    """``body`` is the grid definition template, i.e. section 3 octets
    15.. (0-based offset = WMO octet - 15): shape-of-earth block 0-15,
    Ni 16, Nj 20, basic angle 24, subdivisions 28, La1 32, Lo1 36,
    resolution flags 40, La2 41, Lo2 45, Di 49, Dj 53, scan mode 57."""
    def u4(o):
        return struct.unpack_from(">I", body, o)[0]

    def s4(o):
        return _smag(u4(o), 32)

    ni, nj = u4(16), u4(20)
    la1, lo1 = s4(32), u4(36)
    la2, lo2 = s4(41), u4(45)
    di, dj = u4(49), u4(53)
    scan = body[57]
    if scan not in (0x00, 0x40):
        raise Grib2Error(f"unsupported scanning mode 0x{scan:02x}")
    lat = la1 / 1e6 + np.arange(nj) * ((dj / 1e6) if scan & 0x40 else -(dj / 1e6))
    lon = lo1 / 1e6 + np.arange(ni) * (di / 1e6)
    return {
        "ni": int(ni),
        "nj": int(nj),
        "lat": lat,
        "lon": lon,
        "la2": la2 / 1e6,
        "lo2": lo2 / 1e6,
        "scan": scan,
    }


def read_grib2_bytes(buf: bytes, name: str = "<bytes>") -> list[dict]:
    """Parse every GRIB2 message in ``buf`` -> list of dicts with keys
    discipline, param_category, param_number, ref_time (tuple),
    forecast_hours, ni, nj, lat (1-D, row order as stored), lon (1-D),
    values (nj x ni float64, NaN at bitmapped-absent points)."""
    out = []
    pos = 0
    n = len(buf)
    while pos < n:
        if n - pos < 16:
            raise Grib2Error(f"{name}: trailing garbage at {pos}")
        if buf[pos:pos + 4] != b"GRIB":
            raise Grib2Error(f"{name}: no GRIB magic at {pos}")
        if buf[pos + 7] != 2:
            raise Grib2Error(f"{name}: GRIB edition {buf[pos + 7]} != 2")
        discipline = buf[pos + 6]
        (msg_len,) = struct.unpack_from(">Q", buf, pos + 8)
        if pos + msg_len > n:
            raise Grib2Error(f"{name}: message length past end of file")
        msg = buf[pos:pos + msg_len]
        out.append(_parse_message(msg, discipline, name))
        pos += msg_len
    if not out:
        raise Grib2Error(f"{name}: empty GRIB2 stream")
    return out


def _parse_message(msg: bytes, discipline: int, name: str) -> dict:
    p = 16
    sections: dict[int, bytes] = {}
    while p < len(msg):
        if msg[p:p + 4] == b"7777":
            break
        (slen,) = struct.unpack_from(">I", msg, p)
        if slen < 5 or p + slen > len(msg):
            raise Grib2Error(f"{name}: bad section length at {p}")
        snum = msg[p + 4]
        sections[snum] = msg[p:p + slen]
        p += slen
    else:
        raise Grib2Error(f"{name}: missing 7777 end section")
    for req in (1, 3, 4, 5, 7):
        if req not in sections:
            raise Grib2Error(f"{name}: missing section {req}")

    s1 = sections[1]
    year = struct.unpack_from(">H", s1, 12)[0]
    ref_time = (year, s1[14], s1[15], s1[16], s1[17], s1[18])

    s3 = sections[3]
    (tmpl3,) = struct.unpack_from(">H", s3, 12)
    (npoints,) = struct.unpack_from(">I", s3, 6)
    if tmpl3 == 0:
        grid = _parse_grid_template_3_0(s3[14:])
    elif tmpl3 == 1:
        grid = _parse_grid_template_3_1(s3[14:])
    elif tmpl3 == 30:
        grid = _parse_grid_template_3_30(s3[14:])
    elif tmpl3 == 40:
        grid = _parse_grid_template_3_40(s3[14:])
    elif tmpl3 == 140:
        grid = _parse_grid_template_3_140(s3[14:])
    else:
        raise Grib2Error(f"{name}: grid template 3.{tmpl3} not supported")
    if grid["ni"] * grid["nj"] != npoints:
        raise Grib2Error(f"{name}: grid {grid['nj']}x{grid['ni']} != {npoints} points")

    s4 = sections[4]
    (tmpl4,) = struct.unpack_from(">H", s4, 7)
    product: dict = {}
    if tmpl4 in (0, 1, 8):
        # templates 4.1 (ensemble member) and 4.8 (statistical
        # interval) share 4.0's octets 10-34
        param_category = s4[9]
        param_number = s4[10]
        forecast_hours = struct.unpack_from(">i", s4, 18)[0]
        if tmpl4 == 1:
            product = {
                "ens_type": s4[34],
                "ens_member": s4[35],
                "ens_total": s4[36],
            }
        elif tmpl4 == 8:
            eyear = struct.unpack_from(">H", s4, 34)[0]
            product = {
                "interval_end": (
                    eyear, s4[36], s4[37], s4[38], s4[39], s4[40]
                ),
                "stat_type": s4[46],
                "stat_hours": struct.unpack_from(">I", s4, 49)[0],
            }
    else:
        param_category = param_number = forecast_hours = None

    s5 = sections[5]
    (ndata,) = struct.unpack_from(">I", s5, 5)
    (tmpl5,) = struct.unpack_from(">H", s5, 9)

    bitmap = None
    s6 = sections.get(6)
    if s6 is not None:
        bmi = s6[5]
        if bmi == 0:
            bits = np.unpackbits(np.frombuffer(s6[6:], dtype="u1"))
            bitmap = bits[:npoints].astype(bool)
            if bitmap.sum() != ndata:
                raise Grib2Error(
                    f"{name}: bitmap has {int(bitmap.sum())} set bits, "
                    f"section 5 declares {ndata}"
                )
        elif bmi != 255:
            raise Grib2Error(f"{name}: bitmap indicator {bmi} not supported")
    if bitmap is None and ndata != npoints:
        raise Grib2Error(f"{name}: {ndata} packed != {npoints} grid points")

    s7 = sections[7]
    payload = s7[5:]
    if tmpl5 == 0:
        (ref,) = struct.unpack_from(">f", s5, 11)
        e = _smag(struct.unpack_from(">H", s5, 15)[0], 16)
        d = _smag(struct.unpack_from(">H", s5, 17)[0], 16)
        nbits = s5[19]
        x = _unpack_bits(payload, nbits, ndata)
        data = (float(ref) + x.astype("float64") * (2.0 ** e)) / (10.0 ** d)
    elif tmpl5 in (2, 3):
        data = _unpack_complex(s5, payload, ndata, tmpl5, name)
    elif tmpl5 == 40:
        # JPEG2000 packing (operational ECMWF/NCEP): section 7 is a
        # raw J2K codestream whose component-0 samples are the packed
        # integers.  Decoding is GATED on the system openjpeg
        # (sources/openjpeg.py, the libavif discipline); without it
        # the message fails with a named triage error.
        from wrf_to_geodataframe_spark.sources.openjpeg import (
            decode_j2k,
            j2k_info,
            openjpeg_present,
        )

        (ref,) = struct.unpack_from(">f", s5, 11)
        e = _smag(struct.unpack_from(">H", s5, 15)[0], 16)
        d = _smag(struct.unpack_from(">H", s5, 17)[0], 16)
        try:
            triage = j2k_info(payload)
        except ValueError as exc:
            raise Grib2Error(f"{name}: 5.40 payload: {exc}") from exc
        if not openjpeg_present():
            raise Grib2Error(
                f"{name}: data template 5.40 (JPEG2000, "
                f"{triage['height']}x{triage['width']} "
                f"{triage['prec']}-bit) needs the system openjpeg "
                "library (libopenjp2) — gated codec, absent here"
            )
        try:
            x = decode_j2k(payload)
        except ValueError as exc:
            raise Grib2Error(f"{name}: 5.40 decode: {exc}") from exc
        if x.size != ndata:
            raise Grib2Error(
                f"{name}: 5.40 codestream has {x.size} samples, "
                f"section 5 declares {ndata}"
            )
        data = (
            float(ref) + x.reshape(-1).astype("float64") * (2.0 ** e)
        ) / (10.0 ** d)
    elif tmpl5 == 41:
        # PNG packing (NCEP, e.g. MRMS): section 7 is a PNG stream
        # whose RAW samples carry the nbits-wide packed integers
        # MSB-first (g2lib pngunpack semantics: depth/channels come
        # from the PNG, the field width from the template)
        from wrf_to_geodataframe_spark.sources.png import decode_png_raw

        (ref,) = struct.unpack_from(">f", s5, 11)
        e = _smag(struct.unpack_from(">H", s5, 15)[0], 16)
        d = _smag(struct.unpack_from(">H", s5, 17)[0], 16)
        nbits = s5[19]
        try:
            _w, _h, _depth, _ch, raw = decode_png_raw(payload)
        except ValueError as exc:
            raise Grib2Error(f"{name}: 5.41 PNG payload: {exc}") from exc
        x = _unpack_bits(raw, nbits, ndata)
        data = (float(ref) + x.astype("float64") * (2.0 ** e)) / (10.0 ** d)
    elif tmpl5 == 4:
        prec = s5[11]
        if prec != 1:
            raise Grib2Error(f"{name}: IEEE precision {prec} not supported")
        data = np.frombuffer(payload, dtype=">f4", count=ndata).astype("float64")
    else:
        raise Grib2Error(f"{name}: data template 5.{tmpl5} not supported")

    if bitmap is not None:
        full = np.full(npoints, np.nan)
        full[bitmap] = data
        data = full
    values = data.reshape(grid["nj"], grid["ni"])
    out = {
        "discipline": discipline,
        "param_category": param_category,
        "param_number": param_number,
        "ref_time": ref_time,
        "forecast_hours": forecast_hours,
        "ni": grid["ni"],
        "nj": grid["nj"],
        "lat": grid["lat"],
        "lon": grid["lon"],
        "values": values,
    }
    if "projection" in grid:
        out["projection"] = grid["projection"]
    if product:
        out["product"] = product
    return out


def read_grib2(path: str) -> list[dict]:
    with open(path, "rb") as f:
        return read_grib2_bytes(f.read(), name=path)


# -- writer (round-trip basis + S4-adjacent sink) ------------------------

def write_grib2(path: str, messages: list[dict]) -> None:
    """Write GRIB2 messages.  Each message dict: values (nj x ni),
    lat0/lon0/dlat/dlon in degrees (dlat sign gives scan direction),
    optional discipline/param_category/param_number/ref_time/
    forecast_hours, and packing: {"template": 0, "ref": R, "e": E,
    "d": D, "nbits": n} (simple; X computed by rounding) or
    {"template": 4} (IEEE float32), optional "bitmap": bool mask of
    PRESENT points (NaN values with a bitmap are encoded absent)."""
    blob = b"".join(_encode_message(m) for m in messages)
    with open(path, "wb") as f:
        f.write(blob)


def _encode_message(m: dict) -> bytes:
    vals = np.asarray(m["values"], dtype="float64")
    nj, ni = vals.shape
    npoints = ni * nj
    flat = vals.reshape(-1)
    pack = dict(m.get("packing", {"template": 0, "ref": 0.0, "e": 0, "d": 0,
                                  "nbits": 16}))
    bitmap = m.get("bitmap")
    if bitmap is None and np.isnan(flat).any():
        bitmap = ~np.isnan(flat)
    if bitmap is not None:
        bitmap = np.asarray(bitmap, dtype=bool).reshape(-1)
        present = flat[bitmap]
    else:
        present = flat

    def sec(num: int, body: bytes) -> bytes:
        return struct.pack(">IB", 5 + len(body), num) + body

    rt = m.get("ref_time", (2026, 1, 1, 0, 0, 0))
    s1 = sec(1, struct.pack(
        ">HHBBBHBBBBBBB",
        0, 0, 2, 1, 1, rt[0], rt[1], rt[2], rt[3], rt[4], rt[5], 0, 1,
    ))

    def _latlon_template(lat0, lon0, dlat, dlon):
        scan = 0x40 if dlat > 0 else 0x00
        la1 = round(lat0 * 1e6)
        lo1 = round(lon0 * 1e6)
        la2 = round((lat0 + dlat * (nj - 1)) * 1e6)
        lo2 = round((lon0 + dlon * (ni - 1)) * 1e6)
        return (
            bytes([6])                  # spherical earth r=6371229
            + b"\x00" * 5 + b"\x00" * 5 + b"\x00" * 5
            + struct.pack(">II", ni, nj)
            + struct.pack(">II", 0, 0)  # basic angle / subdivisions
            + _enc_smag(la1, 4)
            + int(lo1 % (360 * 10**6)).to_bytes(4, "big")
            + bytes([0x30])             # resolution flags: di,dj given
            + _enc_smag(la2, 4)
            + int(lo2 % (360 * 10**6)).to_bytes(4, "big")
            + struct.pack(
                ">II", round(abs(dlon) * 1e6), round(abs(dlat) * 1e6)
            )
            + bytes([scan])
        )

    grid = m.get("grid")
    if grid and grid.get("type") == "rotated":
        # template 3.1: 3.0 fields in ROTATED coordinates + south pole
        tmpl = (
            _latlon_template(
                grid["la1"], grid["lo1"], grid["dlat"], grid["dlon"]
            )
            + _enc_smag(round(grid["sp_lat"] * 1e6), 4)
            + int(round(grid["sp_lon"] * 1e6) % (360 * 10**6)).to_bytes(
                4, "big"
            )
            + struct.pack(">I", 0)      # angle of rotation
        )
        s3 = sec(3, struct.pack(">BIBBH", 0, npoints, 0, 0, 1) + tmpl)
    elif grid and grid.get("type") == "gaussian":
        # template 3.40: full global Gaussian grid, N->S scan
        n_par = int(grid["n"])
        glats = gaussian_latitudes(n_par)
        if nj != 2 * n_par:
            raise Grib2Error(
                f"gaussian grid: nj {nj} != 2N = {2 * n_par}"
            )
        lo1 = round(float(grid["lo1"]) * 1e6)
        dlon = float(grid["dlon"])
        lo2 = round((float(grid["lo1"]) + dlon * (ni - 1)) * 1e6)
        tmpl = (
            bytes([6]) + b"\x00" * 15
            + struct.pack(">II", ni, nj)
            + struct.pack(">II", 0, 0)
            + _enc_smag(round(glats[0] * 1e6), 4)
            + int(lo1 % (360 * 10**6)).to_bytes(4, "big")
            + bytes([0x30])
            + _enc_smag(round(glats[-1] * 1e6), 4)
            + int(lo2 % (360 * 10**6)).to_bytes(4, "big")
            + struct.pack(">I", round(dlon * 1e6))
            + struct.pack(">I", n_par)
            + bytes([0x00])
        )
        s3 = sec(3, struct.pack(">BIBBH", 0, npoints, 0, 0, 40) + tmpl)
    elif grid and grid.get("type") == "lambert":
        # template 3.30: Lambert conformal, scan +i +j, first point =
        # grid lower-left, north-pole-centred spherical earth
        tmpl = (
            bytes([6]) + b"\x00" * 15
            + struct.pack(">II", ni, nj)
            + _enc_smag(round(grid["la1"] * 1e6), 4)
            + int(round(grid["lo1"] * 1e6) % (360 * 10**6)).to_bytes(4, "big")
            + bytes([0x08])
            + _enc_smag(round(grid["lad"] * 1e6), 4)
            + int(round(grid["lov"] * 1e6) % (360 * 10**6)).to_bytes(4, "big")
            + struct.pack(
                ">II", round(grid["dx"] * 1e3), round(grid["dy"] * 1e3)
            )
            + bytes([0, 0x40])
            + _enc_smag(round(grid["latin1"] * 1e6), 4)
            + _enc_smag(round(grid["latin2"] * 1e6), 4)
            + _enc_smag(-90 * 10**6, 4) + (0).to_bytes(4, "big")
        )
        s3 = sec(3, struct.pack(">BIBBH", 0, npoints, 0, 0, 30) + tmpl)
    else:
        tmpl30 = _latlon_template(
            float(m["lat0"]), float(m["lon0"]),
            float(m["dlat"]), float(m["dlon"]),
        )
        s3 = sec(3, struct.pack(">BIBBH", 0, npoints, 0, 0, 0) + tmpl30)

    fh = int(m.get("forecast_hours", 0))
    tmpl40 = struct.pack(
        ">BBBBBHBBi",
        int(m.get("param_category", 0)), int(m.get("param_number", 0)),
        2, 0, 0, 0, 0, 1, fh,
    ) + bytes([1, 0]) + b"\x00" * 4 + bytes([255]) + b"\xff" * 5
    product = m.get("product") or {}
    ptmpl = int(product.get("template", 0))
    if ptmpl == 1:
        body4 = tmpl40 + bytes([
            int(product.get("ens_type", 3)),
            int(product.get("ens_member", 0)),
            int(product.get("ens_total", 0)),
        ])
    elif ptmpl == 8:
        ey, emo, ed, eh, emi, es = product.get(
            "interval_end", (2026, 1, 1, 0, 0, 0)
        )
        body4 = (
            tmpl40
            + struct.pack(">HBBBBB", ey, emo, ed, eh, emi, es)
            + bytes([1])                     # one time-range spec
            + struct.pack(">I", 0)           # missing in interval
            + bytes([int(product.get("stat_type", 1)), 2, 1])
            + struct.pack(">I", int(product.get("stat_hours", 0)))
            + bytes([255]) + struct.pack(">I", 0)
        )
    elif ptmpl == 0:
        body4 = tmpl40
    else:
        raise Grib2Error(f"write: product template 4.{ptmpl}")
    s4 = sec(4, struct.pack(">HH", 0, ptmpl) + body4)

    if pack["template"] == 0:
        ref = float(pack.get("ref", 0.0))
        e, d = int(pack.get("e", 0)), int(pack.get("d", 0))
        nbits = int(pack.get("nbits", 16))
        x = np.rint(
            (present * (10.0 ** d) - ref) / (2.0 ** e)
        ).astype("int64")
        payload = _pack_bits(x, nbits)
        s5 = sec(5, struct.pack(">IH", len(present), 0)
                 + struct.pack(">f", ref)
                 + _enc_smag(e, 2) + _enc_smag(d, 2)
                 + bytes([nbits, 0]))
    elif pack["template"] in (2, 3):
        s5_body, payload = _encode_complex(present, pack)
        s5 = sec(5, s5_body)
    elif pack["template"] == 41:
        from wrf_to_geodataframe_spark.sources.png import encode_png

        ref = float(pack.get("ref", 0.0))
        e, d = int(pack.get("e", 0)), int(pack.get("d", 0))
        nbits = int(pack.get("nbits", 16))
        # g2lib pngpack rounds the width to a whole PNG sample size
        rounded = min(32, ((max(nbits, 1) + 7) // 8) * 8)
        x = np.rint(
            (present * (10.0 ** d) - ref) / (2.0 ** e)
        ).astype("int64")
        if x.size and (x.min() < 0 or x.max() >= (1 << rounded)):
            raise Grib2Error(f"value out of range for {rounded}-bit PNG")
        nb = rounded // 8
        buf = b"".join(int(v).to_bytes(nb, "big") for v in x)
        depth, channels = {1: (8, 1), 2: (16, 1), 3: (8, 3),
                           4: (8, 4)}[nb]
        payload = encode_png(
            buf, len(present), 1, channels=channels, bit_depth=depth
        )
        s5 = sec(5, struct.pack(">IH", len(present), 41)
                 + struct.pack(">f", ref)
                 + _enc_smag(e, 2) + _enc_smag(d, 2)
                 + bytes([rounded, 0]))
    elif pack["template"] == 4:
        payload = np.asarray(present, dtype=">f4").tobytes()
        s5 = sec(5, struct.pack(">IH", len(present), 4) + bytes([1]))
    else:
        raise Grib2Error(f"write: data template 5.{pack['template']}")

    if bitmap is not None:
        s6 = sec(6, bytes([0]) + np.packbits(
            bitmap.astype("u1")
        ).tobytes())
    else:
        s6 = sec(6, bytes([255]))
    s7 = sec(7, payload)

    body = s1 + s3 + s4 + s5 + s6 + s7
    total = 16 + len(body) + 4
    s0 = b"GRIB" + b"\x00\x00" + bytes([int(m.get("discipline", 0)), 2]) + struct.pack(">Q", total)
    return s0 + body + b"7777"


def _nbits_for(vmax: int) -> int:
    return max(int(vmax).bit_length(), 1) if vmax > 0 else 0


def _encode_complex(present: np.ndarray, pack: dict) -> tuple[bytes, bytes]:
    """Encode template 5.2/5.3 (general group splitting; spatial
    differencing order from ``pack['order']`` for 5.3).  Grouping is
    fixed-size (``group_size``) with per-group min reference and
    minimal widths — a valid, simple instance of the general format
    (real encoders optimize group boundaries; the FORMAT is identical,
    which is what the decoder round-trip needs)."""
    tmpl = int(pack["template"])
    ref = float(pack.get("ref", 0.0))
    e, d = int(pack.get("e", 0)), int(pack.get("d", 0))
    gsz = int(pack.get("group_size", 20))
    x = np.rint((present * (10.0 ** d) - ref) / (2.0 ** e)).astype("int64")
    n = x.size
    if n == 0:
        raise Grib2Error("complex packing needs at least one value")

    header_extra = b""
    payload_prefix = b""
    if tmpl == 3:
        order = int(pack.get("order", 2))
        if order not in (1, 2):
            raise Grib2Error(f"write: spatial differencing order {order}")
        if n <= order:
            raise Grib2Error("write: field shorter than differencing order")
        h = [int(x[0])] + ([int(x[1])] if order == 2 else [])
        g = x.copy()
        if order == 1:
            g[1:] = x[1:] - x[:-1]
        else:
            g[2:] = x[2:] - 2 * x[1:-1] + x[:-2]
        hmin = int(g[order:].min())
        g[order:] -= hmin
        g[:order] = 0
        h.append(hmin)
        x = g
        extra_octets = 4
        header_extra = bytes([order, extra_octets])
        payload_prefix = b"".join(_enc_smag(v, extra_octets) for v in h)
    elif tmpl != 2:
        raise Grib2Error(f"write: data template 5.{tmpl}")

    if x.min() < 0:
        raise Grib2Error(
            "complex packing: negative packed value (reference too high)"
        )
    ng = -(-n // gsz)
    groups = [x[i * gsz:(i + 1) * gsz] for i in range(ng)]
    refs = np.array([int(g.min()) for g in groups], dtype="int64")
    widths = np.array(
        [_nbits_for(int(g.max()) - int(r)) for g, r in zip(groups, refs)],
        dtype="int64",
    )
    lengths = np.array([g.size for g in groups], dtype="int64")
    nbits = _nbits_for(int(refs.max()))
    wbits = _nbits_for(int(widths.max()))
    lbits = _nbits_for(int(lengths.max()))
    # lref=0, linc=1: scaled lengths are the true lengths; the last
    # group's length additionally goes in the template (octets 43-46)
    body = (
        struct.pack(">IH", n, tmpl)
        + struct.pack(">f", ref)
        + _enc_smag(e, 2) + _enc_smag(d, 2)
        + bytes([nbits, 0, 1, 0])            # nbits, type, split=1, missing=0
        + b"\x00" * 8                        # primary/secondary substitutes
        + struct.pack(">I", ng)
        + bytes([0, wbits])                  # width reference, width bits
        + struct.pack(">I", 0) + bytes([1])  # length ref, length increment
        + struct.pack(">I", int(lengths[-1]))
        + bytes([lbits])
        + header_extra
    )
    data_bits = [
        ((g - r)[:, None] >> np.arange(int(w) - 1, -1, -1, dtype="int64")) & 1
        for g, r, w in zip(groups, refs, widths)
        if w > 0
    ]
    stream = (
        np.packbits(
            np.concatenate([b.reshape(-1) for b in data_bits]).astype("u1")
        ).tobytes()
        if data_bits
        else b""
    )
    payload = (
        payload_prefix
        + _pack_bits(refs, nbits)
        + _pack_bits(widths, wbits)
        + _pack_bits(lengths, lbits)
        + stream
    )
    return body, payload


# -- Spark surfaces ------------------------------------------------------

def _unnest_messages(msgs: list[dict], fname: str | None):
    """Yield one pandas frame per message in the engine's long shape
    (msg_idx, y_idx, x_idx, lat, lon, value) — NaN (bitmapped-absent)
    cells included, so grids stay dense and keyed."""
    import pandas as pd

    for mi, m in enumerate(msgs):
        nj, ni = m["nj"], m["ni"]
        yy, xx = np.meshgrid(np.arange(nj), np.arange(ni), indexing="ij")
        if np.ndim(m["lat"]) == 2:  # curvilinear (Lambert conformal)
            lat_flat = np.asarray(m["lat"]).ravel().astype("float64")
            lon_flat = np.asarray(m["lon"]).ravel().astype("float64")
        else:
            lat_flat = np.repeat(m["lat"], ni).astype("float64")
            lon_flat = np.tile(m["lon"], nj).astype("float64")
        frame = pd.DataFrame(
            {
                "msg_idx": np.full(nj * ni, mi, dtype="int64"),
                "y_idx": yy.ravel().astype("int64"),
                "x_idx": xx.ravel().astype("int64"),
                "lat": lat_flat,
                "lon": lon_flat,
                "value": m["values"].ravel().astype("float64"),
            }
        )
        if fname is not None:
            frame.insert(0, "file", fname)
        yield frame


def read_grib2_grid(spark, path: str):
    """Driver-side S1 ingest of one GRIB2 file -> long DataFrame
    (msg_idx, y_idx, x_idx, lat, lon, value)."""
    import pandas as pd

    frames = list(_unnest_messages(read_grib2(path), None))
    return spark.createDataFrame(pd.concat(frames, ignore_index=True))


def scan_grib2_offsets(path: str) -> list[tuple[int, int, int]]:
    """Driver-side message index of ONE GRIB2 file: [(msg_idx, offset,
    length)].  Each message's section 0 states its total length, so
    the scan is a seek chain of 16-byte reads — O(messages), not
    O(bytes); a multi-GB GFS file indexes in milliseconds (the role
    wgrib2's ``.idx`` sidecars play, derived from the data itself)."""
    out = []
    with open(path, "rb") as f:
        f.seek(0, 2)
        size = f.tell()
        pos = 0
        idx = 0
        while pos < size:
            f.seek(pos)
            head = f.read(16)
            if len(head) < 16 or head[:4] != b"GRIB":
                raise Grib2Error(f"{path}: no GRIB magic at {pos}")
            if head[7] != 2:
                raise Grib2Error(f"{path}: GRIB edition {head[7]} != 2")
            (msg_len,) = struct.unpack_from(">Q", head, 8)
            if msg_len < 20 or pos + msg_len > size:
                raise Grib2Error(f"{path}: bad message length at {pos}")
            out.append((idx, pos, int(msg_len)))
            pos += msg_len
            idx += 1
    if not out:
        raise Grib2Error(f"{path}: empty GRIB2 file")
    return out


def read_grib2_msgs(spark, path: str):
    """Message-parallel scan of ONE large GRIB2 file — the complement
    of ``read_grib2_dir`` (which parallelizes across files): a single
    GFS cycle file packs hundreds of messages, and one-file-one-task
    would serialize it.  The driver builds the byte-range message
    index (``scan_grib2_offsets``); each executor task seeks straight
    to its messages and decodes only those bytes.  Emits the same
    (msg_idx, y_idx, x_idx, lat, lon, value) table as
    ``read_grib2_grid``.  Requires a path every executor can open."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    offsets = scan_grib2_offsets(path)
    mdf = spark.createDataFrame(
        offsets, "msg_idx long, off long, length long"
    ).repartition(
        max(1, min(len(offsets),
                   spark.sparkContext.defaultParallelism * 2)),
        "msg_idx",
    )
    schema = StructType(
        [
            StructField("msg_idx", LongType()),
            StructField("y_idx", LongType()),
            StructField("x_idx", LongType()),
            StructField("lat", DoubleType()),
            StructField("lon", DoubleType()),
            StructField("value", DoubleType()),
        ]
    )

    def _scan(it):
        with open(path, "rb") as fh:
            for pdf in it:
                for row in pdf.itertuples(index=False):
                    fh.seek(int(row.off))
                    msgs = read_grib2_bytes(
                        fh.read(int(row.length)), name=path
                    )
                    for frame in _unnest_messages(msgs, None):
                        frame["msg_idx"] = int(row.msg_idx)
                        yield frame

    return mdf.mapInPandas(_scan, schema)


def _decode_grib2_files(files):
    """The per-file decode behind ``read_grib2_dir`` AND its stream
    mirror: a (path, content) ``binaryFile`` frame becomes
    (file, msg_idx, y_idx, x_idx, lat, lon, value), one frame per
    message, parsed executor-side."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [StructField("file", StringType())]
        + [StructField(c, LongType()) for c in ("msg_idx", "y_idx", "x_idx")]
        + [StructField(c, DoubleType()) for c in ("lat", "lon", "value")]
    )

    def _batches(it):
        for pdf in it:
            for fname, buf in zip(pdf["path"], pdf["content"]):
                msgs = read_grib2_bytes(bytes(buf), name=fname)
                yield from _unnest_messages(msgs, fname)

    return files.select("path", "content").mapInPandas(_batches, schema)


def read_grib2_dir(spark, path: str):
    """Distributed S1 over a directory/glob of GRIB2 files — the
    met-archive shape (one file per cycle/member, many messages per
    file).  ``binaryFile`` scan (GRIB2 is not block-splittable; the
    file is the parallelism unit, as with NetCDF archives) ->
    ``_decode_grib2_files``.  Emits
    (file, msg_idx, y_idx, x_idx, lat, lon, value)."""
    return _decode_grib2_files(spark.read.format("binaryFile").load(path))
