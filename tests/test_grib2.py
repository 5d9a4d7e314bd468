"""GRIB2 reader/writer tests (sources/grib2.py).

No GRIB implementation exists in this container (no eccodes/wgrib2),
so the evidence layers are: (1) spec-golden messages hand-assembled
octet by octet from the WMO FM 92 section/template tables —
independent of the module's writer; (2) write->read round-trip fuzz
across packings, scan modes, bitmaps and multi-message files;
(3) malformed-input hygiene.  (A gated eccodes interop test belongs
here the moment an environment provides the library.)
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from wrf_to_geodataframe_spark.sources.grib2 import (
    Grib2Error,
    read_grib2,
    read_grib2_bytes,
    write_grib2,
)


def _golden_message(
    x_bytes=bytes([8, 16, 24, 32, 40, 48]),
    nbits=8,
    e_raw=b"\x80\x03",          # sign-magnitude -3
    d_raw=b"\x00\x00",
    ref=0.0,
    la1=50_000_000,
    bitmap_body=bytes([255]),
    ndata=6,
    s5_body=None,
) -> bytes:
    """2 rows x 3 cols, simple packing, north->south scan — assembled
    from the WMO octet tables, NOT via write_grib2."""
    s1 = struct.pack(">IB", 21, 1) + struct.pack(
        ">HHBBBHBBBBBBB", 7, 0, 2, 1, 1, 2026, 8, 14, 0, 0, 0, 0, 1
    )
    tmpl30 = (
        bytes([6]) + b"\x00" * 15
        + struct.pack(">II", 3, 2)          # Ni=3, Nj=2
        + struct.pack(">II", 0, 0)          # basic angle / subdivisions
        + struct.pack(">I", la1)            # La1 (sign-magnitude)
        + struct.pack(">I", 357_000_000)    # Lo1 = 357.0
        + bytes([0x30])                     # res flags: di/dj given
        + struct.pack(">I", 49_750_000)     # La2
        + struct.pack(">I", 357_250_000)    # Lo2
        + struct.pack(">II", 125_000, 250_000)  # Di, Dj
        + bytes([0x00])                     # scan: +i, -j (N->S)
    )
    assert len(tmpl30) == 58
    s3 = struct.pack(">IB", 72, 3) + struct.pack(">BIBBH", 0, 6, 0, 0, 0) + tmpl30
    tmpl40 = (
        bytes([0, 0, 2, 0, 0]) + struct.pack(">H", 0) + bytes([0, 1])
        + struct.pack(">i", 6)
        + bytes([1, 0]) + b"\x00" * 4 + bytes([255]) + b"\xff" * 5
    )
    assert len(tmpl40) == 25
    s4 = struct.pack(">IB", 34, 4) + struct.pack(">HH", 0, 0) + tmpl40
    if s5_body is None:
        s5_body = (
            struct.pack(">IH", ndata, 0)
            + struct.pack(">f", ref) + e_raw + d_raw + bytes([nbits, 0])
        )
    s5 = struct.pack(">IB", 5 + len(s5_body), 5) + s5_body
    s6 = struct.pack(">IB", 5 + len(bitmap_body), 6) + bitmap_body
    s7 = struct.pack(">IB", 5 + len(x_bytes), 7) + x_bytes
    body = s1 + s3 + s4 + s5 + s6 + s7
    total = 16 + len(body) + 4
    s0 = b"GRIB\x00\x00" + bytes([0, 2]) + struct.pack(">Q", total)
    return s0 + body + b"7777"


def test_golden_simple_packing():
    msg = _golden_message()
    out = read_grib2_bytes(msg)
    assert len(out) == 1
    m = out[0]
    assert (m["ni"], m["nj"]) == (3, 2)
    assert m["param_category"] == 0 and m["param_number"] == 0
    assert m["ref_time"] == (2026, 8, 14, 0, 0, 0)
    assert m["forecast_hours"] == 6
    # X on a 2^-3 lattice: (0 + X * 2^-3) / 10^0
    np.testing.assert_array_equal(
        m["values"], np.array([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])
    )
    np.testing.assert_allclose(m["lat"], [50.0, 49.75])
    np.testing.assert_allclose(m["lon"], [357.0, 357.125, 357.25])


def test_golden_negative_la1_sign_magnitude():
    # -35.5 deg encoded sign-magnitude: 0x80000000 | 35_500_000
    msg = _golden_message(la1=0x80000000 | 35_500_000)
    m = read_grib2_bytes(msg)[0]
    np.testing.assert_allclose(m["lat"], [-35.5, -35.75])


def test_golden_decimal_scale():
    # D = 2: value = (R + X * 2^0) / 100, R = 7
    msg = _golden_message(
        x_bytes=bytes([0, 10, 20, 30, 40, 50]),
        e_raw=b"\x00\x00",
        d_raw=b"\x00\x02",
        ref=7.0,
    )
    m = read_grib2_bytes(msg)[0]
    np.testing.assert_allclose(
        m["values"].ravel(), (7.0 + np.arange(0, 60, 10)) / 100.0
    )


def test_golden_negative_decimal_scale():
    # D = -1 (sign-magnitude 0x8001): value = X * 10
    msg = _golden_message(
        x_bytes=bytes([1, 2, 3, 4, 5, 6]),
        e_raw=b"\x00\x00",
        d_raw=b"\x80\x01",
    )
    m = read_grib2_bytes(msg)[0]
    np.testing.assert_allclose(m["values"].ravel(), np.arange(1, 7) * 10.0)


def test_golden_sub_byte_packing():
    # nbits=6, X = 0..5 packed MSB-first into 36 bits -> 5 bytes
    xs = np.arange(6)
    bits = "".join(format(x, "06b") for x in xs)
    packed = int(bits, 2) << (40 - 36)
    msg = _golden_message(
        x_bytes=packed.to_bytes(5, "big"), nbits=6, e_raw=b"\x00\x00"
    )
    m = read_grib2_bytes(msg)[0]
    np.testing.assert_array_equal(m["values"].ravel(), xs.astype(float))


def test_golden_bitmap():
    # bitmap 101101 -> 4 present points packed, absent -> NaN
    bm = int("10110100", 2)
    msg = _golden_message(
        x_bytes=bytes([8, 16, 24, 32]),
        bitmap_body=bytes([0, bm]),
        ndata=4,
    )
    m = read_grib2_bytes(msg)[0]
    v = m["values"].ravel()
    np.testing.assert_array_equal(v[[0, 2, 3, 5]], [1.0, 2.0, 3.0, 4.0])
    assert np.isnan(v[[1, 4]]).all()


def test_golden_multi_message():
    blob = _golden_message() + _golden_message(
        x_bytes=bytes([80, 88, 96, 104, 112, 120])
    )
    out = read_grib2_bytes(blob)
    assert len(out) == 2
    np.testing.assert_array_equal(
        out[1]["values"].ravel(), np.arange(10.0, 16.0)
    )


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b[:40],                          # truncated mid-section
        lambda b: b"XRIB" + b[4:],                 # bad magic
        lambda b: b[:7] + b"\x01" + b[8:],         # edition 1
        lambda b: b[:-4] + b"777!",                # missing end section
        lambda b: b + b"junk",                     # trailing garbage
    ],
)
def test_malformed(mutate):
    msg = _golden_message()
    with pytest.raises(Grib2Error):
        read_grib2_bytes(mutate(msg))


def test_bitmap_count_mismatch_rejected():
    bm = int("11110000", 2)  # 4 set bits but section 5 says 6
    msg = _golden_message(bitmap_body=bytes([0, bm]), ndata=6)
    with pytest.raises(Grib2Error):
        read_grib2_bytes(msg)


# -- complex packing (templates 5.2 / 5.3) -------------------------------

def _complex_s5_body(ndata, tmpl, nbits, ng, wbits, lastlen, lbits,
                     extra=b""):
    return (
        struct.pack(">IH", ndata, tmpl)
        + struct.pack(">f", 0.0) + b"\x00\x00" + b"\x00\x00"  # R=0 E=0 D=0
        + bytes([nbits, 0, 1, 0])       # nbits, type, split=1, missing=0
        + b"\x00" * 8
        + struct.pack(">I", ng)
        + bytes([0, wbits])
        + struct.pack(">I", 0) + bytes([1])
        + struct.pack(">I", lastlen) + bytes([lbits])
        + extra
    )


def test_golden_complex_5_2():
    """Hand-packed WMO 5.2 example: X = [5,6,7,100,101,100], two
    groups of three, per-array byte alignment, continuous data bits."""
    s5 = _complex_s5_body(6, 2, nbits=7, ng=2, wbits=2, lastlen=3, lbits=2)
    payload = (
        bytes([0b00001011, 0b10010000])   # refs 5, 100 (7 bits each)
        + bytes([0b10010000])             # widths 2, 1 (2 bits each)
        + bytes([0b11110000])             # lengths 3, 3 (2 bits each)
        + bytes([0b00011001, 0b00000000]) # data 0,1,2 (2b) then 0,1,0 (1b)
    )
    msg = _golden_message(x_bytes=payload, s5_body=s5)
    m = read_grib2_bytes(msg)[0]
    np.testing.assert_array_equal(
        m["values"].ravel(), [5.0, 6.0, 7.0, 100.0, 101.0, 100.0]
    )


def test_golden_complex_5_3_order1():
    """Hand-packed 5.3 order-1: x=[10,12,11,14] -> deltas [2,-1,3],
    hmin=-1, packed g=[0,3,0,4]; h1/hmin as 4-byte sign-magnitude."""
    s5 = _complex_s5_body(
        4, 3, nbits=0, ng=1, wbits=2, lastlen=4, lbits=3,
        extra=bytes([1, 4]),
    )
    payload = (
        b"\x00\x00\x00\x0a"               # h1 = 10
        + b"\x80\x00\x00\x01"             # hmin = -1 (sign-magnitude)
        + b""                             # refs: 0 bits
        + bytes([0b11000000])             # width 3 (2 bits)
        + bytes([0b10000000])             # length 4 (3 bits)
        + bytes([0b00001100, 0b01000000]) # data 0,3,0,4 (3 bits each)
    )
    # the 2x3 grid has 6 points; a 4-present-point bitmap carries the
    # 4 packed values
    bm = int("11110000", 2)
    msg = _golden_message(x_bytes=payload, s5_body=s5, ndata=4,
                          bitmap_body=bytes([0, bm]))
    m = read_grib2_bytes(msg)[0]
    v = m["values"].ravel()
    np.testing.assert_array_equal(v[:4], [10.0, 12.0, 11.0, 14.0])
    assert np.isnan(v[4:]).all()


def test_complex_missing_management_rejected():
    s5 = bytearray(_complex_s5_body(6, 2, 7, 2, 2, 3, 2))
    s5[22] = 1  # primary missing value management
    with pytest.raises(Grib2Error):
        read_grib2_bytes(_golden_message(x_bytes=b"\x00" * 8,
                                         s5_body=bytes(s5)))


def test_complex_group_length_mismatch_rejected():
    s5 = _complex_s5_body(6, 2, nbits=7, ng=2, wbits=2, lastlen=2, lbits=2)
    payload = bytes([0b00001011, 0b10010000, 0b10010000, 0b11110000,
                     0b00011001, 0b00000000])
    with pytest.raises(Grib2Error):
        read_grib2_bytes(_golden_message(x_bytes=payload, s5_body=s5))


@pytest.mark.parametrize("tmpl,order", [(2, 0), (3, 1), (3, 2)])
def test_roundtrip_complex(tmp_path, tmpl, order):
    rng = np.random.default_rng(100 + tmpl * 10 + order)
    vals = (rng.integers(0, 4000, (7, 9)) / 8.0) - 100.0
    p = str(tmp_path / "c.grib2")
    pack = {"template": tmpl, "ref": -800.0, "e": -3, "d": 0,
            "group_size": 11}
    if tmpl == 3:
        pack["order"] = order
    write_grib2(
        p,
        [{"values": vals, "lat0": 50.0, "lon0": 0.0, "dlat": -0.25,
          "dlon": 0.25, "packing": pack}],
    )
    m = read_grib2(p)[0]
    np.testing.assert_array_equal(m["values"], vals)


def test_roundtrip_complex_fuzz(tmp_path):
    rng = np.random.default_rng(0xC0)
    for i in range(25):
        nj, ni = int(rng.integers(1, 8)), int(rng.integers(2, 8))
        tmpl = int(rng.choice([2, 3]))
        order = int(rng.integers(1, 3))
        if tmpl == 3 and nj * ni <= order:
            ni += 2
        gsz = int(rng.integers(1, nj * ni + 4))
        e = int(rng.integers(-3, 3))
        x = rng.integers(0, 1 << int(rng.integers(1, 14)), (nj, ni))
        ref = float(rng.integers(-50, 50))
        vals = ref + x * (2.0 ** e)
        pack = {"template": tmpl, "ref": ref, "e": e, "d": 0,
                "group_size": gsz}
        if tmpl == 3:
            pack["order"] = order
        p = str(tmp_path / f"cf{i}.grib2")
        write_grib2(
            p,
            [{"values": vals, "lat0": 10.0, "lon0": 5.0, "dlat": -1.0,
              "dlon": 1.0, "packing": pack}],
        )
        m = read_grib2(p)[0]
        np.testing.assert_array_equal(m["values"], vals, err_msg=f"case {i}")


def test_roundtrip_complex_with_bitmap(tmp_path):
    vals = np.arange(30, dtype="float64").reshape(5, 6)
    vals[1, 2] = np.nan
    vals[4, 5] = np.nan
    p = str(tmp_path / "cb.grib2")
    write_grib2(
        p,
        [{"values": vals, "lat0": 0.0, "lon0": 0.0, "dlat": 1.0,
          "dlon": 1.0,
          "packing": {"template": 3, "order": 2, "ref": 0.0, "e": 0,
                      "d": 0, "group_size": 7}}],
    )
    m = read_grib2(p)[0]
    got = m["values"]
    mask = ~np.isnan(vals)
    np.testing.assert_array_equal(got[mask], vals[mask])
    assert np.isnan(got[~mask]).all()


# -- Lambert conformal (template 3.30) -----------------------------------

def test_lcc_snyder_worked_example():
    """Snyder, 'Map Projections — A Working Manual', spherical
    Lambert conformal numerical example (p. 295): R=1, phi1=33,
    phi2=45, phi0=23, lambda0=-96; point (35, -75) ->
    x=0.2966785, y=0.2462112."""
    from wrf_to_geodataframe_spark.sources.grib2 import (
        lcc_forward,
        lcc_inverse,
    )

    x, y = lcc_forward(35.0, -75.0, 33.0, 45.0, 23.0, -96.0, 1.0)
    assert abs(float(x) - 0.2966785) < 1e-6
    assert abs(float(y) - 0.2462112) < 1e-6
    lat, lon = lcc_inverse(x, y, 33.0, 45.0, 23.0, -96.0, 1.0)
    assert abs(float(lat) - 35.0) < 1e-9
    assert abs(float(lon) - (-75.0)) < 1e-9


def test_lcc_forward_inverse_fuzz():
    from wrf_to_geodataframe_spark.sources.grib2 import (
        lcc_forward,
        lcc_inverse,
    )

    rng = np.random.default_rng(0x1CC)
    lat = rng.uniform(5, 75, 500)
    lon = rng.uniform(-170, 170, 500)
    x, y = lcc_forward(lat, lon, 30.0, 60.0, 40.0, -100.0, 6371229.0)
    lat2, lon2 = lcc_inverse(x, y, 30.0, 60.0, 40.0, -100.0, 6371229.0)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)
    dlon = ((lon2 - lon + 180) % 360) - 180
    np.testing.assert_allclose(dlon, 0, atol=1e-9)


def test_roundtrip_lambert_grid(tmp_path):
    """Template 3.30 write -> read: values exact; corner (0,0) hits
    (La1, Lo1); the curvilinear lat/lon grid is consistent with the
    projection (spacing = Dx/Dy on the cone)."""
    from wrf_to_geodataframe_spark.sources.grib2 import lcc_forward

    nj, ni = 6, 8
    vals = np.arange(nj * ni, dtype="float64").reshape(nj, ni) / 8.0
    grid = {
        "type": "lambert", "la1": 21.138, "lo1": 237.28,
        "lad": 25.0, "lov": 265.0, "latin1": 25.0, "latin2": 25.0,
        "dx": 3000.0, "dy": 3000.0,
    }
    p = str(tmp_path / "lcc.grib2")
    write_grib2(
        p,
        [{"values": vals, "grid": grid,
          "packing": {"template": 0, "ref": 0.0, "e": -3, "d": 0,
                      "nbits": 12}}],
    )
    m = read_grib2(p)[0]
    np.testing.assert_array_equal(m["values"], vals)
    assert m["lat"].shape == (nj, ni)
    assert m["projection"]["name"] == "lambert_conformal_conic"
    assert abs(m["lat"][0, 0] - 21.138) < 1e-6
    assert abs(m["lon"][0, 0] - 237.28) < 1e-6
    # grid spacing: re-project two adjacent points, expect ~Dx apart
    x0, y0 = lcc_forward(m["lat"][0, 0], m["lon"][0, 0],
                         25.0, 25.0, 25.0, -95.0, 6371229.0)
    x1, y1 = lcc_forward(m["lat"][0, 1], m["lon"][0, 1],
                         25.0, 25.0, 25.0, -95.0, 6371229.0)
    assert abs((x1 - x0) - 3000.0) < 1e-3
    assert abs(y1 - y0) < 1e-3
    x2, y2 = lcc_forward(m["lat"][1, 0], m["lon"][1, 0],
                         25.0, 25.0, 25.0, -95.0, 6371229.0)
    assert abs((y2 - y0) - 3000.0) < 1e-3


def test_lambert_south_pole_rejected(tmp_path):
    vals = np.zeros((2, 2))
    grid = {"type": "lambert", "la1": -30.0, "lo1": 100.0, "lad": -25.0,
            "lov": 100.0, "latin1": -25.0, "latin2": -25.0,
            "dx": 1000.0, "dy": 1000.0}
    p = str(tmp_path / "sp.grib2")
    write_grib2(p, [{"values": vals, "grid": grid,
                     "packing": {"template": 4}}])
    blob = bytearray(open(p, "rb").read())
    # flip the projection-centre flag (section 3 octet 64 = template
    # offset 49); locate section 3: starts after s0 (16) + s1 (21)
    s3_start = 16 + 21
    assert blob[s3_start + 4] == 3
    blob[s3_start + 14 + 49] |= 0x80
    with pytest.raises(Grib2Error):
        read_grib2_bytes(bytes(blob))


# -- product templates 4.1 / 4.8 -----------------------------------------

def test_roundtrip_ensemble_product(tmp_path):
    vals = np.arange(6, dtype="float64").reshape(2, 3)
    p = str(tmp_path / "ens.grib2")
    write_grib2(
        p,
        [{"values": vals, "lat0": 0.0, "lon0": 0.0, "dlat": -1.0,
          "dlon": 1.0, "forecast_hours": 24,
          "product": {"template": 1, "ens_type": 3, "ens_member": 7,
                      "ens_total": 31},
          "packing": {"template": 4}}],
    )
    m = read_grib2(p)[0]
    np.testing.assert_array_equal(m["values"], vals)
    assert m["forecast_hours"] == 24
    assert m["product"] == {"ens_type": 3, "ens_member": 7,
                            "ens_total": 31}


def test_roundtrip_statistical_product(tmp_path):
    vals = np.ones((2, 2))
    p = str(tmp_path / "acc.grib2")
    write_grib2(
        p,
        [{"values": vals, "lat0": 0.0, "lon0": 0.0, "dlat": -1.0,
          "dlon": 1.0, "forecast_hours": 0,
          "product": {"template": 8, "stat_type": 1, "stat_hours": 6,
                      "interval_end": (2026, 8, 14, 18, 0, 0)},
          "packing": {"template": 4}}],
    )
    m = read_grib2(p)[0]
    assert m["product"]["stat_type"] == 1          # accumulation
    assert m["product"]["stat_hours"] == 6
    assert m["product"]["interval_end"] == (2026, 8, 14, 18, 0, 0)


# -- rotated pole (template 3.1) -----------------------------------------

def test_rotation_invariants():
    """The rotated->true map must (a) send the rotated pole to
    (-sp_lat, sp_lon-180), (b) send the rotated ORIGIN to
    (90+sp_lat, sp_lon) — the UKCP18 rotation (CF north pole 37.5N,
    177.5E => GRIB south pole -37.5, -2.5) puts rotated (0,0) on the
    UK — (c) be the identity for the unmoved pole, (d) preserve
    angular distances, (e) invert exactly."""
    from wrf_to_geodataframe_spark.sources.grib2 import (
        rotated_to_true,
        true_to_rotated,
    )

    sp_lat, sp_lon = -37.5, -2.5  # the UKCP18 rotation (GRIB form)
    np_lat, np_lon = 37.5, 177.5
    lat, lon = rotated_to_true(90.0, 0.0, sp_lat, sp_lon)
    assert abs(float(lat) - np_lat) < 1e-9
    assert abs(((float(lon) - np_lon + 180) % 360) - 180) < 1e-9
    lat, lon = rotated_to_true(0.0, 0.0, sp_lat, sp_lon)
    assert abs(float(lat) - 52.5) < 1e-9          # the UK band
    assert abs(((float(lon) - sp_lon + 180) % 360) - 180) < 1e-9
    # identity rotation: south pole at (-90, 0)
    lat, lon = rotated_to_true(51.5, -0.1, -90.0, 0.0)
    assert abs(float(lat) - 51.5) < 1e-9
    assert abs(float(lon) - (-0.1)) < 1e-9
    # distance preservation + exact inverse on a random cloud
    rng = np.random.default_rng(0x07)
    la = rng.uniform(-80, 80, 200)
    lo = rng.uniform(-180, 180, 200)
    tla, tlo = rotated_to_true(la, lo, sp_lat, sp_lon)
    rla, rlo = true_to_rotated(tla, tlo, sp_lat, sp_lon)
    np.testing.assert_allclose(rla, la, atol=1e-9)
    dlo = ((rlo - lo + 180) % 360) - 180
    np.testing.assert_allclose(dlo, 0, atol=1e-9)

    def _cosdist(a1, o1, a2, o2):
        a1, o1, a2, o2 = map(np.radians, (a1, o1, a2, o2))
        return (np.sin(a1) * np.sin(a2)
                + np.cos(a1) * np.cos(a2) * np.cos(o1 - o2))

    np.testing.assert_allclose(
        _cosdist(la[:-1], lo[:-1], la[1:], lo[1:]),
        _cosdist(tla[:-1], tlo[:-1], tla[1:], tlo[1:]),
        atol=1e-12,
    )


def test_roundtrip_rotated_grid(tmp_path):
    from wrf_to_geodataframe_spark.sources.grib2 import rotated_to_true

    nj, ni = 5, 7
    vals = np.arange(nj * ni, dtype="float64").reshape(nj, ni)
    grid = {"type": "rotated", "la1": -2.0, "lo1": 357.0,
            "dlat": 0.5, "dlon": 0.5, "sp_lat": -37.5, "sp_lon": -2.5}
    p = str(tmp_path / "rot.grib2")
    write_grib2(p, [{"values": vals, "grid": grid,
                     "packing": {"template": 4}}])
    m = read_grib2(p)[0]
    np.testing.assert_array_equal(m["values"], vals)
    assert m["projection"]["name"] == "rotated_latlon"
    assert m["lat"].shape == (nj, ni)
    # corner (0,0) = rotated (-2.0, -3.0) mapped to true coords
    want_lat, want_lon = rotated_to_true(-2.0, -3.0, -37.5, -2.5)
    assert abs(m["lat"][0, 0] - float(want_lat)) < 1e-5
    assert abs(m["lon"][0, 0] - float(want_lon) % 360.0) < 1e-5
    # rotated grid over the UK: true lats must land in a UK-ish band
    assert 45.0 < m["lat"].mean() < 60.0


# -- Gaussian grid (template 3.40) ---------------------------------------

def test_gaussian_latitudes_are_legendre_roots():
    from numpy.polynomial.legendre import Legendre

    from wrf_to_geodataframe_spark.sources.grib2 import gaussian_latitudes

    for n in (2, 16, 32):
        lats = gaussian_latitudes(n)
        assert lats.size == 2 * n
        assert (np.diff(lats) < 0).all()           # strictly N -> S
        np.testing.assert_allclose(lats, -lats[::-1], atol=1e-12)
        p = Legendre.basis(2 * n)
        np.testing.assert_allclose(
            p(np.sin(np.radians(lats))), 0, atol=1e-10
        )
    # first colatitude ~ j0_1/(2N + 1/2) (Bessel-zero asymptotics for
    # Legendre roots) — N32's first latitude ~ 87.8638 N
    assert abs(gaussian_latitudes(32)[0] - 87.8638) < 5e-3


def test_roundtrip_gaussian_grid(tmp_path):
    from wrf_to_geodataframe_spark.sources.grib2 import gaussian_latitudes

    n = 8
    nj, ni = 2 * n, 12
    vals = (np.arange(nj * ni, dtype="float64") / 8.0).reshape(nj, ni)
    p = str(tmp_path / "gg.grib2")
    write_grib2(
        p,
        [{"values": vals,
          "grid": {"type": "gaussian", "n": n, "lo1": 0.0, "dlon": 30.0},
          "packing": {"template": 0, "ref": 0.0, "e": -3, "d": 0,
                      "nbits": 12}}],
    )
    m = read_grib2(p)[0]
    np.testing.assert_array_equal(m["values"], vals)
    assert m["projection"] == {"name": "gaussian", "n": n}
    np.testing.assert_allclose(m["lat"], gaussian_latitudes(n), atol=0)
    np.testing.assert_allclose(m["lon"], np.arange(12) * 30.0)


# -- PNG packing (template 5.41) -----------------------------------------

@pytest.mark.parametrize("nbits", [8, 12, 16, 24, 32])
def test_roundtrip_png_packing(tmp_path, nbits):
    rng = np.random.default_rng(0x541 + nbits)
    rounded = min(32, ((nbits + 7) // 8) * 8)
    x = rng.integers(0, 1 << min(nbits, 31), (5, 7))
    vals = -40.0 + x * 0.125
    p = str(tmp_path / "p.grib2")
    write_grib2(
        p,
        [{"values": vals, "lat0": 50.0, "lon0": 0.0, "dlat": -0.5,
          "dlon": 0.5,
          "packing": {"template": 41, "ref": -40.0, "e": -3, "d": 0,
                      "nbits": nbits}}],
    )
    m = read_grib2(p)[0]
    np.testing.assert_array_equal(m["values"], vals)
    assert rounded in (8, 16, 24, 32)


def test_golden_png_packing_section5_shape():
    """The 5.41 section-5 carries (R, E, D, rounded-depth) in the 5.0
    octet positions and a verbatim PNG stream in section 7."""
    from wrf_to_geodataframe_spark.sources.png import encode_png

    xs = bytes([1, 2, 3, 4, 5, 6])
    png = encode_png(xs, 6, 1, channels=1, bit_depth=8)
    s5 = (
        struct.pack(">IH", 6, 41) + struct.pack(">f", 0.0)
        + b"\x00\x00" + b"\x00\x00" + bytes([8, 0])
    )
    msg = _golden_message(x_bytes=png, s5_body=s5)
    m = read_grib2_bytes(msg)[0]
    np.testing.assert_array_equal(
        m["values"].ravel(), [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    )


def test_png_packing_with_bitmap(tmp_path):
    vals = np.arange(12, dtype="float64").reshape(3, 4)
    vals[0, 0] = np.nan
    p = str(tmp_path / "pb.grib2")
    write_grib2(
        p,
        [{"values": vals, "lat0": 0.0, "lon0": 0.0, "dlat": 1.0,
          "dlon": 1.0,
          "packing": {"template": 41, "ref": 0.0, "e": 0, "d": 0,
                      "nbits": 8}}],
    )
    m = read_grib2(p)[0]
    assert np.isnan(m["values"][0, 0])
    mask = ~np.isnan(vals)
    np.testing.assert_array_equal(m["values"][mask], vals[mask])


def test_png_packing_corrupt_payload_rejected():
    s5 = (
        struct.pack(">IH", 6, 41) + struct.pack(">f", 0.0)
        + b"\x00\x00" + b"\x00\x00" + bytes([8, 0])
    )
    msg = _golden_message(x_bytes=b"\x89PNGnot-really", s5_body=s5)
    with pytest.raises(Grib2Error):
        read_grib2_bytes(msg)


# -- writer round-trips --------------------------------------------------

def test_roundtrip_simple_packing(tmp_path):
    vals = np.arange(20, dtype="float64").reshape(4, 5) / 8.0
    p = str(tmp_path / "a.grib2")
    write_grib2(
        p,
        [
            {
                "values": vals,
                "lat0": 60.0, "lon0": 10.0, "dlat": -0.5, "dlon": 0.25,
                "param_category": 3, "param_number": 1,
                "forecast_hours": 12,
                "ref_time": (2026, 8, 14, 6, 0, 0),
                "packing": {"template": 0, "ref": 0.0, "e": -3, "d": 0,
                            "nbits": 12},
            }
        ],
    )
    m = read_grib2(p)[0]
    np.testing.assert_array_equal(m["values"], vals)
    np.testing.assert_allclose(m["lat"], 60.0 - 0.5 * np.arange(4))
    np.testing.assert_allclose(m["lon"], 10.0 + 0.25 * np.arange(5))
    assert m["forecast_hours"] == 12
    assert (m["param_category"], m["param_number"]) == (3, 1)
    assert m["ref_time"] == (2026, 8, 14, 6, 0, 0)


def test_roundtrip_ieee_and_south_north(tmp_path):
    rng = np.random.default_rng(5)
    vals = rng.standard_normal((3, 7)).astype("float32").astype("float64")
    p = str(tmp_path / "b.grib2")
    write_grib2(
        p,
        [{"values": vals, "lat0": -10.0, "lon0": 100.0, "dlat": 1.0,
          "dlon": 0.5, "packing": {"template": 4}}],
    )
    m = read_grib2(p)[0]
    np.testing.assert_array_equal(m["values"], vals)
    np.testing.assert_allclose(m["lat"], -10.0 + np.arange(3))


def test_roundtrip_nan_becomes_bitmap(tmp_path):
    vals = np.arange(12, dtype="float64").reshape(3, 4)
    vals[0, 1] = np.nan
    vals[2, 3] = np.nan
    p = str(tmp_path / "c.grib2")
    write_grib2(
        p,
        [{"values": vals, "lat0": 0.0, "lon0": 0.0, "dlat": -1.0,
          "dlon": 1.0,
          "packing": {"template": 0, "ref": 0.0, "e": 0, "d": 0,
                      "nbits": 8}}],
    )
    m = read_grib2(p)[0]
    got = m["values"]
    assert np.isnan(got[0, 1]) and np.isnan(got[2, 3])
    mask = ~np.isnan(vals)
    np.testing.assert_array_equal(got[mask], vals[mask])


def test_roundtrip_fuzz(tmp_path):
    rng = np.random.default_rng(0x6B1B)
    for i in range(30):
        nj = int(rng.integers(1, 9))
        ni = int(rng.integers(1, 9))
        nbits = int(rng.integers(2, 21))
        e = int(rng.integers(-4, 5))
        d = int(rng.integers(-2, 3))
        x = rng.integers(0, 1 << nbits, (nj, ni))
        ref = float(rng.integers(-100, 100))
        vals = (ref + x * (2.0 ** e)) / (10.0 ** d)
        dlat = float(rng.choice([-1, 1])) * float(rng.integers(1, 8)) / 4
        msgs = [
            {
                "values": vals,
                "lat0": float(rng.integers(-80, 80)),
                "lon0": float(rng.integers(0, 350)),
                "dlat": dlat, "dlon": float(rng.integers(1, 8)) / 8,
                "packing": {"template": 0, "ref": ref, "e": e, "d": d,
                            "nbits": nbits},
            }
        ]
        p = str(tmp_path / f"f{i}.grib2")
        write_grib2(p, msgs)
        m = read_grib2(p)[0]
        np.testing.assert_allclose(
            m["values"], vals, rtol=0, atol=2.0 ** e / 10.0 ** d * 0.51,
            err_msg=f"case {i}",
        )


def test_roundtrip_multi_message_file(tmp_path):
    msgs = [
        {"values": np.full((2, 2), float(k)), "lat0": 10.0, "lon0": 20.0,
         "dlat": -1.0, "dlon": 1.0,
         "packing": {"template": 0, "ref": 0.0, "e": 0, "d": 0, "nbits": 4}}
        for k in range(5)
    ]
    p = str(tmp_path / "m.grib2")
    write_grib2(p, msgs)
    out = read_grib2(p)
    assert [m["values"][0, 0] for m in out] == [0.0, 1.0, 2.0, 3.0, 4.0]


def test_order2_with_too_few_points_is_grib2error():
    # a malformed 5.3 message declaring order-2 spatial differencing
    # with ndata <= order must raise Grib2Error (the loud-malformed
    # contract), not IndexError from the recurrence seeding
    from wrf_to_geodataframe_spark.sources.grib2 import _unpack_complex

    s5 = bytearray(49)
    struct.pack_into(">f", s5, 11, 0.0)   # reference value
    s5[19] = 8                            # nbits
    s5[21] = 1                            # group splitting: general
    s5[22] = 0                            # missing mgmt: none
    struct.pack_into(">I", s5, 31, 1)     # 1 group
    struct.pack_into(">I", s5, 42, 1)     # last group length
    s5[47] = 2                            # order 2
    s5[48] = 1                            # 1 extra octet
    with pytest.raises(Grib2Error, match="spatial differencing"):
        _unpack_complex(bytes(s5), b"\x00" * 16, 1, 3, "t")
    with pytest.raises(Grib2Error, match="spatial differencing"):
        _unpack_complex(bytes(s5), b"\x00" * 16, 2, 3, "t")


def _siz_codestream(w=3, h=2, prec=8, body=b""):
    """Minimal SOC+SIZ prefix (ITU-T T.800 A.5.1) for triage tests —
    NOT a decodable codestream."""
    siz = struct.pack(
        ">HHIIIIIIIIH", 38 + 3, 0, w, h, 0, 0, w, h, 0, 0, 1
    ) + bytes([prec - 1, 1, 1])
    return b"\xff\x4f\xff\x51" + siz + body


def test_j2k_triage_parses_siz():
    from wrf_to_geodataframe_spark.sources.openjpeg import j2k_info

    info = j2k_info(_siz_codestream(w=620, h=400, prec=12))
    assert info == {
        "width": 620, "height": 400, "ncomps": 1, "prec": 12,
        "signed": False,
    }
    with pytest.raises(ValueError, match="SOC"):
        j2k_info(b"\x00\x01")
    with pytest.raises(ValueError, match="truncated"):
        j2k_info(_siz_codestream()[:20])


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@given(st.binary(max_size=128))
@settings(max_examples=300, deadline=None)
def test_j2k_triage_fuzz_arbitrary_bytes(data):
    """The SIZ triage sees ARBITRARY bytes on every 5.40 message even
    when libopenjp2 is absent (it feeds the named Grib2Error): any
    input must either parse to sane dims or raise ValueError — never
    struct.error/IndexError, never nonpositive dimensions."""
    from wrf_to_geodataframe_spark.sources.openjpeg import j2k_info

    try:
        info = j2k_info(data)
    except ValueError:
        return
    assert info["width"] >= 1 and info["height"] >= 1
    assert info["ncomps"] >= 1 and 1 <= info["prec"] <= 128


@given(
    w=st.integers(1, 2**20), h=st.integers(1, 2**20),
    xo=st.integers(0, 1000), yo=st.integers(0, 1000),
    prec=st.integers(1, 32), ncomp=st.integers(1, 4),
    signed=st.booleans(),
)
@settings(max_examples=100, deadline=None)
def test_j2k_triage_fuzz_structured_siz(w, h, xo, yo, prec, ncomp,
                                        signed):
    """Structured SIZ fuzz: triage recovers exactly the grid-minus-
    offset dims, component count, precision and sign bit."""
    from wrf_to_geodataframe_spark.sources.openjpeg import j2k_info

    siz = struct.pack(
        ">HHIIIIIIIIH", 38 + 3 * ncomp, 0, xo + w, yo + h, xo, yo,
        xo + w, yo + h, xo, yo, ncomp,
    ) + bytes([(prec - 1) | (0x80 if signed else 0), 1, 1]) * ncomp
    info = j2k_info(b"\xff\x4f\xff\x51" + siz)
    assert info == {
        "width": w, "height": h, "ncomps": ncomp, "prec": prec,
        "signed": signed,
    }


def test_template_5_40_gated_on_openjpeg():
    """A 5.40 (JPEG2000) message: with libopenjp2 absent the decode
    fails with a NAMED triage error carrying the codestream dims;
    malformed payloads fail as Grib2Error either way."""
    from wrf_to_geodataframe_spark.sources.openjpeg import (
        openjpeg_present,
    )

    s5_body = (
        struct.pack(">IH", 6, 40)
        + struct.pack(">f", 0.0) + b"\x80\x03" + b"\x00\x00"
        + bytes([8, 0, 0, 255])
    )
    msg = _golden_message(
        x_bytes=_siz_codestream(), s5_body=s5_body
    )
    if openjpeg_present():
        # header triage passes, but the truncated codestream must
        # fail INSIDE the library as a wrapped Grib2Error
        with pytest.raises(Grib2Error):
            read_grib2_bytes(msg)
    else:
        with pytest.raises(Grib2Error, match="openjpeg.*absent|absent"):
            read_grib2_bytes(msg)
        with pytest.raises(Grib2Error, match="2x3"):
            read_grib2_bytes(msg)  # triage dims surface in the error
    # malformed payload (no SOC): loud Grib2Error regardless of lib
    bad = _golden_message(x_bytes=b"\x00" * 16, s5_body=s5_body)
    with pytest.raises(Grib2Error, match="5.40 payload"):
        read_grib2_bytes(bad)


def test_template_5_40_decode_parity_with_opj_tools(tmp_path):
    """Lossless round-trip via the system openjpeg encoder CLI
    (opj_compress) — runs wherever the library AND the CLI exist,
    skips cleanly otherwise (the gated-codec discipline)."""
    import shutil
    import subprocess

    from wrf_to_geodataframe_spark.sources.openjpeg import (
        decode_j2k,
        openjpeg_present,
    )

    if not openjpeg_present():
        pytest.skip("libopenjp2 absent")
    cli = shutil.which("opj_compress")
    if cli is None:
        pytest.skip("opj_compress CLI absent")
    # 2x3 8-bit field X = 8..48: PGM -> lossless .j2k
    x = np.array([[8, 16, 24], [32, 40, 48]], dtype=np.uint8)
    pgm = tmp_path / "f.pgm"
    with open(pgm, "wb") as f:
        f.write(b"P5\n3 2\n255\n" + x.tobytes())
    j2k = tmp_path / "f.j2k"
    subprocess.run(
        [cli, "-i", str(pgm), "-o", str(j2k)],
        check=True, capture_output=True,
    )
    payload = open(j2k, "rb").read()
    np.testing.assert_array_equal(decode_j2k(payload), x)
    # full message: (0 + X * 2^-3) / 10^0
    s5_body = (
        struct.pack(">IH", 6, 40)
        + struct.pack(">f", 0.0) + b"\x80\x03" + b"\x00\x00"
        + bytes([8, 0, 0, 255])
    )
    m = read_grib2_bytes(
        _golden_message(x_bytes=payload, s5_body=s5_body)
    )[0]
    np.testing.assert_array_equal(
        m["values"], x.astype("float64") / 8.0
    )


# -- Hypothesis property fuzz: complex-packing encoder (VERDICT r8 #8)


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    data=st.data(),
    ni=st.integers(2, 9),
    nj=st.integers(1, 6),
    tmpl=st.sampled_from([2, 3]),
    order=st.integers(1, 2),
    group_size=st.integers(1, 40),
    e=st.integers(-3, 3),
    ref=st.integers(-50, 50),
    span_bits=st.integers(1, 14),
)
def test_complex_packing_roundtrip_property(
    tmp_path_factory, data, ni, nj, tmpl, order, group_size, e, ref,
    span_bits,
):
    """Property: ANY integer field on the (ref, 2^e) lattice survives
    the complex-packing write->read round-trip bit-exactly, for every
    (template, differencing order, group size) — including adversarial
    constant runs and max-contrast groups Hypothesis shrinks toward.
    The seeded fuzz above samples this space; Hypothesis searches it."""
    n = ni * nj
    if tmpl == 3 and n <= order:
        ni = order + 1
        n = ni * nj
    x = np.array(
        data.draw(
            st.lists(
                st.integers(0, (1 << span_bits) - 1),
                min_size=n, max_size=n,
            )
        ),
        dtype="int64",
    ).reshape(nj, ni)
    vals = float(ref) + x * (2.0 ** e)
    pack = {"template": tmpl, "ref": float(ref), "e": e, "d": 0,
            "group_size": group_size}
    if tmpl == 3:
        pack["order"] = order
    p = str(tmp_path_factory.mktemp("hcf") / "m.grib2")
    write_grib2(
        p,
        [{"values": vals, "lat0": 10.0, "lon0": 5.0, "dlat": -1.0,
          "dlon": 1.0, "packing": pack}],
    )
    m = read_grib2(p)[0]
    np.testing.assert_array_equal(m["values"], vals)


def _laea_message(scan=0x40):
    """3x2 Lambert-azimuthal-equal-area grid (template 3.140),
    simple packing — assembled from the WMO octet table."""
    s1 = struct.pack(">IB", 21, 1) + struct.pack(
        ">HHBBBHBBBBBBB", 7, 0, 2, 1, 1, 2026, 8, 14, 0, 0, 0, 0, 1
    )
    tmpl140 = (
        bytes([6]) + b"\x00" * 15            # shape 6: R = 6371229
        + struct.pack(">II", 3, 2)           # Nx=3, Ny=2
        + struct.pack(">I", 48_000_000)      # La1 = 48N
        + struct.pack(">I", 8_000_000)       # Lo1 = 8E
        + struct.pack(">I", 52_000_000)      # standard parallel 52N
        + struct.pack(">I", 10_000_000)      # central longitude 10E
        + bytes([0x00])                      # resolution flags
        + struct.pack(">II", 25_000_000, 25_000_000)  # Dx=Dy=25 km (mm)
        + bytes([scan])                      # scan mode
    )
    assert len(tmpl140) == 50
    s3 = (struct.pack(">IB", 64, 3)
          + struct.pack(">BIBBH", 0, 6, 0, 0, 140) + tmpl140)
    tmpl40 = (
        bytes([0, 0, 2, 0, 0]) + struct.pack(">H", 0) + bytes([0, 1])
        + struct.pack(">i", 6)
        + bytes([1, 0]) + b"\x00" * 4 + bytes([255]) + b"\xff" * 5
    )
    s4 = struct.pack(">IB", 34, 4) + struct.pack(">HH", 0, 0) + tmpl40
    s5_body = (
        struct.pack(">IH", 6, 0)
        + struct.pack(">f", 0.0) + b"\x00\x00" + b"\x00\x00"
        + bytes([8, 0])
    )
    s5 = struct.pack(">IB", 5 + len(s5_body), 5) + s5_body
    s6 = struct.pack(">IB", 6, 6) + bytes([255])
    x_bytes = bytes([1, 2, 3, 4, 5, 6])
    s7 = struct.pack(">IB", 5 + len(x_bytes), 7) + x_bytes
    body = s1 + s3 + s4 + s5 + s6 + s7
    total = 16 + len(body) + 4
    s0 = b"GRIB\x00\x00" + bytes([0, 2]) + struct.pack(">Q", total)
    return s0 + body + b"7777"


def test_template_3_140_laea_grid():
    """Template 3.140 decode: values land row-major; lat/lon equal the
    independent inverse LAEA of the regular projected lattice; the
    first grid point round-trips to exactly (La1, Lo1); +j and -j scan
    modes mirror rows."""
    from wrf_to_geodataframe_spark.functions.crs import (
        laea_forward_numpy,
        laea_inverse_numpy,
    )

    m = read_grib2_bytes(_laea_message())[0]
    assert (m["ni"], m["nj"]) == (3, 2)
    np.testing.assert_array_equal(
        m["values"], np.array([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])
    )
    assert m["projection"]["name"] == "lambert_azimuthal_equal_area"
    R = 6371229.0
    # first grid point is exactly (48N, 8E)
    np.testing.assert_allclose(m["lat"][0, 0], 48.0, atol=1e-9)
    np.testing.assert_allclose(m["lon"][0, 0], 8.0, atol=1e-9)
    # the whole grid equals the independent inverse of the lattice
    x1, y1 = laea_forward_numpy(8.0, 48.0, 52.0, 10.0, a=R, e2=0.0)
    xs = float(x1) + np.arange(3) * 25_000.0
    ys = float(y1) + np.arange(2) * 25_000.0
    xg, yg = np.meshgrid(xs, ys)
    lon_w, lat_w = laea_inverse_numpy(xg, yg, 52.0, 10.0, a=R, e2=0.0)
    np.testing.assert_allclose(m["lat"], lat_w, atol=1e-12)
    np.testing.assert_allclose(m["lon"], lon_w % 360.0, atol=1e-12)
    # -j scan walks south: row 0 of +j equals row 1 of -j... rows are
    # generated from y1 downward, so latitudes must DECREASE
    m2 = read_grib2_bytes(_laea_message(scan=0x00))[0]
    assert m2["lat"][0, 0] > m2["lat"][1, 0]
    np.testing.assert_allclose(m2["lat"][0, 0], 48.0, atol=1e-9)
