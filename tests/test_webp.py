"""VP8L (lossless WebP) codec: encoder/decoder round-trips plus
hand-assembled spec-level golden streams so the decoder's semantics
(bit order, canonical codes, LZ77 distance mapping, color cache,
transforms) are pinned independently of the encoder."""

from __future__ import annotations

import numpy as np
import pytest

from wrf_to_geodataframe_spark.sources.webp import (
    _BitWriter,
    _huffman_lengths,
    _PrefixCode,
    _write_code,
    avif_info,
    decode_vp8l,
    decode_webp,
    encode_webp,
    webp_info,
)


def _emit_code(w: _BitWriter, vals: list[int], alphabet: int):
    """Write a canonical prefix-code header for the distinct values in
    ``vals``; return a callable that emits one value's code bits."""
    freqs = [0] * alphabet
    for v in vals:
        freqs[v] += 1
    lens = _huffman_lengths(freqs, 15)
    _write_code(w, lens)
    pc = _PrefixCode(lens)
    return lambda v: pc.write(w, v)


def _header(w: _BitWriter, width: int, height: int) -> None:
    w.write_bits(0x2F, 8)
    w.write_bits(width - 1, 14)
    w.write_bits(height - 1, 14)
    w.write_bits(0, 1)  # alpha hint
    w.write_bits(0, 3)  # version


def _simple_code(w: _BitWriter, syms: list[int]) -> None:
    """Emit a simple prefix-code header for 1 or 2 symbols (<256)."""
    w.write_bits(1, 1)
    w.write_bits(len(syms) - 1, 1)
    first8 = 1 if syms[0] > 1 else 0
    w.write_bits(first8, 1)
    w.write_bits(syms[0], 8 if first8 else 1)
    if len(syms) == 2:
        w.write_bits(syms[1], 8)


def _plain_groups(w, green_syms, red=1, blue=2, alpha=255):
    """Headers for one code group: green simple/normal as needed, the
    other channels single-symbol (zero bits per pixel)."""
    if all(s < 256 for s in green_syms) and len(green_syms) <= 2:
        _simple_code(w, green_syms)
    else:
        lens = [0] * 280
        if len(green_syms) == 1:
            lens[green_syms[0]] = 1
        else:
            # flat 2-symbol canonical code
            for s in green_syms:
                lens[s] = (len(green_syms) - 1).bit_length()
        _write_code(w, lens)
    _simple_code(w, [red])
    _simple_code(w, [blue])
    _simple_code(w, [alpha])
    _simple_code(w, [0])  # distance


def test_golden_simple_literals():
    """2x2, two green symbols via a simple 2-symbol code: canonical
    assignment gives the smaller symbol code 0."""
    w = _BitWriter()
    _header(w, 2, 2)
    w.write_bits(0, 1)  # no transforms
    w.write_bits(0, 1)  # no cache
    w.write_bits(0, 1)  # no meta
    _plain_groups(w, [16, 32])
    for bit in (0, 1, 1, 0):  # greens 16,32,32,16
        w.write_bits(bit, 1)
    width, height, c, rgba = decode_vp8l(w.flush())
    px = np.frombuffer(rgba, np.uint8).reshape(2, 2, 4)
    assert (width, height, c) == (2, 2, 4)
    np.testing.assert_array_equal(px[:, :, 1].ravel(), [16, 32, 32, 16])
    assert (px[:, :, 0] == 1).all()  # red
    assert (px[:, :, 2] == 2).all()  # blue
    assert (px[:, :, 3] == 255).all()  # alpha


def test_golden_lz77_near_and_far_distance():
    """4x1: one literal then a length-3 copy at distance 1 via the
    close-neighborhood map (code 2 -> (1,0)); then a second image
    using a >120 distance code for distance 2."""
    # near: green alphabet {42, 258}; length sym 258 -> prefix sym 2
    # (value 3); distance sym 1 -> code 2 -> map[1] = (1,0) -> dist 1
    w = _BitWriter()
    _header(w, 4, 1)
    w.write_bits(0, 1)
    w.write_bits(0, 1)
    w.write_bits(0, 1)
    lens = [0] * 280
    lens[42] = 1
    lens[258] = 1
    _write_code(w, lens)
    _simple_code(w, [7])
    _simple_code(w, [9])
    _simple_code(w, [255])
    _simple_code(w, [1])  # distance code: single symbol 1 (zero bits)
    w.write_bits(0, 1)  # green 42 (canonical: 42 -> 0, 258 -> 1)
    w.write_bits(1, 1)  # length symbol 258
    # length prefix sym 2 has no extra bits; distance sym is zero-bit
    width, height, c, rgba = decode_vp8l(w.flush())
    px = np.frombuffer(rgba, np.uint8).reshape(1, 4, 4)
    np.testing.assert_array_equal(px[0, :, 1], [42, 42, 42, 42])

    # far: distance 2 -> dcode 122 -> sym 13 + 5 extra bits (25)
    w = _BitWriter()
    _header(w, 4, 1)
    w.write_bits(0, 1)
    w.write_bits(0, 1)
    w.write_bits(0, 1)
    lens = [0] * 280
    lens[10] = 2
    lens[20] = 2
    lens[256] = 1  # length value 1... sym 256 -> prefix sym 0 -> len 1
    _write_code(w, lens)
    _simple_code(w, [7])
    _simple_code(w, [9])
    _simple_code(w, [255])
    _simple_code(w, [13])  # distance prefix symbol 13
    # canonical: 256 (len1) -> 0; 10 -> 10, 20 -> 11
    w.write_bits(0b01, 2)  # MSB-first 10 -> green 10
    w.write_bits(0b11, 2)  # green 20
    w.write_bits(0, 1)  # sym 256: length 1... copies 2 pixels back
    w.write_bits(25, 5)  # distance extra bits: 96 + 25 + 1 = 122
    w.write_bits(0, 1)  # another copy, same dist
    w.write_bits(25, 5)
    width, height, c, rgba = decode_vp8l(w.flush())
    px = np.frombuffer(rgba, np.uint8).reshape(1, 4, 4)
    np.testing.assert_array_equal(px[0, :, 1], [10, 20, 10, 20])


def test_golden_color_cache():
    """3x1 with a 2-bit color cache: literal, then a cache hit must
    reproduce the inserted pixel."""
    argb = (255 << 24) | (1 << 16) | (200 << 8) | 2
    key = ((0x1E35A7BD * argb) % (1 << 32)) >> 30
    w = _BitWriter()
    _header(w, 3, 1)
    w.write_bits(0, 1)  # no transforms
    w.write_bits(1, 1)  # cache used
    w.write_bits(2, 4)  # cache_bits = 2
    w.write_bits(0, 1)  # no meta
    lens = [0] * 284  # 256 + 24 + 4
    lens[200] = 1
    lens[280 + key] = 1
    _write_code(w, lens)
    _simple_code(w, [1])
    _simple_code(w, [2])
    _simple_code(w, [255])
    _simple_code(w, [0])
    w.write_bits(0 if 200 < 280 + key else 1, 1)  # literal green 200
    cache_code = 1  # 280+key sorts after 200
    w.write_bits(cache_code, 1)
    w.write_bits(cache_code, 1)
    width, height, c, rgba = decode_vp8l(w.flush())
    px = np.frombuffer(rgba, np.uint8).reshape(1, 3, 4)
    for i in range(3):
        assert tuple(px[0, i]) == (1, 200, 2, 255)


def test_golden_palette_with_bundling():
    """5x1 indexed image, 3 colors -> 2-bit packing (4 px/byte):
    packed width 2, delta-coded palette."""
    colors = [(10, 20, 30, 255), (50, 60, 70, 255), (90, 11, 12, 255)]
    w = _BitWriter()
    _header(w, 5, 1)
    w.write_bits(1, 1)  # transform present
    w.write_bits(3, 2)  # color indexing
    w.write_bits(2, 8)  # ncolors - 1
    # palette image stream (1x3): deltas in ARGB channels
    w.write_bits(0, 1)  # no cache
    deltas = []
    prev = (0, 0, 0, 0)  # a, r, g, b
    for r, g, b, a in colors:
        cur = (a, r, g, b)
        deltas.append(tuple((cur[i] - prev[i]) & 0xFF for i in range(4)))
        prev = cur
    # greens / reds / blues / alphas of the deltas each need a code
    emit_g = _emit_code(w, [d[2] for d in deltas], 280)
    emit_r = _emit_code(w, [d[1] for d in deltas], 256)
    emit_b = _emit_code(w, [d[3] for d in deltas], 256)
    emit_a = _emit_code(w, [d[0] for d in deltas], 256)
    _simple_code(w, [0])  # distance
    for d in deltas:
        emit_g(d[2])
        emit_r(d[1])
        emit_b(d[3])
        emit_a(d[0])
    # main stream over packed width 2
    w.write_bits(0, 1)  # no more transforms
    w.write_bits(0, 1)  # no cache
    w.write_bits(0, 1)  # no meta
    # indices per pixel: 0,1,2,1 | 0 -> bytes 0b01100100=0x64? indices
    # pack LSB-first per pixel: p0 | p1<<2 | p2<<4 | p3<<6
    packed = [0 | (1 << 2) | (2 << 4) | (1 << 6), 0]
    _plain_groups(w, sorted(set(packed)), red=0, blue=0, alpha=0)
    pm = {v: i for i, v in enumerate(sorted(set(packed)))}
    for v in packed:
        w.write_bits(pm[v], 1)
    width, height, c, rgba = decode_vp8l(w.flush())
    px = np.frombuffer(rgba, np.uint8).reshape(1, 5, 4)
    want = [colors[i] for i in (0, 1, 2, 1, 0)]
    for i, (r, g, b, a) in enumerate(want):
        assert tuple(px[0, i]) == (r, g, b, a), i


def _canon_bits(sym_map, v):
    """In these goldens all flat codes are canonical by symbol order,
    so the index IS the code."""
    return sym_map[v]


def test_golden_predictor_left_mode():
    """2x2 predictor transform, single block, mode 1 (Left): the
    decoder must add predictions back across the scan order."""
    w = _BitWriter()
    _header(w, 2, 2)
    w.write_bits(1, 1)  # transform
    w.write_bits(0, 2)  # predictor
    w.write_bits(2, 3)  # size_bits - 2 = 2 -> block 16 (one block)
    # sub-image 1x1: mode in green channel
    w.write_bits(0, 1)  # no cache
    _plain_groups(w, [1], red=0, blue=0, alpha=0)  # mode 1
    # main image residuals:
    # p00: pred 0xff000000 -> res = (a-255, r, g, b)
    # p01 (y==0): pred = L
    # p10 (x==0): pred = T ... scan order: (0,0),(0,1),(1,0),(1,1)
    # choose target greens: [100, 110, 120, 130], r=5,b=6,a=255
    # residual greens: 100, 10, 20 (vs T=100), 10 (vs L=120)
    w.write_bits(0, 1)  # no more transforms
    w.write_bits(0, 1)  # no cache
    w.write_bits(0, 1)  # no meta
    emit_g = _emit_code(w, [100, 10, 20, 10], 280)
    _simple_code(w, [0, 5])  # red residuals: 5 then 0,0,0
    _simple_code(w, [0, 6])  # blue
    _simple_code(w, [0, 255])  # alpha: 0 for p00 (255-255), 0 after
    _simple_code(w, [0])

    def lit(g, r, b, a):
        emit_g(g)
        w.write_bits(r, 1)  # simple 2-sym codes: 0 -> first, 1 -> second
        w.write_bits(b, 1)
        w.write_bits(a, 1)

    lit(100, 1, 1, 0)  # p00: r=5, b=6, a_res = 0
    lit(10, 0, 0, 0)  # p01: all residuals vs left are 0 except green
    lit(20, 0, 0, 0)  # p10 vs top
    lit(10, 0, 0, 0)  # p11 vs left (mode 1)
    width, height, c, rgba = decode_vp8l(w.flush())
    px = np.frombuffer(rgba, np.uint8).reshape(2, 2, 4)
    np.testing.assert_array_equal(px[:, :, 1].ravel(), [100, 110, 120, 130])
    assert (px[:, :, 0] == 5).all()
    assert (px[:, :, 2] == 6).all()
    assert (px[:, :, 3] == 255).all()


def test_golden_color_transform():
    """1x1 color transform: green_to_red=32 (delta g*32>>5 = g), so a
    coded red of r-g must decode back to r."""
    w = _BitWriter()
    _header(w, 1, 1)
    w.write_bits(1, 1)
    w.write_bits(1, 2)  # color transform
    w.write_bits(2, 3)  # size_bits 4
    # sub-image 1x1: blue=g2r, green=g2b, red=r2b
    w.write_bits(0, 1)  # no cache
    # cte: g2r=32 (blue channel), g2b=0, r2b=0
    _plain_groups(w, [0], red=0, blue=32, alpha=0)
    w.write_bits(0, 1)  # no more transforms
    w.write_bits(0, 1)  # no cache
    w.write_bits(0, 1)  # no meta
    # pixel: g=10, target r=50 -> delta = (32*10)>>5 = 10 -> coded 40
    _plain_groups(w, [10], red=40, blue=77, alpha=255)
    width, height, c, rgba = decode_vp8l(w.flush())
    px = np.frombuffer(rgba, np.uint8).reshape(1, 1, 4)
    assert tuple(px[0, 0]) == (50, 10, 77, 255)


def test_golden_meta_prefix_groups():
    """8x1 with meta_bits=2 (blocks of 4): two code groups selected by
    the entropy image, each with a distinct literal."""
    w = _BitWriter()
    _header(w, 8, 1)
    w.write_bits(0, 1)  # no transforms
    w.write_bits(0, 1)  # no cache
    w.write_bits(1, 1)  # meta prefix codes
    w.write_bits(0, 3)  # meta_bits - 2 = 0 -> blocks of 4 -> 2x1
    # entropy image 2x1: group ids 0, 1 in (red<<8)|green
    w.write_bits(0, 1)  # no cache
    _plain_groups(w, [0, 1], red=0, blue=0, alpha=0)
    w.write_bits(0, 1)  # green 0 (group 0)
    w.write_bits(1, 1)  # green 1 (group 1)
    # group 0: literal 11; group 1: literal 22
    _plain_groups(w, [11], red=1, blue=2, alpha=255)
    _plain_groups(w, [22], red=3, blue=4, alpha=254)
    # 8 pixels, zero bits each (all single-symbol codes)
    width, height, c, rgba = decode_vp8l(w.flush())
    px = np.frombuffer(rgba, np.uint8).reshape(1, 8, 4)
    for i in range(4):
        assert tuple(px[0, i]) == (1, 11, 2, 255)
    for i in range(4, 8):
        assert tuple(px[0, i]) == (3, 22, 4, 254)


def test_round_trip_random_and_uniform():
    rng = np.random.default_rng(9)
    for (wd, ht) in [(1, 1), (5, 3), (16, 24), (33, 7)]:
        for sg in (False, True):
            rgba = rng.integers(0, 256, (ht, wd, 4), dtype=np.uint8)
            blob = encode_webp(rgba.tobytes(), wd, ht, subtract_green=sg)
            w2, h2, c2, out = decode_webp(blob)
            assert (w2, h2, c2) == (wd, ht, 4)
            assert out == rgba.tobytes()


def test_webp_info_three_flavors():
    rgba = np.zeros((4, 6, 4), np.uint8).tobytes()
    blob = encode_webp(rgba, 6, 4)
    info = webp_info(blob)
    assert (info["width"], info["height"], info["lossless"]) == (6, 4, True)

    import struct as st

    # minimal lossy VP8 chunk: frame tag + sync + dims
    vp8 = bytes(3) + b"\x9d\x01\x2a" + st.pack("<HH", 320, 240)
    riff = b"WEBP" + b"VP8 " + st.pack("<I", len(vp8)) + vp8 + b"\x00"
    lossy = b"RIFF" + st.pack("<I", len(riff)) + riff
    info = webp_info(lossy)
    assert (info["width"], info["height"], info["lossless"]) == (
        320, 240, False,
    )

    # VP8X canvas with alpha + animation flags
    vp8x = bytes([0x12]) + bytes(3) + (99).to_bytes(3, "little") + (
        49
    ).to_bytes(3, "little")
    riff = b"WEBP" + b"VP8X" + st.pack("<I", len(vp8x)) + vp8x
    ext = b"RIFF" + st.pack("<I", len(riff)) + riff
    info = webp_info(ext)
    assert (info["width"], info["height"]) == (100, 50)
    assert info["alpha"] and info["animation"]


def test_decode_webp_rejects_interframe_cleanly():
    """Lossy key frames now decode (sources/vp8.py, validated
    bit-exactly in tests/test_vp8_interop.py); a non-key VP8 frame —
    impossible inside a still WebP — must raise a named error."""
    import struct as st

    tag = 1 | (10 << 5)  # bit0=1 -> interframe
    vp8 = bytes([tag & 0xFF, 0, 0]) + b"\x9d\x01\x2a" + st.pack("<HH", 8, 8)
    riff = b"WEBP" + b"VP8 " + st.pack("<I", len(vp8)) + vp8 + b"\x00"
    lossy = b"RIFF" + st.pack("<I", len(riff)) + riff
    with pytest.raises(ValueError, match="interframe"):
        decode_webp(lossy)


def _box(btype: bytes, body: bytes) -> bytes:
    import struct as st

    return st.pack(">I", 8 + len(body)) + btype + body


def test_avif_info_box_walk():
    import struct as st

    ispe = _box(b"ispe", bytes(4) + st.pack(">II", 1280, 720))
    ipco = _box(b"ipco", ispe)
    iprp = _box(b"iprp", ipco)
    meta = _box(b"meta", bytes(4) + iprp)
    ftyp = _box(b"ftyp", b"avif" + bytes(4) + b"avifmif1")
    blob = ftyp + meta
    info = avif_info(blob)
    assert info == {
        "width": 1280, "height": 720, "brand": "avif",
        "animated": False, "has_alpha": False,
        "bit_depth": None, "n_channels": None,
    }
    with pytest.raises(ValueError, match="ftyp"):
        avif_info(b"\x00" * 20)


def test_avif_info_alpha_animation_depth_triage():
    """Alpha (auxC URN), animation (avis brand / moov box), and bit
    depth (pixi) surface from triage alone — no decoder needed."""
    import struct as st

    ispe = _box(b"ispe", bytes(4) + st.pack(">II", 64, 32))
    auxc = _box(
        b"auxC",
        bytes(4) + b"urn:mpeg:mpegB:cicp:systems:auxiliary:alpha\x00",
    )
    pixi = _box(b"pixi", bytes(4) + bytes([3, 10, 10, 10]))
    ipco = _box(b"ipco", ispe + auxc + pixi)
    meta = _box(b"meta", bytes(4) + _box(b"iprp", ipco))
    ftyp_avis = _box(b"ftyp", b"avis" + bytes(4) + b"avisavifmif1")
    info = avif_info(ftyp_avis + meta)
    assert info["animated"] is True  # avis brand
    assert info["has_alpha"] is True
    assert (info["bit_depth"], info["n_channels"]) == (10, 3)
    # still-image brand but a moov box present -> animated
    ftyp_avif = _box(b"ftyp", b"avif" + bytes(4) + b"avifmif1")
    info2 = avif_info(ftyp_avif + meta + _box(b"moov", b""))
    assert info2["animated"] is True
    assert avif_info(ftyp_avif + meta)["animated"] is False


def test_decode_lossy_vp8_committed_fixture():
    """A committed libwebp-encoded lossy WebP (32x24, q40) must decode
    offline (no libwebp needed) to the pinned RGB bytes — the
    cross-library proof lives in tests/test_vp8_interop.py; this pins
    the result so the decode path stays covered when libwebp is
    absent."""
    import hashlib

    blob = bytes.fromhex(
        "52494646a600000057454250565038209a000000b005009d012a200018003eed"
        "6eae5229a62423a80801301d896c009d32847037ba70866ea8e800356b82ccff"
        "f4193469d6c70c92111000fb991876e866262473fc7b32c8b55d03890fa5982d"
        "9ac684db7431ca652edc49075e7447ec3672f226f7ce508b6223871c8093ce1c"
        "1235683fe467b14a2ba94e503172819ab89aa61b465e481dc9efff24a6339df3"
        "6be7bac68deb568f31bd80c62000"
    )
    w, h, ch, px = decode_webp(blob)
    assert (w, h, ch) == (32, 24, 3)
    assert hashlib.md5(px).hexdigest() == "55a6a413c31dacf32c377f6afc8fc489"


def test_alpha_unfilter_all_methods():
    """_decode_alpha must invert each container-spec prediction filter
    (none/horizontal/vertical/gradient) on a raw plane."""
    import numpy as np

    from wrf_to_geodataframe_spark.sources.webp import _decode_alpha

    rng = np.random.default_rng(4)
    w, h = 9, 7
    plane = rng.integers(0, 256, (h, w)).astype(np.uint8)

    def forward(a, method):
        d = np.zeros_like(a, dtype=np.uint8)
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    pred = 0
                elif method == 1:
                    pred = int(a[y, x - 1]) if x > 0 else int(a[y - 1, 0])
                elif method == 2:
                    pred = int(a[y - 1, x]) if y > 0 else int(a[0, x - 1])
                else:
                    if x == 0:
                        pred = int(a[y - 1, 0])
                    elif y == 0:
                        pred = int(a[0, x - 1])
                    else:
                        g = (int(a[y, x - 1]) + int(a[y - 1, x])
                             - int(a[y - 1, x - 1]))
                        pred = min(255, max(0, g))
                d[y, x] = (int(a[y, x]) - pred) & 0xFF
        return d

    # method 0 (raw, no filter)
    blob = bytes([0]) + plane.tobytes()
    np.testing.assert_array_equal(_decode_alpha(blob, w, h), plane)
    for method in (1, 2, 3):
        blob = bytes([method << 2]) + forward(plane, method).tobytes()
        np.testing.assert_array_equal(_decode_alpha(blob, w, h), plane)


def _mux_animation(canvas_wh, frames):
    """Hand-mux an animated WebP: frames = [(x, y, w, h, dur, flags,
    payload_tag, payload_bytes)]."""
    import struct as st

    def chunk(tag, body):
        c = tag + st.pack("<I", len(body)) + body
        return c + (b"\x00" if len(body) & 1 else b"")

    cw, chh = canvas_wh
    vp8x = bytes([0x02, 0, 0, 0]) + (cw - 1).to_bytes(3, "little") + (
        chh - 1
    ).to_bytes(3, "little")
    body = chunk(b"VP8X", vp8x)
    body += chunk(b"ANIM", bytes(4) + st.pack("<H", 0))
    for x, y, w, h, dur, flags, tag, payload in frames:
        hdr = (
            (x // 2).to_bytes(3, "little")
            + (y // 2).to_bytes(3, "little")
            + (w - 1).to_bytes(3, "little")
            + (h - 1).to_bytes(3, "little")
            + dur.to_bytes(3, "little")
            + bytes([flags])
        )
        body += chunk(b"ANMF", hdr + chunk(tag, payload))
    riff = b"WEBP" + body
    return b"RIFF" + __import__("struct").pack("<I", len(riff)) + riff


def _vp8l_payload(rgba, w, h):
    from wrf_to_geodataframe_spark.sources.webp import encode_vp8l

    return encode_vp8l(rgba, w, h)


def test_hypothesis_vp8l_round_trip_fuzz():
    """Property: any RGBA buffer round-trips through the VP8L
    encoder/decoder, with and without subtract-green (completing the
    GIF/TIFF/PNG/WAV fuzz discipline for the lossless WebP codec)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(1, 21), st.integers(1, 13), st.booleans(),
        st.randoms(use_true_random=False),
    )
    def prop(w, h, sub_green, rnd):
        kind = rnd.randrange(3)
        if kind == 0:  # noise
            px = bytes(rnd.randrange(256) for _ in range(w * h * 4))
        elif kind == 1:  # few colors (cache/LZ77 territory)
            pal = [bytes(rnd.randrange(256) for _ in range(4)) for _ in range(3)]
            px = b"".join(pal[rnd.randrange(3)] for _ in range(w * h))
        else:  # constant
            px = bytes([rnd.randrange(256)] * 4) * (w * h)
        blob = encode_webp(px, w, h, subtract_green=sub_green)
        assert decode_webp(blob) == (w, h, 4, px)

    prop()
