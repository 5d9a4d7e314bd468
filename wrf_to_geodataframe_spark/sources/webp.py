"""WebP container triage + pure-Python VP8L (lossless WebP) codec.

North-star multimodal surface (no reference counterpart — the
reference engine at ``wrf_voronoi.py`` has no image path): WebP is the
second most common image container in real web-crawl corpora after
JPEG, so the engine's decode dispatch must at least triage it and
fully decode the lossless flavor.

Implemented from the public "WebP Lossless Bitstream Specification"
(VP8L) and RIFF container docs:

- ``webp_info``: RIFF header triage for all three flavors — "VP8 "
  (lossy, frame-tag dims), "VP8L" (lossless, 14-bit dims), "VP8X"
  (extended, 24-bit canvas dims + feature flags incl. animation).
- ``avif_info``: ISOBMFF box walk (ftyp brand + meta/iprp/ipco/ispe)
  for AVIF dimensions; payload decode lives in ``sources/avif.py``
  (gated on the system libavif).
- ``decode_webp``: full VP8L decoder — canonical prefix codes (simple
  and code-length-coded, incl. the max-symbol variant), color cache,
  LZ77 backward references with the 120-entry close-neighborhood
  distance map, meta-prefix (entropy-image) code groups, and all four
  transforms: predictor (14 modes), color transform, subtract-green,
  color indexing (incl. sub-byte pixel bundling for <=16 colors).
- ``encode_webp``: real VP8L encoder (canonical prefix codes with
  depth-limited Huffman, optional subtract-green) — enough to
  round-trip any RGBA buffer bit-exactly and to drive the decoder's
  transform paths from tests.

Lossy "VP8 " key frames decode through the RFC 6386 decoder in
``sources/vp8.py`` (boolean coder, intra prediction, token partitions,
loop filter) with the final RGB byte-identical to ``WebPDecodeRGB``;
VP8X stills compose the ALPH alpha plane.

Scale path mirrors ``sources/png.py``/``jpeg.py``: the codec runs
inside Arrow ``mapInPandas`` batches, one image per call, spread
across executors by the repartition in ``operators/multimodal.py``.
"""

from __future__ import annotations

import struct

import numpy as np

# order in which code-length-code lengths are stored (spec 5.2.2)
_CLC_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


def _distance_map() -> list[tuple[int, int]]:
    """The 120 close-neighborhood (dx, dy) offsets for distance codes
    1..120: candidates are (x, 0) for x in 1..8 plus (x, y) for y in
    1..7, x in -7..8, ordered by squared distance, then larger dy
    first, then positive dx before negative."""
    cand = [(x, 0) for x in range(1, 9)]
    for y in range(1, 8):
        cand += [(x, y) for x in range(-7, 9)]
    cand.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], p[0] < 0))
    return cand[:120]


_DIST_MAP = _distance_map()


# ---------------------------------------------------------------------------
# LSB-first bit IO


class _BitReader:
    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.byte = pos
        self.bit = 0

    def read_bits(self, n: int) -> int:
        """All ``n`` LSB-first bits in one int.from_bytes window (r18):
        the per-bit loop cost ~1 µs/bit and the per-pixel prefix reads
        made it the decode hot path.  Identical bit order and identical
        truncation behavior (raises when the window would run past the
        buffer)."""
        if n == 0:
            return 0
        end_bit = self.bit + n
        nbytes = (end_bit + 7) >> 3
        chunk = self.buf[self.byte : self.byte + nbytes]
        if len(chunk) < nbytes:
            raise ValueError("truncated VP8L stream")
        v = (int.from_bytes(chunk, "little") >> self.bit) & ((1 << n) - 1)
        self.byte += end_bit >> 3
        self.bit = end_bit & 7
        return v


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write_bits(self, v: int, n: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc, self.nbits = 0, 0
        return bytes(self.out)


# ---------------------------------------------------------------------------
# Canonical prefix codes (DEFLATE-style: codes packed MSB-first, read
# bit-by-bit from the LSB-first stream)


class _PrefixCode:
    def __init__(self, lengths: list[int]):
        self.lengths = lengths
        # canonical assignment: by length, then symbol order
        pairs = sorted(
            (ln, sym) for sym, ln in enumerate(lengths) if ln > 0
        )
        self.decode_table: dict[tuple[int, int], int] = {}
        code = 0
        prev_len = 0
        self.codes: dict[int, tuple[int, int]] = {}
        # bit-REVERSED codes (r18): the stream is LSB-first and codes
        # are written MSB-of-code-first, so the on-wire bit sequence of
        # a symbol is its code bit-reversed — precomputing that makes
        # both the one-call writer and the LUT reader below possible
        # with the byte-identical stream.
        self.codes_rev: dict[int, tuple[int, int]] = {}
        max_len = 0
        for ln, sym in pairs:
            code <<= ln - prev_len
            prev_len = ln
            self.decode_table[(ln, code)] = sym
            self.codes[sym] = (code, ln)
            rev = int(f"{code:0{ln}b}"[::-1], 2)
            self.codes_rev[sym] = (rev, ln)
            max_len = ln
            code += 1
        n = len(pairs)
        self.single = pairs[0][1] if n == 1 else None
        if n > 1:
            kraft = sum(1 << (15 - ln) for ln, _ in pairs)
            if kraft != 1 << 15:
                raise ValueError("incomplete/over-subscribed prefix code")
        # single-level decode LUT over max_len peeked bits -> (sym, ln),
        # built only when small enough to amortize over a tiny image
        # (2^11 entries); longer codes fall back to the bit-by-bit walk
        self.max_len = max_len
        self._peek_mask = (1 << max_len) - 1
        self.lut: list | None = None
        if n > 1 and max_len <= 11:
            lut = [(-1, 0)] * (1 << max_len)
            for sym, (rev, ln) in self.codes_rev.items():
                step = 1 << ln
                for filler in range(rev, 1 << max_len, step):
                    lut[filler] = (sym, ln)
            self.lut = lut

    def read(self, r: _BitReader) -> int:
        if self.single is not None:
            return self.single  # zero-bit code
        if self.lut is not None:
            # peek/skip inlined: this is called once per symbol of
            # every header and pixel, and the three method calls were
            # the remaining decode hot path after the LUT landed
            buf, byte, bit = r.buf, r.byte, r.bit
            avail = (len(buf) - byte) * 8 - bit
            nbytes = (bit + self.max_len + 7) >> 3
            window = (
                int.from_bytes(buf[byte : byte + nbytes], "little") >> bit
            ) & self._peek_mask
            sym, ln = self.lut[window]
            if 0 <= sym and ln <= avail:
                end = bit + ln
                r.byte = byte + (end >> 3)
                r.bit = end & 7
                return sym
            if sym < 0 and avail >= self.max_len:
                raise ValueError("invalid prefix code in VP8L stream")
            # near-end window (zero-padded peek, or a match needing
            # more bits than remain): replay bit-by-bit so the
            # truncated/invalid error surfaces exactly like the slow
            # path.  A shorter valid symbol cannot have been missed —
            # the LUT covers every suffix of every code.
        code, ln = 0, 0
        while ln < 16:
            code = (code << 1) | r.read_bits(1)
            ln += 1
            sym = self.decode_table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid prefix code in VP8L stream")

    def write(self, w: _BitWriter, sym: int) -> None:
        if self.single is not None:
            return
        rev, ln = self.codes_rev[sym]
        w.write_bits(rev, ln)  # one call; same on-wire bit sequence


def _huffman_lengths(freqs: list[int], max_len: int) -> list[int]:
    """Depth-limited Huffman code lengths (frequency-halving retry —
    the standard flattening trick keeps the code canonical-complete)."""
    f = list(freqs)
    while True:
        lens = _plain_huffman(f)
        if max(lens, default=0) <= max_len:
            return lens
        f = [(x + 1) // 2 if x else 0 for x in f]


def _plain_huffman(freqs: list[int]) -> list[int]:
    import heapq

    heap = [(fr, sym, None) for sym, fr in enumerate(freqs) if fr > 0]
    if not heap:
        return [0] * len(freqs)
    if len(heap) == 1:
        out = [0] * len(freqs)
        out[heap[0][1]] = 1
        return out
    cnt = len(heap)
    nodes = [(fr, i, sym, None, None) for i, (fr, sym, _) in enumerate(heap)]
    heapq.heapify(nodes)
    nxt = cnt
    while len(nodes) > 1:
        a = heapq.heappop(nodes)
        b = heapq.heappop(nodes)
        heapq.heappush(nodes, (a[0] + b[0], nxt, None, a, b))
        nxt += 1
    out = [0] * len(freqs)

    def walk(node, depth):
        _fr, _i, sym, lft, rgt = node
        if sym is not None:
            out[sym] = depth
            return
        walk(lft, depth + 1)
        walk(rgt, depth + 1)

    walk(nodes[0], 0)
    return out


def _read_code(r: _BitReader, alphabet: int) -> _PrefixCode:
    """Read one prefix-code header (spec 5.2.1/5.2.2)."""
    if r.read_bits(1):  # simple
        nsym = r.read_bits(1) + 1
        first8 = r.read_bits(1)
        s0 = r.read_bits(8 if first8 else 1)
        lens = [0] * alphabet
        if nsym == 1:
            lens[s0] = 1
            pc = _PrefixCode.__new__(_PrefixCode)
            pc.lengths = lens
            pc.single = s0
            pc.decode_table = {}
            pc.codes = {s0: (0, 0)}
            return pc
        s1 = r.read_bits(8)
        lens[s0] = 1
        lens[s1] = 1
        return _PrefixCode(lens)
    nclc = r.read_bits(4) + 4
    clc_lens = [0] * 19
    for i in range(nclc):
        clc_lens[_CLC_ORDER[i]] = r.read_bits(3)
    clc = _PrefixCode(clc_lens)
    if r.read_bits(1):  # explicit max symbol
        length_nbits = 2 + 2 * r.read_bits(3)
        max_symbol = 2 + r.read_bits(length_nbits)
    else:
        max_symbol = alphabet
    lens = [0] * alphabet
    prev = 8
    i = 0
    while i < alphabet:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        s = clc.read(r)
        if s < 16:
            lens[i] = s
            i += 1
            if s:
                prev = s
        elif s == 16:
            for _ in range(3 + r.read_bits(2)):
                if i < alphabet:
                    lens[i] = prev
                    i += 1
        elif s == 17:
            i += 3 + r.read_bits(3)
        else:  # 18
            i += 11 + r.read_bits(7)
    return _PrefixCode(lens)


def _write_code(w: _BitWriter, lens: list[int]) -> None:
    """Write one prefix-code header: simple when <=2 symbols all <256,
    else the code-length-coded normal form (no repeat ops — every
    length emitted literally, which is always spec-legal)."""
    syms = [s for s, ln in enumerate(lens) if ln > 0]
    if len(syms) <= 2 and all(s < 256 for s in syms) and syms:
        w.write_bits(1, 1)  # simple
        w.write_bits(len(syms) - 1, 1)
        first8 = 1 if syms[0] > 1 else 0
        w.write_bits(first8, 1)
        w.write_bits(syms[0], 8 if first8 else 1)
        if len(syms) == 2:
            w.write_bits(syms[1], 8)
        return
    w.write_bits(0, 1)  # normal
    # trim trailing zeros; encode the rest literally
    last = max(syms) if syms else 0
    seq = lens[: last + 1]
    clc_freq = [0] * 19
    for v in seq:
        clc_freq[v] += 1
    clc_lens = _huffman_lengths(clc_freq, 7)
    # how many of the ordered slots we must transmit
    used = [i for i, c in enumerate(_CLC_ORDER) if clc_lens[c] > 0]
    nclc = max(max(used) + 1 if used else 4, 4)
    w.write_bits(nclc - 4, 4)
    for i in range(nclc):
        w.write_bits(clc_lens[_CLC_ORDER[i]], 3)
    clc = _PrefixCode(clc_lens)
    if len(seq) < len(lens):
        # explicit max-symbol so the repeated-zero tail is implicit
        n = len(seq)
        length_nbits = 2
        while n - 2 >= (1 << length_nbits):
            length_nbits += 2
        w.write_bits(1, 1)
        w.write_bits((length_nbits - 2) // 2, 3)
        w.write_bits(n - 2, length_nbits)
    else:
        w.write_bits(0, 1)
    for v in seq:
        clc.write(w, v)


# ---------------------------------------------------------------------------
# VP8L image-stream decode


def _prefix_value(r: _BitReader, sym: int) -> int:
    """Length/distance prefix decoding (spec 4.2.1)."""
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + r.read_bits(extra) + 1


def _read_groups(r: _BitReader, n_groups: int, cache_bits: int):
    alph = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append(
            (
                _read_code(r, alph),  # green + length + cache
                _read_code(r, 256),  # red
                _read_code(r, 256),  # blue
                _read_code(r, 256),  # alpha
                _read_code(r, 40),  # distance
            )
        )
    return groups


def _decode_pixels(
    r: _BitReader, width: int, height: int, cache_bits: int,
    groups, meta, meta_block_bits,
) -> np.ndarray:
    """-> (height*width, 4) uint8 ARGB."""
    n = width * height
    px = np.zeros((n, 4), np.uint8)
    cache = [0] * ((1 << cache_bits) if cache_bits else 0)
    pos = 0
    while pos < n:
        if meta is not None:
            x, y = pos % width, pos // width
            g = meta[y >> meta_block_bits, x >> meta_block_bits]
        else:
            g = 0
        gc, rc, bc, ac, dc = groups[g]
        s = gc.read(r)
        if s < 256:  # literal: G then R, B, A
            red = rc.read(r)
            blue = bc.read(r)
            alpha = ac.read(r)
            px[pos] = (alpha, red, s, blue)
            pos += 1
        elif s < 280:  # LZ77 backward reference
            length = _prefix_value(r, s - 256)
            dsym = dc.read(r)
            dcode = _prefix_value(r, dsym)
            if dcode > 120:
                dist = dcode - 120
            else:
                dx, dy = _DIST_MAP[dcode - 1]
                dist = dy * width + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise ValueError("VP8L backward reference out of range")
            for i in range(length):
                px[pos + i] = px[pos + i - dist]
                if cache_bits:
                    cache[_cache_key(px[pos + i], cache_bits)] = _pack(
                        px[pos + i]
                    )
            pos += length
        else:  # color cache
            if not cache_bits:
                raise ValueError("cache symbol without color cache")
            argb = cache[s - 280]
            px[pos] = (
                (argb >> 24) & 0xFF,
                (argb >> 16) & 0xFF,
                (argb >> 8) & 0xFF,
                argb & 0xFF,
            )
            pos += 1
            continue
        if cache_bits and s < 256:
            cache[_cache_key(px[pos - 1], cache_bits)] = _pack(px[pos - 1])
    return px


def _pack(p) -> int:
    return (int(p[0]) << 24) | (int(p[1]) << 16) | (int(p[2]) << 8) | int(p[3])


def _cache_key(p, bits: int) -> int:
    return (0x1E35A7BD * _pack(p)) % (1 << 32) >> (32 - bits)


def _decode_image_stream(
    r: _BitReader, width: int, height: int, is_main: bool
) -> np.ndarray:
    """-> (height, width, 4) uint8 ARGB; handles transforms only on
    the main (spatially-coded) image."""
    transforms = []
    w = width
    if is_main:
        while r.read_bits(1):
            ttype = r.read_bits(2)
            if ttype in (0, 1):  # predictor / color transform
                size_bits = r.read_bits(3) + 2
                bw = (w + (1 << size_bits) - 1) >> size_bits
                bh = (height + (1 << size_bits) - 1) >> size_bits
                sub = _decode_image_stream(r, bw, bh, False)
                transforms.append((ttype, size_bits, sub))
            elif ttype == 2:  # subtract green
                transforms.append((2, None, None))
            else:  # color indexing
                ncolors = r.read_bits(8) + 1
                pal = _decode_image_stream(r, ncolors, 1, False)
                # delta-coded palette
                pal32 = pal.astype(np.int32)
                np.cumsum(pal32, axis=1, out=pal32)
                pal = (pal32 & 0xFF).astype(np.uint8)
                if ncolors <= 2:
                    pbits = 3
                elif ncolors <= 4:
                    pbits = 2
                elif ncolors <= 16:
                    pbits = 1
                else:
                    pbits = 0
                transforms.append((3, (pbits, pal), None))
                w = (w + (1 << pbits) - 1) >> pbits
    cache_bits = r.read_bits(4) if r.read_bits(1) else 0
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError(f"invalid color-cache bits {cache_bits}")
    meta = None
    meta_bits = 0
    n_groups = 1
    if is_main and r.read_bits(1):  # meta prefix codes
        meta_bits = r.read_bits(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (height + (1 << meta_bits) - 1) >> meta_bits
        mimg = _decode_image_stream(r, mw, mh, False)
        # group index = (red << 8) | green
        meta = (
            mimg[:, :, 1].astype(np.int32) << 8
        ) | mimg[:, :, 2].astype(np.int32)
        n_groups = int(meta.max()) + 1
    groups = _read_groups(r, n_groups, cache_bits)
    px = _decode_pixels(r, w, height, cache_bits, groups, meta, meta_bits)
    img = px.reshape(height, w, 4)
    for ttype, arg, sub in reversed(transforms):
        img = _inverse_transform(img, ttype, arg, sub, width)
    return img


def _inverse_transform(img, ttype, arg, sub, full_width):
    h, w = img.shape[:2]
    if ttype == 2:  # add green back to red and blue
        out = img.astype(np.int32)
        out[:, :, 1] = (out[:, :, 1] + out[:, :, 2]) & 0xFF
        out[:, :, 3] = (out[:, :, 3] + out[:, :, 2]) & 0xFF
        return out.astype(np.uint8)
    if ttype == 3:  # color indexing: unbundle + palette lookup
        pbits, pal = arg
        idx = img[:, :, 2]  # green channel holds the packed indices
        if pbits:
            per = 1 << pbits
            ibits = 8 >> pbits
            mask = (1 << ibits) - 1
            cols = []
            for j in range(per):
                cols.append((idx >> (j * ibits)) & mask)
            idx = np.stack(cols, axis=2).reshape(h, -1)[:, :full_width]
        ncolors = pal.shape[1]
        safe = np.minimum(idx.astype(np.int32), ncolors - 1)
        return pal[0][safe]
    if ttype == 0:  # predictor
        return _inverse_predictor(img, arg, sub)
    if ttype == 1:  # color transform
        return _inverse_color_transform(img, arg, sub)
    raise ValueError(f"unknown transform {ttype}")


def _avg2(a, b):
    return (int(a) + int(b)) // 2


def _clamp_add_subtract_full(a, b, c):
    v = int(a) + int(b) - int(c)
    return 0 if v < 0 else (255 if v > 255 else v)


def _clamp_add_subtract_half(a, b):
    v = int(a) + (int(a) - int(b)) // 2
    return 0 if v < 0 else (255 if v > 255 else v)


def _inverse_predictor(img, size_bits, sub):
    h, w = img.shape[:2]
    out = img.astype(np.int32)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = np.array([255, 0, 0, 0], np.int32)  # 0xff000000
            elif y == 0:
                pred = out[0, x - 1]  # L
            elif x == 0:
                pred = out[y - 1, 0]  # T
            else:
                mode = int(sub[y >> size_bits, x >> size_bits, 2])
                L = out[y, x - 1]
                T = out[y - 1, x]
                TL = out[y - 1, x - 1]
                TR = (
                    out[y - 1, x + 1] if x + 1 < w else out[y - 1, 0]
                )
                if mode == 0:
                    pred = np.array([255, 0, 0, 0], np.int32)
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = np.array(
                        [
                            _avg2(_avg2(L[i], TR[i]), T[i])
                            for i in range(4)
                        ],
                        np.int32,
                    )
                elif mode == 6:
                    pred = np.array(
                        [_avg2(L[i], TL[i]) for i in range(4)], np.int32
                    )
                elif mode == 7:
                    pred = np.array(
                        [_avg2(L[i], T[i]) for i in range(4)], np.int32
                    )
                elif mode == 8:
                    pred = np.array(
                        [_avg2(TL[i], T[i]) for i in range(4)], np.int32
                    )
                elif mode == 9:
                    pred = np.array(
                        [_avg2(T[i], TR[i]) for i in range(4)], np.int32
                    )
                elif mode == 10:
                    pred = np.array(
                        [
                            _avg2(_avg2(L[i], TL[i]), _avg2(T[i], TR[i]))
                            for i in range(4)
                        ],
                        np.int32,
                    )
                elif mode == 11:  # Select
                    pl = sum(abs(int(T[i]) - int(TL[i])) for i in range(4))
                    pt = sum(abs(int(L[i]) - int(TL[i])) for i in range(4))
                    pred = L if pl < pt else T
                elif mode == 12:
                    pred = np.array(
                        [
                            _clamp_add_subtract_full(L[i], T[i], TL[i])
                            for i in range(4)
                        ],
                        np.int32,
                    )
                elif mode == 13:
                    avg = [_avg2(L[i], T[i]) for i in range(4)]
                    pred = np.array(
                        [
                            _clamp_add_subtract_half(avg[i], TL[i])
                            for i in range(4)
                        ],
                        np.int32,
                    )
                else:
                    raise ValueError(f"predictor mode {mode}")
            out[y, x] = (out[y, x] + pred) & 0xFF
    return out.astype(np.uint8)


def _cdelta(t: int, c: int) -> int:
    # color-transform delta: signed t (int8) * signed c (int8) >> 5
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _inverse_color_transform(img, size_bits, sub):
    h, w = img.shape[:2]
    out = img.astype(np.int32)
    for y in range(h):
        for x in range(w):
            cte = sub[y >> size_bits, x >> size_bits]
            # packed ARGB element: bits 0-7 (blue) = green_to_red,
            # bits 8-15 (green) = green_to_blue, 16-23 (red) = red_to_blue
            g2r = int(cte[3])
            g2b = int(cte[2])
            r2b = int(cte[1])
            g = int(out[y, x, 2])
            red = (out[y, x, 1] + _cdelta(g2r, g)) & 0xFF
            blue = (out[y, x, 3] + _cdelta(g2b, g) + _cdelta(r2b, red)) & 0xFF
            out[y, x, 1] = red
            out[y, x, 3] = blue
    return out.astype(np.uint8)


# ---------------------------------------------------------------------------
# public codec API (mirrors sources/png.py: RGBA in/out)


def decode_vp8l(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a raw VP8L chunk payload -> (width, height, 4, RGBA
    bytes)."""
    if not payload or payload[0] != 0x2F:
        raise ValueError("not a VP8L stream (bad signature)")
    r = _BitReader(payload, 1)
    width = r.read_bits(14) + 1
    height = r.read_bits(14) + 1
    r.read_bits(1)  # alpha hint
    if r.read_bits(3) != 0:
        raise ValueError("unsupported VP8L version")
    argb = _decode_image_stream(r, width, height, True)
    rgba = argb[:, :, [1, 2, 3, 0]]
    return width, height, 4, rgba.tobytes()


def _decode_alpha(payload: bytes, width: int, height: int) -> np.ndarray:
    """ALPH chunk -> (height, width) uint8 alpha plane: raw or
    VP8L-lossless-coded (green channel), then the container spec's
    per-pixel un-filtering (none/horizontal/vertical/gradient)."""
    if not payload:
        raise ValueError("empty ALPH chunk")
    head = payload[0]
    compression = head & 3
    filtering = (head >> 2) & 3
    body = payload[1:]
    if compression == 0:
        if len(body) < width * height:
            raise ValueError("truncated raw ALPH data")
        a = np.frombuffer(body[: width * height], np.uint8).reshape(
            height, width
        )
    elif compression == 1:
        # headerless VP8L stream, alpha in the green channel
        r = _BitReader(body)
        img = _decode_image_stream(r, width, height, True)
        a = img[:, :, 2]
    else:
        raise ValueError(f"unsupported ALPH compression {compression}")
    if filtering == 0:
        return a.copy()
    out = np.zeros_like(a, dtype=np.uint8)
    ai = a.astype(np.int32)
    for y in range(height):
        for x in range(width):
            if x == 0 and y == 0:
                pred = 0
            elif filtering == 1:  # horizontal
                pred = int(out[y, x - 1]) if x > 0 else int(out[y - 1, 0])
            elif filtering == 2:  # vertical
                pred = int(out[y - 1, x]) if y > 0 else int(out[0, x - 1])
            else:  # gradient
                if x == 0:
                    pred = int(out[y - 1, 0])
                elif y == 0:
                    pred = int(out[0, x - 1])
                else:
                    g = (
                        int(out[y, x - 1])
                        + int(out[y - 1, x])
                        - int(out[y - 1, x - 1])
                    )
                    pred = min(255, max(0, g))
            out[y, x] = (ai[y, x] + pred) & 0xFF
    return out


def decode_webp(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a WebP container: VP8L (lossless) payloads decode to
    RGBA; lossy "VP8 " key frames decode through the RFC 6386 decoder
    (``sources/vp8.py``) and convert to RGB through libwebp's exact
    pipeline (fancy upsampler + truncating fixed-point BT.601), so the
    output is BYTE-IDENTICAL to ``WebPDecodeRGB``; VP8X STILL
    images compose an ALPH alpha plane (raw or lossless-coded, all
    four prediction filters) over the lossy payload into RGBA.
    Animations (ANMF frames) raise cleanly (use ``webp_info`` to
    triage)."""
    info = _riff_chunks(data)
    tags = {t for t, _ in info}
    if b"ANMF" in tags or b"ANIM" in tags:
        raise ValueError("animated WebP decode not supported (triage only)")
    alph = next((p for t, p in info if t == b"ALPH"), None)
    for tag, payload in info:
        if tag == b"VP8L":
            return decode_vp8l(payload)
        if tag == b"VP8 ":
            from wrf_to_geodataframe_spark.sources.vp8 import (
                decode_vp8_frame,
                yuv420_to_rgb,
            )

            w, h, y, u, v = decode_vp8_frame(payload)
            rgb = yuv420_to_rgb(y, u, v)
            if alph is None:
                return w, h, 3, rgb.tobytes()
            a = _decode_alpha(alph, w, h)
            rgba = np.dstack([rgb, a])
            return w, h, 4, rgba.tobytes()
    raise ValueError("no decodable payload chunk in WebP container")


def encode_vp8l(
    rgba: bytes, width: int, height: int, subtract_green: bool = False
) -> bytes:
    """Encode RGBA -> raw VP8L payload: optional subtract-green
    transform, one prefix-code group, no LZ77/cache (pure literals —
    valid per spec, bit-exact on round-trip)."""
    px = np.frombuffer(rgba, np.uint8).reshape(height, width, 4)
    argb = px[:, :, [3, 0, 1, 2]].astype(np.int32)  # A,R,G,B
    w = _BitWriter()
    w.write_bits(0x2F, 8)
    w.write_bits(width - 1, 14)
    w.write_bits(height - 1, 14)
    w.write_bits(1, 1)  # alpha hint
    w.write_bits(0, 3)  # version
    if subtract_green:
        w.write_bits(1, 1)  # transform present
        w.write_bits(2, 2)  # subtract-green
        argb[:, :, 1] = (argb[:, :, 1] - argb[:, :, 2]) & 0xFF
        argb[:, :, 3] = (argb[:, :, 3] - argb[:, :, 2]) & 0xFF
    w.write_bits(0, 1)  # no more transforms
    w.write_bits(0, 1)  # no color cache
    w.write_bits(0, 1)  # no meta prefix codes
    flat = argb.reshape(-1, 4)
    planes = {
        "g": flat[:, 2],
        "r": flat[:, 1],
        "b": flat[:, 3],
        "a": flat[:, 0],
    }
    gfreq = [0] * 280
    for v, c in zip(*np.unique(planes["g"], return_counts=True)):
        gfreq[int(v)] = int(c)
    codes = {"g": _PrefixCode(_huffman_lengths(gfreq, 15))}
    for k in ("r", "b", "a"):
        freq = [0] * 256
        for v, c in zip(*np.unique(planes[k], return_counts=True)):
            freq[int(v)] = int(c)
        codes[k] = _PrefixCode(_huffman_lengths(freq, 15))
    dist_lens = [0] * 40
    dist_lens[0] = 1
    codes["d"] = _PrefixCode.__new__(_PrefixCode)
    codes["d"].lengths = dist_lens
    codes["d"].single = 0
    codes["d"].codes = {0: (0, 0)}
    # headers: green(+len+cache), red, blue, alpha, distance
    _write_code(w, codes["g"].lengths)
    _write_code(w, codes["r"].lengths)
    _write_code(w, codes["b"].lengths)
    _write_code(w, codes["a"].lengths)
    _write_code(w, dist_lens)
    for i in range(flat.shape[0]):
        codes["g"].write(w, int(flat[i, 2]))
        codes["r"].write(w, int(flat[i, 1]))
        codes["b"].write(w, int(flat[i, 3]))
        codes["a"].write(w, int(flat[i, 0]))
    return w.flush()


def encode_webp(
    rgba: bytes, width: int, height: int, subtract_green: bool = False
) -> bytes:
    """RGBA -> lossless WebP file (RIFF + VP8L)."""
    payload = encode_vp8l(rgba, width, height, subtract_green)
    if len(payload) % 2:
        payload += b"\x00"
    riff = b"WEBP" + b"VP8L" + struct.pack("<I", len(payload)) + payload
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


# ---------------------------------------------------------------------------
# container triage


def _riff_chunks(data: bytes):
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (bad RIFF header)")
    out = []
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        payload = data[pos + 8:pos + 8 + size]
        if len(payload) != size:
            raise ValueError(f"truncated WebP chunk {tag!r}")
        out.append((tag, payload))
        pos += 8 + size + (size & 1)
    return out


def webp_info(data: bytes) -> dict:
    """Header-only triage -> {width, height, lossless, alpha,
    animation} for all three container flavors."""
    chunks = _riff_chunks(data)
    out = {
        "width": None,
        "height": None,
        "lossless": None,
        "alpha": False,
        "animation": False,
        "n_frames": 0,
    }
    for tag, payload in chunks:
        if tag == b"ANMF":
            out["n_frames"] += 1
        if tag == b"VP8X":
            flags = payload[0]
            out["alpha"] = bool(flags & 0x10)
            out["animation"] = bool(flags & 0x02)
            out["width"] = 1 + int.from_bytes(payload[4:7], "little")
            out["height"] = 1 + int.from_bytes(payload[7:10], "little")
        elif tag == b"VP8L" and out["width"] is None:
            if payload[0] != 0x2F:
                raise ValueError("bad VP8L signature")
            r = _BitReader(payload, 1)
            out["width"] = r.read_bits(14) + 1
            out["height"] = r.read_bits(14) + 1
            out["alpha"] = bool(r.read_bits(1))
            out["lossless"] = True
        elif tag == b"VP8 " and out["width"] is None:
            # lossy frame tag: 3 bytes, then sync 9D 01 2A, then dims
            if payload[3:6] != b"\x9d\x01\x2a":
                raise ValueError("bad VP8 sync code")
            out["width"] = (
                struct.unpack("<H", payload[6:8])[0] & 0x3FFF
            )
            out["height"] = (
                struct.unpack("<H", payload[8:10])[0] & 0x3FFF
            )
            out["lossless"] = False
        elif tag == b"VP8L":
            out["lossless"] = True
        elif tag == b"VP8 ":
            out["lossless"] = False
    if out["width"] is None:
        raise ValueError("no image chunk in WebP container")
    return out


def avif_info(data: bytes) -> dict:
    """ISOBMFF triage for AVIF: {width, height, brand, animated,
    has_alpha, bit_depth, n_channels}.  Dimensions come from the first
    ``ispe`` property; alpha from an ``auxC`` property carrying the
    MPEG-B alpha URN; animation from the ``avis`` brand or a ``moov``
    box; depth/channels from the first ``pixi`` property (None when
    absent).  AV1 payload decode is out of scope here (gated system
    libavif path: sources/avif.py) — triage still yields full
    metadata without any decoder."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISOBMFF file (no ftyp)")
    brand = data[8:12].decode("ascii", "replace")
    if brand not in ("avif", "avis", "mif1"):
        raise ValueError(f"not an AVIF brand: {brand}")

    def walk(pos: int, end: int):
        """Yield (type, body_start, body_end) at one nesting level."""
        while pos + 8 <= end:
            (size,) = struct.unpack(">I", data[pos:pos + 4])
            btype = data[pos + 4:pos + 8]
            if size == 1:
                (size,) = struct.unpack(">Q", data[pos + 8:pos + 16])
                body = pos + 16
            elif size == 0:
                size = end - pos
                body = pos + 8
            else:
                body = pos + 8
            yield btype, body, pos + size
            pos += size

    def find(pos, end, path):
        if not path:
            return pos, end
        for btype, body, bend in walk(pos, end):
            if btype == path[0]:
                if path[0] == b"meta":  # FullBox: 4-byte version/flags
                    body += 4
                return find(body, bend, path[1:])
        return None

    loc = find(0, len(data), [b"meta", b"iprp", b"ipco"])
    if loc is None:
        raise ValueError("no ipco box in AVIF")
    dims = None
    has_alpha = False
    bit_depth = None
    n_channels = None
    for btype, body, bend in walk(*loc):
        if btype == b"ispe" and dims is None:
            dims = struct.unpack(">II", data[body + 4:body + 12])
        elif btype == b"auxC":
            # FullBox: version/flags then a null-terminated aux type URN
            urn = data[body + 4:bend].split(b"\x00")[0]
            if b"alpha" in urn:
                has_alpha = True
        elif btype == b"pixi" and bit_depth is None:
            nch = data[body + 4]
            n_channels = nch
            if nch:
                bit_depth = data[body + 5]
    if dims is None:
        raise ValueError("no ispe box in AVIF")
    animated = brand == "avis" or any(
        t == b"moov" for t, _b, _e in walk(0, len(data))
    )
    return {
        "width": dims[0],
        "height": dims[1],
        "brand": brand,
        "animated": animated,
        "has_alpha": has_alpha,
        "bit_depth": bit_depth,
        "n_channels": n_channels,
    }
