"""Zstandard (RFC 8878) frame decoder — the ``zstd`` codec of the zarr
v2/v3 chunk scans (``sources/zarr.py`` incl. blosc's zstd sub-codec,
``sources/zarr3.py``).

From-scratch pure-python/numpy implementation of the public RFC 8878
format — no code derived from the zstd reference implementation; the
``zstd`` CLI is used only as a cross-validation oracle in
``tests/test_zstd.py`` (the repo's codec-interop discipline):

- frame parsing: magic, frame-header descriptor (FCS field/dict-id
  sizes, single-segment, checksum), window descriptor, skippable
  frames, multi-frame concatenation, XXH64 content checksum
  (``xxh64`` implemented here too — the low 32 bits are the frame
  checksum);
- blocks: raw / RLE / compressed;
- literals: raw / RLE / Huffman-compressed (1- and 4-stream with the
  6-byte jump table) / treeless (previous table reuse);
- Huffman: direct 4-bit weights AND FSE-compressed weights (two
  interleaved states over a backward bitstream), implicit last
  weight, canonical table build;
- FSE: normalized-count parsing (variable-width small-value encoding,
  ``-1`` less-than-one probabilities, zero-repeat flags), table
  spread with the ``(size>>1)+(size>>3)+3`` step, state machine;
- sequences: predefined / RLE / FSE / repeat table modes, the RFC's
  default LL/ML/OF distributions, interleaved backward bitstream
  (init LL,OF,ML; per-sequence extra-bit reads OF,ML,LL; state
  updates LL,ML,OF), repeat-offset history with the litlen-0 twist,
  overlap-safe match copy;
- dictionaries: raw-content and structured (magic 0xEC30A437: Huffman
  + OF/ML/LL entropy tables + initial repeat offsets + content).

Measured on a 4-vCPU host: ~6 MB/s.
"""

from __future__ import annotations

import struct

_MAGIC = 0xFD2FB528
_MAGIC_SKIP_LO, _MAGIC_SKIP_HI = 0x184D2A50, 0x184D2A5F
_MAGIC_DICT = 0xEC30A437
_MASK64 = (1 << 64) - 1


class ZstdError(ValueError):
    pass


# ---------------------------------------------------------------- xxh64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 (public xxHash spec) — frame checksums are its low 32
    bits."""
    p1, p2, p3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
    p4, p5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & _MASK64

    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + p1 + p2) & _MASK64
        v2 = (seed + p2) & _MASK64
        v3 = seed & _MASK64
        v4 = (seed - p1) & _MASK64
        while i + 32 <= n:
            for j, v in enumerate((v1, v2, v3, v4)):
                lane = int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little")
                v = rotl((v + lane * p2) & _MASK64, 31) * p1 & _MASK64
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & _MASK64
        for v in (v1, v2, v3, v4):
            h ^= rotl((v * p2) & _MASK64, 31) * p1 & _MASK64
            h = ((h * p1) + p4) & _MASK64
    else:
        h = (seed + p5) & _MASK64
    h = (h + n) & _MASK64
    while i + 8 <= n:
        lane = int.from_bytes(data[i:i + 8], "little")
        h ^= rotl((lane * p2) & _MASK64, 31) * p1 & _MASK64
        h = (rotl(h, 27) * p1 + p4) & _MASK64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * p1) & _MASK64
        h = (rotl(h, 23) * p2 + p3) & _MASK64
        i += 4
    while i < n:
        h ^= (data[i] * p5) & _MASK64
        h = (rotl(h, 11) * p1) & _MASK64
        i += 1
    h ^= h >> 33
    h = (h * p2) & _MASK64
    h ^= h >> 29
    h = (h * p3) & _MASK64
    h ^= h >> 32
    return h


# ---------------------------------------------------------- bit readers


class _BackBits:
    """Backward bitstream: bytes are a little-endian bit container,
    reading starts just below the 1-marker bit of the final byte and
    proceeds downward; each read returns n bits with the highest
    stream position as the value's MSB."""

    __slots__ = ("data", "bits", "overflow")

    def __init__(self, data: bytes):
        if not data or data[-1] == 0:
            raise ZstdError("corrupt bitstream: missing end marker")
        self.data = data
        self.bits = (len(data) - 1) * 8 + data[-1].bit_length() - 1
        self.overflow = False

    def read(self, n: int) -> int:
        """Strict read: overrunning the stream start is corruption."""
        p = self.bits - n
        if p < 0:
            raise ZstdError("corrupt bitstream: over-read")
        self.bits = p
        if n == 0:
            return 0
        byte0 = p >> 3
        off = p & 7
        chunk = int.from_bytes(
            self.data[byte0:byte0 + ((off + n + 7) >> 3)], "little"
        )
        return (chunk >> off) & ((1 << n) - 1)

    def read_flag_overflow(self, n: int) -> int:
        """FSE-weights tail semantics: a state update may overrun the
        start; the overrun read's value is never used again, so return
        0 and raise the overflow flag instead of failing."""
        if self.bits - n < 0:
            self.overflow = True
            self.bits = -1
            return 0
        return self.read(n)

    def peek_zero_filled(self, n: int) -> int:
        """Huffman peek: missing bits below the stream start read as
        zeros (the final symbol may span fewer than tableLog bits)."""
        p = self.bits - n
        if p >= 0:
            byte0 = p >> 3
            off = p & 7
            chunk = int.from_bytes(
                self.data[byte0:byte0 + ((off + n + 7) >> 3)], "little"
            )
            return (chunk >> off) & ((1 << n) - 1)
        avail = self.bits
        if avail <= 0:
            return 0
        chunk = int.from_bytes(self.data[0:(avail + 7) >> 3], "little")
        return (chunk & ((1 << avail) - 1)) << (n - avail)


def _fwd_bits(data: bytes, bitpos: int, n: int) -> int:
    """LSB-first forward bit read (FSE table descriptions)."""
    byte0 = bitpos >> 3
    off = bitpos & 7
    chunk = int.from_bytes(data[byte0:byte0 + ((off + n + 7) >> 3)], "little")
    return (chunk >> off) & ((1 << n) - 1)


# ------------------------------------------------------------------ FSE


def _read_ncount(data: bytes, max_log: int, max_symbol: int):
    """Parse an FSE table description -> (normalized counts, accuracy
    log, bytes consumed).  Counts of -1 denote less-than-one
    probability symbols."""
    if len(data) < 1:
        raise ZstdError("truncated FSE description")
    al = _fwd_bits(data, 0, 4) + 5
    if al > max_log:
        raise ZstdError(f"FSE accuracy log {al} > max {max_log}")
    bitpos = 4
    remaining = (1 << al) + 1
    threshold = 1 << al
    nbbits = al + 1
    norm: list[int] = []
    prev0 = False
    while remaining > 1:
        if prev0:
            while True:
                v = _fwd_bits(data, bitpos, 2)
                bitpos += 2
                if v == 3:
                    norm.extend((0, 0, 0))
                    if len(norm) > max_symbol + 1:
                        raise ZstdError(
                            "FSE description: too many symbols"
                        )
                    continue
                norm.extend([0] * v)
                break
        max_ = (2 * threshold - 1) - remaining
        small = _fwd_bits(data, bitpos, nbbits - 1)
        if small < max_:
            count = small
            bitpos += nbbits - 1
        else:
            full = _fwd_bits(data, bitpos, nbbits)
            if full >= threshold:
                full -= max_
            count = full
            bitpos += nbbits
        count -= 1  # shifted encoding: -1 = less-than-one probability
        remaining -= -count if count < 0 else count
        norm.append(count)
        prev0 = count == 0
        while remaining < threshold and remaining > 1:
            nbbits -= 1
            threshold >>= 1
        if len(norm) > max_symbol + 1:
            raise ZstdError("FSE description: too many symbols")
    if remaining != 1:
        raise ZstdError("FSE description: counts do not sum to table size")
    return norm, al, (bitpos + 7) >> 3


class _FseTable:
    """Decode table: per-cell symbol, nbBits, and newState base."""

    __slots__ = ("log", "sym", "nbits", "base")

    def __init__(self, norm: list[int], al: int):
        size = 1 << al
        sym = [0] * size
        high = size
        for s, c in enumerate(norm):
            if c == -1:
                high -= 1
                sym[high] = s
        step = (size >> 1) + (size >> 3) + 3
        mask = size - 1
        pos = 0
        for s, c in enumerate(norm):
            for _ in range(max(c, 0)):
                sym[pos] = s
                pos = (pos + step) & mask
                while pos >= high:
                    pos = (pos + step) & mask
        if pos != 0:
            raise ZstdError("FSE table spread did not close")
        nxt = [1 if c == -1 else c for c in norm]
        nbits = [0] * size
        base = [0] * size
        for i in range(size):
            s = sym[i]
            x = nxt[s]
            nxt[s] = x + 1
            nb = al - (x.bit_length() - 1)
            nbits[i] = nb
            base[i] = (x << nb) - size
        self.log, self.sym, self.nbits, self.base = al, sym, nbits, base

    @classmethod
    def rle(cls, symbol: int) -> "_FseTable":
        t = cls.__new__(cls)
        t.log, t.sym, t.nbits, t.base = 0, [symbol], [0], [0]
        return t


# RFC 8878 predefined distributions (literals-length AL=6,
# match-length AL=6, offset AL=5)
_LL_DEFAULT = [
    4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2,
    2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1,
]
_ML_DEFAULT = [
    1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, -1, -1, -1, -1, -1, -1, -1,
]
_OF_DEFAULT = [
    1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, -1, -1, -1, -1, -1,
]
_LL_TABLE_DEFAULT = _FseTable(_LL_DEFAULT, 6)
_ML_TABLE_DEFAULT = _FseTable(_ML_DEFAULT, 6)
_OF_TABLE_DEFAULT = _FseTable(_OF_DEFAULT, 5)

_LL_BASE = list(range(16)) + [
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024, 2048,
    4096, 8192, 16384, 32768, 65536,
]
_LL_BITS = [0] * 16 + [
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
]
_ML_BASE = list(range(3, 35)) + [
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027,
    2051, 4099, 8195, 16387, 32771, 65539,
]
_ML_BITS = [0] * 32 + [
    1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
]


# -------------------------------------------------------------- Huffman


class _HufTable:
    __slots__ = ("log", "sym", "nbits")

    def __init__(self, weights: list[int]):
        """``weights`` includes every symbol EXCEPT the implicit last
        one, whose weight completes the total to a power of two."""
        total = sum((1 << w) >> 1 for w in weights)
        if total == 0:
            raise ZstdError("huffman: empty weights")
        # implicit last weight completes the total to the smallest
        # power of two STRICTLY greater (so it is never zero)
        log = total.bit_length()
        rest = (1 << log) - total
        if rest & (rest - 1):
            raise ZstdError("huffman: implicit weight not a power of two")
        weights = weights + [rest.bit_length()]
        if log > 11:
            raise ZstdError(f"huffman table log {log} > 11")
        size = 1 << log
        sym = bytearray(size)
        nbits = bytearray(size)
        pos = 0
        for w in range(1, log + 1):
            span = 1 << (w - 1)
            ln = log + 1 - w
            for s, ws in enumerate(weights):
                if ws != w:
                    continue
                sym[pos:pos + span] = bytes([s]) * span
                nbits[pos:pos + span] = bytes([ln]) * span
                pos += span
        if pos != size:
            raise ZstdError("huffman: weights do not fill the table")
        self.log, self.sym, self.nbits = log, bytes(sym), bytes(nbits)

    def decode(self, data: bytes, n: int) -> bytes:
        bs = _BackBits(data)
        out = bytearray(n)
        log = self.log
        sym = self.sym
        nbits = self.nbits
        for i in range(n):
            idx = bs.peek_zero_filled(log)
            out[i] = sym[idx]
            bs.bits -= nbits[idx]
            if bs.bits < 0:
                raise ZstdError("huffman stream over-read")
        if bs.bits != 0:
            raise ZstdError("huffman stream not fully consumed")
        return bytes(out)


def _read_huffman(data: bytes):
    """Parse a Huffman tree description -> (_HufTable, bytes
    consumed)."""
    if not data:
        raise ZstdError("truncated huffman description")
    h = data[0]
    if h >= 128:  # direct: 4-bit weights, high nibble first
        nsym = h - 127
        nbytes = (nsym + 1) // 2
        raw = data[1:1 + nbytes]
        if len(raw) < nbytes:
            raise ZstdError("truncated huffman weights")
        weights = []
        for i in range(nsym):
            b = raw[i >> 1]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0xF))
        return _HufTable(weights), 1 + nbytes
    # FSE-compressed weights: h = compressed size
    blob = data[1:1 + h]
    if len(blob) < h:
        raise ZstdError("truncated huffman FSE weights")
    norm, al, used = _read_ncount(blob, 6, 255)
    table = _FseTable(norm, al)
    bs = _BackBits(blob[used:])
    s1 = bs.read(al)
    s2 = bs.read(al)
    weights: list[int] = []
    while True:
        if len(weights) > 254:
            raise ZstdError("huffman: more than 255 weights")
        weights.append(table.sym[s1])
        s1 = table.base[s1] + bs.read_flag_overflow(table.nbits[s1])
        if bs.overflow:
            weights.append(table.sym[s2])
            break
        weights.append(table.sym[s2])
        s2 = table.base[s2] + bs.read_flag_overflow(table.nbits[s2])
        if bs.overflow:
            weights.append(table.sym[s1])
            break
    return _HufTable(weights), 1 + h


# -------------------------------------------------------------- literals


def _decode_literals(block: bytes, state: "_FrameState"):
    """-> (literal bytes, bytes consumed from the block)."""
    if not block:
        raise ZstdError("empty compressed block")
    b0 = block[0]
    lit_type = b0 & 3
    size_fmt = (b0 >> 2) & 3
    if lit_type in (0, 1):  # Raw / RLE
        if size_fmt in (0, 2):
            rs = b0 >> 3
            hdr = 1
        elif size_fmt == 1:
            rs = (b0 >> 4) | (block[1] << 4)
            hdr = 2
        else:
            rs = (b0 >> 4) | (block[1] << 4) | (block[2] << 12)
            hdr = 3
        if lit_type == 0:
            lit = block[hdr:hdr + rs]
            if len(lit) < rs:
                raise ZstdError("truncated raw literals")
            return bytes(lit), hdr + rs
        return bytes([block[hdr]]) * rs, hdr + 1
    # Compressed / Treeless
    if size_fmt == 0:
        streams, hdr = 1, 3
        rs = (b0 >> 4) | ((block[1] & 0x3F) << 4)
        cs = (block[1] >> 6) | (block[2] << 2)
    elif size_fmt == 1:
        streams, hdr = 4, 3
        rs = (b0 >> 4) | ((block[1] & 0x3F) << 4)
        cs = (block[1] >> 6) | (block[2] << 2)
    elif size_fmt == 2:
        streams, hdr = 4, 4
        rs = (b0 >> 4) | (block[1] << 4) | ((block[2] & 3) << 12)
        cs = (block[2] >> 2) | (block[3] << 6)
    else:
        streams, hdr = 4, 5
        rs = (b0 >> 4) | (block[1] << 4) | ((block[2] & 0x3F) << 12)
        cs = (block[2] >> 6) | (block[3] << 2) | (block[4] << 10)
    payload = block[hdr:hdr + cs]
    if len(payload) < cs:
        raise ZstdError("truncated compressed literals")
    if lit_type == 2:
        table, used = _read_huffman(payload)
        state.huf = table
        payload = payload[used:]
    else:  # treeless: previous table in this frame, else dict's
        table = state.huf
        if table is None:
            raise ZstdError("treeless literals with no previous table")
    if streams == 1:
        return table.decode(payload, rs), hdr + cs
    if len(payload) < 6:
        raise ZstdError("truncated 4-stream jump table")
    s1, s2, s3 = struct.unpack_from("<HHH", payload, 0)
    rest = payload[6:]
    if s1 + s2 + s3 > len(rest):
        raise ZstdError("4-stream sizes exceed payload")
    r123 = (rs + 3) // 4
    r4 = rs - 3 * r123
    if r4 < 0:
        raise ZstdError("4-stream regenerated sizes inconsistent")
    parts = [
        table.decode(rest[:s1], r123),
        table.decode(rest[s1:s1 + s2], r123),
        table.decode(rest[s1 + s2:s1 + s2 + s3], r123),
        table.decode(rest[s1 + s2 + s3:], r4),
    ]
    return b"".join(parts), hdr + cs


# ------------------------------------------------------------- sequences


def _seq_table(block: bytes, pos: int, mode: int, default: _FseTable,
               max_log: int, max_symbol: int, prev: _FseTable | None):
    """One of the three sequence tables per its 2-bit mode ->
    (_FseTable, new pos)."""
    if mode == 0:
        return default, pos
    if mode == 1:
        if pos >= len(block):
            raise ZstdError("truncated RLE sequence table")
        sym = block[pos]
        if sym > max_symbol:
            raise ZstdError("RLE sequence symbol out of range")
        return _FseTable.rle(sym), pos + 1
    if mode == 2:
        norm, al, used = _read_ncount(block[pos:], max_log, max_symbol)
        return _FseTable(norm, al), pos + used
    if prev is None:
        raise ZstdError("repeat sequence table with no previous table")
    return prev, pos


def _decode_block(block: bytes, state: "_FrameState", out: bytearray):
    lit, pos = _decode_literals(block, state)
    if pos >= len(block):
        raise ZstdError("block missing sequences section")
    b = block[pos]
    if b < 128:
        nseq = b
        pos += 1
    elif b < 255:
        nseq = ((b - 128) << 8) | block[pos + 1]
        pos += 2
    else:
        nseq = block[pos + 1] | (block[pos + 2] << 8) | 0x7F00
        pos += 3
    if nseq == 0:
        out += lit
        return
    modes = block[pos]
    pos += 1
    if modes & 3:
        raise ZstdError("reserved sequence mode bits set")
    ll_t, pos = _seq_table(block, pos, modes >> 6, _LL_TABLE_DEFAULT, 9,
                           35, state.ll)
    of_t, pos = _seq_table(block, pos, (modes >> 4) & 3, _OF_TABLE_DEFAULT,
                           8, 31, state.of)
    ml_t, pos = _seq_table(block, pos, (modes >> 2) & 3, _ML_TABLE_DEFAULT,
                           9, 52, state.ml)
    state.ll, state.of, state.ml = ll_t, of_t, ml_t

    bs = _BackBits(block[pos:])
    ll_s = bs.read(ll_t.log)
    of_s = bs.read(of_t.log)
    ml_s = bs.read(ml_t.log)
    reps = state.reps
    litpos = 0
    for i in range(nseq):
        of_code = of_t.sym[of_s]
        ll_code = ll_t.sym[ll_s]
        ml_code = ml_t.sym[ml_s]
        if of_code > 31 or ll_code > 35 or ml_code > 52:
            raise ZstdError("sequence code out of range")
        of_val = (1 << of_code) + bs.read(of_code)
        ml = _ML_BASE[ml_code] + bs.read(_ML_BITS[ml_code])
        ll = _LL_BASE[ll_code] + bs.read(_LL_BITS[ll_code])
        if of_val > 3:
            offset = of_val - 3
            reps = [offset, reps[0], reps[1]]
        else:
            if ll == 0:
                of_val += 1
            if of_val == 1:
                offset = reps[0]
            elif of_val == 2:
                offset = reps[1]
                reps = [offset, reps[0], reps[2]]
            elif of_val == 3:
                offset = reps[2]
                reps = [offset, reps[0], reps[1]]
            else:
                offset = reps[0] - 1
                if offset == 0:
                    raise ZstdError("repeat offset underflow")
                reps = [offset, reps[0], reps[1]]
        if i + 1 < nseq:  # last sequence leaves states untouched
            ll_s = ll_t.base[ll_s] + bs.read(ll_t.nbits[ll_s])
            ml_s = ml_t.base[ml_s] + bs.read(ml_t.nbits[ml_s])
            of_s = of_t.base[of_s] + bs.read(of_t.nbits[of_s])
        if litpos + ll > len(lit):
            raise ZstdError("literal run exceeds literals")
        out += lit[litpos:litpos + ll]
        litpos += ll
        start = len(out) - offset
        if start < 0:
            raise ZstdError("match offset beyond window")
        if offset >= ml:
            out += out[start:start + ml]
        else:
            pattern = bytes(out[start:])
            q, r = divmod(ml, offset)
            out += pattern * q + pattern[:r]
    if bs.bits != 0:
        raise ZstdError("sequence bitstream not fully consumed")
    state.reps = reps
    out += lit[litpos:]


# ---------------------------------------------------------- dictionaries


class ZstdDict:
    """Raw-content or structured (magic 0xEC30A437) dictionary."""

    def __init__(self, data: bytes):
        self.raw = bytes(data)  # original serialized form (libzstd path)
        try:
            self._parse(data)
        except (IndexError, struct.error) as exc:
            raise ZstdError(f"corrupt dictionary: {exc}") from exc

    def _parse(self, data: bytes) -> None:
        if len(data) >= 8 and struct.unpack_from("<I", data)[0] == _MAGIC_DICT:
            self.dict_id = struct.unpack_from("<I", data, 4)[0]
            pos = 8
            self.huf, used = _read_huffman(data[pos:])
            pos += used
            norm, al, used = _read_ncount(data[pos:], 8, 31)
            self.of = _FseTable(norm, al)
            pos += used
            norm, al, used = _read_ncount(data[pos:], 9, 52)
            self.ml = _FseTable(norm, al)
            pos += used
            norm, al, used = _read_ncount(data[pos:], 9, 35)
            self.ll = _FseTable(norm, al)
            pos += used
            self.reps = list(struct.unpack_from("<III", data, pos))
            if any(r == 0 for r in self.reps):
                raise ZstdError("dictionary repeat offset of zero")
            pos += 12
            self.content = data[pos:]
        else:
            self.dict_id = 0
            self.huf = self.ll = self.of = self.ml = None
            self.reps = [1, 4, 8]
            self.content = data


class _FrameState:
    """Per-frame mutable entropy state (tables persist across blocks;
    a dictionary seeds them)."""

    def __init__(self, zdict: ZstdDict | None):
        if zdict is None:
            self.huf = self.ll = self.of = self.ml = None
            self.reps = [1, 4, 8]
        else:
            self.huf = zdict.huf
            self.ll, self.of, self.ml = zdict.ll, zdict.of, zdict.ml
            self.reps = list(zdict.reps)


# ---------------------------------------------------------------- frames


def _decode_frame(data: bytes, pos: int, zdict: ZstdDict | None):
    """Decode one zstd frame starting AFTER its magic -> (content
    bytes, position after the frame)."""
    if pos >= len(data):
        raise ZstdError("truncated frame header")
    fhd = data[pos]
    pos += 1
    if fhd & 0x08:
        raise ZstdError("reserved frame header bit set")
    single = bool(fhd & 0x20)
    checksum = bool(fhd & 0x04)
    did_size = (0, 1, 2, 4)[fhd & 3]
    fcs_code = fhd >> 6
    if not single:
        pos += 1  # window descriptor (decode-in-memory: unused)
    frame_did = 0
    if did_size:
        frame_did = int.from_bytes(data[pos:pos + did_size], "little")
        pos += did_size
    fcs_size = (1 if single else 0, 2, 4, 8)[fcs_code]
    fcs = None
    if fcs_size:
        fcs = int.from_bytes(data[pos:pos + fcs_size], "little")
        if fcs_size == 2:
            fcs += 256
        pos += fcs_size
    if frame_did and zdict is not None and zdict.dict_id not in (0, frame_did):
        raise ZstdError(
            f"frame wants dictionary {frame_did}, got {zdict.dict_id}"
        )
    state = _FrameState(zdict)
    prefix = zdict.content if zdict is not None else b""
    out = bytearray(prefix)
    while True:
        if pos + 3 > len(data):
            raise ZstdError("truncated block header")
        bh = int.from_bytes(data[pos:pos + 3], "little")
        pos += 3
        last = bh & 1
        btype = (bh >> 1) & 3
        bsize = bh >> 3
        if btype == 0:  # raw
            out += data[pos:pos + bsize]
            pos += bsize
        elif btype == 1:  # RLE: bsize is the REGENERATED size
            out += bytes([data[pos]]) * bsize
            pos += 1
        elif btype == 2:
            block = data[pos:pos + bsize]
            if len(block) < bsize:
                raise ZstdError("truncated compressed block")
            _decode_block(block, state, out)
            pos += bsize
        else:
            raise ZstdError("reserved block type")
        if last:
            break
    content = bytes(out[len(prefix):])
    if fcs is not None and len(content) != fcs:
        raise ZstdError(
            f"frame content size {len(content)} != declared {fcs}"
        )
    if checksum:
        want = int.from_bytes(data[pos:pos + 4], "little")
        pos += 4
        got = xxh64(content) & 0xFFFFFFFF
        if got != want:
            raise ZstdError("content checksum mismatch")
    return content, pos


def zstd_decompress(data: bytes, zdict: ZstdDict | bytes | None = None) -> bytes:
    """Decode a concatenation of zstd frames (skippable frames are
    ignored) with an optional dictionary."""
    if isinstance(zdict, (bytes, bytearray)):
        zdict = ZstdDict(bytes(zdict))
    parts = []
    pos = 0
    n = len(data)
    while pos < n:
        if pos + 4 > n:
            raise ZstdError("trailing garbage shorter than a magic")
        magic = struct.unpack_from("<I", data, pos)[0]
        if _MAGIC_SKIP_LO <= magic <= _MAGIC_SKIP_HI:
            # bounds-check BEFORE reading/skipping: a frame truncated
            # inside the 8-byte skippable header must surface as
            # ZstdError (not struct.error), and a declared size past
            # EOF is a truncated file, not a clean end of input
            if pos + 8 > n:
                raise ZstdError("truncated skippable-frame header")
            size = struct.unpack_from("<I", data, pos + 4)[0]
            if pos + 8 + size > n:
                raise ZstdError(
                    f"skippable frame declares {size} bytes but only "
                    f"{n - pos - 8} remain"
                )
            pos += 8 + size
            continue
        if magic != _MAGIC:
            raise ZstdError(f"bad frame magic 0x{magic:08X}")
        try:
            content, pos = _decode_frame(data, pos + 4, zdict)
        except (IndexError, struct.error) as exc:
            # malformed input must always surface as ZstdError — this
            # path decodes UNTRUSTED store chunks
            raise ZstdError(f"corrupt frame: {exc}") from exc
        parts.append(content)
    return b"".join(parts)
