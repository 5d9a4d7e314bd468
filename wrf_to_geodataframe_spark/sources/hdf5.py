"""NetCDF-4 / HDF5 scan (SURVEY.md §2 S1 — ``xr.open_dataset`` at
``wrf_voronoi.py:115`` reads HDF5-backed NetCDF-4, the format real WRF
output ships in; the NetCDF-3 reader in ``sources/netcdf.py`` covers
the classic encoding).

Pure-Python/numpy implementation of the HDF5 subset the netcdf-c
library writes with default settings (no h5py in this container):

- superblock v0 (default) and v2/v3
- v1 object headers (+ continuation blocks) and v2 ``OHDR`` headers
  with in-header link messages
- group traversal via v1 B-trees + SNOD symbol nodes + local heaps,
  via v2 hard-link messages, and via DENSE link storage (links as
  fractal-heap objects — FRHP with a direct root or one level of
  indirect block — indexed by a depth-0 v2 B-tree), the layout
  latest-format HDF5 switches to past ~8 links per group
- datasets: compact, contiguous, and chunked (v1 B-tree chunk index)
  layouts; deflate (zlib) and shuffle filters
- datatypes: fixed-point ints, IEEE f4/f8 floats, fixed strings,
  object references, and COMPOUND types (v1/v2/v3 member encodings,
  fixed-size members) -> numpy structured dtypes; compound attribute
  values surface as struct-like dicts (netcdf-c compound attributes,
  ``REFERENCE_LIST``)
- attributes: message v1/v2/v3 with scalar/array values of the above

- ``DIMENSION_LIST`` vlen object-reference attributes (global-heap
  hvl_t elements), so variables surface dimension NAMES exactly like
  the NetCDF-3 reader; netcdf-c's placeholder pure-dimension datasets
  are folded into ``dims`` and hidden from ``variables``
- vlen STRING attributes (netcdf-c ``NC_STRING`` — title/history
  style), resolved through the same global-heap path

- vlen-typed DATASETS and attributes (class 9 over string or numeric
  bases — netcdf-c ``NC_STRING`` variables and vlen sequences), every
  element resolved through the global heap; strings surface as python
  str in an object ndarray, sequences as per-element numpy arrays

- szip-filtered chunks (filter id 4), decoded by the pure-python
  CCSDS extended-Rice codec in ``sources/szip.py`` (EC + NN modes,
  8/16/32-bit samples)

NOT supported (documented, raises cleanly): nested indirect fractal-
heap blocks and v2 B-trees deeper than two levels (tens of thousands
of links per group), nested vlen / vlen-of-compound, array-valued
compound members.  The returned dict matches ``read_netcdf``'s
shape so the two scans are drop-in interchangeable;
``read_netcdf_any`` dispatches on the magic bytes.

Scale path mirrors the NetCDF-3 scan: one driver-side read per model
file; a directory distributes via ``binaryFile`` + ``mapInPandas``
with this parser running one file per task.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89HDF\r\n\x1a\n"
_UNDEF = 0xFFFFFFFFFFFFFFFF


class Hdf5Error(ValueError):
    pass


class _F:
    """Cursorless little-endian field reader over the file bytes."""

    def __init__(self, buf: bytes):
        self.buf = buf

    def u(self, pos: int, size: int) -> int:
        return int.from_bytes(self.buf[pos:pos + size], "little")


def _unshuffle(raw: bytes, elem: int) -> bytes:
    if elem <= 1 or len(raw) % elem:
        return raw
    n = len(raw) // elem
    return (
        np.frombuffer(raw, np.uint8).reshape(elem, n).T.tobytes()
    )


class VlenType:
    """Parsed class-9 variable-length datatype: ``base`` is ``"str"``
    for vlen strings or the element numpy dtype for vlen sequences.
    On disk every element is an hvl_t — u32 count + global heap id
    (u64 GCOL address, u32 object index) — hence itemsize 16."""

    itemsize = 16

    def __init__(self, base):
        self.base = base


def _parse_datatype_ex(buf: bytes, pos: int):
    """-> (numpy dtype or VlenType, bytes consumed).  Consumed size
    matters only for COMPOUND members, which embed full datatype
    descriptions back-to-back; top-level callers slice by the declared
    message size."""
    b0 = buf[pos]
    cls = b0 & 0x0F
    ver = (b0 >> 4) & 0x0F
    bits0 = buf[pos + 1]
    be = bits0 & 0x01
    size = int.from_bytes(buf[pos + 4:pos + 8], "little")
    order = ">" if be else "<"
    if cls == 9:  # variable-length: base datatype follows the header
        vtype = bits0 & 0x0F  # 0 = sequence, 1 = string
        base, consumed = _parse_datatype_ex(buf, pos + 8)
        if vtype == 1:
            return VlenType("str"), 8 + consumed
        if isinstance(base, VlenType) or getattr(base, "names", None):
            raise Hdf5Error("nested vlen / vlen-of-compound not supported")
        return VlenType(base), 8 + consumed
    if cls == 0:  # fixed-point (4 property bytes: bit offset + precision)
        signed = "i" if bits0 & 0x08 else "u"
        return np.dtype(f"{order}{signed}{size}"), 12
    if cls == 1:  # float (12 property bytes)
        if size not in (4, 8):
            raise Hdf5Error(f"unsupported float size {size}")
        return np.dtype(f"{order}f{size}"), 20
    if cls == 3:  # fixed string (no properties)
        return np.dtype(f"S{size}"), 8
    if cls == 7:  # reference: an object-header address (no properties)
        if size not in (1, 2, 4, 8):
            raise Hdf5Error(f"unsupported reference size {size}")
        return np.dtype(f"<u{size}"), 8
    if cls == 6:  # compound -> numpy structured dtype
        nmembers = int.from_bytes(buf[pos + 1:pos + 3], "little")
        p = pos + 8
        names: list[str] = []
        formats: list = []
        offsets: list[int] = []
        for _ in range(nmembers):
            end = buf.index(b"\x00", p)
            mname = buf[p:end].decode("utf-8", "replace")
            if ver >= 3:
                p = end + 1  # v3: no padding
                # offset field width = bytes needed to encode the
                # compound's total size (H5VM_limit_enc_size)
                nb = ((max(size, 1).bit_length() - 1) // 8) + 1
                off = int.from_bytes(buf[p:p + nb], "little")
                p += nb
            else:
                p += ((end - p) + 1 + 7) & ~7  # null + pad to 8
                off = int.from_bytes(buf[p:p + 4], "little")
                p += 4
                if ver == 1:
                    if buf[p] != 0:
                        raise Hdf5Error(
                            "array-valued compound members not supported"
                        )
                    p += 28  # dimensionality+reserved+perm+reserved+4 dims
            mdt, consumed = _parse_datatype_ex(buf, p)
            p += consumed
            names.append(mname)
            formats.append(mdt)
            offsets.append(off)
        dtype = np.dtype(
            {
                "names": names,
                "formats": formats,
                "offsets": offsets,
                "itemsize": size,
            }
        )
        return dtype, p - pos
    raise Hdf5Error(f"unsupported datatype class {cls}")


def _parse_datatype(buf: bytes, pos: int):
    return _parse_datatype_ex(buf, pos)[0]


def _struct_to_dicts(vals: np.ndarray, dtype: np.dtype):
    """Structured-dtype attribute values -> struct-like plain dicts
    (fixed strings decoded, scalars unboxed) — the reader's compound
    surface (netcdf-c compound attributes, REFERENCE_LIST, ...)."""
    def conv(rec):
        out = {}
        for nm in dtype.names:
            v = rec[nm]
            if isinstance(v, bytes):
                out[nm] = v.split(b"\x00")[0].decode("utf-8", "replace")
            else:
                out[nm] = v.item()
        return out

    recs = [conv(v) for v in vals]
    return recs[0] if len(recs) == 1 else recs


def _parse_dataspace(buf: bytes, pos: int):
    return _parse_dataspace_full(buf, pos)[0]


def _parse_dataspace_full(buf: bytes, pos: int):
    """-> (dims, maxdims-or-None).  ``maxdims`` is present when flag
    bit 0 is set; an unlimited dimension is encoded as all-ones
    (spec II.A: Dataspace Message).  The Extensible Array chunk index
    needs maxdims to locate the single unlimited dimension it swizzles
    to the front of its element ordering."""
    ver = buf[pos]
    rank = buf[pos + 1]
    flags = buf[pos + 2]
    if ver == 1:
        p = pos + 8
    elif ver == 2:
        p = pos + 4
    else:
        raise Hdf5Error(f"dataspace version {ver}")
    dims = tuple(
        int.from_bytes(buf[p + 8 * i:p + 8 * i + 8], "little")
        for i in range(rank)
    )
    maxdims = None
    if flags & 0x01:
        p += 8 * rank
        maxdims = tuple(
            int.from_bytes(buf[p + 8 * i:p + 8 * i + 8], "little")
            for i in range(rank)
        )
    return dims, maxdims


class ObjectRefs(list):
    """Resolved vlen-of-object-reference attribute value (one list of
    object-header addresses per dataspace element) — the on-disk shape
    of netCDF-4's ``DIMENSION_LIST``."""


def _read_gheap_object(buf: bytes, addr: int, idx: int) -> bytes:
    """Fetch one object from a global heap collection (GCOL) — where
    vlen attribute payloads live."""
    if buf[addr:addr + 4] != b"GCOL":
        raise Hdf5Error(f"bad global heap signature at {addr:#x}")
    if buf[addr + 4] != 1:
        raise Hdf5Error(f"global heap version {buf[addr + 4]}")
    size = int.from_bytes(buf[addr + 8:addr + 16], "little")
    p = addr + 16
    while p + 16 <= addr + size:
        oidx = int.from_bytes(buf[p:p + 2], "little")
        osize = int.from_bytes(buf[p + 8:p + 16], "little")
        if oidx == 0:
            break
        if oidx == idx:
            return buf[p + 16:p + 16 + osize]
        p += 16 + ((osize + 7) & ~7)
    raise Hdf5Error(f"global heap object {idx} not found at {addr:#x}")


def _resolve_vlen(buf: bytes, raw: bytes, vt: VlenType, n: int) -> np.ndarray:
    """Resolve ``n`` hvl_t records through the global heap -> object
    ndarray of python strings (vlen string) or numpy arrays (vlen
    sequence).  A zero heap address is a never-written element (fill):
    empty string / empty array."""
    out = np.empty(n, dtype=object)
    for i in range(n):
        e = 16 * i
        cnt = int.from_bytes(raw[e:e + 4], "little")
        gaddr = int.from_bytes(raw[e + 4:e + 12], "little")
        gidx = int.from_bytes(raw[e + 12:e + 16], "little")
        if gaddr in (0, _UNDEF) or gidx == 0:
            out[i] = "" if vt.base == "str" else np.empty(0, vt.base)
            continue
        data = _read_gheap_object(buf, gaddr, gidx)
        if vt.base == "str":
            out[i] = data[:cnt].decode("utf-8", "replace")
        else:
            out[i] = np.frombuffer(data, vt.base, count=cnt)
    return out


def _parse_attribute(buf: bytes, pos: int):
    ver = buf[pos]
    if ver not in (1, 2, 3):
        raise Hdf5Error(f"attribute version {ver}")
    name_size = int.from_bytes(buf[pos + 2:pos + 4], "little")
    dt_size = int.from_bytes(buf[pos + 4:pos + 6], "little")
    ds_size = int.from_bytes(buf[pos + 6:pos + 8], "little")
    p = pos + 8
    if ver == 3:
        p += 1  # charset
    pad = (lambda n: (n + 7) & ~7) if ver == 1 else (lambda n: n)
    name = buf[p:p + name_size].split(b"\x00")[0].decode("utf-8", "replace")
    p += pad(name_size)
    # The vlen branches degrade to (name, None) on any Hdf5Error — a
    # malformed heap layout (or a shared-datatype message whose first
    # byte coincidentally has low nibble 9) must skip the one attribute,
    # not abort the whole read (robustness parity with the generic path
    # below, which has always degraded this way).
    if buf[p] & 0x0F == 9 and buf[p + 8] & 0x0F == 7:
        # vlen of object references (netCDF-4's DIMENSION_LIST): each
        # element is an hvl_t — u32 count + global heap id (u64 GCOL
        # address, u32 object index); the heap object holds count
        # 8-byte object-header addresses
        try:
            q = p + pad(dt_size)
            shape = _parse_dataspace(buf, q)
            q += pad(ds_size)
            n = int(np.prod(shape)) if shape else 1
            refs = ObjectRefs()
            for i in range(n):
                e = q + 16 * i
                cnt = int.from_bytes(buf[e:e + 4], "little")
                gaddr = int.from_bytes(buf[e + 4:e + 12], "little")
                gidx = int.from_bytes(buf[e + 12:e + 16], "little")
                data = _read_gheap_object(buf, gaddr, gidx)
                refs.append(
                    [
                        int.from_bytes(data[8 * j:8 * j + 8], "little")
                        for j in range(cnt)
                    ]
                )
            return name, refs
        except Hdf5Error:
            return name, None
    if buf[p] & 0x0F == 9 and buf[p + 8] & 0x0F == 3:
        # vlen STRING attribute (netcdf-c NC_STRING, e.g. title/history):
        # same hvl_t layout, heap object holds the character bytes
        try:
            q = p + pad(dt_size)
            shape = _parse_dataspace(buf, q)
            q += pad(ds_size)
            n = int(np.prod(shape)) if shape else 1
            vals = []
            for i in range(n):
                e = q + 16 * i
                cnt = int.from_bytes(buf[e:e + 4], "little")
                gaddr = int.from_bytes(buf[e + 4:e + 12], "little")
                gidx = int.from_bytes(buf[e + 12:e + 16], "little")
                data = _read_gheap_object(buf, gaddr, gidx)
                vals.append(data[:cnt].decode("utf-8", "replace"))
            return name, vals[0] if len(vals) == 1 else vals
        except Hdf5Error:
            return name, None
    try:
        dtype = _parse_datatype(buf, p)
    except Hdf5Error:
        return name, None  # unsupported attr datatype: skip value
    p += pad(dt_size)
    shape = _parse_dataspace(buf, p)
    p += pad(ds_size)
    n = int(np.prod(shape)) if shape else 1
    if isinstance(dtype, VlenType):
        # vlen numeric sequence attribute (vlen string / object-ref
        # shapes are caught by the dedicated branches above)
        try:
            vals = _resolve_vlen(buf, buf[p:p + 16 * n], dtype, n)
        except Hdf5Error:
            return name, None
        out = [v for v in vals]
        return name, out[0] if len(out) == 1 else out
    vals = np.frombuffer(buf[p:p + n * dtype.itemsize], dtype=dtype, count=n)
    if dtype.names:  # compound -> struct-like dict(s)
        return name, _struct_to_dicts(vals, dtype)
    if dtype.kind == "S":
        out = [v.split(b"\x00")[0].decode("utf-8", "replace") for v in vals]
        return name, out[0] if len(out) == 1 else out
    vals = vals.reshape(shape) if shape else vals[0]
    return name, vals


def decode_chunk_pipeline(
    raw: bytes,
    filters,
    elem: int,
    n_elems: int | None = None,
    filter_mask: int = 0,
) -> bytes:
    """Run a chunk through the filter pipeline in reverse;
    ``filter_mask`` bit i set means pipeline filter i was SKIPPED for
    this chunk (HDF5 optional-filter semantics — e.g. szip leaves
    incompressible chunks unfiltered).  Module-level so executor tasks
    of the virtual-dataset scan (sources/virtual.py ``read_virtual``)
    can decode without holding a file object."""
    for i in range(len(filters) - 1, -1, -1):
        if filter_mask & (1 << i):
            continue
        fid, cv = filters[i]
        if fid == 1:
            raw = zlib.decompress(raw)
        elif fid == 2:
            raw = _unshuffle(raw, elem)
        elif fid == 3:
            raw = raw[:-4]  # fletcher32 trailer (not verified)
        elif fid == 4:  # szip (CCSDS extended-Rice), sources/szip.py
            from wrf_to_geodataframe_spark.sources.szip import szip_decode

            if len(cv) < 4 or n_elems is None:
                raise Hdf5Error("malformed szip filter params")
            # H5Z_FILTER_SZIP prefixes the szlib bitstream with the
            # uncompressed byte count (4 bytes little-endian)
            if len(raw) < 4:
                raise Hdf5Error("truncated szip chunk")
            stored = int.from_bytes(raw[:4], "little")
            n_px = stored // ((cv[1] + 7) // 8)
            if n_px > n_elems:
                raise Hdf5Error("szip stored size exceeds chunk")
            raw = szip_decode(raw[4:], n_px, cv[0], cv[1], cv[2], cv[3])
        else:
            raise Hdf5Error(f"unsupported filter id {fid}")
    return raw


class _Hdf5File:
    def __init__(self, buf: bytes):
        if buf[:8] != _SIG:
            raise Hdf5Error("not an HDF5 file (bad signature)")
        self.buf = buf
        self.f = _F(buf)
        ver = buf[8]
        if ver == 0:
            if buf[13] != 8 or buf[14] != 8:
                raise Hdf5Error("only 8-byte offsets/lengths supported")
            # root group symbol table entry at fixed position 24 + 32
            self.root_header = self.f.u(24 + 32 + 8, 8)
            self.root_scratch = 24 + 32 + 24
            cache = self.f.u(24 + 32 + 16, 4)
            self.root_btree = (
                self.f.u(self.root_scratch, 8) if cache == 1 else None
            )
            self.root_heap = (
                self.f.u(self.root_scratch + 8, 8) if cache == 1 else None
            )
        elif ver in (2, 3):
            if buf[9] != 8 or buf[10] != 8:
                raise Hdf5Error("only 8-byte offsets/lengths supported")
            self.root_header = self.f.u(36, 8)
            self.root_btree = self.root_heap = None
        else:
            raise Hdf5Error(f"superblock version {ver}")

    # -- object headers ------------------------------------------------

    def messages(self, addr: int):
        """Yield (msg_type, body_offset, body_size) for a v1 or v2
        object header, following continuation blocks."""
        buf = self.buf
        if buf[addr:addr + 4] == b"OHDR":
            yield from self._messages_v2(addr)
            return
        if buf[addr] != 1:
            raise Hdf5Error(f"object header version {buf[addr]} at {addr}")
        nmsgs = self.f.u(addr + 2, 2)
        hdr_size = self.f.u(addr + 8, 4)
        blocks = [(addr + 16, hdr_size)]
        emitted = 0
        while blocks and emitted < nmsgs:
            pos, remaining = blocks.pop(0)
            while remaining >= 8 and emitted < nmsgs:
                mtype = self.f.u(pos, 2)
                msize = self.f.u(pos + 2, 2)
                body = pos + 8
                emitted += 1
                if mtype == 0x0010:  # continuation
                    blocks.append((self.f.u(body, 8), self.f.u(body + 8, 8)))
                else:
                    yield mtype, body, msize
                pos = body + msize
                remaining -= 8 + msize

    def _messages_v2(self, addr: int):
        flags = self.buf[addr + 5]
        p = addr + 6
        if flags & 0x20:
            p += 16
        if flags & 0x10:
            p += 4
        cs = 1 << (flags & 0x3)
        chunk0 = self.f.u(p, cs)
        p += cs
        blocks = [(p, chunk0)]
        track = 2 if flags & 0x04 else 0
        while blocks:
            pos, remaining = blocks.pop(0)
            end = pos + remaining
            while pos + 4 <= end:
                mtype = self.buf[pos]
                msize = self.f.u(pos + 1, 2)
                body = pos + 4 + track
                if mtype == 0x10:
                    blocks.append(
                        # continuation blocks are OCHK-framed: sig(4) ...
                        # checksum(4)
                        (self.f.u(body, 8) + 4, self.f.u(body + 8, 8) - 8)
                    )
                elif mtype:
                    yield mtype, body, msize - track
                pos = body + msize - track
    # -- groups --------------------------------------------------------

    def group_links(self, addr: int) -> dict[str, int]:
        """name -> object header address for the group at ``addr``.
        Covers all three on-disk group flavors: old-style symbol-table
        B-trees, compact in-header link messages, and DENSE storage
        (links as fractal-heap objects indexed by a v2 B-tree — what
        latest-format HDF5 writes once a group passes ~8 links)."""
        out: dict[str, int] = {}
        btree = heap = None
        for mtype, body, _size in self.messages(addr):
            if mtype == 0x0011:  # symbol table
                btree = self.f.u(body, 8)
                heap = self.f.u(body + 8, 8)
            elif mtype == 0x0006:  # v2 link message
                name, target = self._parse_link(body)
                if target is not None:
                    out[name] = target
            elif mtype == 0x0002:  # link info -> dense storage
                flags = self.buf[body + 1]
                p = body + 2 + (8 if flags & 0x01 else 0)
                fheap = self.f.u(p, 8)
                name_bt2 = self.f.u(p + 8, 8)
                if fheap != _UNDEF:
                    self._walk_dense_links(fheap, name_bt2, out)
        if btree is not None and btree != _UNDEF:
            self._walk_group_btree(btree, heap, out)
        return out

    # -- dense link storage (fractal heap + v2 B-tree name index) ------

    def _fractal_heap(self, addr: int):
        """Parse a FRHP header -> (read_obj, heap_id_len, off_size,
        len_size) where ``read_obj(virtual_offset)`` maps a managed
        object's heap offset to its file position.  Supports a direct
        root block and a root indirect block whose rows are all direct
        blocks (covers heaps far beyond any real group's link count);
        deeper nesting raises."""
        buf, f = self.buf, self.f
        if buf[addr:addr + 4] != b"FRHP":
            raise Hdf5Error(f"expected FRHP at {addr:#x}")
        heap_id_len = f.u(addr + 5, 2)
        max_managed = f.u(addr + 10, 4)
        table_width = f.u(addr + 110, 2)
        start_size = f.u(addr + 112, 8)
        max_direct = f.u(addr + 120, 8)
        max_heap_bits = f.u(addr + 128, 2)
        root_addr = f.u(addr + 132, 8)
        cur_rows = f.u(addr + 140, 2)
        off_size = (max_heap_bits + 7) // 8
        len_size = (min(max_managed, max_direct).bit_length() + 7) // 8

        if cur_rows == 0:  # root IS a single direct block at offset 0
            if buf[root_addr:root_addr + 4] != b"FHDB":
                raise Hdf5Error(f"expected FHDB at {root_addr:#x}")

            def read_obj(voff: int) -> int:
                return root_addr + voff

            return read_obj, heap_id_len, off_size, len_size

        # indirect root: rows of direct blocks up to max_direct, then
        # rows of NESTED indirect blocks (the doubling table recurses —
        # a child indirect covering S bytes has log2(S/(width*start))+1
        # rows of its own, per the spec's dtable sizing)
        if buf[root_addr:root_addr + 4] != b"FHIB":
            raise Hdf5Error(f"expected FHIB at {root_addr:#x}")

        def row_size(k: int) -> int:
            return start_size if k < 2 else start_size << (k - 1)

        def resolve(iaddr: int, vbase: int, nrows: int, voff: int) -> int:
            if buf[iaddr:iaddr + 4] != b"FHIB":
                raise Hdf5Error(f"expected FHIB at {iaddr:#x}")
            entries_at = iaddr + 4 + 1 + 8 + off_size
            base = vbase
            for k in range(nrows):
                bsize = row_size(k)
                span = table_width * bsize
                if voff < base + span:
                    j = (voff - base) // bsize
                    child = f.u(entries_at + (k * table_width + j) * 8, 8)
                    if child == _UNDEF:
                        raise Hdf5Error("object in unallocated heap block")
                    if bsize <= max_direct:
                        if buf[child:child + 4] != b"FHDB":
                            raise Hdf5Error(f"expected FHDB at {child:#x}")
                        return child + (voff - base - j * bsize)
                    ratio = bsize // (table_width * start_size)
                    if ratio < 1:
                        raise Hdf5Error(
                            "indirect block smaller than one table row"
                        )
                    return resolve(
                        child, base + j * bsize, ratio.bit_length(), voff
                    )
                base += span
            raise Hdf5Error(f"heap offset {voff} beyond indirect block")

        def read_obj(voff: int) -> int:
            return resolve(root_addr, 0, cur_rows, voff)

        return read_obj, heap_id_len, off_size, len_size

    def _bt2_leaf_records(self, addr: int):
        """Yield raw records in key order from a v2 B-tree (BTHD) of
        ANY depth.  Per-depth node capacities follow the spec's sizing
        (node overhead = 10 bytes: sig+ver+type+checksum): a leaf holds
        (node_size-10)//rec_size records; an internal node at depth d
        spends ptr(d) = 8 + enc(max_nrec[d-1]) bytes per child pointer
        — plus enc(max_total[d-1]) when the child is itself internal —
        so it holds (node_size-10-ptr(d))//(rec_size+ptr(d)) records."""
        buf, f = self.buf, self.f
        if buf[addr:addr + 4] != b"BTHD":
            raise Hdf5Error(f"expected BTHD at {addr:#x}")
        node_size = f.u(addr + 6, 4)
        rec_size = f.u(addr + 10, 2)
        depth = f.u(addr + 12, 2)
        root = f.u(addr + 16, 8)
        nrec = f.u(addr + 24, 2)

        def enc(v: int) -> int:
            return ((max(v, 1).bit_length() - 1) // 8) + 1

        cap = [(node_size - 10) // rec_size]  # max records by depth
        tot = [cap[0]]  # max records in a whole subtree by depth
        ptr = [0]  # child-pointer size used AT each internal depth
        for d in range(1, depth + 1):
            p = 8 + enc(cap[d - 1]) + (enc(tot[d - 1]) if d >= 2 else 0)
            c = (node_size - 10 - p) // (rec_size + p)
            cap.append(c)
            ptr.append(p)
            tot.append(c + (c + 1) * tot[d - 1])

        def walk(a: int, n: int, d: int):
            if d == 0:
                if buf[a:a + 4] != b"BTLF":
                    raise Hdf5Error(f"expected BTLF at {a:#x}")
                p0 = a + 6
                for i in range(n):
                    yield buf[p0 + i * rec_size:p0 + (i + 1) * rec_size]
                return
            if buf[a:a + 4] != b"BTIN":
                raise Hdf5Error(f"expected BTIN at {a:#x}")
            p_rec = a + 6
            p_child = p_rec + n * rec_size
            psz, n1 = ptr[d], enc(cap[d - 1])
            for i in range(n + 1):
                caddr = f.u(p_child + i * psz, 8)
                child_n = f.u(p_child + i * psz + 8, n1)
                yield from walk(caddr, child_n, d - 1)
                if i < n:
                    yield buf[p_rec + i * rec_size:p_rec + (i + 1) * rec_size]

        yield from walk(root, nrec, depth)

    def _walk_dense_links(self, fheap_addr: int, bt2_addr: int, out: dict):
        read_obj, heap_id_len, off_size, _len_size = self._fractal_heap(
            fheap_addr
        )
        for rec in self._bt2_leaf_records(bt2_addr):
            hid = rec[4:4 + heap_id_len]  # after the 4-byte name hash
            if (hid[0] >> 4) & 0x3 != 0:
                raise Hdf5Error("huge/tiny fractal-heap objects not supported")
            voff = int.from_bytes(hid[1:1 + off_size], "little")
            name, target = self._parse_link(read_obj(voff))
            if target is not None:
                out[name] = target

    def _parse_link(self, body: int):
        buf = self.buf
        flags = buf[body + 1]
        p = body + 2
        ltype = 0
        if flags & 0x08:
            ltype = buf[p]
            p += 1
        if flags & 0x04:
            p += 8
        if flags & 0x10:
            p += 1
        lsize = 1 << (flags & 0x3)
        nlen = self.f.u(p, lsize)
        p += lsize
        name = buf[p:p + nlen].decode("utf-8", "replace")
        p += nlen
        if ltype != 0:
            return name, None  # soft/external link: ignore
        return name, self.f.u(p, 8)

    def _walk_group_btree(self, addr: int, heap: int, out: dict[str, int]):
        buf = self.buf
        if buf[addr:addr + 4] != b"TREE":
            raise Hdf5Error(f"expected TREE at {addr}")
        level = buf[addr + 5]
        n = self.f.u(addr + 6, 2)
        heap_data = self.f.u(heap + 24, 8)
        # children at addr+24: key0(8) child0(8) key1 ...
        for i in range(n):
            child = self.f.u(addr + 24 + 8 + i * 16, 8)
            if level > 0:
                self._walk_group_btree(child, heap, out)
                continue
            if buf[child:child + 4] != b"SNOD":
                raise Hdf5Error(f"expected SNOD at {child}")
            cnt = self.f.u(child + 6, 2)
            for j in range(cnt):
                e = child + 8 + j * 40
                name_off = self.f.u(e, 8)
                raw = buf[heap_data + name_off:heap_data + name_off + 256]
                name = raw.split(b"\x00")[0].decode("utf-8", "replace")
                out[name] = self.f.u(e + 8, 8)

    # -- datasets ------------------------------------------------------

    def read_dataset(self, addr: int):
        """-> (data ndarray in native order, attrs dict) or (None, attrs)
        when the node is a (sub)group."""
        dtype = shape = maxshape = None
        layout = None
        filters: list[tuple[int, tuple]] = []
        attrs: dict = {}
        is_group = False
        for mtype, body, size in self.messages(addr):
            if mtype == 0x0001:
                shape, maxshape = _parse_dataspace_full(self.buf, body)
            elif mtype == 0x0003:
                dtype = _parse_datatype(self.buf, body)
            elif mtype == 0x0008:
                layout = (body, size)
            elif mtype == 0x000B:
                filters = self._parse_filters(body)
            elif mtype == 0x000C:
                try:
                    k, v = _parse_attribute(self.buf, body)
                    attrs[k] = v
                except Hdf5Error:
                    pass
            elif mtype in (0x0011, 0x0002, 0x0006):
                is_group = True
        if is_group or layout is None:
            return None, attrs
        if dtype is None or shape is None:
            raise Hdf5Error(
                "dataset has a layout but no datatype/dataspace message"
            )
        return (
            self._read_layout(layout, dtype, shape, filters, maxshape),
            attrs,
        )

    def _parse_filters(self, body: int):
        nf = self.buf[body + 1]
        ver = self.buf[body]
        p = body + (8 if ver == 1 else 2)
        out = []
        for _ in range(nf):
            fid = self.f.u(p, 2)
            nlen = self.f.u(p + 2, 2)
            ncv = self.f.u(p + 6, 2)
            p += 8
            if ver == 1:
                p += (nlen + 7) & ~7
            else:
                p += nlen
            cvals = tuple(self.f.u(p + 4 * i, 4) for i in range(ncv))
            p += 4 * ncv
            if ver == 1 and ncv % 2:
                p += 4
            out.append((fid, cvals))
        return out

    def _decode(
        self,
        raw: bytes,
        filters,
        elem: int,
        n_elems: int | None = None,
        filter_mask: int = 0,
    ) -> bytes:
        return decode_chunk_pipeline(raw, filters, elem, n_elems, filter_mask)

    def _parse_v4_chunked(self, body: int, shape=None, maxshape=None):
        """Parse a VERSION 4 chunked data-layout message (the libver-
        latest layout HDF5 >= 1.10 emits) -> (chunk dims incl. the
        trailing element-size dim, list of (offsets, addr, nbytes,
        filter_mask) for every STORED chunk).  ALL FIVE chunk index
        types: 1 Single Chunk, 2 Implicit, 3 Fixed Array (paged and
        unpaged, filtered and unfiltered clients), 4 Extensible Array
        (the libver-latest DEFAULT for one-unlimited-dimension
        datasets — i.e. every time-appendable NetCDF-4/WRF archive,
        cf. reference wrf_voronoi.py:115 opening UNLIMITED ``XTIME``),
        5 v2 B-tree (chunk record types 10/11, >1 unlimited dim).

        Format per the HDF5 spec III.D (layout v4), III.K (fixed
        array) and III.G (extensible array): dimensionality counts
        the +1 element-size dimension like v3; dimension sizes use
        the message's own encoded length; array elements are
        addresses (client 0) or address + variable-width chunk size +
        4-byte filter mask (client 1).  Fixed-array elements are in
        row-major linear chunk order; extensible-array elements are
        in SWIZZLED order (the unlimited dimension moved to the
        slowest position — ``shape``/``maxshape`` drive the unravel,
        which is why index type 4 needs the dataspace)."""
        buf, f = self.buf, self.f
        flags = buf[body + 2]
        ndims = buf[body + 3]
        enc = buf[body + 4]
        p = body + 5
        chunk = []
        for _ in range(ndims):
            chunk.append(f.u(p, enc))
            p += enc
        chunk = tuple(chunk)
        itype = buf[p]
        p += 1
        nbytes_unfiltered = int(np.prod(chunk, initial=1))
        if itype == 1:  # single chunk
            if flags & 0x02:  # filtered single chunk
                fsize = f.u(p, 8)
                mask = f.u(p + 8, 4)
                p += 12
            else:
                fsize, mask = nbytes_unfiltered, 0
            addr = f.u(p, 8)
            entries = (
                []
                if addr == _UNDEF
                else [(tuple(0 for _ in chunk[:-1]), addr, fsize, mask)]
            )
            return chunk, entries
        if itype == 2:  # implicit: contiguous unfiltered chunks
            addr = f.u(p, 8)
            return chunk, (
                [] if addr == _UNDEF else ("implicit", addr)
            )
        if itype == 3:  # fixed array
            _page_bits = buf[p]
            addr = f.u(p + 1, 8)
            if addr == _UNDEF:
                return chunk, []
            return chunk, self._fixed_array_entries(addr)
        if itype == 4:  # extensible array (one unlimited dimension)
            # five 1-byte creation params precede the header address
            # (layout-message order per H5O__layout_decode: max nelmts
            # bits, index-block elements, min data-block ptrs per
            # super block, min elements per data block, max page
            # element bits); the EAHD carries authoritative copies,
            # which _extensible_array_entries reads
            addr = f.u(p + 5, 8)
            if addr == _UNDEF:
                return chunk, []
            lin = self._extensible_array_entries(addr)
            if shape is None:
                raise Hdf5Error(
                    "extensible-array chunk index needs the dataspace"
                )
            rank = ndims - 1
            cdims = chunk[:-1]
            grid = [-(-s // c) for s, c in zip(shape, cdims)]
            # exactly one unlimited dim; H5VM_swizzle_coords moves it
            # to the SLOWEST position for element ordering.  Without
            # maxdims (malformed for EA) assume dim 0, the NetCDF
            # record-dimension convention.
            u = 0
            if maxshape is not None:
                for d, m in enumerate(maxshape):
                    if m == _UNDEF:
                        u = d
                        break
            fixed = [d for d in range(rank) if d != u]
            fixed_prod = 1
            for d in fixed:
                fixed_prod *= grid[d]
            entries = []
            for i, a, sz, mask in lin:
                q, r = divmod(i, fixed_prod)
                coords = {u: q}
                for d in reversed(fixed):
                    coords[d] = r % grid[d]
                    r //= grid[d]
                offs = tuple(
                    coords[d] * cdims[d] for d in range(rank)
                )
                entries.append(
                    (offs, a, nbytes_unfiltered if sz is None else sz,
                     mask)
                )
            return chunk, entries
        if itype == 5:  # v2 B-tree chunk index (record types 10/11)
            # node size(4) + split(1) + merge(1), then header address
            addr = f.u(p + 6, 8)
            if addr == _UNDEF:
                return chunk, []
            rank = ndims - 1
            rec_type = buf[addr + 5]
            if f.u(addr + 16, 8) == _UNDEF:
                return chunk, []
            entries = []
            for rec in self._bt2_leaf_records(addr):
                a = int.from_bytes(rec[0:8], "little")
                if rec_type == 10:  # non-filtered: addr + scaled offs
                    sz, mask = nbytes_unfiltered, 0
                    off_at = 8
                elif rec_type == 11:  # + variable size + mask
                    size_len = len(rec) - 12 - 8 * rank
                    sz = int.from_bytes(
                        rec[8:8 + size_len], "little"
                    )
                    mask = int.from_bytes(
                        rec[8 + size_len:12 + size_len], "little"
                    )
                    off_at = 12 + size_len
                else:
                    raise Hdf5Error(
                        f"chunk B-tree record type {rec_type}"
                    )
                scaled = [
                    int.from_bytes(
                        rec[off_at + 8 * i:off_at + 8 * (i + 1)],
                        "little",
                    )
                    for i in range(rank)
                ]
                offs = tuple(
                    s * c for s, c in zip(scaled, chunk[:-1])
                )
                entries.append((offs, a, sz, mask))
            return chunk, entries
        raise Hdf5Error(f"chunk index type {itype} not supported")

    def _fixed_array_entries(self, addr: int):
        """Walk a Fixed Array index -> [(linear_idx, addr, nbytes,
        mask)] of stored chunks (linear index resolved to grid offsets
        by the caller).  Handles the paged data-block layout (page
        bitmap + checksummed pages)."""
        buf, f = self.buf, self.f
        if buf[addr:addr + 4] != b"FAHD":
            raise Hdf5Error(f"expected FAHD at {addr}")
        client = buf[addr + 5]
        entry_size = buf[addr + 6]
        page_bits = buf[addr + 7]
        nelmts = f.u(addr + 8, 8)
        dblk = f.u(addr + 16, 8)
        if client not in (0, 1):
            raise Hdf5Error(f"fixed-array client {client}")
        if dblk == _UNDEF:
            return []
        if buf[dblk:dblk + 4] != b"FADB":
            raise Hdf5Error(f"expected FADB at {dblk}")
        p = dblk + 6 + 8  # sig(4) version(1) client(1) header addr(8)
        page_size = 1 << page_bits
        raw = bytearray()
        if nelmts > page_size:  # paged layout
            npages = -(-nelmts // page_size)
            bitmap_len = (npages + 7) // 8
            p += bitmap_len + 4  # bitmap + data-block checksum
            left = nelmts
            while left > 0:
                n = min(page_size, left)
                raw += buf[p:p + n * entry_size]
                p += n * entry_size + 4  # page checksum
                left -= n
        else:
            raw += buf[p:p + nelmts * entry_size]
        out = []
        size_len = entry_size - 12  # client 1: addr(8)+size(var)+mask(4)
        for i in range(nelmts):
            e = i * entry_size
            a = int.from_bytes(raw[e:e + 8], "little")
            if a == _UNDEF:
                continue
            if client == 0:
                out.append((i, a, None, 0))
            else:
                sz = int.from_bytes(
                    raw[e + 8:e + 8 + size_len], "little"
                )
                mask = int.from_bytes(
                    raw[e + 8 + size_len:e + 12 + size_len], "little"
                )
                out.append((i, a, sz, mask))
        return out

    def _extensible_array_entries(self, addr: int):
        """Walk an Extensible Array index (spec III.G) -> sorted
        [(linear_elmt_idx, addr, nbytes-or-None, mask)] of stored
        chunks.  Structure: EAHD header -> EAIB index block (direct
        elements + direct data-block addresses + super-block
        addresses) -> EASB super blocks (data-block addresses, plus
        page-init bitmaps when their data blocks page) -> EADB data
        blocks (elements inline, or header + checksummed pages).

        Block sizing follows libhdf5's derivation (H5EAhdr.c): super
        block ``u`` holds ``2^(u//2)`` data blocks of
        ``2^((u+1)//2) * data_blk_min_elmts`` elements; the first
        ``2*log2(sup_blk_min_data_ptrs)`` super blocks' data blocks
        are addressed directly from the index block
        (``2*(sup_blk_min_data_ptrs-1)`` address slots); a data block
        pages when its element count exceeds
        ``2^max_dblk_page_nelmts_bits`` (page-init bitmap bits are
        MSB-first per H5VM_bit_get)."""
        buf, f = self.buf, self.f
        if buf[addr:addr + 4] != b"EAHD":
            raise Hdf5Error(f"expected EAHD at {addr}")
        client = buf[addr + 5]
        if client not in (0, 1):
            raise Hdf5Error(f"extensible-array client {client}")
        elmt_size = buf[addr + 6]
        max_nelmts_bits = buf[addr + 7]
        idx_blk_elmts = buf[addr + 8]
        data_blk_min_elmts = buf[addr + 9]
        sup_blk_min_data_ptrs = buf[addr + 10]
        max_dblk_page_nelmts_bits = buf[addr + 11]
        # stats (6 lengths) at +12; index block address after them
        iblk = f.u(addr + 12 + 48, 8)
        if iblk == _UNDEF:
            return []
        if not (data_blk_min_elmts and sup_blk_min_data_ptrs):
            raise Hdf5Error("extensible-array zero creation params")
        page_nelmts = 1 << max_dblk_page_nelmts_bits
        arr_off_size = (max_nelmts_bits + 7) // 8
        nsblks_total = (
            1 + (max_nelmts_bits - data_blk_min_elmts.bit_length() + 1)
            // 2
        )
        # per-super-block geometry (H5EA__hdr_init)
        sblk_ndblks, sblk_nelmts, sblk_start = [], [], []
        start = 0
        for s in range(nsblks_total):
            sblk_ndblks.append(1 << (s // 2))
            sblk_nelmts.append((1 << ((s + 1) // 2)) * data_blk_min_elmts)
            sblk_start.append(start)
            start += sblk_ndblks[-1] * sblk_nelmts[-1]
        nsblks_direct = 2 * (sup_blk_min_data_ptrs.bit_length() - 1)
        ndblk_addrs = 2 * (sup_blk_min_data_ptrs - 1)
        nsblk_addrs = nsblks_total - nsblks_direct

        out = []

        def emit(raw: bytes, base_idx: int, n: int):
            size_len = elmt_size - 12
            for i in range(n):
                e = i * elmt_size
                a = int.from_bytes(raw[e:e + 8], "little")
                if a == _UNDEF:
                    continue
                if client == 0:
                    out.append((base_idx + i, a, None, 0))
                else:
                    sz = int.from_bytes(
                        raw[e + 8:e + 8 + size_len], "little"
                    )
                    mask = int.from_bytes(
                        raw[e + 8 + size_len:e + 12 + size_len],
                        "little",
                    )
                    out.append((base_idx + i, a, sz, mask))

        def read_dblock(daddr: int, nelmts: int, base_idx: int):
            if buf[daddr:daddr + 4] != b"EADB":
                raise Hdf5Error(f"expected EADB at {daddr}")
            p = daddr + 6 + 8 + arr_off_size  # sig+ver+client, hdr, off
            if nelmts <= page_nelmts:  # unpaged: elements then checksum
                emit(buf[p:p + nelmts * elmt_size], base_idx, nelmts)
                return
            # paged: header checksum, then npages pages of
            # (page_nelmts elements + 4-byte checksum) each
            p += 4
            if nelmts % page_nelmts:
                raise Hdf5Error(
                    f"extensible-array data block of {nelmts} elements "
                    f"not divisible by page size {page_nelmts}"
                )
            npages = nelmts // page_nelmts
            page_sz = page_nelmts * elmt_size + 4
            for pg in range(npages):
                emit(
                    buf[p + pg * page_sz:
                        p + pg * page_sz + page_nelmts * elmt_size],
                    base_idx + pg * page_nelmts,
                    page_nelmts,
                )

        if buf[iblk:iblk + 4] != b"EAIB":
            raise Hdf5Error(f"expected EAIB at {iblk}")
        p = iblk + 6 + 8  # sig(4) version(1) client(1) header addr(8)
        emit(buf[p:p + idx_blk_elmts * elmt_size], 0, idx_blk_elmts)
        p += idx_blk_elmts * elmt_size
        # data blocks addressed directly from the index block (the
        # first nsblks_direct super blocks' blocks, flattened)
        direct = [
            f.u(p + 8 * j, 8) for j in range(ndblk_addrs)
        ]
        p += 8 * ndblk_addrs
        slot = 0
        for s in range(nsblks_direct):
            for d in range(sblk_ndblks[s]):
                daddr = direct[slot]
                slot += 1
                if daddr == _UNDEF:
                    continue
                read_dblock(
                    daddr, sblk_nelmts[s],
                    idx_blk_elmts + sblk_start[s] + d * sblk_nelmts[s],
                )
        # super blocks addressed from the index block
        for k in range(nsblk_addrs):
            saddr = f.u(p + 8 * k, 8)
            if saddr == _UNDEF:
                continue
            s = nsblks_direct + k
            if buf[saddr:saddr + 4] != b"EASB":
                raise Hdf5Error(f"expected EASB at {saddr}")
            q = saddr + 6 + 8 + arr_off_size
            npages = (
                sblk_nelmts[s] // page_nelmts
                if sblk_nelmts[s] > page_nelmts
                else 0
            )
            bitmap = b""
            if npages:
                # ONE contiguous bitmap of ndblks*npages bits for the
                # whole super block (H5EA_SBLOCK_SIZEOF_PAGE_INIT):
                # bit (d*npages + pg), MSB-first per H5VM_bit_get.
                # NOT byte-aligned per data block — with npages not a
                # multiple of 8 a per-block slice would shift every
                # following data-block address.
                bm_len = (sblk_ndblks[s] * npages + 7) // 8
                bitmap = buf[q:q + bm_len]
                q += bm_len
            for d in range(sblk_ndblks[s]):
                daddr = f.u(q + 8 * d, 8)
                if daddr == _UNDEF:
                    continue
                base = (
                    idx_blk_elmts + sblk_start[s] + d * sblk_nelmts[s]
                )
                if not npages:
                    read_dblock(daddr, sblk_nelmts[s], base)
                    continue
                # paged blocks under a super block: the page-init
                # bitmap lives HERE (the data block has no elements
                # inline, just header + checksum, pages follow)
                if buf[daddr:daddr + 4] != b"EADB":
                    raise Hdf5Error(f"expected EADB at {daddr}")
                pp = daddr + 6 + 8 + arr_off_size + 4
                page_sz = page_nelmts * elmt_size + 4
                for pg in range(npages):
                    bit = d * npages + pg
                    if not (bitmap[bit // 8] >> (7 - bit % 8)) & 1:
                        continue  # uninitialized page: no chunks
                    emit(
                        buf[pp + pg * page_sz:
                            pp + pg * page_sz
                            + page_nelmts * elmt_size],
                        base + pg * page_nelmts,
                        page_nelmts,
                    )
        out.sort(key=lambda t: t[0])
        return out

    def _v4_stored_chunks(self, chunk, entries, shape):
        """Normalize ``_parse_v4_chunked`` output to the v1-B-tree
        iterator contract: (grid offsets, addr, nbytes, mask) with
        linear indexes mapped to row-major chunk-grid offsets."""
        cdims = chunk[:-1]
        nbytes_full = int(np.prod(chunk, initial=1))
        grid = tuple(
            -(-s // c) for s, c in zip(shape, cdims)
        ) if shape else ()
        if isinstance(entries, tuple) and entries and entries[0] == "implicit":
            base = entries[1]
            n = int(np.prod(grid, initial=1))
            entries = [(i, base + i * nbytes_full, nbytes_full, 0)
                       for i in range(n)]
        out = []
        for item in entries:
            if len(item) == 4 and isinstance(item[0], tuple):
                out.append(item)  # single chunk, already offsets
                continue
            i, a, sz, mask = item
            offs = []
            rem = i
            for g in reversed(grid):
                offs.append(rem % g)
                rem //= g
            offs = tuple(
                o * c for o, c in zip(reversed(offs), cdims)
            )
            out.append((offs, a, nbytes_full if sz is None else sz,
                        mask))
        return out

    def _read_layout(self, layout, dtype, shape, filters, maxshape=None):
        body, _size = layout
        buf = self.buf
        ver = buf[body]
        if ver == 4 and buf[body + 1] == 2:
            if isinstance(dtype, VlenType):
                raise Hdf5Error("vlen dataset with v4 layout")
            chunk, entries = self._parse_v4_chunked(body, shape, maxshape)
            out = np.zeros(shape, dtype)
            stored = self._v4_stored_chunks(entries=entries,
                                            chunk=chunk, shape=shape)
            cdims = chunk[:-1]
            nchunk = int(np.prod(cdims, initial=1))
            for offs, addr, nbytes, mask in stored:
                raw = self._decode(
                    buf[addr:addr + nbytes], filters,
                    dtype.itemsize, nchunk, mask,
                )
                block = np.frombuffer(
                    raw, dtype, count=nchunk
                ).reshape(cdims)
                sel = tuple(
                    slice(o, min(o + c, s))
                    for o, c, s in zip(offs, cdims, shape)
                )
                trim = tuple(
                    slice(0, sl.stop - sl.start) for sl in sel
                )
                out[sel] = block[trim]
            return out
        if ver != 3:
            raise Hdf5Error(f"data layout version {ver}")
        lclass = buf[body + 1]
        n = int(np.prod(shape)) if shape else 1
        vlen = isinstance(dtype, VlenType)

        def from_raw(raw: bytes) -> np.ndarray:
            if vlen:
                return _resolve_vlen(buf, raw, dtype, n).reshape(shape)
            return np.frombuffer(raw, dtype, count=n).reshape(shape)

        def fill() -> np.ndarray:
            if vlen:
                out = np.empty(shape, dtype=object)
                out[...] = "" if dtype.base == "str" else None
                return out
            return np.zeros(shape, dtype)

        if lclass == 0:  # compact
            dsize = self.f.u(body + 2, 2)
            return from_raw(buf[body + 4:body + 4 + dsize])
        if lclass == 1:  # contiguous
            addr = self.f.u(body + 2, 8)
            if addr == _UNDEF:  # never written: all fill
                return fill()
            return from_raw(buf[addr:addr + n * dtype.itemsize])
        if lclass == 2:  # chunked, v1 B-tree index
            ndims = buf[body + 2]  # rank + 1
            btree = self.f.u(body + 3, 8)
            chunk = tuple(
                self.f.u(body + 11 + 4 * i, 4) for i in range(ndims - 1)
            )
            out = fill()
            if btree != _UNDEF:
                self._read_chunk_btree(
                    btree, out, chunk, dtype, filters, ndims
                )
            return out
        raise Hdf5Error(f"layout class {lclass}")

    def _iter_chunk_btree(self, addr, ndims):
        """Yield (offsets, data_addr, nbytes, filter_mask) for every
        STORED chunk under a v1 chunk B-tree (any depth) — the chunk
        index walk shared by the in-memory reader and the distributed
        chunk-manifest scan (``hdf5_chunk_manifest``)."""
        buf = self.buf
        if buf[addr:addr + 4] != b"TREE":
            raise Hdf5Error(f"expected TREE at {addr}")
        if buf[addr + 4] != 1:
            raise Hdf5Error("expected chunk (type 1) B-tree")
        level = buf[addr + 5]
        n = self.f.u(addr + 6, 2)
        # entries: key(8 + 8*ndims) child(8), keys have one extra trailing
        key_size = 8 + 8 * ndims
        p = addr + 24
        for _ in range(n):
            nbytes = self.f.u(p, 4)
            filter_mask = self.f.u(p + 4, 4)
            offsets = tuple(
                self.f.u(p + 8 + 8 * i, 8) for i in range(ndims - 1)
            )
            child = self.f.u(p + key_size, 8)
            if level > 0:
                yield from self._iter_chunk_btree(child, ndims)
            else:
                yield offsets, child, nbytes, filter_mask
            p += key_size + 8

    def _read_chunk_btree(self, addr, out, chunk, dtype, filters, ndims):
        buf = self.buf
        nchunk = int(np.prod(chunk))
        for offsets, child, nbytes, filter_mask in self._iter_chunk_btree(
            addr, ndims
        ):
            raw = self._decode(
                buf[child:child + nbytes], filters, dtype.itemsize,
                nchunk, filter_mask,
            )
            if isinstance(dtype, VlenType):
                block = _resolve_vlen(buf, raw, dtype, nchunk)
            else:
                block = np.frombuffer(raw, dtype, count=nchunk)
            block = block.reshape(chunk)
            sel = tuple(
                slice(o, min(o + c, s))
                for o, c, s in zip(offsets, chunk, out.shape)
            )
            trim = tuple(
                slice(0, sl.stop - sl.start) for sl in sel
            )
            out[sel] = block[trim]

    def dataset_info(self, addr: int) -> dict:
        """Metadata-only view of a dataset's storage: shape, dtype,
        layout message (body, size), filter pipeline.  Reads header
        messages only — with an mmap-backed buffer no data page is
        touched, which is what makes the driver-side chunk-manifest
        extraction O(metadata) on a multi-GB file."""
        dtype = shape = maxshape = layout = None
        filters: list[tuple[int, tuple]] = []
        for mtype, body, size in self.messages(addr):
            if mtype == 0x0001:
                shape, maxshape = _parse_dataspace_full(self.buf, body)
            elif mtype == 0x0003:
                dtype = _parse_datatype(self.buf, body)
            elif mtype == 0x0008:
                layout = (body, size)
            elif mtype == 0x000B:
                filters = self._parse_filters(body)
        if layout is None:
            raise Hdf5Error("node has no data layout (a group?)")
        if dtype is None or shape is None:
            raise Hdf5Error(
                "dataset has a layout but no datatype/dataspace message"
            )
        return {
            "shape": shape, "maxshape": maxshape, "dtype": dtype,
            "layout": layout, "filters": filters,
        }


_NC4_PHONY_DIM = "This is a netCDF dimension but not a netCDF variable."


def hdf5_chunk_manifest(
    path: str, var: str, aux_vars: tuple[str, ...] = ()
) -> dict:
    """Driver-side CHUNK MANIFEST for one dataset of a NetCDF-4/HDF5
    file — the kerchunk idea as a function: the file is opened via
    mmap and ONLY metadata pages (superblock, object headers, chunk
    B-tree nodes) plus the small ``aux_vars`` (coordinate scales) are
    ever touched, so a multi-GB model file costs O(index) on the
    driver.  Returns::

        {shape, chunks, dtype (numpy str), filters, fill (0.0 —
         read_hdf5's unwritten-chunk semantics),
         entries: [(chunk_offsets, file_addr, nbytes, filter_mask)],
         aux: {name: ndarray (copied out of the mmap)},
         attrs: {var's compact attributes — CF packing lives here},
         aux_attrs: {name: that aux variable's attributes}}

    ``entries`` lists only STORED chunks; unwritten chunks are the
    caller's fill.  A contiguous dataset degrades to one whole-array
    pseudo-chunk entry with no filters.  Vlen/compound datasets are
    rejected (their heap indirection needs whole-file access).
    """
    import mmap

    with open(path, "rb") as fh:
        mm = mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ)
        try:
            try:
                return _chunk_manifest_inner(mm, path, var, aux_vars)
            except Hdf5Error:
                raise
            except (IndexError, KeyError, OverflowError, TypeError,
                    ValueError, zlib.error, struct.error) as exc:
                # same malformed-input hygiene as read_hdf5_bytes:
                # corrupted offset chains surface as Hdf5Error
                raise Hdf5Error(
                    f"{path}: malformed HDF5 stream: {exc}"
                ) from exc
        finally:
            mm.close()


def _chunk_manifest_inner(mm, path, var, aux_vars):
    f = _Hdf5File(mm)
    links = f.group_links(f.root_header)
    if var not in links:
        raise Hdf5Error(f"{path}: no dataset {var!r}")
    info = f.dataset_info(links[var])
    dtype, shape = info["dtype"], info["shape"]
    if isinstance(dtype, VlenType) or dtype.kind == "V":
        raise Hdf5Error(
            f"{var}: vlen/compound datasets have heap "
            "indirection; use the whole-file reader"
        )
    body, _size = info["layout"]
    if mm[body] == 4 and mm[body + 1] == 2:
        # libver-latest chunk indexes (single/implicit/FA/EA/bt2)
        chunk4, raw_entries = f._parse_v4_chunked(
            body, tuple(shape), info["maxshape"]
        )
        entries = f._v4_stored_chunks(
            chunk4, raw_entries, tuple(shape)
        )
        chunks = tuple(chunk4[:-1])
        filters = info["filters"]
    elif mm[body] != 3:
        raise Hdf5Error(f"data layout version {mm[body]}")
    elif (lclass := mm[body + 1]) == 1:  # contiguous -> one pseudo-chunk
        addr = f.f.u(body + 2, 8)
        if addr == _UNDEF:
            entries, chunks = [], tuple(shape)
        else:
            n = int(np.prod(shape)) if shape else 1
            entries = [
                (tuple(0 for _ in shape), addr,
                 n * dtype.itemsize, 0)
            ]
            chunks = tuple(shape)
        filters = []
    elif lclass == 2:
        ndims = mm[body + 2]
        btree = f.f.u(body + 3, 8)
        chunks = tuple(
            f.f.u(body + 11 + 4 * i, 4) for i in range(ndims - 1)
        )
        filters = info["filters"]
        entries = (
            list(f._iter_chunk_btree(btree, ndims))
            if btree != _UNDEF
            else []
        )
    else:
        raise Hdf5Error(f"layout class {lclass} has no chunk map")
    var_attrs: dict = {}
    for mtype, abody, _sz in f.messages(links[var]):
        if mtype == 0x000C:
            try:
                k, v = _parse_attribute(f.buf, abody)
                var_attrs[k] = v
            except Hdf5Error:
                pass
    aux, aux_attrs = {}, {}
    for name in aux_vars:
        if name not in links:
            raise Hdf5Error(f"{path}: no dataset {name!r}")
        data, attrs = f.read_dataset(links[name])
        aux[name] = np.array(data, copy=True)
        aux_attrs[name] = attrs
    return {
        "shape": tuple(shape),
        "chunks": chunks,
        "dtype": dtype.str,
        "filters": filters,
        "fill": 0.0,
        "entries": entries,
        "aux": aux,
        "attrs": var_attrs,
        "aux_attrs": aux_attrs,
    }


def read_hdf5(path: str) -> dict:
    """Parse a NetCDF-4/HDF5 file -> the same dict shape as
    ``read_netcdf``: {dims, attrs, variables: {name: {dims, attrs,
    data}}}.  ``dims`` maps dimension names to sizes via the netCDF-4
    dimension-scale convention (CLASS == ``DIMENSION_SCALE``); pure
    dimensions (netcdf-c's placeholder NAME attribute) appear in
    ``dims`` but not in ``variables``, matching the classic reader.
    Per-variable ``dims`` are dimension NAMES resolved from the vlen
    ``DIMENSION_LIST`` object references (global-heap hvl_t elements);
    a 1-D dimension scale is its own dimension; variables with no
    resolvable DIMENSION_LIST fall back to the shape tuple (sizes)."""
    with open(path, "rb") as fh:
        buf = fh.read()
    return read_hdf5_bytes(buf)


def read_hdf5_bytes(buf: bytes) -> dict:
    """``read_hdf5`` over an in-memory buffer (executor-side entry of
    the distributed many-file source, sources/netcdf.py
    ``read_netcdf_dir``).

    Malformed-input hygiene: executors parse UNTRUSTED archive bytes,
    so any truncation/byte-flip must surface as ``Hdf5Error`` — never
    an uncontrolled IndexError/struct.error/numpy ValueError from a
    corrupted offset chain (v1 structures carry no checksums, so a
    flip can also silently change DATA; only structural failures are
    detectable)."""
    try:
        return _read_hdf5_bytes(buf)
    except Hdf5Error:
        raise
    except (IndexError, KeyError, OverflowError, TypeError,
            ValueError, zlib.error, struct.error) as exc:
        raise Hdf5Error(f"malformed HDF5 stream: {exc}") from exc


def _read_hdf5_bytes(buf: bytes) -> dict:
    f = _Hdf5File(buf)
    root_attrs: dict = {}
    for mtype, body, _size in f.messages(f.root_header):
        if mtype == 0x000C:
            try:
                k, v = _parse_attribute(buf, body)
                root_attrs[k] = v
            except Hdf5Error:
                pass
    links = f.group_links(f.root_header)
    addr_to_name = {addr: name for name, addr in links.items()}
    variables: dict[str, dict] = {}
    dims: dict[str, int] = {}
    for name, addr in sorted(links.items()):
        try:
            data, attrs = f.read_dataset(addr)
        except Hdf5Error:
            continue  # unsupported datatype/layout: skip the variable
        if data is None:
            continue  # subgroup (netCDF-4 groups out of classic model)
        if data.dtype.byteorder == ">":
            data = data.astype(data.dtype.newbyteorder("="))
        is_scale = attrs.get("CLASS") == "DIMENSION_SCALE" and data.ndim == 1
        if is_scale:
            dims[name] = data.shape[0]
        nm_attr = attrs.get("NAME")
        if isinstance(nm_attr, str) and nm_attr.startswith(_NC4_PHONY_DIM):
            continue  # dimension without a coordinate variable
        dl = attrs.pop("DIMENSION_LIST", None)
        if isinstance(dl, ObjectRefs) and dl:
            names = [addr_to_name.get(r[0]) if r else None for r in dl]
            var_dims = names if all(names) else data.shape
        elif is_scale:
            var_dims = [name]  # a coordinate variable spans itself
        else:
            var_dims = data.shape
        variables[name] = {"dims": var_dims, "attrs": attrs, "data": data}
    return {"dims": dims, "attrs": root_attrs, "variables": variables}


def read_netcdf_any(path: str) -> dict:
    """Dispatch on magic bytes: NetCDF classic (CDF-1/2) -> the
    ``sources/netcdf.py`` parser; HDF5 -> this one (NetCDF-4)."""
    with open(path, "rb") as fh:
        buf = fh.read()
    return read_netcdf_any_bytes(buf, name=path)


def read_netcdf_any_bytes(buf: bytes, name: str = "<bytes>") -> dict:
    """``read_netcdf_any`` over an in-memory buffer."""
    if buf[:3] == b"CDF":
        from wrf_to_geodataframe_spark.sources.netcdf import (
            read_netcdf_bytes,
        )

        return read_netcdf_bytes(buf, name=name)
    if buf[:8] == _SIG:
        return read_hdf5_bytes(buf)
    raise ValueError(f"{name}: neither NetCDF classic nor HDF5")
