"""HDF5 VERSION-4 data-layout chunk indexes (the libver-latest layout
HDF5 >= 1.10 emits): Single Chunk (plain + filtered), Implicit, and
Fixed Array (client 0/1, unpaged + paged, missing chunks).

Fixtures are hand-assembled from the format spec (III.D layout v4,
III.K fixed array) with explicit offsets — the sink never emits these
structures, so reader and fixture cannot share a mirrored bug.  No
system validator exists in this container (no h5py/h5dump), the same
disclosed basis as the GRIB2/zarr3 goldens."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from wrf_to_geodataframe_spark.sources.hdf5 import read_hdf5
from wrf_to_geodataframe_spark.sources.hdf5_write import (
    _dataspace,
    _datatype,
    _finalize,
    _Hdf5Builder,
    _msg,
    _object_header,
)

_UNDEF = 0xFFFFFFFFFFFFFFFF


def _v4_prefix(chunk_dims_with_elem, flags=0, enc=4):
    body = struct.pack(
        "<BBBBB", 4, 2, flags, len(chunk_dims_with_elem), enc
    )
    for d in chunk_dims_with_elem:
        body += int(d).to_bytes(enc, "little")
    return body


_DEFLATE_MSG = struct.pack("<BB2x4x", 1, 1) + struct.pack(
    "<HHHH", 1, 0, 0, 1
) + struct.pack("<I4x", 6)


def _write(path, arr, layout_body, filtered=False):
    b = _Hdf5Builder()
    msgs = [
        _msg(0x0001, _dataspace(arr.shape)),
        _msg(0x0003, _datatype(arr.dtype)),
    ]
    if filtered:
        msgs.append(_msg(0x000B, _DEFLATE_MSG))
    msgs.append(_msg(0x0008, layout_body(b)))
    b.headers["T2"] = b._alloc(_object_header(msgs))
    _finalize(b, path, None)


def _got(path):
    return read_hdf5(path)["variables"]["T2"]["data"]


def test_single_chunk_unfiltered(tmp_path):
    arr = np.arange(24, dtype="<f8").reshape(4, 6)
    p = str(tmp_path / "s.h5")

    def layout(b):
        addr = b._alloc(arr.tobytes())
        return (
            _v4_prefix((4, 6, 8))
            + bytes([1])  # single chunk
            + struct.pack("<Q", addr)
        )

    _write(p, arr, layout)
    assert np.array_equal(_got(p), arr)


def test_single_chunk_filtered(tmp_path):
    arr = np.arange(24, dtype="<f8").reshape(4, 6)
    comp = zlib.compress(arr.tobytes(), 6)
    p = str(tmp_path / "sf.h5")

    def layout(b):
        addr = b._alloc(comp)
        return (
            _v4_prefix((4, 6, 8), flags=0x02)
            + bytes([1])
            + struct.pack("<QIQ", len(comp), 0, addr)
        )

    _write(p, arr, layout, filtered=True)
    assert np.array_equal(_got(p), arr)


def test_implicit_index(tmp_path):
    """(5, 7) dataset in (2, 3) chunks: 3x3 grid of FULL chunks stored
    contiguously in row-major linear order, edge chunks zero-padded."""
    arr = (np.arange(35, dtype="<i4") * 3).reshape(5, 7)
    p = str(tmp_path / "i.h5")
    chunk = (2, 3)
    grid = (3, 3)

    def layout(b):
        blob = bytearray()
        for by in range(grid[0]):
            for bx in range(grid[1]):
                block = np.zeros(chunk, arr.dtype)
                sy = slice(by * 2, min(by * 2 + 2, 5))
                sx = slice(bx * 3, min(bx * 3 + 3, 7))
                block[: sy.stop - sy.start, : sx.stop - sx.start] = (
                    arr[sy, sx]
                )
                blob += block.tobytes()
        base = b._alloc(bytes(blob))
        return (
            _v4_prefix((2, 3, 4))
            + bytes([2])  # implicit
            + struct.pack("<Q", base)
        )

    _write(p, arr, layout)
    assert np.array_equal(_got(p), arr)


def _fa_layout(b, chunk_addrs, entry_size, page_bits=10,
               client=0, sizes=None, chunk_dims=(2, 3, 4)):
    """Assemble FAHD + FADB (+ pages when nelmts > 2^page_bits) and
    return the layout-message body referencing them."""
    n = len(chunk_addrs)
    elems = bytearray()
    for i, a in enumerate(chunk_addrs):
        e = struct.pack("<Q", a)
        if client == 1:
            size_len = entry_size - 12
            e += int(sizes[i]).to_bytes(size_len, "little")
            e += struct.pack("<I", 0)
        elems += e
    page_size = 1 << page_bits
    fadb = bytearray(b"FADB" + bytes([0, client]))
    fadb += struct.pack("<Q", 0)  # header addr (not verified on read)
    if n > page_size:
        npages = -(-n // page_size)
        fadb += b"\xff" * ((npages + 7) // 8)  # page bitmap: all set
        fadb += struct.pack("<I", 0)  # data-block checksum
        off = 0
        left = n
        while left > 0:
            k = min(page_size, left)
            fadb += elems[off:off + k * entry_size]
            fadb += struct.pack("<I", 0)  # page checksum
            off += k * entry_size
            left -= k
    else:
        fadb += elems + struct.pack("<I", 0)
    dblk = b._alloc(bytes(fadb))
    fahd = (
        b"FAHD"
        + bytes([0, client, entry_size, page_bits])
        + struct.pack("<QQI", n, dblk, 0)
    )
    hdr = b._alloc(fahd)
    return (
        _v4_prefix(chunk_dims)
        + bytes([3])  # fixed array
        + bytes([page_bits])
        + struct.pack("<Q", hdr)
    )


def test_fixed_array_unfiltered(tmp_path):
    arr = (np.arange(35, dtype="<i4") + 7).reshape(5, 7)
    p = str(tmp_path / "fa.h5")

    def layout(b):
        addrs = []
        for by in range(3):
            for bx in range(3):
                block = np.zeros((2, 3), arr.dtype)
                sy = slice(by * 2, min(by * 2 + 2, 5))
                sx = slice(bx * 3, min(bx * 3 + 3, 7))
                block[: sy.stop - sy.start, : sx.stop - sx.start] = (
                    arr[sy, sx]
                )
                addrs.append(b._alloc(block.tobytes()))
        return _fa_layout(b, addrs, entry_size=8)

    _write(p, arr, layout)
    assert np.array_equal(_got(p), arr)


def test_fixed_array_filtered_with_missing_chunk(tmp_path):
    """Client-1 elements (addr + 4-byte size + mask); one chunk never
    written (UNDEF address) -> zeros."""
    arr = np.arange(24, dtype="<f8").reshape(4, 6)
    expect = arr.copy()
    expect[2:4, 3:6] = 0.0  # chunk (1,1) missing
    p = str(tmp_path / "faf.h5")

    def layout(b):
        addrs, sizes = [], []
        for by in range(2):
            for bx in range(2):
                if (by, bx) == (1, 1):
                    addrs.append(_UNDEF)
                    sizes.append(0)
                    continue
                block = arr[by * 2:by * 2 + 2, bx * 3:bx * 3 + 3]
                comp = zlib.compress(
                    np.ascontiguousarray(block).tobytes(), 6
                )
                addrs.append(b._alloc(comp))
                sizes.append(len(comp))
        return _fa_layout(
            b, addrs, entry_size=16, client=1, sizes=sizes,
            chunk_dims=(2, 3, 8),
        )

    _write(p, arr, layout, filtered=True)
    assert np.array_equal(_got(p), expect)


def test_fixed_array_paged(tmp_path):
    """page_bits=2 (4 elements/page) with 9 chunks -> 3 pages with
    per-page checksums and a page bitmap."""
    arr = (np.arange(35, dtype="<i4") * 5 + 1).reshape(5, 7)
    p = str(tmp_path / "fap.h5")

    def layout(b):
        addrs = []
        for by in range(3):
            for bx in range(3):
                block = np.zeros((2, 3), arr.dtype)
                sy = slice(by * 2, min(by * 2 + 2, 5))
                sx = slice(bx * 3, min(bx * 3 + 3, 7))
                block[: sy.stop - sy.start, : sx.stop - sx.start] = (
                    arr[sy, sx]
                )
                addrs.append(b._alloc(block.tobytes()))
        return _fa_layout(b, addrs, entry_size=8, page_bits=2)

    _write(p, arr, layout)
    assert np.array_equal(_got(p), arr)


def test_manifest_and_chunk_scan_support_v4(tmp_path, spark):
    """The kerchunk manifest + the chunk-parallel scan work on a
    v4 fixed-array file exactly as on v1-B-tree files."""
    from wrf_to_geodataframe_spark.sources.hdf5 import hdf5_chunk_manifest
    from wrf_to_geodataframe_spark.sources.virtual import (
        build_virtual_manifest,
        read_virtual,
    )

    ny, nx = 4, 6
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    arr = (yy * nx + xx).astype("<f8")
    lat = (50.0 + yy * 0.25).astype("<f8")
    lon = (-3.0 + xx * 0.125).astype("<f8")
    p = str(tmp_path / "v4grid.h5")

    b = _Hdf5Builder()

    def contiguous(name, a):
        addr = b._alloc(a.tobytes())
        b.headers[name] = b._alloc(_object_header([
            _msg(0x0001, _dataspace(a.shape)),
            _msg(0x0003, _datatype(a.dtype)),
            _msg(0x0008, struct.pack("<BBQQ", 3, 1, addr, a.nbytes)),
        ]))

    contiguous("XLAT", lat)
    contiguous("XLONG", lon)
    addrs = []
    for by in range(2):
        for bx in range(2):
            block = arr[by * 2:by * 2 + 2, bx * 3:bx * 3 + 3]
            addrs.append(b._alloc(np.ascontiguousarray(block).tobytes()))
    layout = _fa_layout(b, addrs, entry_size=8, chunk_dims=(2, 3, 8))
    b.headers["T2"] = b._alloc(_object_header([
        _msg(0x0001, _dataspace(arr.shape)),
        _msg(0x0003, _datatype(arr.dtype)),
        _msg(0x0008, layout),
    ]))
    _finalize(b, p, None)

    man = hdf5_chunk_manifest(p, "T2", aux_vars=("XLAT", "XLONG"))
    assert man["chunks"] == (2, 3)
    assert len(man["entries"]) == 4
    vman = build_virtual_manifest(
        spark, [p], "T2", "XLAT", "XLONG", str(tmp_path / "man")
    )
    rows = read_virtual(spark, vman).collect()
    assert len(rows) == ny * nx
    for r in rows:
        assert r["value"] == r["y_idx"] * nx + r["x_idx"]
        assert r["lat"] == 50.0 + r["y_idx"] * 0.25


def _bt2_layout(b, records, rec_type, rec_size,
                chunk_dims=(2, 3, 4)):
    """Depth-0 v2 chunk B-tree: BTHD + one BTLF leaf (the any-depth
    walker itself is exercised by the dense-link tests)."""
    leaf = bytearray(b"BTLF" + bytes([0, rec_type]))
    for r in records:
        assert len(r) == rec_size
        leaf += r
    leaf += struct.pack("<I", 0)  # checksum (not verified on read)
    leaf_addr = b._alloc(bytes(leaf))
    hdr = bytearray(b"BTHD" + bytes([0, rec_type]))
    hdr += struct.pack("<IHH", 2048, rec_size, 0)  # node size/rec/depth
    hdr += bytes([85, 40])  # split/merge percent
    hdr += struct.pack("<QHQI", leaf_addr, len(records),
                       len(records), 0)
    hdr_addr = b._alloc(bytes(hdr))
    return (
        _v4_prefix(chunk_dims)
        + bytes([5])  # v2 B-tree index
        + struct.pack("<IBB", 2048, 85, 40)
        + struct.pack("<Q", hdr_addr)
    )


def test_bt2_chunk_index_unfiltered(tmp_path):
    """Record type 10: address + 8-byte scaled offsets per rank."""
    arr = (np.arange(35, dtype="<i4") * 2 + 3).reshape(5, 7)
    p = str(tmp_path / "bt2.h5")

    def layout(b):
        recs = []
        for by in range(3):
            for bx in range(3):
                block = np.zeros((2, 3), arr.dtype)
                sy = slice(by * 2, min(by * 2 + 2, 5))
                sx = slice(bx * 3, min(bx * 3 + 3, 7))
                block[: sy.stop - sy.start, : sx.stop - sx.start] = (
                    arr[sy, sx]
                )
                a = b._alloc(block.tobytes())
                recs.append(struct.pack("<QQQ", a, by, bx))
        return _bt2_layout(b, recs, rec_type=10, rec_size=24)

    _write(p, arr, layout)
    assert np.array_equal(_got(p), arr)


def test_bt2_chunk_index_filtered(tmp_path):
    """Record type 11: address + variable-width chunk size + filter
    mask + scaled offsets."""
    arr = np.arange(24, dtype="<f8").reshape(4, 6)
    p = str(tmp_path / "bt2f.h5")

    def layout(b):
        recs = []
        for by in range(2):
            for bx in range(2):
                block = arr[by * 2:by * 2 + 2, bx * 3:bx * 3 + 3]
                comp = zlib.compress(
                    np.ascontiguousarray(block).tobytes(), 6
                )
                a = b._alloc(comp)
                recs.append(
                    struct.pack("<Q", a)
                    + len(comp).to_bytes(3, "little")  # 3-byte size
                    + struct.pack("<I", 0)
                    + struct.pack("<QQ", by, bx)
                )
        return _bt2_layout(
            b, recs, rec_type=11, rec_size=31, chunk_dims=(2, 3, 8)
        )

    _write(p, arr, layout, filtered=True)
    assert np.array_equal(_got(p), arr)


# ---------------------------------------------------------------- EA

def _dataspace_max(shape, maxshape):
    """v1 dataspace WITH max dims (flag bit 0); unlimited = all-ones."""
    body = struct.pack("<BBB5x", 1, len(shape), 1)
    body += b"".join(struct.pack("<Q", s) for s in shape)
    body += b"".join(struct.pack("<Q", m) for m in maxshape)
    return body


def _ea_sblk_geometry(max_nelmts_bits, data_blk_min_elmts,
                      sup_blk_min_data_ptrs):
    nsblks = 1 + (max_nelmts_bits
                  - (data_blk_min_elmts.bit_length() - 1)) // 2
    geo = []  # (ndblks, dblk_nelmts, start_idx)
    start = 0
    for s in range(nsblks):
        nd = 1 << (s // 2)
        ne = (1 << ((s + 1) // 2)) * data_blk_min_elmts
        geo.append((nd, ne, start))
        start += nd * ne
    return geo


def _ea_layout(b, elements, chunk_dims=(2, 3, 4), client=0,
               elmt_size=8, max_nelmts_bits=32, idx_blk_elmts=4,
               data_blk_min_elmts=16, sup_blk_min_data_ptrs=4,
               page_bits=10, uninit_pages=()):
    """Assemble EAHD/EAIB/EASB/EADB per spec III.G and return the
    layout-message body.  ``elements`` is a list of encoded raw
    elements (len elmt_size each, or None for never-written slots);
    ``uninit_pages`` marks (sblk_idx, dblk_idx, page_idx) whose
    page-init bit stays 0 (the page bytes are garbage-filled)."""
    undef_elmt = b"\xff" * 8 + b"\x00" * (elmt_size - 8)
    enc = [e if e is not None else undef_elmt for e in elements]
    n = len(enc)
    arr_off = (max_nelmts_bits + 7) // 8
    page_nelmts = 1 << page_bits
    geo = _ea_sblk_geometry(max_nelmts_bits, data_blk_min_elmts,
                            sup_blk_min_data_ptrs)
    nsblks_direct = 2 * (sup_blk_min_data_ptrs.bit_length() - 1)
    ndblk_addrs = 2 * (sup_blk_min_data_ptrs - 1)
    nsblk_addrs = len(geo) - nsblks_direct

    def take(base, cnt):
        """elements[base:base+cnt] padded with UNDEF slots."""
        out = b""
        for i in range(base, base + cnt):
            out += enc[i] if i < n else undef_elmt
        return out

    def dblock(base, nelmts, sblk_idx=None, dblk_idx=None):
        """EADB; returns _UNDEF when the whole range is unwritten."""
        if base >= n:
            return _UNDEF
        body = bytearray(b"EADB" + bytes([0, client]))
        body += struct.pack("<Q", 0)              # header addr
        body += base.to_bytes(arr_off, "little")  # block offset
        if nelmts <= page_nelmts:
            body += take(base, nelmts)
            body += struct.pack("<I", 0)          # checksum
        else:
            body += struct.pack("<I", 0)          # header checksum
            for pg in range(nelmts // page_nelmts):
                if (sblk_idx, dblk_idx, pg) in uninit_pages:
                    body += b"\xa5" * (page_nelmts * elmt_size)
                else:
                    body += take(base + pg * page_nelmts, page_nelmts)
                body += struct.pack("<I", 0)      # page checksum
        return b._alloc(bytes(body))

    # direct data blocks (flattened across the first nsblks_direct)
    direct = []
    for s in range(nsblks_direct):
        nd, ne, start = geo[s]
        for d in range(nd):
            direct.append(dblock(idx_blk_elmts + start + d * ne, ne))
    assert len(direct) == ndblk_addrs
    # super blocks
    sblk_addrs = []
    for k in range(nsblk_addrs):
        s = nsblks_direct + k
        nd, ne, start = geo[s]
        if idx_blk_elmts + start >= n:
            sblk_addrs.append(_UNDEF)
            continue
        npages = ne // page_nelmts if ne > page_nelmts else 0
        # ONE contiguous bitmap of nd*npages bits for the whole super
        # block (H5EA_SBLOCK_SIZEOF_PAGE_INIT): bit (d*npages + pg),
        # MSB-first — NOT byte-aligned per data block.
        dblks = []
        bitmap = bytearray((nd * npages + 7) // 8)
        for d in range(nd):
            dblks.append(
                dblock(idx_blk_elmts + start + d * ne, ne, s, d)
            )
            for pg in range(npages):
                if (s, d, pg) not in uninit_pages:
                    bit = d * npages + pg
                    bitmap[bit // 8] |= 1 << (7 - bit % 8)
        body = bytearray(b"EASB" + bytes([0, client]))
        body += struct.pack("<Q", 0)
        body += (idx_blk_elmts + start).to_bytes(arr_off, "little")
        body += bitmap
        body += b"".join(struct.pack("<Q", a) for a in dblks)
        body += struct.pack("<I", 0)
        sblk_addrs.append(b._alloc(bytes(body)))
    # index block
    iblk = bytearray(b"EAIB" + bytes([0, client]))
    iblk += struct.pack("<Q", 0)
    iblk += take(0, idx_blk_elmts)
    iblk += b"".join(struct.pack("<Q", a) for a in direct)
    iblk += b"".join(struct.pack("<Q", a) for a in sblk_addrs)
    iblk += struct.pack("<I", 0)
    iblk_addr = b._alloc(bytes(iblk))
    # header
    hdr = bytearray(b"EAHD" + bytes([
        0, client, elmt_size, max_nelmts_bits, idx_blk_elmts,
        data_blk_min_elmts, sup_blk_min_data_ptrs, page_bits,
    ]))
    hdr += struct.pack("<QQQQQQ", nsblk_addrs, 0, len(direct), 0, n, n)
    hdr += struct.pack("<Q", iblk_addr)
    hdr += struct.pack("<I", 0)
    hdr_addr = b._alloc(bytes(hdr))
    return (
        _v4_prefix(chunk_dims)
        + bytes([4])  # extensible array
        + bytes([max_nelmts_bits, idx_blk_elmts, sup_blk_min_data_ptrs,
                 data_blk_min_elmts, page_bits])
        + struct.pack("<Q", hdr_addr)
    )


def _write_ea(path, arr, maxshape, layout_body, filtered=False):
    b = _Hdf5Builder()
    msgs = [
        _msg(0x0001, _dataspace_max(arr.shape, maxshape)),
        _msg(0x0003, _datatype(arr.dtype)),
    ]
    if filtered:
        msgs.append(_msg(0x000B, _DEFLATE_MSG))
    msgs.append(_msg(0x0008, layout_body(b)))
    b.headers["T2"] = b._alloc(_object_header(msgs))
    _finalize(b, path, None)


def _chunk_blocks(arr, chunk):
    """Row-major full chunk blocks (zero-padded edges) of a 2-D array."""
    gy = -(-arr.shape[0] // chunk[0])
    gx = -(-arr.shape[1] // chunk[1])
    out = []
    for by in range(gy):
        for bx in range(gx):
            block = np.zeros(chunk, arr.dtype)
            sy = slice(by * chunk[0], min((by + 1) * chunk[0],
                                          arr.shape[0]))
            sx = slice(bx * chunk[1], min((bx + 1) * chunk[1],
                                          arr.shape[1]))
            block[:sy.stop - sy.start, :sx.stop - sx.start] = arr[sy, sx]
            out.append(block)
    return out


def test_ea_index_block_only(tmp_path):
    """4 chunks along the unlimited dim fit entirely in the index
    block's direct elements (idx_blk_elmts=4, the libhdf5 default)."""
    arr = np.arange(7 * 5, dtype="<f8").reshape(7, 5)
    p = str(tmp_path / "ea0.h5")

    def layout(b):
        elems = [
            struct.pack("<Q", b._alloc(blk.tobytes()))
            for blk in _chunk_blocks(arr, (2, 5))
        ]
        return _ea_layout(b, elems, chunk_dims=(2, 5, 8))

    _write_ea(p, arr, (_UNDEF, 5), layout)
    assert np.array_equal(_got(p), arr)


def test_ea_direct_and_super_blocks(tmp_path):
    """12 chunks with tiny creation params: 2 in the index block,
    2 + 4 in directly-addressed data blocks (super blocks 0/1),
    the rest under an EASB super block (sblk 2, two 4-element data
    blocks, second one partially written)."""
    arr = (np.arange(24 * 3, dtype="<i4") * 7 + 1).reshape(24, 3)
    p = str(tmp_path / "ea1.h5")

    def layout(b):
        elems = [
            struct.pack("<Q", b._alloc(blk.tobytes()))
            for blk in _chunk_blocks(arr, (2, 3))
        ]
        return _ea_layout(
            b, elems, chunk_dims=(2, 3, 4), max_nelmts_bits=16,
            idx_blk_elmts=2, data_blk_min_elmts=2,
            sup_blk_min_data_ptrs=2,
        )

    _write_ea(p, arr, (_UNDEF, 3), layout)
    assert np.array_equal(_got(p), arr)


def test_ea_paged_data_block_with_uninit_page(tmp_path):
    """page_bits=1 (2 elements/page) pages the sblk-2 data blocks
    (4 elements = 2 pages); one page's init bit stays 0 -> its two
    chunks read as fill (zeros) even though the page bytes are
    garbage."""
    arr = (np.arange(24 * 3, dtype="<i4") + 11).reshape(24, 3)
    expect = arr.copy()
    # sblk-2 dblk-0 holds elements 8..11; its page 1 = chunks 10..11
    expect[20:24, :] = 0
    p = str(tmp_path / "ea2.h5")

    def layout(b):
        elems = [
            struct.pack("<Q", b._alloc(blk.tobytes()))
            for blk in _chunk_blocks(arr, (2, 3))
        ]
        return _ea_layout(
            b, elems, chunk_dims=(2, 3, 4), max_nelmts_bits=16,
            idx_blk_elmts=2, data_blk_min_elmts=2,
            sup_blk_min_data_ptrs=2, page_bits=1,
            uninit_pages={(2, 0, 1)},
        )

    _write_ea(p, arr, (_UNDEF, 3), layout)
    assert np.array_equal(_got(p), expect)


def test_ea_paged_bitmap_packed_across_data_blocks(tmp_path):
    """Page-init bits for a super block are ONE contiguous bitstream
    (H5EA_SBLOCK_SIZEOF_PAGE_INIT), not byte-aligned per data block:
    with npages=2 the second data block's bits start at BIT 2 of byte
    0.  A byte-aligned reader would consume 2 bytes of bitmap, shift
    every data-block address by one byte, and fail to parse — here
    sblk-2 dblk-1 exists and its page 0 is uninitialized (bit 2 = 0),
    so chunks 12..13 must read as fill while 14..15 read real data."""
    arr = (np.arange(32 * 3, dtype="<i4") + 5).reshape(32, 3)
    expect = arr.copy()
    # sblk-2 dblk-1 holds elements 12..15; its page 0 = chunks 12..13
    expect[24:28, :] = 0
    p = str(tmp_path / "ea2b.h5")

    def layout(b):
        elems = [
            struct.pack("<Q", b._alloc(blk.tobytes()))
            for blk in _chunk_blocks(arr, (2, 3))
        ]
        return _ea_layout(
            b, elems, chunk_dims=(2, 3, 4), max_nelmts_bits=16,
            idx_blk_elmts=2, data_blk_min_elmts=2,
            sup_blk_min_data_ptrs=2, page_bits=1,
            uninit_pages={(2, 1, 0)},
        )

    _write_ea(p, arr, (_UNDEF, 3), layout)
    assert np.array_equal(_got(p), expect)


def test_ea_filtered_with_missing_chunk(tmp_path):
    """Client-1 elements (addr + 4-byte size + mask); one chunk never
    written (UNDEF address element) -> zeros."""
    arr = np.arange(8 * 6, dtype="<f8").reshape(8, 6)
    expect = arr.copy()
    expect[4:6, :] = 0.0  # chunk 2 missing
    p = str(tmp_path / "eaf.h5")

    def layout(b):
        elems = []
        for i, blk in enumerate(_chunk_blocks(arr, (2, 6))):
            if i == 2:
                elems.append(None)
                continue
            comp = zlib.compress(blk.tobytes(), 6)
            elems.append(
                struct.pack("<Q", b._alloc(comp))
                + len(comp).to_bytes(4, "little")
                + struct.pack("<I", 0)
            )
        return _ea_layout(
            b, elems, chunk_dims=(2, 6, 8), client=1, elmt_size=16,
        )

    _write_ea(p, arr, (_UNDEF, 6), layout, filtered=True)
    assert np.array_equal(_got(p), expect)


def test_ea_unlimited_dim_not_first(tmp_path):
    """maxdims (5, UNLIM): the unlimited dim is swizzled to the
    SLOWEST position in element order, so element i maps to chunk
    (i % 3, i // 3) of the 3x4 grid — the transpose of row-major."""
    arr = (np.arange(5 * 8, dtype="<i4") * 3 + 2).reshape(5, 8)
    p = str(tmp_path / "eas.h5")
    chunk = (2, 2)
    gy, gx = 3, 4

    def layout(b):
        blocks = {}
        for by in range(gy):
            for bx in range(gx):
                blk = np.zeros(chunk, arr.dtype)
                sy = slice(by * 2, min(by * 2 + 2, 5))
                sx = slice(bx * 2, min(bx * 2 + 2, 8))
                blk[:sy.stop - sy.start, :sx.stop - sx.start] = (
                    arr[sy, sx]
                )
                blocks[(by, bx)] = blk
        elems = []
        for bx in range(gx):        # unlimited dim (1) slowest
            for by in range(gy):
                elems.append(struct.pack(
                    "<Q", b._alloc(blocks[(by, bx)].tobytes())
                ))
        return _ea_layout(b, elems, chunk_dims=(2, 2, 4))

    _write_ea(p, arr, (5, _UNDEF), layout)
    assert np.array_equal(_got(p), arr)


def test_ea_manifest_and_chunk_scan(tmp_path, spark):
    """hdf5_chunk_manifest + the chunk-parallel distributed scan work
    on an EA-indexed file — the time-appendable NetCDF-4 shape."""
    from wrf_to_geodataframe_spark.sources.hdf5 import (
        hdf5_chunk_manifest,
    )
    from wrf_to_geodataframe_spark.sources.virtual import (
        build_virtual_manifest,
        read_virtual,
    )

    ny, nx = 4, 6
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    arr = (yy * nx + xx).astype("<f8")
    lat = (50.0 + yy * 0.25).astype("<f8")
    lon = (-3.0 + xx * 0.125).astype("<f8")
    p = str(tmp_path / "eagrid.h5")

    b = _Hdf5Builder()

    def contiguous(name, a):
        addr = b._alloc(a.tobytes())
        b.headers[name] = b._alloc(_object_header([
            _msg(0x0001, _dataspace(a.shape)),
            _msg(0x0003, _datatype(a.dtype)),
            _msg(0x0008, struct.pack("<BBQQ", 3, 1, addr, a.nbytes)),
        ]))

    contiguous("XLAT", lat)
    contiguous("XLONG", lon)
    elems = [
        struct.pack("<Q", b._alloc(np.ascontiguousarray(blk).tobytes()))
        for blk in _chunk_blocks(arr, (2, 3))
    ]
    layout = _ea_layout(b, elems, chunk_dims=(2, 3, 8))
    b.headers["T2"] = b._alloc(_object_header([
        _msg(0x0001, _dataspace_max(arr.shape, (_UNDEF, nx))),
        _msg(0x0003, _datatype(arr.dtype)),
        _msg(0x0008, layout),
    ]))
    _finalize(b, p, None)

    man = hdf5_chunk_manifest(p, "T2", aux_vars=("XLAT", "XLONG"))
    assert man["chunks"] == (2, 3)
    assert len(man["entries"]) == 4
    assert sorted(e[0] for e in man["entries"]) == [
        (0, 0), (0, 3), (2, 0), (2, 3)
    ]
    vman = build_virtual_manifest(
        spark, [p], "T2", "XLAT", "XLONG", str(tmp_path / "man")
    )
    rows = read_virtual(spark, vman).collect()
    assert len(rows) == ny * nx
    for r in rows:
        assert r["value"] == r["y_idx"] * nx + r["x_idx"]
        assert r["lat"] == 50.0 + r["y_idx"] * 0.25
