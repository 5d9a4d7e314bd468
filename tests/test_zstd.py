"""Zstandard decoder (``sources/zstd.py``) cross-validated against the
system zstd CLI / libzstd (the codec-interop discipline: every path is
checked against an independent third-party implementation, both as
fixed cases and as randomized fuzz).
"""

from __future__ import annotations

import os
import shutil
import struct
import subprocess

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from wrf_to_geodataframe_spark.sources.zstd import (
    ZstdDict,
    ZstdError,
    is_zstd,
    libzstd_present,
    xxh64,
    zstd_decompress,
)

_CLI = shutil.which("zstd")
needs_cli = pytest.mark.skipif(_CLI is None, reason="zstd CLI absent")


def _cli(data: bytes, *args: str) -> bytes:
    return subprocess.run(
        [_CLI, "-q", "-c", *args], input=data, capture_output=True,
        check=True,
    ).stdout


def test_xxh64_known_vectors():
    # published xxHash reference vectors (seed 0)
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc") == 0x44BC2CF5AD770999
    assert xxh64(b"0123456789abcdef0123456789abcdef") != 0  # 32-byte lane path
    assert xxh64(b"x" * 100) == xxh64(b"x" * 100)


@needs_cli
@pytest.mark.parametrize("level", ["-1", "-3", "-9", "-19", "-22"])
def test_decode_matches_cli_across_levels(level):
    import random

    rng = random.Random(42)
    cases = [
        b"",
        b"a",
        b"hello world\n",
        b"abc" * 5000,
        rng.randbytes(10),
        rng.randbytes(100_000),
        b"the quick brown fox jumps over the lazy dog. " * 800,
        bytes([rng.randrange(4) for _ in range(60_000)]),
    ]
    args = [level] + (["--ultra"] if level == "-22" else [])
    for case in cases:
        assert zstd_decompress(_cli(case, *args)) == case


@needs_cli
def test_checksum_frames_and_corruption_detection():
    data = b"checksummed content " * 2000
    comp = _cli(data, "-9", "--check")
    assert zstd_decompress(comp) == data
    bad = bytearray(comp)
    bad[-1] ^= 0xFF
    with pytest.raises(ZstdError, match="checksum"):
        zstd_decompress(bytes(bad))


@needs_cli
def test_multi_frame_and_skippable_frames():
    a = _cli(b"frame one " * 100, "-5")
    b = _cli(b"frame two!", "-3")
    skip = struct.pack("<II", 0x184D2A50, 5) + b"abcde"
    out = zstd_decompress(skip + a + skip + b)
    assert out == b"frame one " * 100 + b"frame two!"
    assert is_zstd(a) and is_zstd(skip) and not is_zstd(b"\x1f\x8b..")


@needs_cli
def test_long_window_content():
    import random

    rng = random.Random(7)
    big = rng.randbytes(300_000) + b"Z" * 50 + rng.randbytes(300_000)
    assert zstd_decompress(_cli(big, "-19", "--long=27")) == big


def _train_dict(tmp_path) -> bytes:
    import random

    rng = random.Random(3)
    samples = []
    for i in range(40):
        p = tmp_path / f"s{i}.bin"
        p.write_bytes(
            b"WARC/1.1\r\nWARC-Type: response\r\nContent-Length: "
            + str(i).encode()
            + b"\r\n\r\n"
            + rng.randbytes(200)
            + b"</html></body>" * 20
        )
        samples.append(str(p))
    out = str(tmp_path / "dict.bin")
    subprocess.run(
        [_CLI, "--train", "-q", "--maxdict=16384", "-o", out] + samples,
        check=True, capture_output=True,
    )
    return open(out, "rb").read()


@needs_cli
def test_structured_dictionary_decode(tmp_path):
    d = _train_dict(tmp_path)
    assert struct.unpack_from("<I", d)[0] == 0xEC30A437
    zd = ZstdDict(d)
    assert zd.dict_id != 0 and zd.huf is not None
    dpath = tmp_path / "dict.bin"
    sample = (
        b"WARC/1.1\r\nWARC-Type: response\r\nContent-Length: 777\r\n\r\n"
        + os.urandom(300)
        + b"</html></body>" * 30
    )
    comp = _cli(sample, "-9", "-D", str(dpath))
    assert zstd_decompress(comp, d) == sample
    # wrong-dict usage is caught by the frame's dictionary id
    other = bytearray(d)
    other[4] ^= 0x5A  # different dict_id, same tables
    with pytest.raises(ZstdError, match="dictionary"):
        zstd_decompress(comp, bytes(other))


@needs_cli
def test_raw_content_dictionary_decode(tmp_path):
    raw = b"0123456789abcdef common prefix material " * 100
    dpath = tmp_path / "raw.dict"
    dpath.write_bytes(raw)
    sample = raw[100:500] + b" tail that reaches back into the dict"
    comp = _cli(sample, "-19", "-D", str(dpath))
    assert zstd_decompress(comp, raw) == sample


@needs_cli
@pytest.mark.skipif(not libzstd_present(), reason="libzstd absent")
def test_libzstd_binding_agrees_with_reference_decoder(tmp_path):
    from wrf_to_geodataframe_spark.sources.zstd import _lib_decompress

    d = _train_dict(tmp_path)
    dpath = str(tmp_path / "dict.bin")
    payload = b"cross-check payload " * 500
    for comp, zd in [
        (_cli(payload, "-9"), None),
        (_cli(payload, "-19", "--check"), None),
        (_cli(payload, "-9", "-D", dpath), ZstdDict(d)),
    ]:
        assert _lib_decompress(comp, zd) == zstd_decompress(comp, zd)


def test_error_paths():
    with pytest.raises(ZstdError, match="magic"):
        zstd_decompress(b"\x00\x11\x22\x33rest")
    with pytest.raises(ZstdError):
        zstd_decompress(b"\x28\xb5\x2f\xfd")  # truncated header
    assert zstd_decompress(b"") == b""
    # skippable frames truncated inside or past the 8-byte header must
    # surface as ZstdError, never struct.error or a silent clean EOF
    skip_magic = struct.pack("<I", 0x184D2A50)
    with pytest.raises(ZstdError, match="skippable"):
        zstd_decompress(skip_magic + b"\x05\x00")  # cut inside size
    with pytest.raises(ZstdError, match="skippable"):
        zstd_decompress(struct.pack("<II", 0x184D2A50, 100) + b"short")


@needs_cli
@settings(max_examples=40, deadline=None)
@given(
    data=st.one_of(
        st.binary(min_size=0, max_size=4000),
        st.text(alphabet="abcde \n", max_size=4000).map(str.encode),
        st.lists(
            st.sampled_from([b"<p>", b"</p>", b"word", b" ", b"\n"]),
            max_size=2000,
        ).map(b"".join),
    ),
    level=st.sampled_from(["-1", "-3", "-12", "-19"]),
    check=st.booleans(),
)
def test_fuzz_round_trip_vs_cli(data, level, check):
    args = [level] + (["--check"] if check else [])
    assert zstd_decompress(_cli(data, *args)) == data


@settings(max_examples=150, deadline=None)
@given(data=st.data())
def test_fuzz_malformed_input_always_raises_zstderror(data):
    """Exception hygiene on UNTRUSTED archives: random bytes behind a
    frame magic, bit-flipped valid frames, and truncations must raise
    ZstdError (or decode successfully for benign flips) — never escape
    as IndexError/struct.error or hang."""
    import random

    mode = data.draw(st.integers(0, 2))
    rng = random.Random(data.draw(st.integers(0, 2**31)))
    if _CLI is not None:
        base = _cli(bytes(rng.randbytes(500)) + b"abc" * 500, "-5")
    else:
        base = struct.pack("<I", 0x28B52FFD) + bytes(rng.randbytes(100))
    if mode == 0:
        blob = struct.pack("<I", 0xFD2FB528) + rng.randbytes(
            rng.randrange(0, 200)
        )
    elif mode == 1:
        b = bytearray(base)
        for _ in range(rng.randrange(1, 4)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        blob = bytes(b)
    else:
        blob = base[: rng.randrange(len(base))]
    try:
        zstd_decompress(blob)
    except ZstdError:
        pass
