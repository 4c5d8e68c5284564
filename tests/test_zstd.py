"""zstd decode tests for operators/codec.py (pyarrow's bundled
libzstd): round trips across compression levels and data shapes,
multi-frame and skippable-frame input, and rejection of bad magic,
truncation, a corrupted frame content size and a bad content checksum
as ValueError."""

from __future__ import annotations

import random
import struct

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyiceberg_lakehouse_spark.operators.codec import decompress
from pyiceberg_lakehouse_spark.operators.archives import decompress_auto


def _codec(level: int = 1) -> pa.Codec:
    return pa.Codec("zstd", compression_level=level)


SHAPES = {
    "zeros": lambda rng, n: bytes(n),
    "rand": lambda rng, n: bytes(rng.randrange(256) for _ in range(n)),
    "text": lambda rng, n: (
        b"the quick brown fox jumps over the lazy dog. " * (n // 45 + 1)
    )[:n],
    "rep16": lambda rng, n: (
        bytes(rng.randrange(256) for _ in range(16)) * (n // 16 + 1)
    )[:n],
    "lowcard": lambda rng, n: bytes(rng.randrange(4) * 17 for _ in range(n)),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
@pytest.mark.parametrize("n", [0, 1, 7, 64, 300, 5000, 70000])
@pytest.mark.parametrize("level", [1, 3, 19])
def test_roundtrip_vs_libzstd(shape, n, level):
    rng = random.Random(hash((shape, n, level)) & 0xFFFF)
    data = SHAPES[shape](rng, n)
    comp = _codec(level).compress(data, asbytes=True)
    assert decompress("zstd", comp) == data


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=20000), st.sampled_from([1, 5, 12]))
def test_roundtrip_arbitrary(data, level):
    comp = _codec(level).compress(data, asbytes=True)
    assert decompress("zstd", comp) == data


def test_multi_frame_and_skippable():
    a = b"frame one " * 50
    b = b"frame TWO " * 70
    blob = (
        _codec(1).compress(a, asbytes=True)
        + struct.pack("<II", 0x184D2A50, 4)
        + b"skip"
        + _codec(19).compress(b, asbytes=True)
    )
    assert decompress("zstd", blob) == a + b


def test_decompress_auto_routes_zstd():
    payload = b"tar-ish payload " * 30
    frame = _codec(3).compress(payload, asbytes=True)
    assert decompress_auto(frame) == (payload, "zstd")


def test_bad_magic_and_truncation_raise():
    with pytest.raises(ValueError):
        decompress("zstd", b"\x00\x01\x02\x03rest")
    good = _codec(1).compress(b"hello world " * 20, asbytes=True)
    with pytest.raises(ValueError):
        decompress("zstd", good[: len(good) // 2])
    with pytest.raises(ValueError):
        decompress("zstd", b"\x28\xb5\x2f\xfdjunk")


def test_content_size_enforced():
    # corrupt the single-segment frame content size byte
    data = b"abcdefgh" * 4
    comp = bytearray(_codec(1).compress(data, asbytes=True))
    fhd = comp[4]
    if (fhd >> 5) & 1 and (fhd >> 6) == 0:  # single-segment, 1-byte FCS
        comp[5] = (comp[5] + 1) & 0xFF
        with pytest.raises(ValueError, match="corruption"):
            decompress("zstd", bytes(comp))


def test_checksum_frame_validates():
    # hand-build a raw-block frame with the content-checksum flag set
    payload = b"checksum me " * 10
    fhd = (1 << 2) | (1 << 5)  # checksum + single-segment, 1-byte FCS
    frame = bytearray(struct.pack("<I", 0xFD2FB528))  # zstd magic
    frame.append(fhd)
    frame.append(len(payload))
    frame += bytes(
        [(1 | (0 << 1) | (len(payload) << 3)) & 0xFF,
         (len(payload) >> 5) & 0xFF, (len(payload) >> 13) & 0xFF]
    )
    frame += payload
    frame += struct.pack("<I", 0x5FB87840)  # low 32 bits of xxh64(payload)
    assert decompress("zstd", bytes(frame)) == payload
    bad = bytearray(frame)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="checksum"):
        decompress("zstd", bytes(bad))


@pytest.mark.parametrize("codec", ["zstd", "brotli"])
def test_max_output_caps_a_bomb(codec):
    bomb = pa.Codec(codec).compress(bytes(50 << 20), asbytes=True)
    with pytest.raises(ValueError, match="allowed maximum"):
        decompress(codec, bomb, max_output=1 << 20)
