"""Brotli decode tests for operators/codec.py (pyarrow's bundled
libbrotlidec): round trips against frames from the system libbrotlienc,
an encoder independent of the decoder under test, across quality
levels, plus corruption/truncation/trailing-garbage behavior."""

from __future__ import annotations

import ctypes
import random

import pytest

from pyiceberg_lakehouse_spark.operators.codec import decompress


@pytest.fixture(scope="module")
def bcompress():
    try:
        enc = ctypes.CDLL("libbrotlienc.so.1")
    except OSError:
        pytest.skip("no system libbrotlienc to generate fixtures")
    enc.BrotliEncoderCompress.restype = ctypes.c_int
    enc.BrotliEncoderCompress.argtypes = [
        ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_size_t,
        ctypes.c_char_p, ctypes.POINTER(ctypes.c_size_t), ctypes.c_char_p,
    ]

    def compress(data: bytes, quality: int = 5, window: int = 22) -> bytes:
        out_len = ctypes.c_size_t(len(data) + 1024)
        out = ctypes.create_string_buffer(out_len.value)
        assert enc.BrotliEncoderCompress(
            quality, window, 0, len(data), data, ctypes.byref(out_len), out
        )
        return out.raw[: out_len.value]

    return compress


@pytest.mark.parametrize("quality", [1, 5, 11])
@pytest.mark.parametrize("n", [0, 1, 100, 5000, 120000])
def test_roundtrip(bcompress, quality, n):
    rng = random.Random(hash((quality, n)) & 0xFFFF)
    if n % 2:
        data = bytes(rng.randrange(256) for _ in range(min(n, 20000)))
    else:
        data = (b"the quick brown fox " * (n // 20 + 1))[:n]
    assert decompress("brotli", bcompress(data, quality)) == data


def test_corrupt_truncated_trailing(bcompress):
    rng = random.Random(7)
    incompressible = bytes(rng.randrange(256) for _ in range(8000))
    comp = bcompress(incompressible)
    with pytest.raises(ValueError):
        decompress("brotli", comp[: len(comp) // 2])
    with pytest.raises(ValueError):
        decompress("brotli", b"\x00\x01\x02bogus!!!")
    with pytest.raises(ValueError, match="trailing"):
        decompress("brotli", comp + b"extra")


def test_http_content_encoding_route(bcompress):
    from pyiceberg_lakehouse_spark.operators.warc import (
        _decode_content_encoding,
    )

    body = b"<html>compressed with brotli</html>"
    assert _decode_content_encoding(bcompress(body), "br") == body
