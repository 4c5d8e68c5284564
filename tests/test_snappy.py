"""Raw snappy codec tests — decoder frames come from pyarrow's bundled
reference encoder, and the from-scratch encoder's frames are verified
by BOTH pyarrow's reference decoder and this module's own (no pyarrow
in that loop)."""

from __future__ import annotations

import random

import pyarrow as pa
import pytest

from pyiceberg_lakehouse_spark.operators import snappy


def _codec():
    return pa.Codec("snappy")


@pytest.mark.parametrize("kind", ["rand", "text", "zeros", "lowcard", "rep"])
@pytest.mark.parametrize("n", [0, 1, 60, 61, 4096, 120000])
def test_roundtrip_vs_reference(kind, n):
    rng = random.Random(hash((kind, n)) & 0xFFFF)
    data = {
        "rand": lambda: bytes(rng.randrange(256) for _ in range(min(n, 30000))),
        "text": lambda: (b"snappy snappy " * (n // 14 + 1))[:n],
        "zeros": lambda: bytes(n),
        "lowcard": lambda: bytes((rng.randrange(3) * 91) & 0xFF for _ in range(n)),
        "rep": lambda: (bytes(rng.randrange(256) for _ in range(64)) * (n // 64 + 1))[:n],
    }[kind]()
    assert snappy.decompress(_codec().compress(data, asbytes=True)) == data
    # encoder side: own frames read back by ourselves (pyarrow-free
    # loop) AND by the reference decoder
    enc = snappy.compress(data)
    assert snappy.decompress(enc) == data
    if data:
        assert _codec().decompress(enc, len(data)).to_pybytes() == data


def test_encoder_edge_shapes():
    # exact literal-tag boundaries (60/61), copy-length chunking (>68),
    # and the copy-1 short form (offset < 2048, length 4..11)
    for data in (b"", b"a", b"x" * 60, b"x" * 61, b"ab" * 40,
                 b"abcd" + b"q" * 300 + b"abcd", bytes(range(256)) * 1024):
        enc = snappy.compress(data)
        assert snappy.decompress(enc) == data
        if data:
            assert _codec().decompress(enc, len(data)).to_pybytes() == data
    # long runs exercise the 64/60-chunk emission path
    run = b"z" * 200_000
    assert snappy.decompress(snappy.compress(run)) == run


def test_hostiles():
    good = _codec().compress(b"x" * 1000, asbytes=True)
    with pytest.raises(ValueError):
        snappy.decompress(good[:-3])
    with pytest.raises(ValueError):
        snappy.decompress(b"\x05\x01\xff\xff\xff\xff\x00")  # bad offset
    with pytest.raises(ValueError, match="frame_decompress"):
        snappy.decompress(b"\xff\x06\x00\x00sNaPpY rest")
    with pytest.raises(ValueError):  # 6 bytes claiming ~2 GB of output
        snappy.decompress(b"\xfe\xff\xff\xff\x07\x00")


def test_avro_snappy_codec():
    from pyiceberg_lakehouse_spark.operators import avro

    schema = {"type": "record", "name": "R", "fields": [
        {"name": "id", "type": "long"}, {"name": "s", "type": "string"}]}
    recs = [{"id": i, "s": f"row {i} " * 4} for i in range(200)]
    blob = avro.encode_avro(recs, schema, codec="snappy", block_records=37)
    out = avro.decode_avro(blob)
    assert out["codec"] == "snappy" and out["records"] == recs
    bad = bytearray(blob)
    bad[-20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC|sync|snappy"):
        avro.decode_avro(bytes(bad))


class TestFraming:
    def test_crc32c_public_vectors(self):
        # check value from the CRC catalogue + RFC 3720 appendix B.4
        assert snappy.crc32c(b"123456789") == 0xE3069283
        assert snappy.crc32c(bytes(32)) == 0x8A9136AA
        assert snappy.crc32c(bytes([0xFF] * 32)) == 0x62A8AB43
        i32 = bytes(range(32))
        assert snappy.crc32c(i32) == 0x46DD794E

    def test_roundtrip(self):
        import os

        for blob in (b"", b"a", b"snappy " * 40_000, os.urandom(150_000),
                     bytes(200_000)):
            assert snappy.frame_decompress(
                snappy.frame_compress(blob)
            ) == blob

    def test_incompressible_chunks_go_verbatim(self):
        import os

        blob = os.urandom(70_000)
        stream = snappy.frame_compress(blob)
        # chunk types after the stream id: both chunks uncompressed
        assert stream[10] == 0x01
        assert snappy.frame_decompress(stream) == blob

    def test_compressible_chunks_use_type_0(self):
        stream = snappy.frame_compress(b"ab" * 50_000)
        assert stream[10] == 0x00

    def test_padding_and_skippable_chunks(self):
        blob = b"payload " * 1000
        stream = bytearray(snappy.frame_compress(blob))
        # splice a padding chunk and a reserved-skippable chunk after
        # the stream identifier
        pad = bytes([0xFE, 3, 0, 0]) + b"\x00\x00\x00"
        skip = bytes([0x90, 2, 0, 0]) + b"zz"
        spliced = bytes(stream[:10]) + pad + skip + bytes(stream[10:])
        assert snappy.frame_decompress(spliced) == blob

    def test_hostiles(self):
        import pytest

        blob = b"data " * 2000
        good = snappy.frame_compress(blob)
        with pytest.raises(ValueError, match="identifier"):
            snappy.frame_decompress(good[4:])
        # flip a payload byte -> CRC mismatch
        bad = bytearray(good)
        bad[-1] ^= 0x01
        with pytest.raises(ValueError, match="CRC"):
            snappy.frame_decompress(bytes(bad))
        with pytest.raises(ValueError, match="truncated"):
            snappy.frame_decompress(good[:-3])
        # reserved unskippable chunk type
        evil = good[:10] + bytes([0x02, 1, 0, 0, 0]) + good[10:]
        with pytest.raises(ValueError, match="unskippable"):
            snappy.frame_decompress(evil)

    def test_tar_sz_through_decompress_auto(self):
        from pyiceberg_lakehouse_spark.operators.archives import (
            decompress_auto,
            make_tar,
            parse_tar,
        )

        tar = make_tar(
            [{"name": f"d/f{i}.txt", "data": f"row {i} ".encode() * 50}
             for i in range(5)]
        )
        payload, codec = decompress_auto(snappy.frame_compress(tar))
        assert codec == "snappy-framed"
        assert [e["name"] for e in parse_tar(payload)] == [
            f"d/f{i}.txt" for i in range(5)
        ]
