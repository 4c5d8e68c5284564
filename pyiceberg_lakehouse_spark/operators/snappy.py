"""Snappy raw block codec and framing format.

The Hadoop ecosystem's default block codec (Avro's common codec,
parquet's legacy default). ``compress``/``decompress`` are the RAW
block format — a varint uncompressed length followed by literal /
copy tags — through pyarrow's bundled libsnappy.
``frame_compress``/``frame_decompress`` are the FRAMING format from
the public framing_format.txt spec, which pyarrow does not ship —
what ``.sz`` files and streaming producers emit: a stream-identifier
chunk, then compressed (0x00) / uncompressed (0x01) chunks of <= 64 KiB
uncompressed each, every payload guarded by a MASKED CRC32C
(Castagnoli, reflected 0x82F63B78; mask = rotr15 + 0xa282ead8),
padding (0xfe) and reserved-skippable (0x80-0xfd) chunks skipped,
reserved-unskippable (0x02-0x7f) rejected.

No reference snappy FRAMING implementation is available to test
against, so the frame layer is validated structurally: the CRC32C kernel is pinned against
the public check value crc32c(b"123456789") == 0xE3069283 plus the RFC
3720 all-zeros/all-ones vectors, and frame encode/decode round-trips
compose with the raw codec underneath.
"""

from __future__ import annotations

import pyarrow as pa

# the densest raw tag is a 3-byte copy of 64 bytes, so no block
# decodes to more than 64/3 of its size past the preamble
_MAX_EXPANSION = 22


def _uvarint(data: bytes, pos: int) -> tuple[int, int]:
    out = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("snappy varint truncated")
        b = data[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7
        if shift > 35:
            raise ValueError("snappy varint longer than 32 bits")


def decompress(data: bytes, max_output: int = 1 << 31) -> bytes:
    """Raw snappy block -> bytes. The output is sized from the block's
    own varint preamble, which must fit ``max_output`` and what the
    block's tags can encode; corrupt or truncated blocks raise
    ValueError."""
    if data[:10] == b"\xff\x06\x00\x00sNaPpY":
        raise ValueError(
            "snappy FRAMING stream passed to the raw decoder — use"
            " frame_decompress"
        )
    n, pos = _uvarint(data, 0)
    if n > max_output:
        raise ValueError("snappy output exceeds the allowed maximum")
    if n > _MAX_EXPANSION * (len(data) - pos):
        raise ValueError(
            f"snappy header says {n} bytes, more than a"
            f" {len(data)}-byte block can encode"
        )
    try:
        return pa.Codec("snappy").decompress(
            data, decompressed_size=n, asbytes=True
        )
    except OSError as exc:
        raise ValueError(f"snappy: {exc}") from exc


def compress(data: bytes) -> bytes:
    """bytes -> raw snappy block."""
    return pa.Codec("snappy").compress(data, asbytes=True)


# ----------------------------------------------------- framing format --

_STREAM_ID = b"\xff\x06\x00\x00sNaPpY"
_CHUNK_MAX = 65536  # max UNCOMPRESSED bytes per data chunk (spec)

# CRC32C (Castagnoli): reflected polynomial 0x82F63B78, init/xorout
# 0xFFFFFFFF — pinned in tests against the public check value
# crc32c(b"123456789") == 0xE3069283 and the RFC 3720 vectors
_CRC32C_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes, crc: int = 0) -> int:
    c = crc ^ 0xFFFFFFFF
    for b in data:
        c = (c >> 8) ^ _CRC32C_TABLE[(c ^ b) & 0xFF]
    return c ^ 0xFFFFFFFF


def _mask_crc(crc: int) -> int:
    """The framing spec's mask: rotate right 15, add 0xa282ead8 — so a
    CRC over data that happens to contain CRCs stays well-distributed."""
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def frame_compress(data: bytes) -> bytes:
    """bytes -> snappy framing stream: stream id + one data chunk per
    64 KiB, compressed (0x00) when the raw codec actually shrinks it,
    verbatim (0x01) otherwise — the spec's recommended policy."""
    data = bytes(data)
    out = bytearray(_STREAM_ID)
    for base in range(0, len(data), _CHUNK_MAX) or [0]:
        chunk = data[base : base + _CHUNK_MAX]
        crc = _mask_crc(crc32c(chunk))
        packed = compress(chunk)
        if len(packed) < len(chunk):
            body = crc.to_bytes(4, "little") + packed
            out.append(0x00)
        else:
            body = crc.to_bytes(4, "little") + chunk
            out.append(0x01)
        out += len(body).to_bytes(3, "little")
        out += body
    return bytes(out)


def frame_decompress(data: bytes, max_output: int = 1 << 31) -> bytes:
    """Snappy framing stream -> bytes. Strict: the stream identifier
    must come first, every data chunk's masked CRC32C must match,
    reserved-unskippable chunk types reject; padding and
    reserved-skippable chunks skip."""
    if data[:10] != _STREAM_ID:
        raise ValueError("snappy framing: stream identifier missing")
    pos = 10
    out = bytearray()
    while pos < len(data):
        if pos + 4 > len(data):
            raise ValueError("snappy framing: chunk header truncated")
        ctype = data[pos]
        clen = int.from_bytes(data[pos + 1 : pos + 4], "little")
        pos += 4
        if pos + clen > len(data):
            raise ValueError("snappy framing: chunk body truncated")
        body = data[pos : pos + clen]
        pos += clen
        if ctype == 0xFF:
            if body != _STREAM_ID[4:]:
                raise ValueError(
                    "snappy framing: bad repeated stream identifier"
                )
            continue
        if ctype == 0xFE or 0x80 <= ctype <= 0xFD:
            continue  # padding / reserved skippable
        if ctype in (0x00, 0x01):
            if clen < 4:
                raise ValueError("snappy framing: data chunk lacks CRC")
            want = int.from_bytes(body[:4], "little")
            payload = body[4:]
            if ctype == 0x00:
                payload = decompress(payload, max_output=_CHUNK_MAX)
            if len(payload) > _CHUNK_MAX:
                raise ValueError(
                    "snappy framing: chunk exceeds 64 KiB uncompressed"
                )
            if _mask_crc(crc32c(payload)) != want:
                raise ValueError("snappy framing: chunk CRC mismatch")
            out += payload
            if len(out) > max_output:
                raise ValueError(
                    "snappy framing: output exceeds the allowed maximum"
                )
            continue
        raise ValueError(
            f"snappy framing: reserved unskippable chunk type {ctype:#x}"
        )
    return bytes(out)
