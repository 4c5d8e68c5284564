"""zstd and brotli stream decompression through pyarrow's bundled
libzstd and libbrotlidec.

Archive wrappers (.tar.zst), HTTP Content-Encoding (zstd, br) and the
Avro zstandard codec all decode here. The stream is read in fixed
chunks so a decompression bomb is refused once its output passes
``max_output``, before the rest is buffered.
"""

from __future__ import annotations

import pyarrow as pa

_CHUNK = 1 << 16


def decompress(codec: str, data: bytes, max_output: int = 1 << 31) -> bytes:
    """A ``"zstd"`` or ``"brotli"`` stream -> bytes.

    Concatenated zstd frames (skippable frames skipped) and
    concatenated brotli streams decode to the concatenation of their
    outputs; empty input decodes to ``b""``. Corrupt or truncated input,
    trailing garbage and output past ``max_output`` raise
    ``ValueError("<codec>: <reason>")``."""
    out = bytearray()
    try:
        with pa.CompressedInputStream(pa.BufferReader(data), codec) as stream:
            while chunk := stream.read(_CHUNK):
                out += chunk
                if len(out) > max_output:
                    raise ValueError(
                        f"{codec}: output exceeds the allowed maximum"
                    )
    except (OSError, pa.ArrowInvalid) as exc:
        # a failing read returns none of its chunk, so a complete first
        # stream ends within one chunk of what was read: if it decodes
        # there, the failure lies in the bytes after it
        if codec == "brotli" and _brotli_stream_fits(data, len(out) + _CHUNK):
            raise ValueError("brotli: trailing bytes after the stream") from exc
        raise ValueError(f"{codec}: {exc}") from exc
    return bytes(out)


def _brotli_stream_fits(data: bytes, size: int) -> bool:
    """True when ``data`` starts with one complete brotli stream of at
    most ``size`` output bytes (the one-shot decoder ignores what
    follows the stream)."""
    try:
        pa.Codec("brotli").decompress(data, decompressed_size=size)
    except OSError:
        return False
    return True
