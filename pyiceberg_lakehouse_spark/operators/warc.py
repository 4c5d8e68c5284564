"""WARC (ISO 28500) — the web-crawl archive format training corpora
start from (Common Crawl ships WARC), parsed with pure stdlib.

A crawl-ingest pipeline's first real operator is "WARC bytes ->
(url, status, content_type, body) rows". This layer implements the
wire format from the spec: WARC/1.0 and /1.1 version lines, CRLF
header blocks, Content-Length-framed record blocks, the mandatory
CRLF CRLF record separator, and BOTH storage layouts — plain
concatenation and the per-record-gzip-member form Common Crawl
actually uses (each record its own gzip member, so a reader can seek;
the multi-member walk uses zlib's unused_data contract). HTTP
response envelopes inside response records parse status line +
headers + body with Content-Length framing when present.

Chunked transfer-encoding inside stored HTTP is de-chunked per RFC
7230 §4.1 (hex size lines with extensions dropped, per-chunk CRLF
framing checked, trailer fields merged into the header map) — some
crawlers store the raw wire bytes, and a reader that can't de-chunk
sees hex framing noise spliced into its training text. When both
Transfer-Encoding and Content-Length are present, chunking wins, per
RFC 7230 §3.3.3.

Content-Encoding (the REPRESENTATION coding, RFC 9110 §8.4)
decodes gzip/x-gzip and deflate — including the widespread
raw-deflate-without-zlib-wrapper server bug, handled browser-style
(wrapped first, raw retry) — after de-chunking, the wire layering
real servers use; br and zstd decode through pyarrow's bundled
libbrotlidec and libzstd.

Honest gates: truncated records, bad version lines, missing
separators, short blocks and malformed chunk framing raise
ValueError — a crawl reader that guesses yields corrupt training text.
"""

from __future__ import annotations

import zlib


def build_http_response(
    status: int,
    reason: str,
    headers: list[tuple[str, str]],
    body: bytes,
    chunk_size: int | None = None,
    content_encoding: str | None = None,
) -> bytes:
    """``chunk_size`` set -> the body is stored chunked (RFC 7230 §4.1:
    hex size line, chunk, CRLF, ... 0-chunk, blank trailer) instead of
    Content-Length-framed — the raw-wire-bytes crawl layout.
    ``content_encoding`` gzip/deflate/deflate-raw/br/zstd compresses
    the body representation first (deflate-raw writes the widespread
    no-zlib-wrapper server form under the 'deflate' label; br and zstd
    use pyarrow's bundled libbrotlienc and libzstd — fixture-side
    encoders for the engine's decode paths)."""
    head = f"HTTP/1.1 {status} {reason}\r\n"
    hdrs = "".join(f"{k}: {v}\r\n" for k, v in headers)
    if content_encoding is not None:
        if content_encoding == "gzip":
            comp = zlib.compressobj(6, zlib.DEFLATED, 16 + 15)
            body = comp.compress(body) + comp.flush()
        elif content_encoding == "deflate":
            body = zlib.compress(body)
        elif content_encoding == "deflate-raw":
            comp = zlib.compressobj(6, zlib.DEFLATED, -15)
            body = comp.compress(body) + comp.flush()
        elif content_encoding in ("zstd", "br"):
            import pyarrow as _pa

            codec = (_pa.Codec("zstd") if content_encoding == "zstd"
                     else _pa.Codec("brotli", compression_level=5))
            body = codec.compress(body, asbytes=True)
        else:
            raise ValueError(
                f"unsupported content_encoding {content_encoding!r}"
            )
        label = (
            "deflate" if content_encoding == "deflate-raw"
            else content_encoding
        )
        hdrs += f"Content-Encoding: {label}\r\n"
    if chunk_size is not None:
        if chunk_size < 1:
            raise ValueError("chunk_size must be positive")
        hdrs += "Transfer-Encoding: chunked\r\n"
        wire = bytearray()
        for at in range(0, len(body), chunk_size):
            chunk = body[at : at + chunk_size]
            wire += f"{len(chunk):x}\r\n".encode("latin-1")
            wire += chunk + b"\r\n"
        wire += b"0\r\n\r\n"
        body = bytes(wire)
    elif not any(k.lower() == "content-length" for k, _ in headers):
        hdrs += f"Content-Length: {len(body)}\r\n"
    return head.encode("latin-1") + hdrs.encode("latin-1") + b"\r\n" + body


def _dechunk(body: bytes) -> tuple[bytes, dict[str, str]]:
    """RFC 7230 §4.1 chunked decoding -> (payload, trailer headers).
    Chunk extensions (';token=...') are dropped; framing slips raise."""
    out = bytearray()
    pos = 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("chunked body: truncated chunk-size line")
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            raise ValueError(
                f"chunked body: bad chunk size {size_tok!r}"
            ) from None
        pos = eol + 2
        if size == 0:
            break
        if pos + size + 2 > len(body):
            raise ValueError("chunked body: chunk exceeds the block")
        out += body[pos : pos + size]
        if body[pos + size : pos + size + 2] != b"\r\n":
            raise ValueError("chunked body: chunk missing its CRLF")
        pos = pos + size + 2
    trailers: dict[str, str] = {}
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("chunked body: truncated trailer section")
        line = body[pos:eol]
        pos = eol + 2
        if not line:
            break
        k, _, v = line.partition(b":")
        trailers[k.decode("latin-1").strip().lower()] = (
            v.decode("latin-1").strip()
        )
    return bytes(out), trailers


def parse_http_response(block: bytes) -> dict:
    """-> {status, reason, headers (dict, lower-cased keys), body}."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("HTTP envelope without a blank-line separator")
    head_lines = block[:sep].split(b"\r\n")
    parts = head_lines[0].split(b" ", 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError(f"bad HTTP status line {head_lines[0]!r}")
    status = int(parts[1])
    reason = parts[2].decode("latin-1") if len(parts) > 2 else ""
    headers: dict[str, str] = {}
    for ln in head_lines[1:]:
        k, _, v = ln.partition(b":")
        headers[k.decode("latin-1").strip().lower()] = (
            v.decode("latin-1").strip()
        )
    body = block[sep + 4 :]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        # Transfer-Encoding beats Content-Length (RFC 7230 §3.3.3)
        body, trailers = _dechunk(body)
        headers.update(trailers)
    elif "content-length" in headers:
        n = int(headers["content-length"])
        if n > len(body):
            raise ValueError("HTTP body shorter than Content-Length")
        body = body[:n]
    body = _decode_content_encoding(
        body, headers.get("content-encoding", "")
    )
    return {
        "status": status, "reason": reason, "headers": headers, "body": body
    }


def _decode_content_encoding(body: bytes, encoding: str) -> bytes:
    """Undo the REPRESENTATION coding on a stored response body
    (RFC 9110 §8.4): gzip/x-gzip and deflate — including the
    widespread raw-DEFLATE-without-zlib-wrapper server bug, handled
    the way browsers do (try zlib-wrapped, retry raw), plus zstd and
    br through pyarrow's bundled libzstd and libbrotlidec
    (operators/codec.py); unknown codings raise rather than passing
    compressed bytes downstream as text."""
    codings = [c.strip().lower() for c in encoding.split(",") if c.strip()]
    for coding in reversed(codings):  # applied in reverse list order
        if coding == "identity":
            continue
        if coding in ("gzip", "x-gzip"):
            body = zlib.decompress(body, 16 + 15)
        elif coding == "deflate":
            try:
                body = zlib.decompress(body)
            except zlib.error:
                body = zlib.decompress(body, -15)  # raw-deflate bug
        elif coding in ("zstd", "br"):
            from pyiceberg_lakehouse_spark.operators.codec import decompress

            name = "zstd" if coding == "zstd" else "brotli"
            try:
                body = decompress(name, body)
            except ValueError as exc:
                raise ValueError(f"corrupt {name} body: {exc}") from exc
        else:
            raise ValueError(f"unknown Content-Encoding {coding!r}")
    return body


def make_warc(records: list[dict], gzip_records: bool = True) -> bytes:
    """records: [{type, uri?, date?, record_id?, content_type?, block}]
    -> WARC bytes; each record its own gzip member when gzip_records
    (the Common Crawl layout)."""
    out = bytearray()
    for i, r in enumerate(records):
        block = r["block"]
        hdrs = [
            ("WARC-Type", r["type"]),
            ("WARC-Record-ID", r.get("record_id", f"<urn:rec:{i}>")),
            ("WARC-Date", r.get("date", "2020-01-01T00:00:00Z")),
        ]
        if r.get("uri"):
            hdrs.append(("WARC-Target-URI", r["uri"]))
        if r.get("digest"):
            hdrs.append(("WARC-Payload-Digest", r["digest"]))
        if r.get("refers_to"):
            hdrs.append(("WARC-Refers-To", r["refers_to"]))
        if r.get("profile"):
            hdrs.append(("WARC-Profile", r["profile"]))
        hdrs.append(
            (
                "Content-Type",
                r.get(
                    "content_type",
                    "application/http; msgtype=response"
                    if r["type"] == "response"
                    else "application/octet-stream",
                ),
            )
        )
        hdrs.append(("Content-Length", str(len(block))))
        rec = b"WARC/1.0\r\n"
        rec += "".join(f"{k}: {v}\r\n" for k, v in hdrs).encode("latin-1")
        rec += b"\r\n" + block + b"\r\n\r\n"
        if gzip_records:
            comp = zlib.compressobj(6, zlib.DEFLATED, 16 + 15)
            out += comp.compress(rec) + comp.flush()
        else:
            out += rec
    return bytes(out)


def _gunzip_members(payload: bytes) -> bytes:
    """Concatenate every gzip member (the multi-member crawl layout)."""
    out = bytearray()
    rest = payload
    while rest:
        d = zlib.decompressobj(16 + 15)
        out += d.decompress(rest)
        out += d.flush()
        if not d.eof:
            raise ValueError("truncated gzip member in WARC")
        rest = d.unused_data
    return bytes(out)


def parse_warc(payload: bytes) -> list[dict]:
    """-> [{headers (dict, original-case keys lower-cased), block}].
    Accepts plain or (multi-member) gzip storage transparently."""
    if payload[:2] == b"\x1f\x8b":
        payload = _gunzip_members(payload)
    out: list[dict] = []
    pos = 0
    n = len(payload)
    while pos < n:
        eol = payload.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("truncated WARC version line")
        version = payload[pos:eol]
        if version not in (b"WARC/1.0", b"WARC/1.1"):
            raise ValueError(f"bad WARC version line {version!r}")
        pos = eol + 2
        headers: dict[str, str] = {}
        while True:
            eol = payload.find(b"\r\n", pos)
            if eol < 0:
                raise ValueError("truncated WARC header block")
            line = payload[pos:eol]
            pos = eol + 2
            if not line:
                break
            k, _, v = line.partition(b":")
            headers[k.decode("latin-1").strip().lower()] = (
                v.decode("latin-1").strip()
            )
        if "content-length" not in headers:
            raise ValueError("WARC record without Content-Length")
        clen = int(headers["content-length"])
        if pos + clen > n:
            raise ValueError("WARC block exceeds the file")
        block = payload[pos : pos + clen]
        pos += clen
        if payload[pos : pos + 4] != b"\r\n\r\n":
            raise ValueError("WARC record missing its CRLF CRLF separator")
        pos += 4
        out.append({"headers": headers, "block": block})
    return out


def warc_responses(payload: bytes) -> list[dict]:
    """The ingest composition: parse records, keep WARC-Type: response,
    parse each HTTP envelope -> [{uri, status, content_type, body,
    headers}] (headers: the HTTP response headers, lower-cased)."""
    out = []
    for rec in parse_warc(payload):
        if rec["headers"].get("warc-type") != "response":
            continue
        http = parse_http_response(rec["block"])
        out.append(
            {
                "uri": rec["headers"].get("warc-target-uri", ""),
                "status": http["status"],
                "content_type": http["headers"].get("content-type", ""),
                "body": http["body"],
                "headers": http["headers"],
            }
        )
    return out


def warc_revisits(payload: bytes) -> list[dict]:
    """WARC-Type: revisit records — the URL-level dedup form Common
    Crawl emits when a refetch matches an earlier capture: -> [{uri,
    digest, refers_to, date}]. The payload digest (sha1 of the
    original body) is the dedup key; refers-to names the original
    record. Records missing the digest raise — a revisit without its
    key cannot deduplicate anything."""
    out = []
    for rec in parse_warc(payload):
        if rec["headers"].get("warc-type") != "revisit":
            continue
        digest = rec["headers"].get("warc-payload-digest")
        if not digest:
            raise ValueError(
                "revisit record without WARC-Payload-Digest"
            )
        out.append(
            {
                "uri": rec["headers"].get("warc-target-uri", ""),
                "digest": digest,
                "refers_to": rec["headers"].get("warc-refers-to", ""),
                "date": rec["headers"].get("warc-date", ""),
            }
        )
    return out
