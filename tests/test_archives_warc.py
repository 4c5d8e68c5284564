"""Archive (tar/zip) and WARC readers: wire-format roundtrips, strict
framing, hostile inputs, honest gates."""

from __future__ import annotations

import struct
import zlib

import pytest

from pyiceberg_lakehouse_spark.operators.archives import (
    make_tar,
    make_zip,
    parse_tar,
    parse_zip,
)
from pyiceberg_lakehouse_spark.operators.warc import (
    build_http_response,
    make_warc,
    parse_http_response,
    parse_warc,
    warc_responses,
)

# ------------------------------------------------------------------ tar ---


def test_tar_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        entries=st.lists(
            st.tuples(
                st.text(
                    alphabet="abcdefghij/().-_", min_size=1, max_size=140
                ).filter(lambda s: not s.endswith("/") and ".." not in s),
                st.binary(max_size=2000),
            ),
            min_size=1, max_size=8, unique_by=lambda t: t[0],
        )
    )
    def check(entries):
        tar = make_tar(
            [{"name": n, "data": d, "mtime": 1700000000} for n, d in entries]
        )
        assert len(tar) % 512 == 0
        got = parse_tar(tar)
        assert [(e["name"], e["data"]) for e in got] == entries
        assert all(e["mtime"] == 1700000000 for e in got)

    check()


def test_tar_hostile_inputs():
    tar = bytearray(make_tar([{"name": "a", "data": b"x" * 100}]))
    tar[130] ^= 0x01  # corrupt a size digit -> checksum mismatch
    with pytest.raises(ValueError, match="checksum"):
        parse_tar(bytes(tar))
    good = make_tar([{"name": "a", "data": b"x" * 100}])
    with pytest.raises(ValueError, match="exceeds the archive"):
        parse_tar(good[:512])  # header whose data was cut off
    with pytest.raises(ValueError, match="terminator"):
        parse_tar(good[:1024])  # data intact, zero blocks gone
    with pytest.raises(ValueError, match="ustar|bad tar numeric"):
        parse_tar(b"A" * 512 + bytes(1024))
    # a 'x' typeflag now parses as a pax header; garbage records raise
    raw = bytearray(good)
    raw[156] = ord("x")
    chk = sum(raw[:148]) + 8 * 0x20 + sum(raw[156:512])
    raw[148:156] = f"{chk:06o}\x00 ".encode()
    with pytest.raises(ValueError, match="pax record"):
        parse_tar(bytes(raw))  # body "xxx...": not LEN key=value framing


def test_tar_gnu_base256_size():
    """A base-256 size field (high bit set) must parse."""
    raw = bytearray(make_tar([{"name": "a", "data": b"y" * 7}]))
    raw[124:136] = b"\x80" + (7).to_bytes(11, "big")
    chk = sum(raw[:148]) + 8 * 0x20 + sum(raw[156:512])
    raw[148:156] = f"{chk:06o}\x00 ".encode()
    assert parse_tar(bytes(raw))[0]["data"] == b"y" * 7


# ------------------------------------------------------------------ zip ---


def test_zip_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        entries=st.lists(
            st.tuples(
                st.text(alphabet="abcdef/.-_", min_size=1, max_size=40),
                st.binary(max_size=3000),
            ),
            min_size=1, max_size=6, unique_by=lambda t: t[0],
        ),
        method=st.sampled_from([0, 8]),
    )
    def check(entries, method):
        z = make_zip([{"name": n, "data": d} for n, d in entries], method)
        got = parse_zip(z)
        assert [(e["name"], e["data"]) for e in got] == entries
        assert all(e["method"] == method for e in got)

    check()


def test_zip_crc_and_hostiles():
    z = bytearray(make_zip([{"name": "a", "data": b"hello" * 20}], 0))
    i = z.index(b"hello")
    z[i] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        parse_zip(bytes(z))
    with pytest.raises(ValueError, match="end-of-central-directory"):
        parse_zip(b"PK\x03\x04 not a real zip")
    # encrypted flag without a password is an error, not a crash
    z2 = bytearray(make_zip([{"name": "a", "data": b"x"}], 0))
    j = z2.index(b"PK\x01\x02")
    struct.pack_into("<H", z2, j + 8, 0x1)
    with pytest.raises(ValueError, match="encrypted"):
        parse_zip(bytes(z2))
    # zip64 sentinel without the EOCD64 locator is corruption, not zip64
    z3 = bytearray(make_zip([{"name": "a", "data": b"x"}], 0))
    k = z3.rindex(b"PK\x05\x06")
    struct.pack_into("<H", z3, k + 10, 0xFFFF)
    with pytest.raises(ValueError, match="without an EOCD64 locator"):
        parse_zip(bytes(z3))


def test_zip_local_header_lies_central_dir_wins():
    """Real zips carry stale local headers; extraction must trust the
    central directory (offsets/sizes) and still land on the data."""
    data = b"payload" * 30
    z = bytearray(make_zip([{"name": "a", "data": data}], 8))
    # corrupt the LOCAL header's size fields (bytes 18-26): parse must
    # not care (it reads name/extra lengths only)
    struct.pack_into("<II", z, z.index(b"PK\x03\x04") + 18, 999, 999)
    assert parse_zip(bytes(z))[0]["data"] == data


# ----------------------------------------------------------------- warc ---


def test_warc_both_layouts_and_routing():
    body = b"<html>hi</html>"
    recs = [
        {"type": "warcinfo", "block": b"software: test\r\n"},
        {
            "type": "response",
            "uri": "http://a/",
            "block": build_http_response(
                200, "OK", [("Content-Type", "text/html")], body
            ),
        },
        {"type": "request", "uri": "http://a/",
         "block": b"GET / HTTP/1.1\r\n\r\n"},
    ]
    for gz in (False, True):
        w = make_warc(recs, gzip_records=gz)
        assert len(parse_warc(w)) == 3
        rs = warc_responses(w)
        assert len(rs) == 1
        assert rs[0]["body"] == body and rs[0]["status"] == 200


def test_warc_strict_framing():
    w = make_warc([{"type": "response", "uri": "u",
                    "block": build_http_response(200, "", [], b"z")}],
                  gzip_records=False)
    with pytest.raises(ValueError, match="bad WARC version"):
        parse_warc(b"HTTP/1.1 200\r\n" + w)
    with pytest.raises(ValueError, match="separator"):
        parse_warc(w[:-2])
    with pytest.raises(ValueError, match="exceeds the file"):
        parse_warc(w[: w.index(b"\r\n\r\n") + 5])
    # truncated gzip member
    gz = make_warc([{"type": "response", "uri": "u",
                     "block": build_http_response(200, "", [], b"z")}])
    with pytest.raises(ValueError, match="truncated gzip"):
        parse_warc(gz[:-5])


def test_http_envelope_edges():
    r = parse_http_response(
        b"HTTP/1.1 301 Moved Permanently\r\nLocation: /x\r\n\r\n"
    )
    assert r["status"] == 301 and r["headers"]["location"] == "/x"
    with pytest.raises(ValueError, match="truncated trailer"):
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n0\r\n"
        )
    with pytest.raises(ValueError, match="status line"):
        parse_http_response(b"garbage\r\n\r\n")
    with pytest.raises(ValueError, match="shorter than Content-Length"):
        parse_http_response(b"HTTP/1.1 200 OK\r\nContent-Length: 99\r\n\r\nab")
    # Content-Length trims trailing separator bytes exactly
    r2 = parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nabEXTRA"
    )
    assert r2["body"] == b"ab"
    assert zlib  # imported for the gzip test path


def test_chunked_transfer_encoding():
    """RFC 7230 §4.1 de-chunking: multi-chunk bodies reassemble exactly,
    extensions are dropped, trailers merge into the header map,
    Transfer-Encoding beats Content-Length (§3.3.3), and framing slips
    raise instead of splicing hex noise into training text."""
    body = b"the quick brown fox jumps over the lazy dog " * 9
    raw = build_http_response(200, "OK", [("Content-Type", "text/plain")],
                              body, chunk_size=7)
    assert b"Content-Length" not in raw.split(b"\r\n\r\n", 1)[0]
    got = parse_http_response(raw)
    assert got["body"] == body
    # chunk extensions + trailers, hand-built
    wire = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"5;ext=1\r\nhello\r\n3\r\n wo\r\n3\r\nrld\r\n0\r\n"
            b"X-Digest: abc\r\n\r\n")
    got = parse_http_response(wire)
    assert got["body"] == b"hello world" and got["headers"]["x-digest"] == "abc"
    # Transfer-Encoding wins over a lying Content-Length
    raw2 = build_http_response(200, "OK", [("Content-Length", "3")],
                               body, chunk_size=64)
    assert parse_http_response(raw2)["body"] == body
    import pytest as _pt
    with _pt.raises(ValueError, match="bad chunk size"):
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nzz\r\n"
        )
    with _pt.raises(ValueError, match="chunk exceeds"):
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nff\r\nab"
        )
    with _pt.raises(ValueError, match="missing its CRLF"):
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"2\r\nabXX0\r\n\r\n"
        )
    with _pt.raises(ValueError, match="chunk_size must be positive"):
        build_http_response(200, "OK", [], b"x", chunk_size=0)


def test_zip64_header_form():
    """The >4 GiB header FORM: sentinels in EOCD + central entries,
    real values in the EOCD64 record and per-entry 0x0001 extras —
    resolvable without 4 GiB of data (VERDICT r13 task #3)."""
    entries = [
        {"name": f"p/q-{i}.bin", "data": bytes([i * 3 % 256]) * (40 + i)}
        for i in range(6)
    ]
    for method in (0, 8):
        z = make_zip(entries, method=method, zip64=True)
        assert b"PK\x06\x06" in z and b"PK\x06\x07" in z
        got = parse_zip(z)
        assert [(e["name"], e["data"]) for e in got] == [
            (e["name"], e["data"]) for e in entries
        ]
        assert all(e["method"] == method for e in got)
    # spanned archives still refuse
    z = bytearray(make_zip(entries, zip64=True))
    loc = z.rindex(b"PK\x06\x07")
    struct.pack_into("<I", z, loc + 16, 2)  # total disks = 2
    with pytest.raises(NotImplementedError, match="spanned"):
        parse_zip(bytes(z))
    # EOCD64 offset pointing at garbage
    z = bytearray(make_zip(entries, zip64=True))
    loc = z.rindex(b"PK\x06\x07")
    struct.pack_into("<Q", z, loc + 8, 1)
    with pytest.raises(ValueError, match="EOCD64 record missing"):
        parse_zip(bytes(z))
    # sentinel entry whose extra block lacks the 0x0001 field
    z = bytearray(make_zip([{"name": "a", "data": b"x" * 9}], 0, zip64=True))
    cd = z.index(b"PK\x01\x02")
    # overwrite the extra header id (at cd+46+nlen) with a foreign id
    struct.pack_into("<H", z, cd + 46 + 1, 0x9999)
    with pytest.raises(ValueError, match="without a 0x0001 extra"):
        parse_zip(bytes(z))


def test_pax_extended_headers():
    """POSIX pax ('x' per-file, 'g' global) — the form GNU tar emits BY
    DEFAULT: record framing with the self-referential length, path/mtime
    overrides beating the ustar fields, and a cross-check against
    stdlib tarfile's PAX_FORMAT output (real conformance, not just
    self-consistency)."""
    import io
    import tarfile

    from pyiceberg_lakehouse_spark.operators.archives import (
        _parse_pax_records,
        _pax_records,
    )

    for fields in (
        {"path": "a/b.txt"},
        {"path": "x" * 200, "mtime": "1234.5"},
        {"k": "v" * 95},  # crosses the length-digit boundary
    ):
        assert _parse_pax_records(_pax_records(fields)) == fields

    long = "deep/" * 30 + "name.bin"
    t = make_tar(
        [
            {"name": long, "data": b"abc", "pax_mtime": "1700000000.25"},
            {"name": "short.txt", "data": b"xyz"},
        ],
        pax=True,
    )
    got = parse_tar(t)
    assert got[0]["name"] == long and got[0]["data"] == b"abc"
    assert got[0]["mtime"] == 1700000000
    assert got[1]["name"] == "short.txt"

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.PAX_FORMAT) as tf:
        for name, data in ((long, b"hello pax"), ("plain.txt", b"zz")):
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 1700000123.75
            tf.addfile(info, io.BytesIO(data))
    got = parse_tar(buf.getvalue())
    assert [(e["name"], e["data"]) for e in got] == [
        (long, b"hello pax"), ("plain.txt", b"zz")
    ]
    assert got[0]["mtime"] == 1700000123

    # 'g' global header applies without breaking the walk
    buf = io.BytesIO()
    with tarfile.open(
        fileobj=buf, mode="w", format=tarfile.PAX_FORMAT,
        pax_headers={"comment": "global"},
    ) as tf:
        info = tarfile.TarInfo("a.txt")
        info.size = 2
        tf.addfile(info, io.BytesIO(b"aa"))
    assert parse_tar(buf.getvalue())[0]["name"] == "a.txt"

    # hostile pax: record length lying about its extent
    with pytest.raises(ValueError, match="framing"):
        _parse_pax_records(b"99 path=x\n")
    with pytest.raises(ValueError, match="'='"):
        _parse_pax_records(b"7 path\n")


class TestContentEncoding:
    def _roundtrip(self, enc, chunk=None):
        from pyiceberg_lakehouse_spark.operators.warc import (
            build_http_response,
            parse_http_response,
        )

        body = b"hello content coding " * 7
        wire = build_http_response(
            200, "OK", [("Content-Type", "text/plain")], body,
            chunk_size=chunk, content_encoding=enc,
        )
        return body, parse_http_response(wire)

    def test_gzip_deflate_and_raw_deflate(self):
        for enc in ("gzip", "deflate", "deflate-raw"):
            body, r = self._roundtrip(enc)
            assert r["body"] == body, enc
            label = "deflate" if enc == "deflate-raw" else enc
            assert r["headers"]["content-encoding"] == label

    def test_chunked_over_compressed(self):
        # real servers chunk the COMPRESSED representation
        body, r = self._roundtrip("gzip", chunk=5)
        assert r["body"] == body

    def test_x_gzip_alias(self):
        from pyiceberg_lakehouse_spark.operators.warc import (
            _decode_content_encoding,
        )
        import zlib as _zl

        comp = _zl.compressobj(6, _zl.DEFLATED, 16 + 15)
        gz = comp.compress(b"abc") + comp.flush()
        assert _decode_content_encoding(gz, "x-gzip") == b"abc"

    def test_br_zstd_gated_unknown_raises(self):
        import pytest as _pt

        from pyiceberg_lakehouse_spark.operators.warc import (
            _decode_content_encoding,
        )

        with _pt.raises(ValueError, match="brotli"):
            _decode_content_encoding(b"x", "br")
        with _pt.raises(ValueError, match="unknown Content-Encoding"):
            _decode_content_encoding(b"x", "sdch")


class TestStreamingZip:
    def test_data_descriptor_form_roundtrips(self):
        from pyiceberg_lakehouse_spark.operators.archives import (
            make_zip,
            parse_zip,
        )

        entries = [
            {"name": "a.txt", "data": b"alpha" * 40},
            {"name": "b/c.bin", "data": bytes(range(200))},
        ]
        for method in (0, 8):
            blob = make_zip(entries, method=method, streaming=True)
            # local headers really carry zeroed crc/sizes
            at = blob.index(b"PK\x03\x04")
            import struct as _st

            _v, flags, _m, _t, _d2, crc, cs, us = _st.unpack_from(
                "<HHHHHIII", blob, at + 4
            )
            assert flags & 0x08 and crc == 0 and cs == 0 and us == 0
            assert b"PK\x07\x08" in blob  # the data descriptor
            parsed = parse_zip(blob)
            assert [(e["name"], e["data"]) for e in parsed] == [
                ("a.txt", b"alpha" * 40),
                ("b/c.bin", bytes(range(200))),
            ]

    def test_streaming_zip64_not_emitted(self):
        import pytest as _pt

        from pyiceberg_lakehouse_spark.operators.archives import make_zip

        with _pt.raises(ValueError, match="streaming"):
            make_zip([{"name": "x", "data": b"y"}], zip64=True,
                     streaming=True)


class TestCompressionWrappers:
    def test_all_wrappers_roundtrip(self):
        import bz2
        import gzip
        import lzma

        from pyiceberg_lakehouse_spark.operators.archives import (
            decompress_auto,
            make_tar,
            parse_tar,
        )

        tar = make_tar([{"name": "x.bin", "data": bytes(range(200))}])
        for wrap, codec in (
            (lambda b: b, "none"),
            (gzip.compress, "gzip"),
            (lzma.compress, "xz"),
            (bz2.compress, "bz2"),
        ):
            got, c = decompress_auto(wrap(tar))
            assert (c, got) == (codec, tar)
            assert parse_tar(got)[0]["data"] == bytes(range(200))

    def test_multimember_gzip(self):
        import gzip

        from pyiceberg_lakehouse_spark.operators.archives import (
            decompress_auto,
        )

        blob = gzip.compress(b"aaa") + gzip.compress(b"bbb")
        assert decompress_auto(blob) == (b"aaabbb", "gzip")

    def test_zstd_wrapper_decodes_and_corrupt_raises(self):
        import pytest as _pt
        import pyarrow as _pa

        from pyiceberg_lakehouse_spark.operators.archives import (
            decompress_auto,
        )

        frame = _pa.Codec("zstd").compress(b"zst payload " * 40, asbytes=True)
        assert decompress_auto(frame) == (b"zst payload " * 40, "zstd")
        with _pt.raises(ValueError):
            decompress_auto(b"\x28\xb5\x2f\xfdjunk")
        with _pt.raises(ValueError, match="corrupt xz"):
            decompress_auto(b"\xfd7zXZ\x00garbage")


class TestRevisits:
    def test_routing_and_fields(self):
        from pyiceberg_lakehouse_spark.operators import warc as W

        recs = [
            {"type": "response", "uri": "http://a/1",
             "block": W.build_http_response(
                 200, "OK", [("Content-Type", "text/html")], b"b")},
            {"type": "revisit", "uri": "http://a/1",
             "digest": "sha1:ABC", "refers_to": "<urn:rec:0>",
             "date": "2020-02-02T00:00:00Z",
             "block": b"HTTP/1.1 304 Not Modified\r\n\r\n"},
        ]
        p = W.make_warc(recs)
        assert len(W.warc_responses(p)) == 1  # revisit routed away
        (r,) = W.warc_revisits(p)
        assert (r["uri"], r["digest"], r["refers_to"]) == (
            "http://a/1", "sha1:ABC", "<urn:rec:0>",
        )

    def test_digestless_revisit_rejected(self):
        import pytest as _pt

        from pyiceberg_lakehouse_spark.operators import warc as W

        p = W.make_warc(
            [{"type": "revisit", "uri": "http://a/1",
              "block": b"HTTP/1.1 304 X\r\n\r\n"}]
        )
        with _pt.raises(ValueError, match="WARC-Payload-Digest"):
            W.warc_revisits(p)


class TestZipCrypto:
    """r15: traditional PKWARE encryption — our encryptor's output is
    decrypted by STDLIB zipfile (the cross-validation direction stdlib
    supports), and our decryptor agrees; wrong/missing passwords and
    AES entries raise."""

    ENTRIES = [
        {"name": "a/secret.txt", "data": b"top secret payload " * 9},
        {"name": "b.bin", "data": bytes(range(256)) * 3},
    ]

    def test_stdlib_decrypts_our_output(self):
        import io
        import zipfile

        for method in (0, 8):
            blob = make_zip(self.ENTRIES, method=method, password=b"hunter2")
            zf = zipfile.ZipFile(io.BytesIO(blob))
            zf.setpassword(b"hunter2")
            for e in self.ENTRIES:
                assert zf.read(e["name"]) == e["data"]

    def test_our_parser_roundtrip_and_wrong_password(self):
        import pytest as _pt

        for method in (0, 8):
            blob = make_zip(self.ENTRIES, method=method, password=b"hunter2")
            got = parse_zip(blob, password=b"hunter2")
            assert [g["data"] for g in got] == [e["data"] for e in self.ENTRIES]
            assert all(g["encrypted"] for g in got)
            with _pt.raises(ValueError, match="wrong password|CRC"):
                parse_zip(blob, password=b"wrong")
            with _pt.raises(ValueError, match="encrypted"):
                parse_zip(blob)

    def test_aes_method_gated(self):
        import pytest as _pt
        import struct as _st

        z = bytearray(make_zip([{"name": "a", "data": b"x"}], 0))
        j = z.index(b"PK\x01\x02")
        _st.pack_into("<H", z, j + 10, 99)  # method AES
        with _pt.raises(NotImplementedError, match="AES"):
            parse_zip(bytes(z))
