"""Archive enumeration — tar (ustar) and zip — pure stdlib parsing.

Training corpora ship as archives: a crawl-ingest pipeline's first
operator is "explode the archive into (path, bytes) rows", and doing
it wrong (trusting the wrong size field, decompressing unbounded,
missing the central directory) corrupts everything downstream. Parsers
here are deliberately strict and bounds-checked, built from the format
specs (POSIX ustar; PKWARE APPNOTE) rather than tarfile/zipfile, so
hostile archives raise instead of half-working — and so the behavior
is identical inside Arrow-batched executors with no tempfile I/O.

Scope (honest gates):
- tar: ustar regular files and directories, octal and GNU base-256
  numeric fields, name+prefix joining; GNU long names ('L') supported;
  pax extended headers ('x' per-file, 'g' global — the form GNU tar
  emits BY DEFAULT for long names and sub-second mtimes) parse their
  "LEN key=value\\n" records with path/size/mtime overriding the ustar
  header fields per POSIX precedence (x beats g beats header); sparse
  files raise.
- zip: central-directory walk from EOCD (the ONLY authoritative
  listing — local headers lie in real-world zips), methods 0 (stored)
  and 8 (deflate, stdlib zlib -15), CRC-32 verified on extraction;
  zip64 (the >4 GiB / >65535-entry header form real corpus dumps use)
  resolves the EOCD64 locator + record and per-entry 0x0001 extra
  fields, with each 0xFFFFFFFF/0xFFFF sentinel pulled from the 64-bit
  values in spec order; ZipCrypto (traditional PKWARE) encryption
  decrypts with a caller password (r15, stdlib-zipfile-cross-validated)
  while AES entries and spanned archives raise.
"""

from __future__ import annotations

import struct
import zlib

_TAR_BLOCK = 512


def _tar_num(field: bytes) -> int:
    """Octal (NUL/space terminated) or GNU base-256 numeric field."""
    if field and field[0] & 0x80:
        val = 0
        for b in field:
            val = (val << 8) | b
        return val - (0x80 << (8 * (len(field) - 1)))
    s = field.split(b"\x00", 1)[0].strip()
    if not s:
        return 0
    try:
        return int(s, 8)
    except ValueError as exc:
        raise ValueError(f"bad tar numeric field {field!r}") from exc


def _pax_records(fields: dict[str, str]) -> bytes:
    """POSIX pax record framing: "LEN key=value\\n" where LEN counts the
    WHOLE record including itself and the newline (the self-referential
    length real pax writers compute by fixpoint)."""
    out = bytearray()
    for k, v in fields.items():
        body = f" {k}={v}\n"
        n = len(body.encode("utf-8"))
        total = n + len(str(n))
        if len(str(total)) != len(str(n)):  # length digits grew
            total = n + len(str(total))
        out += f"{total}".encode() + body.encode("utf-8")
    return bytes(out)


def _parse_pax_records(data: bytes) -> dict[str, str]:
    out: dict[str, str] = {}
    pos = 0
    while pos < len(data):
        sp = data.find(b" ", pos)
        if sp < 0:
            raise ValueError("pax record without a length field")
        try:
            total = int(data[pos:sp])
        except ValueError as exc:
            raise ValueError("bad pax record length") from exc
        end = pos + total
        if total <= 0 or end > len(data) or data[end - 1 : end] != b"\n":
            raise ValueError("pax record length disagrees with its framing")
        kv = data[sp + 1 : end - 1]
        k, eq, v = kv.partition(b"=")
        if not eq:
            raise ValueError("pax record without '='")
        out[k.decode("utf-8")] = v.decode("utf-8")
        pos = end
    return out


def make_tar(entries: list[dict], pax: bool = False) -> bytes:
    """entries: [{name, data (bytes), mtime?, mode?}] -> ustar bytes.
    Names longer than 100 chars emit a GNU 'L' long-name record, or —
    with ``pax`` — a POSIX 'x' extended header carrying path (+ mtime),
    the form GNU tar writes by default."""
    out = bytearray()

    def header(name: str, size: int, typeflag: bytes, mtime: int, mode: int) -> bytes:
        h = bytearray(_TAR_BLOCK)
        nb = name.encode("utf-8")
        h[0 : len(nb)] = nb
        h[100:108] = f"{mode:07o}\x00".encode()
        h[108:116] = b"0000000\x00"
        h[116:124] = b"0000000\x00"
        h[124:136] = f"{size:011o}\x00".encode()
        h[136:148] = f"{mtime:011o}\x00".encode()
        h[148:156] = b" " * 8  # checksum placeholder
        h[156:157] = typeflag
        h[257:263] = b"ustar\x00"
        h[263:265] = b"00"
        chk = sum(h)
        h[148:156] = f"{chk:06o}\x00 ".encode()
        return bytes(h)

    def block_pad(data: bytes) -> bytes:
        rem = len(data) % _TAR_BLOCK
        return data + b"\x00" * (_TAR_BLOCK - rem if rem else 0)

    for e in entries:
        name = e["name"]
        data = e.get("data", b"")
        mtime = int(e.get("mtime", 0))
        mode = int(e.get("mode", 0o644))
        is_dir = name.endswith("/")
        if pax and (len(name.encode("utf-8")) > 100 or e.get("pax_mtime")):
            fields = {"path": name}
            if e.get("pax_mtime"):
                fields["mtime"] = str(e["pax_mtime"])
            rec = _pax_records(fields)
            out += header(
                f"./PaxHeaders/{name[:80]}", len(rec), b"x", 0, 0o644
            )
            out += block_pad(rec)
            name = name[:100]
        elif len(name.encode("utf-8")) > 100:
            nb = name.encode("utf-8") + b"\x00"
            out += header("././@LongLink", len(nb), b"L", 0, 0o644)
            out += block_pad(nb)
            name = name[:100]
        out += header(
            name, 0 if is_dir else len(data), b"5" if is_dir else b"0",
            mtime, mode,
        )
        if not is_dir:
            out += block_pad(data)
    out += b"\x00" * (2 * _TAR_BLOCK)
    return bytes(out)


def parse_tar(payload: bytes) -> list[dict]:
    """-> [{name, size, is_dir, mtime, data}] with checksum, bounds and
    terminator validation."""
    out: list[dict] = []
    pos = 0
    pending_longname = None
    pending_pax: dict[str, str] | None = None
    global_pax: dict[str, str] = {}
    while True:
        if pos + _TAR_BLOCK > len(payload):
            raise ValueError("tar ends without the zero-block terminator")
        h = payload[pos : pos + _TAR_BLOCK]
        if h == b"\x00" * _TAR_BLOCK:
            return out  # terminator (second zero block may be truncated)
        stored = _tar_num(h[148:156])
        calc = sum(h[:148]) + 8 * 0x20 + sum(h[156:])
        if stored != calc:
            raise ValueError(f"tar header checksum mismatch at {pos}")
        if h[257:262] != b"ustar":
            raise ValueError("not a ustar header")
        typeflag = h[156:157]
        size = _tar_num(h[124:136])
        if size < 0:
            raise ValueError("negative tar entry size")
        data_start = pos + _TAR_BLOCK
        data_end = data_start + size
        if data_end > len(payload):
            raise ValueError("tar entry data exceeds the archive")
        blocks = (size + _TAR_BLOCK - 1) // _TAR_BLOCK
        nxt = data_start + blocks * _TAR_BLOCK
        if typeflag == b"L":  # GNU long name for the NEXT entry
            pending_longname = (
                payload[data_start:data_end].split(b"\x00", 1)[0].decode(
                    "utf-8"
                )
            )
            pos = nxt
            continue
        if typeflag == b"x":  # pax: overrides for the NEXT entry
            pending_pax = _parse_pax_records(payload[data_start:data_end])
            pos = nxt
            continue
        if typeflag == b"g":  # pax global: defaults for ALL later entries
            global_pax.update(
                _parse_pax_records(payload[data_start:data_end])
            )
            pos = nxt
            continue
        if typeflag == b"S":
            raise NotImplementedError("GNU sparse tar entries")
        if typeflag not in (b"0", b"\x00", b"5"):
            raise ValueError(f"unsupported tar typeflag {typeflag!r}")
        pax = dict(global_pax)
        if pending_pax is not None:
            pax.update(pending_pax)
            pending_pax = None
        if "size" in pax:  # POSIX: pax size beats the header field
            size = int(pax["size"])
            if size < 0:
                raise ValueError("negative pax size")
            data_end = data_start + size
            if data_end > len(payload):
                raise ValueError("tar entry data exceeds the archive")
            nxt = data_start + ((size + _TAR_BLOCK - 1) // _TAR_BLOCK) * _TAR_BLOCK
        name = h[0:100].split(b"\x00", 1)[0].decode("utf-8")
        prefix = h[345:500].split(b"\x00", 1)[0].decode("utf-8")
        if prefix:
            name = prefix + "/" + name
        if pending_longname is not None:
            name = pending_longname
            pending_longname = None
        if "path" in pax:  # pax path beats GNU longname beats header
            name = pax["path"]
        mtime = _tar_num(h[136:148])
        if "mtime" in pax:
            mtime = int(float(pax["mtime"]))
        out.append(
            {
                "name": name,
                "size": size,
                "is_dir": typeflag == b"5",
                "mtime": mtime,
                "data": payload[data_start:data_end],
            }
        )
        pos = nxt


_EOCD_SIG = b"PK\x05\x06"
_CDIR_SIG = b"PK\x01\x02"
_LOCAL_SIG = b"PK\x03\x04"


_EOCD64_SIG = b"PK\x06\x06"
_EOCD64_LOC_SIG = b"PK\x06\x07"


def decompress_auto(data: bytes) -> tuple[bytes, str]:
    """Undo a whole-file compression wrapper by magic bytes — the
    .tar.gz / .tar.xz / .tar.bz2 / .tar.zst forms corpora actually
    ship: gzip (multi-member, the concatenated-archive layout), xz,
    bz2, and zstd (pyarrow's bundled libzstd). Returns (payload,
    codec) with codec 'none' for unwrapped input — safe to call on
    anything."""
    import bz2 as _bz2
    import lzma as _lzma

    if data[:2] == b"\x1f\x8b":
        out = bytearray()
        rest = data
        while rest:
            d = _zlib_decompressobj_gzip()
            out += d.decompress(rest)
            out += d.flush()
            if not d.eof:
                raise ValueError("truncated gzip member in wrapper")
            rest = d.unused_data
        return bytes(out), "gzip"
    if data[:6] == b"\xfd7zXZ\x00":
        try:
            return _lzma.decompress(data), "xz"
        except _lzma.LZMAError as exc:
            raise ValueError(f"corrupt xz wrapper: {exc}") from exc
    if data[:3] == b"BZh" and len(data) > 4 and data[3:4].isdigit():
        try:
            return _bz2.decompress(data), "bz2"
        except OSError as exc:
            raise ValueError(f"corrupt bz2 wrapper: {exc}") from exc
    if data[:4] == b"\x28\xb5\x2f\xfd":
        from pyiceberg_lakehouse_spark.operators.codec import decompress

        return decompress("zstd", data), "zstd"
    if data[:10] == b"\xff\x06\x00\x00sNaPpY":
        # .tar.sz / .sz: the snappy FRAMING stream (r17 — the chunked
        # CRC32C-guarded container, operators/snappy.py)
        from pyiceberg_lakehouse_spark.operators.snappy import (
            frame_decompress,
        )

        return frame_decompress(data), "snappy-framed"
    return data, "none"


def _zlib_decompressobj_gzip():
    return zlib.decompressobj(16 + 15)



# ----------------------------------------------- ZipCrypto (PKWARE) ---
# The traditional zip stream cipher (APPNOTE 6.1): three rolling keys
# driven by a table-lookup CRC-32, a 12-byte encryption header whose
# last byte checks against the entry CRC's high byte. Weak by modern
# standards (known-plaintext attacks are classic) but still what
# password-protected legacy archives in crawled corpora actually use;
# decryption correctness is cross-validated against stdlib zipfile in
# tests/test_archives_warc.py. AES-encrypted (WinZip 0x9901) entries
# stay honestly gated.

_CRC_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0xEDB88320 if _c & 1 else _c >> 1
    _CRC_TABLE.append(_c)
del _n, _c


def _crc32_byte(crc: int, b: int) -> int:
    return (crc >> 8) ^ _CRC_TABLE[(crc ^ b) & 0xFF]


class _ZipCrypto:
    def __init__(self, password: bytes) -> None:
        self.k0, self.k1, self.k2 = 305419896, 591751049, 878082192
        for b in password:
            self._update(b)

    def _update(self, b: int) -> None:
        self.k0 = _crc32_byte(self.k0, b)
        self.k1 = ((self.k1 + (self.k0 & 0xFF)) * 134775813 + 1) & 0xFFFFFFFF
        self.k2 = _crc32_byte(self.k2, self.k1 >> 24)

    def _stream_byte(self) -> int:
        t = (self.k2 | 2) & 0xFFFF
        return ((t * (t ^ 1)) >> 8) & 0xFF

    def encrypt(self, data: bytes) -> bytes:
        out = bytearray()
        for b in data:
            out.append(b ^ self._stream_byte())
            self._update(b)
        return bytes(out)

    def decrypt(self, data: bytes) -> bytes:
        out = bytearray()
        for b in data:
            p = b ^ self._stream_byte()
            out.append(p)
            self._update(p)
        return bytes(out)


def make_zip(
    entries: list[dict],
    method: int = 8,
    zip64: bool = False,
    streaming: bool = False,
    password: bytes | None = None,
) -> bytes:
    """entries: [{name, data}] -> zip bytes (method 0 stored or
    8 deflate). ``zip64`` emits the header FORM a >4 GiB archive is
    forced into — 0xFFFFFFFF/0xFFFF sentinels with the real values in
    per-entry 0x0001 extra fields and an EOCD64 record + locator — so
    the reader's zip64 resolution is testable without 4 GiB of data.
    ``streaming`` emits the one-pass-writer form (general-purpose flag
    bit 3): crc/sizes ZEROED in the local header, the real values in a
    PK\x07\x08 data descriptor after the data — jar/war and
    pipe-written zips ship this; a central-directory reader must take
    sizes from the CD, never the local header."""
    if method not in (0, 8):
        raise ValueError("zip method must be 0 (stored) or 8 (deflate)")
    if streaming and zip64:
        raise ValueError("streaming + zip64 form not emitted")
    if password is not None and (streaming or zip64):
        raise ValueError("encrypted form emitted for plain entries only")
    ver = 45 if zip64 else 20
    gpflag = 0x08 if streaming else 0
    locals_ = bytearray()
    cdir = bytearray()
    offsets = []
    for i, e in enumerate(entries):
        name = e["name"].encode("utf-8")
        data = e["data"]
        crc = zlib.crc32(data) & 0xFFFFFFFF
        if method == 8:
            comp = zlib.compressobj(6, zlib.DEFLATED, -15)
            blob = comp.compress(data) + comp.flush()
        else:
            blob = data
        offsets.append(len(locals_))
        if zip64:
            extra = struct.pack("<HHQQ", 0x0001, 16, len(data), len(blob))
            locals_ += _LOCAL_SIG + struct.pack(
                "<HHHHHIIIHH", ver, 0, method, 0, 0, crc,
                0xFFFFFFFF, 0xFFFFFFFF, len(name), len(extra),
            ) + name + extra + blob
        elif streaming:
            locals_ += _LOCAL_SIG + struct.pack(
                "<HHHHHIIIHH", ver, gpflag, method, 0, 0, 0, 0, 0,
                len(name), 0,
            ) + name + blob
            locals_ += b"PK\x07\x08" + struct.pack(
                "<III", crc, len(blob), len(data)
            )
        elif password is not None:
            # ZipCrypto: flag bit 0, 12-byte encryption header whose
            # last byte is the CRC high byte, csize includes the header
            import os as _os

            zc = _ZipCrypto(password)
            ehdr = zc.encrypt(
                bytes((e.get("salt", i * 17 + k) & 0xFF) for k in range(11))
                + bytes([crc >> 24])
            )
            eblob = ehdr + zc.encrypt(blob)
            locals_ += _LOCAL_SIG + struct.pack(
                "<HHHHHIIIHH", ver, 0x01, method, 0, 0, crc,
                len(eblob), len(data), len(name), 0,
            ) + name + eblob
            del _os
        else:
            locals_ += _LOCAL_SIG + struct.pack(
                "<HHHHHIIIHH", ver, 0, method, 0, 0, crc, len(blob),
                len(data), len(name), 0,
            ) + name + blob
    for e, off in zip(entries, offsets):
        name = e["name"].encode("utf-8")
        data = e["data"]
        crc = zlib.crc32(data) & 0xFFFFFFFF
        if method == 8:
            comp = zlib.compressobj(6, zlib.DEFLATED, -15)
            blob = comp.compress(data) + comp.flush()
        else:
            blob = data
        if zip64:
            extra = struct.pack(
                "<HHQQQ", 0x0001, 24, len(data), len(blob), off
            )
            cdir += _CDIR_SIG + struct.pack(
                "<HHHHHHIIIHHHHHII", ver, ver, 0, method, 0, 0, crc,
                0xFFFFFFFF, 0xFFFFFFFF, len(name), len(extra), 0, 0, 0, 0,
                0xFFFFFFFF,
            ) + name + extra
        else:
            gp = 0x01 if password is not None else gpflag
            csz = len(blob) + (12 if password is not None else 0)
            cdir += _CDIR_SIG + struct.pack(
                "<HHHHHHIIIHHHHHII", ver, ver, gp, method, 0, 0, crc,
                csz, len(data), len(name), 0, 0, 0, 0, 0, off,
            ) + name
    out = bytes(locals_) + bytes(cdir)
    if zip64:
        eocd64_at = len(out)
        out += _EOCD64_SIG + struct.pack(
            "<QHHIIQQQQ", 44, ver, ver, 0, 0, len(entries), len(entries),
            len(cdir), len(locals_),
        )
        out += _EOCD64_LOC_SIG + struct.pack("<IQI", 0, eocd64_at, 1)
        out += _EOCD_SIG + struct.pack(
            "<HHHHIIH", 0, 0, 0xFFFF, 0xFFFF, 0xFFFFFFFF, 0xFFFFFFFF, 0
        )
    else:
        out += _EOCD_SIG + struct.pack(
            "<HHHHIIH", 0, 0, len(entries), len(entries), len(cdir),
            len(locals_), 0,
        )
    return out


def _zip64_resolve(
    extra: bytes, usize: int, csize: int, local_off: int
) -> tuple[int, int, int]:
    """Pull the 64-bit values for any sentinel fields out of the 0x0001
    extra block. Values appear in spec order, ONLY for fields whose
    32-bit form is 0xFFFFFFFF."""
    pos = 0
    while pos + 4 <= len(extra):
        hid, sz = struct.unpack_from("<HH", extra, pos)
        pos += 4
        if pos + sz > len(extra):
            raise ValueError("zip extra field exceeds its extent")
        if hid == 0x0001:
            at, end = pos, pos + sz

            def take8() -> int:
                nonlocal at
                if at + 8 > end:
                    raise ValueError("zip64 extra field too short")
                (v,) = struct.unpack_from("<Q", extra, at)
                at += 8
                return v

            if usize == 0xFFFFFFFF:
                usize = take8()
            if csize == 0xFFFFFFFF:
                csize = take8()
            if local_off == 0xFFFFFFFF:
                local_off = take8()
            return usize, csize, local_off
        pos += sz
    raise ValueError("zip64 sentinel without a 0x0001 extra field")


def parse_zip(payload: bytes, password: bytes | None = None) -> list[dict]:
    """Central-directory walk -> [{name, method, usize, csize, crc32,
    encrypted, data (decompressed, CRC-verified)}]. The EOCD is found by
    scanning back over a possible trailing comment (<= 64 KiB per
    spec). ZipCrypto entries (flag bit 0) decrypt with ``password``
    (header check byte + CRC both verified; a wrong password raises);
    AES-encrypted entries (method 99) stay honestly gated."""
    scan_from = max(0, len(payload) - 22 - 0xFFFF)
    eocd_at = payload.rfind(_EOCD_SIG, scan_from)
    if eocd_at < 0:
        raise ValueError("no zip end-of-central-directory record")
    (
        _disk, _cd_disk, _n_disk, n_total, cd_size, cd_off, _clen
    ) = struct.unpack_from("<HHHHIIH", payload, eocd_at + 4)
    if n_total == 0xFFFF or cd_size == 0xFFFFFFFF or cd_off == 0xFFFFFFFF:
        loc_at = eocd_at - 20
        if loc_at < 0 or payload[loc_at : loc_at + 4] != _EOCD64_LOC_SIG:
            raise ValueError("zip64 sentinel without an EOCD64 locator")
        _e64_disk, e64_at, n_disks = struct.unpack_from(
            "<IQI", payload, loc_at + 4
        )
        if n_disks > 1:
            raise NotImplementedError("spanned zip archives")
        if (
            e64_at + 56 > len(payload)
            or payload[e64_at : e64_at + 4] != _EOCD64_SIG
        ):
            raise ValueError("EOCD64 record missing at its stated offset")
        (
            _rec_size, _vm, _vn, _d64, _cd64, _n_disk64, n_total, cd_size,
            cd_off,
        ) = struct.unpack_from("<QHHIIQQQQ", payload, e64_at + 4)
    if cd_off + cd_size > len(payload):
        raise ValueError("central directory exceeds the file")
    out: list[dict] = []
    pos = cd_off
    for _ in range(n_total):
        if payload[pos : pos + 4] != _CDIR_SIG:
            raise ValueError("bad central-directory entry signature")
        (
            _ver_made, _ver_need, flags, method, _t, _d, crc, csize, usize,
            nlen, xlen, clen, _disk2, _iattr, _eattr, local_off
        ) = struct.unpack_from("<HHHHHHIIIHHHHHII", payload, pos + 4)
        name = payload[pos + 46 : pos + 46 + nlen].decode("utf-8")
        if (
            usize == 0xFFFFFFFF
            or csize == 0xFFFFFFFF
            or local_off == 0xFFFFFFFF
        ):
            usize, csize, local_off = _zip64_resolve(
                payload[pos + 46 + nlen : pos + 46 + nlen + xlen],
                usize, csize, local_off,
            )
        pos += 46 + nlen + xlen + clen
        if method == 99:
            raise NotImplementedError("AES-encrypted zip entries")
        encrypted = bool(flags & 0x1)
        if encrypted and password is None:
            raise ValueError(
                f"zip entry {name!r} is ZipCrypto-encrypted and no"
                " password was given"
            )
        if method not in (0, 8):
            raise NotImplementedError(f"zip compression method {method}")
        # local header: skip its (possibly different) name/extra lengths
        if payload[local_off : local_off + 4] != _LOCAL_SIG:
            raise ValueError("bad local-header signature")
        lnlen, lxlen = struct.unpack_from("<HH", payload, local_off + 26)
        data_at = local_off + 30 + lnlen + lxlen
        if data_at + csize > len(payload):
            raise ValueError("zip entry data exceeds the file")
        blob = payload[data_at : data_at + csize]
        if encrypted:
            if len(blob) < 12:
                raise ValueError("encrypted entry shorter than its header")
            zc = _ZipCrypto(password)
            ehdr = zc.decrypt(blob[:12])
            if ehdr[11] != (crc >> 24) & 0xFF:
                raise ValueError(
                    f"wrong password for zip entry {name!r} (check byte)"
                )
            blob = zc.decrypt(blob[12:])
        if method == 8:
            d = zlib.decompressobj(-15)
            data = d.decompress(blob, usize + 1)
            if len(data) != usize or d.decompress(b"", 1):
                raise ValueError("zip entry decompresses to the wrong size")
        else:
            if len(blob) != usize:
                raise ValueError("stored zip entry with csize != usize")
            data = blob
        if (zlib.crc32(data) & 0xFFFFFFFF) != crc:
            raise ValueError(f"zip CRC mismatch for {name!r}")
        out.append(
            {
                "name": name, "method": method, "usize": usize,
                "csize": csize, "crc32": crc, "encrypted": encrypted,
                "data": data,
            }
        )
    return out
