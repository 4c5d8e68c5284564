"""Fuzz pin across every binary parser: random bytes (and truncated
valid files) must be REJECTED with structured errors (ValueError /
NotImplementedError / KeyError-free crashes), never an uncontrolled
exception — a 100 TB crawl feeds every parser garbage eventually, and
an AttributeError deep in a codec kills the executor task where a
ValueError routes to the quarantine path."""

from hypothesis import given, settings
from hypothesis import strategies as st

_CLEAN = (ValueError, NotImplementedError, EOFError)


def _parsers():
    from pyiceberg_lakehouse_spark.operators import (
        archives,
        ebml,
        flac,
        multimodal,
        ogg,
        pdf,
        tiff,
        warc,
    )

    return [
        ("tiff", tiff.decode_tiff),
        ("flac", flac.decode_flac),
        ("pdf", pdf.extract_pdf_text),
        ("ebml", ebml.probe_matroska),
        ("ogg", ogg.parse_ogg),
        ("ogg_group", ogg.parse_ogg_group),
        ("warc", warc.parse_warc),
        ("http", warc.parse_http_response),
        ("zip", archives.parse_zip),
        ("tar", archives.parse_tar),
        ("png", multimodal.decode_png),
        ("itunes", multimodal.parse_mp4_itunes),
        ("id3", multimodal.parse_id3v2),
    ]


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=400))
def test_random_bytes_rejected_cleanly(data):
    for name, fn in _parsers():
        try:
            fn(data)
        except _CLEAN:
            pass
        except Exception as exc:  # noqa: BLE001 — the assertion itself
            raise AssertionError(
                f"{name} raised {type(exc).__name__} on garbage: {exc}"
            ) from exc


@settings(max_examples=30, deadline=None)
@given(cut=st.integers(min_value=1, max_value=10_000))
def test_truncated_valid_files_rejected_cleanly(cut):
    """Truncation anywhere in a VALID file of each format must reject
    cleanly too (truncated network fetches are crawl reality)."""
    import numpy as np

    from pyiceberg_lakehouse_spark.operators import (
        ebml,
        flac,
        multimodal,
        tiff,
    )

    samples = [
        (
            "tiff",
            tiff.decode_tiff,
            tiff.encode_tiff(
                np.arange(64, dtype=np.uint8).reshape(8, 8),
                compression=5,
            ),
        ),
        (
            "flac",
            flac.decode_flac,
            flac.encode_flac([[(t * 37) % 500 - 250 for t in range(96)]]),
        ),
        (
            "ebml",
            ebml.probe_matroska,
            ebml.make_matroska(
                tracks=[
                    {
                        "number": 1, "type": "video",
                        "codec_id": "V_VP9", "width": 64, "height": 48,
                    }
                ]
            ),
        ),
        (
            "itunes",
            multimodal.parse_mp4_itunes,
            multimodal.make_mp4_itunes({"title": "x"}, track=(1, 2)),
        ),
    ]
    for name, fn, blob in samples:
        at = cut % len(blob)
        if at == 0:
            continue
        try:
            fn(blob[:at])
        except _CLEAN:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(
                f"{name} raised {type(exc).__name__} on truncation at "
                f"{at}/{len(blob)}: {exc}"
            ) from exc


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=400))
def test_r16_parsers_reject_garbage_cleanly(data):
    """The r16 decoders (MP3 Layer-III, Vorbis, Avro with the extended
    codec set, snappy, zstd, brotli) under the same structured-rejection
    contract."""
    from pyiceberg_lakehouse_spark.operators import avro, mp3, snappy, vorbis
    from pyiceberg_lakehouse_spark.operators.codec import decompress

    for name, fn in (
        ("mp3", mp3.decode_mp3),
        ("mp3_walk", mp3.walk_frames),
        ("vorbis", lambda b: vorbis.decode_vorbis([b, b, b])),
        ("vorbis_ogg", vorbis.decode_ogg_vorbis),
        ("avro", avro.decode_avro),
        ("snappy", snappy.decompress),
        ("zstd", lambda b: decompress("zstd", b)),
        ("brotli", lambda b: decompress("brotli", b)),
    ):
        try:
            fn(data)
        except _CLEAN:
            pass
        except Exception as exc:  # noqa: BLE001 — the assertion itself
            raise AssertionError(
                f"{name} raised {type(exc).__name__} on garbage: {exc}"
            ) from exc


@settings(max_examples=25, deadline=None)
@given(cut=st.integers(min_value=1, max_value=800))
def test_r16_truncated_valid_rejected_cleanly(cut):
    import random

    import pyarrow as pa

    from pyiceberg_lakehouse_spark.operators import mp3, vorbis
    from pyiceberg_lakehouse_spark.operators.codec import decompress
    from pyiceberg_lakehouse_spark.operators.ogg import make_ogg

    is1 = [0] * 576
    is1[40], is1[41] = 3, -2
    blob = mp3.encode_mp3(
        [{"is": is1, "global_gain": 210, "tables": [7, 7, 0],
          "region0_count": 8, "region1_count": 7, "big_values": 21,
          "count1_quads": 0},
         {"is": [0] * 576, "tables": [0, 0, 0], "big_values": 0,
          "region0_count": 0, "region1_count": 0}]
    )
    classes = [1 if p % 3 == 0 else 0 for p in range(16)]
    entries = [([p % 8, (p + 3) % 8] if c else [])
               for p, c in enumerate(classes)]
    ogg_blob = make_ogg(vorbis.encode_vorbis_fixture(
        [{"y0": 30, "y1": 12, "classes": classes, "entries": entries}]
    ))
    text = random.Random(16).randbytes(500) + b"row data " * 200
    for name, fn, full in (
        ("mp3", mp3.decode_mp3, blob),
        ("vorbis_ogg", vorbis.decode_ogg_vorbis, ogg_blob),
        # a truncated stream never decodes, so these must always raise
        ("zstd", lambda b: decompress("zstd", b),
         pa.Codec("zstd").compress(text, asbytes=True)),
        ("brotli", lambda b: decompress("brotli", b),
         pa.Codec("brotli").compress(text, asbytes=True)),
    ):
        trunc = full[: max(0, len(full) - cut)]
        if not trunc:
            continue
        try:
            got = fn(trunc)
            # a clean prefix of whole frames/pages may legally decode
            assert isinstance(got, dict)
        except _CLEAN:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(
                f"{name} raised {type(exc).__name__} truncated: {exc}"
            ) from exc


@settings(max_examples=40, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=-5, max_value=5), min_size=0,
                  max_size=30),
    gain=st.integers(min_value=150, max_value=250),
)
def test_mp3_planted_spectrum_roundtrip_property(vals, gain):
    """ANY table-7-rangeable planted prefix round-trips exactly (the
    Huffman-lossless property the driver row relies on)."""
    from pyiceberg_lakehouse_spark.operators import mp3

    is1 = [0] * 576
    for i, v in enumerate(vals):
        is1[i] = v
    big = -(-len(vals) // 2)  # ceil to whole pairs
    spec = {"is": is1, "global_gain": gain, "tables": [7, 7, 7],
            "region0_count": 8, "region1_count": 7, "big_values": big,
            "count1_quads": 0}
    zero = {"is": [0] * 576, "tables": [0, 0, 0], "big_values": 0,
            "region0_count": 0, "region1_count": 0}
    out = mp3.decode_mp3(mp3.encode_mp3([spec, zero]))
    assert out["spectra"][0][0] == is1


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=400))
def test_r17_parsers_reject_garbage_cleanly(data):
    """The r17 surfaces (snappy framing, stereo Vorbis, Iceberg
    single-value deserialization) under the structured-rejection
    contract."""
    from pyiceberg_lakehouse_spark.lakehouse.iceberg_transforms import (
        deserialize_single_value,
    )
    from pyiceberg_lakehouse_spark.operators import snappy, vorbis

    for name, fn in (
        ("snappy_frame", snappy.frame_decompress),
        ("vorbis_stereo_setup",
         lambda b: vorbis.read_setup_header(b, 2)),
        ("iceberg_single_value",
         lambda b: deserialize_single_value(b, "long")),
        ("iceberg_single_value_str",
         lambda b: deserialize_single_value(b, "string")),
    ):
        try:
            fn(data)
        except _CLEAN:
            pass
        except Exception as exc:  # noqa: BLE001 — the assertion itself
            raise AssertionError(
                f"{name} raised {type(exc).__name__} on garbage: {exc}"
            ) from exc


@settings(max_examples=25, deadline=None)
@given(cut=st.integers(min_value=1, max_value=800))
def test_r17_truncated_valid_rejected_cleanly(cut):
    """Truncation anywhere in a valid framed-snappy stream or a stereo
    two-blocksize Ogg/Vorbis stream must reject cleanly (or decode a
    legal whole-chunk/whole-page prefix)."""
    from pyiceberg_lakehouse_spark.operators import snappy, vorbis
    from pyiceberg_lakehouse_spark.operators.ogg import make_ogg

    framed = snappy.frame_compress(b"row data " * 9000)
    n2 = 128
    nparts = (2 * n2) // 8
    classes = [1 if p % 3 == 0 else 0 for p in range(nparts)]
    entries = [([p % 8, (p + 5) % 8] if c else [])
               for p, c in enumerate(classes)]
    stereo = make_ogg(vorbis.encode_vorbis_fixture_stereo([
        {"mode": 0, "floors": [{"y0": 20, "y1": 9}, {"y0": 11, "y1": 30}],
         "classes": classes, "entries": entries},
    ]))
    for name, fn, full in (
        ("snappy_frame", snappy.frame_decompress, framed),
        ("vorbis_stereo", vorbis.decode_ogg_vorbis, stereo),
    ):
        trunc = full[: max(0, len(full) - cut)]
        if not trunc:
            continue
        try:
            got = fn(trunc)
            assert isinstance(got, (bytes, dict))
        except _CLEAN:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(
                f"{name} raised {type(exc).__name__} truncated: {exc}"
            ) from exc


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=400))
def test_r18_parsers_reject_garbage_cleanly(data):
    """The r18 surfaces (Opus head/packet, roaring bitmaps, deletion-
    vector blobs) under the structured-rejection contract. Note
    parse_opus_packet accepts ANY non-empty byte string whose layout
    satisfies the packing rules — garbage often IS a legal packet
    (code-0 one-frame), which is fine; only uncontrolled exceptions
    fail."""
    from pyiceberg_lakehouse_spark.lakehouse.puffin import (
        decode_deletion_vector,
    )
    from pyiceberg_lakehouse_spark.operators import opus, roaring

    for name, fn in (
        ("opus_head", opus.parse_opus_head),
        ("opus_packet", opus.parse_opus_packet),
        ("opus_probe", opus.probe_ogg_opus),
        ("roaring32", lambda b: roaring.deserialize_roaring32(b)),
        ("roaring64", roaring.deserialize_roaring64),
        ("deletion_vector", decode_deletion_vector),
    ):
        try:
            fn(data)
        except _CLEAN:
            pass
        except Exception as exc:  # noqa: BLE001 — the assertion itself
            raise AssertionError(
                f"{name} raised {type(exc).__name__} on garbage: {exc}"
            ) from exc


@settings(max_examples=25, deadline=None)
@given(cut=st.integers(min_value=1, max_value=600))
def test_r18_truncated_valid_rejected_cleanly(cut):
    """Truncation anywhere in a valid Ogg Opus stream, a serialized
    roaring bitmap, a framed DV blob, or a floor0 Vorbis stream must
    reject cleanly (or, for the Ogg container, decode a legal
    whole-page prefix)."""
    from pyiceberg_lakehouse_spark.lakehouse.puffin import (
        decode_deletion_vector,
        encode_deletion_vector,
    )
    from pyiceberg_lakehouse_spark.operators import opus, roaring
    from pyiceberg_lakehouse_spark.operators.ogg import (
        make_opus_tags_packet,
    )

    head = opus.build_opus_head(channels=2, pre_skip=100)
    tags = make_opus_tags_packet("v", [("A", "b")])
    audio = [opus.build_opus_packet(28, [b"x" * 60]),
             opus.build_opus_packet(1, [b"y" * 25] * 2)]
    stream = opus.make_ogg_opus(head, tags, audio, max_segments=3)
    rbits = roaring.serialize_roaring64(
        list(range(0, 5000, 3)) + [2 ** 40]
    )
    dv = encode_deletion_vector(list(range(0, 3000, 7)))
    for name, fn, full in (
        ("opus_probe", opus.probe_ogg_opus, stream),
        ("roaring64", roaring.deserialize_roaring64, rbits),
        ("deletion_vector", decode_deletion_vector, dv),
    ):
        trunc = full[: max(0, len(full) - cut)]
        if not trunc:
            continue
        try:
            got = fn(trunc)
            assert isinstance(got, (dict, list))
        except _CLEAN:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(
                f"{name} raised {type(exc).__name__} truncated: {exc}"
            ) from exc
