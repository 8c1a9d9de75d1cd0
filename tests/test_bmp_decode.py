"""Stdlib BMP codec fences: the encoder must emit a genuinely
parseable 24-bit bitmap (header fields, bottom-up rows, 4-byte
padding), the worker stages must byte-match the driver-side codecs
they ship with, and the pixel-decode fingerprint must be a
property of the IMAGE, not its serialization — the same pixels stored
top-down and bottom-up must fingerprint identically, which the raw
byte-segment fingerprint cannot do."""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import functions as F

from etl_spark.operators.media import (
    BMP_WIDTH,
    build_bmp,
    decode_image,
    decode_payload,
    decode_raster,
    perceptual_hash,
    sniff_mime,
    with_bmp_payload,
)
from etl_spark.io import load
from tests.conftest import SF_DIR

_TEXT = ("pack my box with five dozen liquor jugs 0123456789 " * 6).encode()


def test_bmp_header_fields_are_a_real_bitmap():
    bmp = build_bmp(_TEXT)
    h = len(_TEXT) // BMP_WIDTH
    row_size = (BMP_WIDTH * 3 + 3) & ~3
    # Independent struct parse, not via bmp_gray.
    assert bmp[:2] == b"BM"
    assert struct.unpack_from("<I", bmp, 2)[0] == len(bmp)
    assert struct.unpack_from("<I", bmp, 10)[0] == 54  # pixel offset
    assert struct.unpack_from("<I", bmp, 14)[0] == 40  # BITMAPINFOHEADER
    assert struct.unpack_from("<i", bmp, 18)[0] == BMP_WIDTH
    assert struct.unpack_from("<i", bmp, 22)[0] == h  # bottom-up
    assert struct.unpack_from("<H", bmp, 28)[0] == 24  # bpp
    assert struct.unpack_from("<I", bmp, 30)[0] == 0  # BI_RGB
    assert len(bmp) == 54 + row_size * h
    # Bottom-up: the FIRST stored row is the LAST image row, pixels
    # BGR with B == G == R == the gray byte.
    last_row = _TEXT[(h - 1) * BMP_WIDTH : h * BMP_WIDTH]
    stored = bmp[54 : 54 + BMP_WIDTH * 3]
    assert stored == b"".join(bytes((v, v, v)) for v in last_row)


def test_decode_bmp_round_trip_and_dispatch():
    bmp = build_bmp(_TEXT)
    n = (len(_TEXT) // BMP_WIDTH) * BMP_WIDTH
    assert sniff_mime(bmp) == "image/bmp"
    out = decode_raster(bmp)
    assert out["width"] == BMP_WIDTH
    assert out["height"] == len(_TEXT) // BMP_WIDTH
    assert out["n_pixels"] == n
    assert out["luma_sum"] == sum(_TEXT[:n])
    assert out["luma_md5"] == hashlib.md5(_TEXT[:n]).hexdigest()
    assert decode_payload(bmp) == out
    # 'BM'-prefixed text must not dispatch as an image: the sniff
    # demands the full header story (size field == len, DIB 40).
    fake = b"BMx" + bytes(100)
    assert sniff_mime(fake) == "application/octet-stream"
    assert decode_payload(fake)["mime"] == "application/octet-stream"


def _flip_to_top_down(bmp: bytes) -> bytes:
    """Re-serialize a bottom-up BMP as the SAME image stored top-down
    (negative biHeight, rows re-ordered) — different bytes, one image."""
    offset = struct.unpack_from("<I", bmp, 10)[0]
    w = struct.unpack_from("<i", bmp, 18)[0]
    h = struct.unpack_from("<i", bmp, 22)[0]
    assert h > 0
    row_size = (w * 3 + 3) & ~3
    head = bytearray(bmp[:offset])
    struct.pack_into("<i", head, 22, -h)
    rows = [
        bmp[offset + y * row_size : offset + (y + 1) * row_size]
        for y in range(h)
    ]
    return bytes(head) + b"".join(reversed(rows))


def test_worker_stages_match_driver_codec(spark):
    docs = (
        load(spark, SF_DIR, "documents")
        .where(F.length("text") >= BMP_WIDTH)
        .where("octet_length(encode(text, 'utf-8')) = length(text)")
        .limit(50)
    )
    local = {
        r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()
    }
    built = {
        r["doc_id"]: bytes(r["payload"])
        for r in with_bmp_payload(docs).collect()
    }
    assert built.keys() == local.keys()
    for doc_id, text in local.items():
        assert built[doc_id] == build_bmp(text.encode("utf-8")), doc_id
    decoded = {r["doc_id"]: r.asDict() for r in
               decode_image(with_bmp_payload(docs)).collect()}
    for doc_id, text in local.items():
        want = decode_raster(build_bmp(text.encode("utf-8")))
        got = decoded[doc_id]
        for k, v in want.items():
            assert got[k] == v, (doc_id, k)


def test_pixel_phash_is_serialization_invariant(spark):
    # The SAME image bytes stored bottom-up vs top-down: raw byte
    # fingerprints differ (storage order leaks), pixel fingerprints
    # are identical (the decoder normalizes orientation first).
    texts = [
        ("a" * 30 + "the quick brown fox " * 8)[: 24 * 7],
        ("zebra quartz jackdaws love my big sphinx " * 5)[: 24 * 6],
    ]
    rows = []
    for i, t in enumerate(texts):
        bu = build_bmp(t.encode())
        td = _flip_to_top_down(bu)
        assert bu != td
        rows.append((2 * i, bu))
        rows.append((2 * i + 1, td))
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    px = {r["doc_id"]: r["phash"]
          for r in perceptual_hash(df, pixel_decode=True).collect()}
    raw = {r["doc_id"]: r["phash"]
           for r in perceptual_hash(df, pixel_decode=False).collect()}
    for i in range(len(texts)):
        assert px[2 * i] == px[2 * i + 1], "pixel phash must not see order"
        assert raw[2 * i] != raw[2 * i + 1], (
            "byte phash SHOULD differ across serializations — if not, "
            "the invariance assertion above is vacuous"
        )


def test_unsupported_bmp_falls_back_to_byte_math_not_crash():
    """A VALID BMP whose shape bmp_gray does not parse (32 bpp, or
    BI_RLE8 compression) must sniff as octet-stream and decode via
    fake_features — not crash decode_payload with ValueError. The
    sniff and the decoder must agree on supported shapes."""
    import struct

    from etl_spark.operators.media import decode_payload

    def make_header_bmp(bpp: int, compression: int) -> bytes:
        # 1x1 image, pixel data sized for the declared bpp (decode
        # never reads it when the sniff rejects the header).
        row = ((bpp // 8) + 3) & ~3
        head = struct.pack("<2sIHHI", b"BM", 54 + row, 0, 0, 54)
        dib = struct.pack(
            "<IiiHHIIiiII", 40, 1, 1, 1, bpp, compression, row,
            2835, 2835, 0, 0,
        )
        return head + dib + b"\x00" * row

    for bpp, comp in ((32, 0), (8, 1)):  # 32-bpp BI_RGB; 8-bpp BI_RLE8
        payload = make_header_bmp(bpp, comp)
        assert sniff_mime(payload) == "application/octet-stream"
        out = decode_payload(payload)  # must not raise
        assert out["mime"] == "application/octet-stream"
    # And the supported shape still sniffs as BMP.
    good = make_header_bmp(24, 0)
    assert sniff_mime(good) == "image/bmp"
