"""GIF/LZW codec fences: a hand-packed known-bytes golden (independent
of the encoder), roundtrips through every LZW regime (dictionary
growth, KwKwK, 4096-entry reset), container-blindness across all
three rasters, and byte parity between the worker builder stage and
the driver-side encoder."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_spark.io import load
from etl_spark.operators.media import (
    BMP_WIDTH,
    _lzw_decode,
    _lzw_encode,
    build_bmp,
    build_gif,
    build_png,
    decode_raster,
    gif_gray,
    with_gif_payload,
)
from tests.conftest import SF_DIR


def _pack_lsb(codes: list[tuple[int, int]]) -> bytes:
    """Independent LSB-first bit packer (different implementation
    shape from the encoder's: builds one big int)."""
    big, total = 0, 0
    for code, width in codes:
        big |= code << total
        total += width
    n = (total + 7) // 8
    return big.to_bytes(n, "little")


def test_lzw_decode_hand_packed_golden():
    """Decode a stream packed BY HAND with an independent packer:
    clear, 'a', 'b', <ab>(KwKwK-adjacent growth), end — exercising
    table build and entry reuse without trusting the encoder."""
    clear, end = 256, 257
    a, b = ord("a"), ord("b")
    # after clear: 'a' (no insert), 'b' (insert 258='ab'),
    # 258 -> outputs 'ab' (insert 259='ba'), end
    stream = _pack_lsb(
        [(clear, 9), (a, 9), (b, 9), (258, 9), (end, 9)]
    )
    assert _lzw_decode(stream, 8) == b"abab"


def test_lzw_roundtrip_regimes():
    rng = random.Random(11)
    cases = [
        b"",  # empty
        b"x",  # single symbol
        b"\x00" * 5000,  # KwKwK run
        (b"abcabcabd" * 3000),  # deep dictionary chains
        bytes(rng.randrange(256) for _ in range(20000)),  # >4096 reset
        bytes(range(256)) * 40,  # cyclic
    ]
    for data in cases:
        assert _lzw_decode(_lzw_encode(data, 8), 8) == data


def test_gif_roundtrip_and_container_blindness(spark):
    docs = (
        load(spark, SF_DIR, "documents")
        .where(F.col("text").isNotNull() & (F.length("text") >= BMP_WIDTH))
        .select("text")
        .limit(25)
        .collect()
    )
    assert docs
    for r in docs:
        raw = r["text"].encode("utf-8")
        g = decode_raster(build_gif(raw))
        p = decode_raster(build_png(raw))
        m = decode_raster(build_bmp(raw))
        # same pixel grid through three containers: everything but
        # mime/bpp must agree (BMP is 24-bit source, same luma)
        for k in ("width", "height", "n_pixels", "luma_sum", "luma_md5"):
            assert g[k] == p[k] == m[k], (k, g[k], p[k], m[k])
        assert g["mime"] == "image/gif"
        # exact pixel bytes round-trip
        w, h, gray = gif_gray(build_gif(raw))
        assert gray == raw[: BMP_WIDTH * (len(raw) // BMP_WIDTH)]


def test_gif_worker_builder_matches_driver(spark):
    docs = (
        load(spark, SF_DIR, "documents")
        .where(F.col("text").isNotNull() & (F.length("text") >= BMP_WIDTH))
        .limit(20)
    )
    worker = {
        r["doc_id"]: bytes(r["payload"])
        for r in with_gif_payload(docs).collect()
    }
    driver = {
        r["doc_id"]: build_gif(r["text"].encode("utf-8"))
        for r in docs.collect()
    }
    assert worker == driver


def test_gif_rejects_non_gray_palette():
    import pytest

    payload = bytearray(build_gif(b"a" * 48))
    payload[13 + 3 * 7 + 1] ^= 0xFF  # corrupt one palette green byte
    with pytest.raises(ValueError, match="gray-identity"):
        gif_gray(bytes(payload))


@settings(max_examples=200, deadline=None)
@given(data=st.binary(max_size=2000))
def test_lzw_roundtrip_property(data):
    """Property fence: encode/decode is the identity for ARBITRARY
    byte strings — hypothesis explores run/alternation/length shapes
    the fixed cases don't."""
    assert _lzw_decode(_lzw_encode(data, 8), 8) == data


@settings(max_examples=50, deadline=None)
@given(
    body=st.binary(min_size=BMP_WIDTH, max_size=1200),
)
def test_gif_container_roundtrip_property(body):
    """Full-container property: any byte grid survives the
    GIF-encode/decode round trip with the grid contract applied."""
    w, h, gray = gif_gray(build_gif(body))
    assert (w, h) == (BMP_WIDTH, len(body) // BMP_WIDTH)
    assert gray == body[: BMP_WIDTH * (len(body) // BMP_WIDTH)]
