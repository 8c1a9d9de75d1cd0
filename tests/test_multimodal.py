"""Multimodal plumbing: the Arrow mapInPandas feature extractor must
agree with a pure-Python recompute of the same payloads, and the
decode dispatch must route real containers to real stdlib codecs
(wave, zlib) and everything else to the deterministic stand-in."""

from __future__ import annotations

import hashlib
import wave
import zlib

from etl_spark.operators.media import (
    build_wav,
    decode_payload,
    extract_features,
    sniff_mime,
    with_payload,
)
from etl_spark.io import load
from tests.conftest import SF_DIR


def test_decode_dispatch_wav_is_a_real_wave_parse():
    pcm = bytes(range(256)) * 3
    payload = build_wav(pcm)
    assert sniff_mime(payload) == "audio/wav"
    out = decode_payload(payload)
    # Ground truth straight from the stdlib codec, independently.
    import io

    with wave.open(io.BytesIO(payload), "rb") as w:
        assert out["n_channels"] == w.getnchannels() == 1
        assert out["sample_rate"] == w.getframerate() == 8000
        assert out["n_samples"] == w.getnframes() == len(pcm)
    assert out["pcm_md5"] == hashlib.md5(pcm).hexdigest()
    assert out["mean_sample"] == sum(pcm) / len(pcm)


def test_decode_dispatch_zlib_inflates():
    raw = b"the quick brown fox " * 50
    out = decode_payload(zlib.compress(raw))
    assert out["mime"] == "application/zlib"
    assert out["decoded_bytes"] == len(raw)
    assert out["decoded_md5"] == hashlib.md5(raw).hexdigest()


def test_decode_dispatch_zlib_small_window_streams():
    # zlib streams written with wbits < 15 carry a CMF byte other than
    # 0x78 (e.g. 0x48 for a 4K window); they are valid zlib and must
    # dispatch to the real inflate, not fall through to the stand-in.
    raw = b"small-window zlib payload " * 40
    for wbits in (9, 11, 13, 15):
        comp = zlib.compressobj(wbits=wbits)
        payload = comp.compress(raw) + comp.flush()
        assert payload[0] != 0x78 or wbits == 15  # CMF varies by window
        assert sniff_mime(payload) == "application/zlib", hex(payload[0])
        out = decode_payload(payload)
        assert out["mime"] == "application/zlib"
        assert out["decoded_md5"] == hashlib.md5(raw).hexdigest()


def test_decode_dispatch_unknown_falls_back_to_standin():
    payload = b"\x89PNG\r\n\x1a\x08 no png codec in the stdlib"
    out = decode_payload(payload)
    assert out["mime"] == "application/octet-stream"
    assert out["n_bytes"] == len(payload)
    assert out["frame_signature"] == hashlib.md5(payload[::64]).hexdigest()


def test_decode_dispatch_zlib_false_positive_falls_back():
    # 'x^' passes the 2-byte zlib header check ((0x78<<8|0x5e) % 31 == 0)
    # but is plain text — the branch must verify by inflating and fall
    # back instead of crashing the task.
    payload = b"x^ plain ascii that happens to look like a zlib header"
    assert sniff_mime(payload) == "application/zlib"
    out = decode_payload(payload)
    assert out["mime"] == "application/octet-stream"
    assert out["n_bytes"] == len(payload)


def test_decode_audio_stage_matches_driver_side_decode(spark):
    # Parity between the worker stage (decode_audio) and the
    # driver-side decode_payload dispatch.
    from etl_spark.operators.media import decode_audio, with_wav_payload

    docs = load(spark, SF_DIR, "documents").limit(30)
    source = {r["doc_id"]: r["text"] for r in docs.collect()}
    rows = {r["doc_id"]: r for r in decode_audio(with_wav_payload(docs)).collect()}
    assert set(rows) == set(source)
    for doc_id, text in source.items():
        expect = decode_payload(build_wav(text.encode("utf-8")))
        got = rows[doc_id]
        for field in (
            "mime", "n_channels", "sample_rate", "n_samples",
            "mean_sample", "pcm_md5",
        ):
            assert got[field] == expect[field], (doc_id, field)


def test_decode_deflate_stage_matches_driver_side_decode(spark):
    from etl_spark.operators.media import decode_deflate, with_deflate_payload

    docs = load(spark, SF_DIR, "documents").limit(30)
    source = {r["doc_id"]: r["text"] for r in docs.collect()}
    rows = {
        r["doc_id"]: r
        for r in decode_deflate(with_deflate_payload(docs)).collect()
    }
    assert set(rows) == set(source)
    for doc_id, text in source.items():
        expect = decode_payload(zlib.compress(text.encode("utf-8")))
        got = rows[doc_id]
        for field in ("mime", "decoded_bytes", "decoded_md5"):
            assert got[field] == expect[field], (doc_id, field)


def test_extract_features_matches_python_recompute(spark):
    docs = load(spark, SF_DIR, "documents").limit(50)
    feats = {r["doc_id"]: r for r in extract_features(with_payload(docs)).collect()}
    source = {r["doc_id"]: r["text"] for r in docs.collect()}

    assert set(feats) == set(source)
    for doc_id, text in source.items():
        payload = text.encode("utf-8")
        row = feats[doc_id]
        assert row["n_bytes"] == len(payload)
        assert row["n_frames"] == len(payload) // 256 + 1
        assert row["frame_signature"] == hashlib.md5(payload[::64]).hexdigest()
        assert row["mean_byte"] == sum(payload) / len(payload)


def test_payload_metadata_struct(spark):
    docs = with_payload(load(spark, SF_DIR, "documents").limit(5))
    row = docs.select("meta", "payload").first()
    assert row["meta"]["mime"] == "text/plain"
    assert row["meta"]["n_bytes"] == len(row["payload"])


def test_sample_frames_matches_python_recompute(spark):
    from etl_spark.operators.media import (
        FRAME_BYTES,
        FRAME_SAMPLE_EVERY,
        sample_frames,
    )

    docs = load(spark, SF_DIR, "documents").limit(20)
    source = {r["doc_id"]: r["text"].encode("utf-8") for r in docs.collect()}
    got = {}
    for r in sample_frames(with_payload(docs)).collect():
        got[(r["doc_id"], r["frame_idx"])] = (r["frame_bytes"], r["frame_md5"])

    expected = {}
    for doc_id, payload in source.items():
        n_frames = len(payload) // FRAME_BYTES + 1
        for idx in range(0, n_frames, FRAME_SAMPLE_EVERY):
            frame = payload[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]
            expected[(doc_id, idx)] = (len(frame), hashlib.md5(frame).hexdigest())
    assert got == expected


def test_sample_frames_is_one_to_many_on_long_payloads(spark):
    from etl_spark.operators.media import (
        FRAME_BYTES,
        FRAME_SAMPLE_EVERY,
        sample_frames,
    )

    # sf0.001 documents are all shorter than one frame; the 1:N output
    # shape needs payloads spanning several frames.
    docs = spark.createDataFrame(
        [(i, "x" * (FRAME_BYTES * 4 + 10), "en") for i in range(3)],
        ["doc_id", "text", "lang"],
    )
    rows = sample_frames(with_payload(docs)).collect()
    # 5 frames per doc (4 full + tail), every 2nd sampled → 3 rows/doc.
    assert len(rows) == 3 * 3
    assert {r["frame_idx"] for r in rows} == set(
        range(0, 5, FRAME_SAMPLE_EVERY)
    )


def test_resize_payload_matches_python_recompute(spark):
    from etl_spark.operators.media import RESIZE_TARGET_BYTES, resize_payload

    docs = load(spark, SF_DIR, "documents").limit(20)
    source = {r["doc_id"]: r["text"].encode("utf-8") for r in docs.collect()}
    rows = {r["doc_id"]: r for r in resize_payload(with_payload(docs)).collect()}

    assert set(rows) == set(source)
    for doc_id, payload in source.items():
        r = rows[doc_id]
        resized = payload[:RESIZE_TARGET_BYTES].ljust(RESIZE_TARGET_BYTES, b"\x00")
        assert r["orig_bytes"] == len(payload)
        assert r["new_bytes"] == RESIZE_TARGET_BYTES
        assert r["resized_md5"] == hashlib.md5(resized).hexdigest()


def test_pcm_mean_decodes_samples_not_bytes():
    # 16-bit PCM: the mean must be over decoded signed samples, not
    # the interleaved little-endian bytes (whose mean is ~127.5-ish
    # noise for any signal). Ground truth built sample-by-sample.
    import struct

    from etl_spark.operators.media import pcm_mean

    samples = [-32768, -1, 0, 1, 32767, 12345, -12345, 100]
    pcm16 = struct.pack(f"<{len(samples)}h", *samples)
    assert pcm_mean(pcm16, 2) == sum(samples) / len(samples)
    byte_mean = sum(pcm16) / len(pcm16)
    assert pcm_mean(pcm16, 2) != byte_mean
    # 32-bit and 24-bit paths.
    pcm32 = struct.pack(f"<{len(samples)}i", *samples)
    assert pcm_mean(pcm32, 4) == sum(samples) / len(samples)
    vals24 = [-(2**23), 2**23 - 1, 0, 77]
    pcm24 = b"".join(v.to_bytes(3, "little", signed=True) for v in vals24)
    assert pcm_mean(pcm24, 3) == sum(vals24) / len(vals24)
    # 8-bit stays the (unsigned) byte mean — the fixture contract.
    pcm8 = bytes([0, 1, 254, 255])
    assert pcm_mean(pcm8, 1) == sum(pcm8) / len(pcm8)
    assert pcm_mean(b"", 2) == 0.0


def test_decode_payload_16bit_wav_mean_is_sample_mean():
    import io
    import struct
    import wave

    from etl_spark.operators.media import decode_payload

    samples = [1000, -1000, 500, -500, 0, 32767]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    out = decode_payload(buf.getvalue())
    assert out["sample_width"] == 2
    assert out["mean_sample"] == sum(samples) / len(samples)
