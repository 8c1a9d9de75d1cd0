"""Worker stages of operators/media.py run where ``etl_spark`` is not
importable: the driver runs in a fresh process from a foreign cwd with
the repo on its own ``sys.path`` only, so Python workers can reach the
module's codecs only through by-value pickling. Every stage's result
is checked against the driver-side codecs."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]

_DRIVER = r"""
import sys
import zlib

sys.path.insert(0, sys.argv[1])

import numpy as np
from pyspark.sql import SparkSession

from etl_spark.operators import media as m

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "1")
    .getOrCreate()
)
texts = [
    (i, ("worker %d has no etl_spark on its path. " % i) * (i + 3))
    for i in range(4)
]
grids = {i: t.encode() for i, t in texts}
docs = spark.createDataFrame(texts, "doc_id bigint, text string")


def rows(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


def payloads(encode):
    return spark.createDataFrame(
        [(i, encode(g)) for i, g in grids.items()], "doc_id bigint, payload binary"
    )


def pixels(g):
    h = len(g) // m.BMP_WIDTH
    return np.frombuffer(g[: h * m.BMP_WIDTH], np.uint8).reshape(h, m.BMP_WIDTH)


for builder, encode in (
    (m.with_bmp_payload, m.build_bmp),
    (m.with_png_payload, m.build_png),
    (m.with_gif_payload, m.build_gif),
):
    built = {i: bytes(r["payload"]) for i, r in rows(builder(docs)).items()}
    assert built == {i: encode(g) for i, g in grids.items()}, encode.__name__
    got = rows(m.decode_image(payloads(encode)))
    for i, g in grids.items():
        want = m.decode_raster(encode(g))
        assert {k: got[i][k] for k in want} == want, (encode.__name__, i)
    got = rows(m.perceptual_hash(payloads(encode), pixel_decode=True))
    for i, g in grids.items():
        want = m._phash(pixels(g).reshape(-1).astype(np.int64))
        assert got[i]["phash"] == want, (encode.__name__, i)

for encode in (m.build_bmp, m.build_png):
    got = rows(m.thumbnail_features(payloads(encode)))
    for i, g in grids.items():
        p = pixels(g).astype(np.int64)
        h2, w2 = p.shape[0] // 2, p.shape[1] // 2
        p = p[: 2 * h2, : 2 * w2]
        ds = ((p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) // 4).ravel()
        assert (got[i]["out_w"], got[i]["out_h"]) == (w2, h2)
        assert got[i]["luma_sum"] == int(ds.sum())
        assert got[i]["luma_wsum"] == int((np.arange(1, ds.size + 1) * ds).sum())

wavs = {i: bytes(r["payload"]) for i, r in rows(m.with_wav_payload(docs)).items()}
assert wavs == {i: m.build_wav(g) for i, g in grids.items()}
got = rows(m.decode_audio(payloads(m.build_wav)))
for i, g in grids.items():
    want = m.decode_payload(m.build_wav(g))
    fields = [k for k in got[i] if k != "doc_id"]
    assert {k: got[i][k] for k in fields} == {k: want[k] for k in fields}, i

got = rows(m.decode_deflate(m.with_deflate_payload(docs)))
for i, g in grids.items():
    want = m.decode_payload(zlib.compress(g))
    assert want["mime"] == "application/zlib"
    assert {k: got[i][k] for k in want} == want, i

frames = m.frame_audio_energy(payloads(m.build_wav)).collect()
corr = rows(m.audio_autocorr(payloads(m.build_wav)))
for i, g in grids.items():
    s = np.frombuffer(g, np.uint8).astype(np.int64) - 128
    mine = sorted((r for r in frames if r["doc_id"] == i), key=lambda r: r["frame_idx"])
    assert len(mine) == -(-len(s) // m.AUDIO_FRAME)
    assert [r["frame_sum"] for r in mine] == [
        int(s[k : k + m.AUDIO_FRAME].sum()) for k in range(0, len(s), m.AUDIO_FRAME)
    ]
    assert sum(r["frame_sq"] for r in mine) == int(s @ s)
    assert corr[i]["n_samples"] == len(s)
    assert corr[i]["r0"] == int(s @ s)
    for lag in m.AUTOCORR_LAGS:
        assert corr[i][f"r{lag}"] == int(s[:-lag] @ s[lag:]), (i, lag)

spark.stop()
print("ALL STAGES OK")
"""


def test_worker_stages_need_no_etl_spark_import(tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and pathlib.Path(p).resolve() != REPO
    )
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, str(REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "ALL STAGES OK" in proc.stdout
