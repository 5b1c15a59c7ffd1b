"""Pin of the media fixture encoders' output bytes: the sha256 of each
encoder's output over a seeded input set, in the style of
test_jpeg_encoder_pin.py. No JVM.

Covers the PNG, WAV, MP4, MJPEG-in-MP4 and GIF writers of
operators/multimodal.py and operators/gif.py. A refactor of their chunk
and box writers must leave every digest unchanged; a changed byte in a
header, a CRC, a chunk size or a payload moves the digest of that
encoder.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from cld2_spark.operators import gif as G
from cld2_spark.operators import multimodal as M

ENCODER_SHA256 = {
    "encode_png_pixels":
        "2cd5e6c8e35ea4b52865db354401c2e1a6bf5b069b03b70ef383b39fe352d1bc",
    "encode_image_fixture":
        "0ff676f0d5dae9ccf84e7e3f772c1f13db69694a5b489f4e100e3c908f84c8b0",
    "encode_wav_fixture":
        "24d1a88dde2756d1bcfd6c818ec95d6eccec0071b04b12954796c08f51e56734",
    "encode_wav_pcm_fixture":
        "a1653701d7a82df6ac7dd9c6cbe3ff745d947dc6b8315cea46cb6bc192fc3e75",
    "encode_mp4_fixture":
        "e015f2e298200246fba6993b7856d8e90683fcb281d348c09acc2a3eccd99a06",
    "encode_mjpeg_mp4_fixture":
        "77f86c86a9d1cb106c03445cdc81e1ce49f5916ada17646322f18123fc0cbb08",
    "encode_gif_fixture":
        "2aa343019be8f89e208ccbffc5d98dbe399a2b4561a5ce5a565250214b154a87",
}


def _png_pixels():
    """Every filter type 0-4 over gray, RGB and RGBA: the feature
    fixture image, then three seeded noise images of 1-24 px per side."""
    rng = np.random.default_rng(20261019)
    for ft in range(5):
        for ch in (1, 3, 4):
            imgs = [M.feature_pixels(7 * ft + ch)]
            for _ in range(3):
                h, w = (int(v) for v in rng.integers(1, 25, size=2))
                imgs.append(rng.integers(0, 256, size=(h, w, 3),
                                         dtype=np.uint8))
            for px in imgs:
                px = px[:, :, 0] if ch == 1 else px
                if ch == 4:
                    alpha = (px[:, :, :1].astype(np.int64) * 3 + 11) % 256
                    px = np.concatenate([px, alpha.astype(np.uint8)], axis=2)
                yield M.encode_png_pixels(px, ft)


def _outputs(name: str):
    if name == "encode_png_pixels":
        yield from _png_pixels()
    elif name == "encode_image_fixture":
        for i in range(24):
            for fmt in ("png", "gif", "jpeg"):
                yield M.encode_image_fixture(i, 1 + i * 37 % 2000,
                                             1 + i * 53 % 1500, fmt)
    elif name == "encode_wav_fixture":
        for i in range(24):
            yield M.encode_wav_fixture((8000, 16000, 22050, 44100)[i % 4],
                                       1 + i % 2, i * 13 % 97,
                                       (8, 16, 24)[i % 3])
    elif name == "encode_wav_pcm_fixture":
        for i in range(60):
            yield M.encode_wav_pcm_fixture(i, (8000, 16000, 22050)[i % 3])
    elif name == "encode_mp4_fixture":
        for i in range(24):
            yield M.encode_mp4_fixture(16 + i * 40, 9 + i * 30, i * 250,
                                       (1000, 90000, 600)[i % 3])
    elif name == "encode_mjpeg_mp4_fixture":
        for i in range(12):
            yield M.encode_mjpeg_mp4_fixture(i, 1 + i % 5)
    elif name == "encode_gif_fixture":
        for seed in range(30):
            yield G.encode_gif_fixture(seed)


def encoder_digest(name: str) -> str:
    digest = hashlib.sha256()
    for buf in _outputs(name):
        digest.update(len(buf).to_bytes(4, "big") + buf)
    return digest.hexdigest()


@pytest.mark.parametrize("name", sorted(ENCODER_SHA256))
def test_media_encoder_bytes_pinned(name):
    assert encoder_digest(name) == ENCODER_SHA256[name]
