"""Pin of the JPEG encoders' output bytes: the sha256 of every public
encoder's output over a seeded input set, in the style of
test_contract_surface.py. No JVM.

The inputs are the smooth fixture images plus seeded noise images of
1-40 px per side, with restart intervals 0-3 where the encoder takes one.
A refactor of operators/jpeg.py must leave every digest unchanged; a
changed byte anywhere in a header, a quantized coefficient or the
entropy stream moves the digest of that encoder. The digests were
recorded from the earlier BLAS-matmul codec under OpenBLAS's generic
(Prescott) kernel, whose summation order the exact DCT reproduces.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from cld2_spark.operators import jpeg as J

GRAY = ("encode_jpeg_gray", "encode_jpeg_progressive_gray",
        "encode_jpeg_progressive_sa_gray")
COLOR = ("encode_jpeg_color", "encode_jpeg_420", "encode_jpeg_422",
         "encode_jpeg_411", "encode_jpeg_progressive_color",
         "encode_jpeg_progressive_420", "encode_jpeg_progressive_422",
         "encode_jpeg_progressive_411")
TAKES_RESTART = ("encode_jpeg_gray", "encode_jpeg_color")

ENCODER_SHA256 = {
    "encode_jpeg_gray":
        "56752997091037322bd2707ab0e23acfa41ff072ca4fb5a23648d52672420d74",
    "encode_jpeg_progressive_gray":
        "2529f509588c3e5fc384baf7a668d458e7ed8aea6816ecf25c4ea795e1306fb7",
    "encode_jpeg_progressive_sa_gray":
        "51c8e58b5214b59de57107108b678f67838540ef8becbbb742d0169a6d97cb67",
    "encode_jpeg_color":
        "5571f271be105bacdbe38a7756c3a54a07b09f7d5a6708d0fa27d2132bcb9f0b",
    "encode_jpeg_420":
        "fd9e612daa9d2167cfb0bebc7addfdd714277abcffd24300784dd999f12b9d30",
    "encode_jpeg_422":
        "d2dddcb4eef4bd4694cd647768875d95f9a02231ca84823c185fd7a6996cfff0",
    "encode_jpeg_411":
        "3448e336cd97a8b099be8aeec115d6d08d7abdc80010d609f0307e853f395e0d",
    "encode_jpeg_progressive_color":
        "9f366d7b225632877dce0d6def0b769015b41a23baa413c8b46994b7c03d346f",
    "encode_jpeg_progressive_420":
        "88be020ff07b771708c6b758fffcc6d5a5ad6b6fc63b5d920f8b71ffdcc3cecd",
    "encode_jpeg_progressive_422":
        "ed144a162e81d75e5eaab808ded0f0fb0ccd4b0d64c2f986387d95431d557a2b",
    "encode_jpeg_progressive_411":
        "2e10418065e3508165f006847f512bb5fc920c6e79adbd149d7983001cabcc5c",
}


def _inputs(color: bool):
    """12 fixture images, then 12 seeded noise images of 1-40 px."""
    fixture = J.color_fixture_pixels if color else J.gray_fixture_pixels
    for mid in range(0, 120, 10):
        yield fixture(mid)
    rng = np.random.default_rng(20261019)
    for _ in range(12):
        h, w = (int(v) for v in rng.integers(1, 41, size=2))
        yield rng.integers(0, 256, size=(h, w, 3) if color else (h, w),
                           dtype=np.uint8)


def encoder_digest(name: str) -> str:
    enc = getattr(J, name)
    digest = hashlib.sha256()
    for i, px in enumerate(_inputs(name in COLOR)):
        buf = enc(px, i % 4) if name in TAKES_RESTART else enc(px)
        digest.update(len(buf).to_bytes(4, "big") + buf)
    return digest.hexdigest()


@pytest.mark.parametrize("name", GRAY + COLOR)
def test_encoder_bytes_pinned(name):
    assert encoder_digest(name) == ENCODER_SHA256[name]
