"""The six per-row media stages under a NULL payload: each stage must
return for a frame of one decodable row plus one NULL-payload row
exactly what it returns for the decodable row alone, except
decode_video_meta, which keeps every row and gives the NULL one -1s.
"""

from __future__ import annotations

import pytest

from cld2_spark.operators import gif as G
from cld2_spark.operators import jpeg as J
from cld2_spark.operators import multimodal as M


def _stages():
    return {
        "jpeg_feature_extract": (
            J.jpeg_feature_extract,
            J.encode_jpeg_gray(J.gray_fixture_pixels(3))),
        "jpeg_color_feature_extract": (
            J.jpeg_color_feature_extract,
            J.encode_jpeg_progressive_color(J.color_fixture_pixels(3))),
        "gif_frame_features": (
            G.gif_frame_features, G.encode_gif_fixture(3)),
        "video_frame_features": (
            M.video_frame_features, M.encode_mjpeg_mp4_fixture(3, 3)),
        "image_thumbnails": (
            M.image_thumbnails, M.encode_png_pixels(M.feature_pixels(3))),
        "decode_video_meta": (
            M.decode_video_meta, M.encode_mp4_fixture(320, 240, 5000)),
    }


@pytest.mark.parametrize("name", list(_stages()))
def test_null_payload_row(spark, name):
    stage, payload = _stages()[name]
    schema = "media_id long, payload binary"
    alone = spark.createDataFrame([(1, payload)], schema)
    mixed = spark.createDataFrame([(1, payload), (2, None)], schema)
    want = [tuple(r) for r in stage(alone).collect()]
    assert len(want) == 1 and want[0][0] == 1
    if name == "decode_video_meta":
        want.append((2, -1, -1, -1))
    got = sorted(tuple(r) for r in stage(mixed).collect())
    assert got == want
    assert stage(mixed).schema == stage(alone).schema
