"""Multimodal plumbing tests: schema/batch-shape contracts of the
mapInPandas stages (decode stub, resize, frame sampling)."""

import pytest

from datafusion_geo_spark.operators import multimodal
from datafusion_geo_spark.operators.multimodal import (decode_features,
                                                       resize_images,
                                                       sample_frames,
                                                       to_media)


@pytest.fixture(scope="module")
def media(spark):
    df = spark.createDataFrame(
        [(1, "a" * 300), (2, "xy"), (3, "b" * 128)], "doc_id long, text string")
    return to_media(df)


def test_resize_fixed_payload_size(spark, media):
    out = resize_images(media, width=4, height=4).collect()
    assert {r.doc_id for r in out} == {1, 2, 3}
    for r in out:
        assert len(r.payload) == 16
        assert (r.width, r.height) == (4, 4)


def test_real_and_stub_paths_agree_on_non_images(spark, media):
    """The environment-adaptive decode contract: on payloads that are
    not decodable images (all fixture payloads), the auto path — real
    PIL decode when Pillow is importable, stub otherwise — must equal
    the forced-stub path on EVERY column, including the sentinels."""
    stub = sorted(decode_features(media, real_decode=False).collect())
    auto = sorted(decode_features(media).collect())
    assert auto == stub
    for r in stub:
        assert (r.decoded, r.width, r.height) == (False, -1, -1)
    rs_stub = sorted(resize_images(media, real_decode=False).collect())
    rs_auto = sorted(resize_images(media).collect())
    assert rs_auto == rs_stub


def test_real_decode_requires_pillow(spark, media):
    if multimodal._HAS_PIL:
        pytest.skip("Pillow importable here: the forced-real path is "
                    "exercised by test_real_decode_on_actual_image")
    with pytest.raises(ImportError):
        resize_images(media, real_decode=True)
    with pytest.raises(ImportError):
        decode_features(media, real_decode=True)


@pytest.mark.skipif(not multimodal._HAS_PIL, reason="Pillow not importable")
def test_real_decode_on_actual_image(spark):
    """When Pillow IS present: an actual PNG payload decodes for real —
    dimensions extracted, resize re-encoded — while byte-metadata
    columns still match the stub computation on the same bytes."""
    import io

    from PIL import Image
    buf = io.BytesIO()
    Image.new("RGB", (8, 5)).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame([(1, bytearray(png), "image/png", len(png))],
                               multimodal.MEDIA_SCHEMA)
    row = decode_features(df, real_decode=True).collect()[0]
    assert (row.decoded, row.width, row.height) == (True, 8, 5)
    stub = multimodal._decode_stub(png)
    assert (row.n_bytes, row.checksum, row.head_byte) == (
        stub["n_bytes"], stub["checksum"], stub["head_byte"])
    out = resize_images(df, width=4, height=3, real_decode=True).collect()[0]
    with Image.open(io.BytesIO(bytes(out.payload))) as im:
        assert (im.width, im.height) == (4, 3)


def test_sample_frames_explosion(spark, media):
    rows = sample_frames(media, frame_size=64, stride=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 300 bytes, step 128 -> offsets 0, 128, 256 -> 3 frames
    assert len(by_doc[1]) == 3
    assert [r.byte_offset for r in sorted(by_doc[1], key=lambda r: r.frame_idx)] \
        == [0, 128, 256]
    assert len(by_doc[1][0].frame) == 64
    # last frame is the 300-256=44-byte tail
    assert len(sorted(by_doc[1], key=lambda r: r.frame_idx)[-1].frame) == 44
    # 2-byte doc -> single short frame
    assert len(by_doc[2]) == 1 and len(by_doc[2][0].frame) == 2
