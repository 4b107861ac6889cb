"""Baseline-JPEG codec (kernels/jpeg.py): encode->decode round-trips
within quantization error, real libjpeg-produced file decodes
(the reference's own rendered output, test_result/t1.jpg), error
paths, and the mixed-codec Spark ingest."""

import os

import numpy as np
import pytest

from ocr_pytorch_spark.kernels.jpeg import (JpegError, decode_jpeg,
                                            encode_jpeg)

ASSETS = os.path.join(os.path.dirname(__file__), "assets")


def _smooth_img(h, w, seed=0):
    yy, xx = np.mgrid[0:h, 0:w]
    r = (np.sin(xx / 9 + seed) + 1) * 120
    g = (np.cos(yy / 7 + seed) + 1) * 120
    b = ((xx + yy) % 256) * 0.4 + 70
    return np.stack([r, g, b], axis=2).astype(np.uint8)


@pytest.mark.parametrize("h,w", [(64, 96), (17, 23), (8, 8), (1, 1),
                                 (33, 8)])
def test_roundtrip_dims_and_error(h, w):
    """Round-trip preserves dimensions (incl. non-multiple-of-8) and
    stays within quantization error on smooth content."""
    img = _smooth_img(h, w)
    dec = decode_jpeg(encode_jpeg(img, quality=90))
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int)).mean()
    assert err < 3.0, f"mean abs err {err}"


def test_quality_monotone():
    img = _smooth_img(48, 64, seed=2)
    e95 = np.abs(decode_jpeg(encode_jpeg(img, 95)).astype(int)
                 - img.astype(int)).mean()
    e30 = np.abs(decode_jpeg(encode_jpeg(img, 30)).astype(int)
                 - img.astype(int)).mean()
    assert e95 <= e30
    assert len(encode_jpeg(img, 30)) < len(encode_jpeg(img, 95))


def test_flat_image_exact():
    """A flat color survives quantization exactly (DC only)."""
    img = np.full((16, 24, 3), 128, np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(img, 85)), img)


def test_decode_reference_t1_jpg():
    """The reference's own rendered output (test_result/t1.jpg,
    libjpeg-produced baseline 4:2:0) decodes: correct dims, plausible
    receipt statistics (bright paper, dark ink), and the blue
    (0,0,255)-ish quad outlines cv2.line drew are present."""
    with open(os.path.join(ASSETS, "ref_t1.jpg"), "rb") as f:
        img = decode_jpeg(f.read())
    assert img.shape == (970, 616, 3)
    assert img.mean() > 150  # mostly white paper
    assert img.std() > 30    # with structure
    # blue outline pixels: B dominates R and G by a wide margin
    # (JPEG loss pulls pure (0,0,255) toward ~(35,42,142))
    dom = img[..., 2].astype(int) \
        - img[..., :2].astype(int).max(axis=2)
    assert (dom > 80).sum() > 5000, \
        f"only {(dom > 80).sum()} blue outline pixels"


def test_not_a_jpeg_rejected():
    with pytest.raises(JpegError):
        decode_jpeg(b"\x89PNG\r\n\x1a\nnot a jpeg")


def test_truncated_entropy_rejected():
    enc = encode_jpeg(_smooth_img(32, 32))
    with pytest.raises(JpegError):
        decode_jpeg(enc[:len(enc) // 2])


def test_progressive_rejected():
    """A SOF2 (progressive) header is rejected loudly, not mis-decoded."""
    enc = bytearray(encode_jpeg(_smooth_img(16, 16)))
    i = enc.find(b"\xff\xc0")
    enc[i + 1] = 0xC2
    with pytest.raises(JpegError, match="profile"):
        decode_jpeg(bytes(enc))


def test_decode_image_dispatch():
    from ocr_pytorch_spark.kernels import decode_image
    from ocr_pytorch_spark.kernels.png import encode_png

    img = _smooth_img(24, 32)
    assert np.array_equal(decode_image(encode_png(img)), img)
    assert decode_image(encode_jpeg(img)).shape == img.shape
    with pytest.raises(ValueError, match="codec"):
        decode_image(b"GIF89a....")


def test_spark_mixed_codec_ingest(spark):
    """read_image_dir + decode over a dir holding one PNG and one JPEG
    (the checked-in reference files) -> two decoded raw-RGB rows."""
    from ocr_pytorch_spark.sources import png as PNG

    raw = PNG.read_image_dir(spark, ASSETS)
    rows = {r["media_ref"]: r
            for r in PNG.decode_png_images(raw).collect()}
    assert set(rows) == {"ref_t1.png", "ref_t1.jpg"}
    assert (rows["ref_t1.png"]["height"],
            rows["ref_t1.png"]["width"]) == (469, 609)
    assert (rows["ref_t1.jpg"]["height"],
            rows["ref_t1.jpg"]["width"]) == (970, 616)
    assert all(r["channels"] == 3 for r in rows.values())
