"""Single-process reference-faithful oracle.

This is the correctness ground truth for the Spark pipeline (SURVEY.md
§5.2 Layer 2): a direct transcription of the reference call graph —
``ocr.py:73-78`` (detect -> sort_box -> charRec) with the crop geometry,
degenerate filters, dict-insertion-order semantics of ``ocr.py:39-71`` —
running the same NumPy kernels the Spark UDFs use, so span-sequence
equality is exact, not approximate.
"""

from __future__ import annotations

import math

import numpy as np

from ocr_pytorch_spark.config import PipelineConfig
from ocr_pytorch_spark.kernels import rotate_crop
from ocr_pytorch_spark.models.crnn import recognize
from ocr_pytorch_spark.models.ctpn import get_det_boxes


def sort_box(boxes: np.ndarray) -> np.ndarray:
    """Reading order: ascending y1+y2+y3+y4 (ocr.py:12-17).  Python
    ``sorted`` is stable, as is ``np.argsort(kind='stable')``."""
    if len(boxes) == 0:
        return boxes
    key = boxes[:, 1] + boxes[:, 3] + boxes[:, 5] + boxes[:, 7]
    return boxes[np.argsort(key, kind="stable")]


def char_rec(img: np.ndarray, text_recs: np.ndarray,
             weights_crnn: dict) -> list[tuple[int, str]]:
    """Per-quad rotate-crop + recognition; returns surviving
    (sorted_box_index, transcript) pairs in insertion order — gaps where
    boxes were filtered (ocr.py:39-71).  The reference's ``adjust``
    widening is off at its only call site (ocr.py:77), so it is not
    applied."""
    results: list[tuple[int, str]] = []
    x_dim, y_dim = img.shape[1], img.shape[0]
    for index, rec in enumerate(text_recs):
        pt1 = (max(1, rec[0]), max(1, rec[1]))
        pt2 = (rec[2], rec[3])
        pt3 = (min(rec[6], x_dim - 2), min(y_dim - 2, rec[7]))
        degree = math.degrees(math.atan2(pt2[1] - pt1[1], pt2[0] - pt1[0]))
        part = rotate_crop(img, degree, pt1, pt3)
        if part.shape[0] < 1 or part.shape[1] < 1 \
                or part.shape[0] > part.shape[1]:
            continue  # degenerate / portrait filter (ocr.py:64-65)
        text = recognize(part, weights_crnn)
        if len(text) > 0:
            results.append((index, text))
    return results


def ocr_image(image: np.ndarray, weights_ctpn: dict, weights_crnn: dict,
              cfg: PipelineConfig) -> list[tuple[int, str]]:
    """Full per-image OCR: ordered (box_order, transcript) pairs
    (ocr.py:73-78)."""
    text_recs, resized = get_det_boxes(image, weights_ctpn, cfg)
    text_recs = sort_box(text_recs)
    return char_rec(resized, text_recs, weights_crnn)


def extract_document(doc: dict, image_for_ref, weights_ctpn: dict,
                     weights_crnn: dict, cfg: PipelineConfig,
                     ocr_for_ref=None) -> dict:
    """Per-document span extraction: text spans pass through untouched;
    each media span is replaced by its OCR'd text spans (sort_box order,
    surviving boxes only); output offsets renumbered 0..n-1 in
    (source offset, box order) order.  Media spans whose image yields no
    transcript contribute nothing.  OCR'd spans carry the source
    media_ref for provenance.

    ``ocr_for_ref`` optionally supplies pre-computed per-ref
    (box_order, transcript) pairs so shared media refs are OCR'd once
    (the parity query's use); assembly semantics are identical."""
    out_spans = []
    for span in doc["spans"]:
        if span["kind"] == "text":
            out_spans.append(("text", span["text"], None))
        else:
            if ocr_for_ref is not None:
                pairs = ocr_for_ref(span["media_ref"])
            else:
                img = image_for_ref(span["media_ref"])
                pairs = ocr_image(img, weights_ctpn, weights_crnn, cfg)
            for _, text in pairs:
                out_spans.append(("text", text, span["media_ref"]))
    return {
        "doc_id": doc["doc_id"],
        "spans": [{"kind": k, "text": t, "media_ref": m, "offset": i}
                  for i, (k, t, m) in enumerate(out_spans)],
    }
