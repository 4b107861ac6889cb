"""Pipeline constants mirroring the reference's semantics.

Every constant cites where the reference pins it (file:line in the
reference repo).  ``PipelineConfig`` carries the one scale parameter, the
detect height: the default reproduces the reference, and the ``fixture()``
profile shrinks it so the full VGG16 forward is tractable on synthetic
CI-scale images (the *semantics* — resize to a fixed height, stride-16
anchors, thresholds — are unchanged; oracle and Spark pipeline always share
one config, so parity is exact).
"""

from __future__ import annotations

from dataclasses import dataclass

# --- detection (reference: detect/config.py, detect/ctpn_predict.py) ---

# BGR channel means subtracted before CTPN (detect/config.py:32).
IMAGE_MEAN = (123.68, 116.779, 103.939)

# Foreground probability gate (detect/ctpn_predict.py:19).
PROB_THRESH = 0.5

# Target resize height before detection (detect/ctpn_predict.py:20).
DETECT_HEIGHT = 720

# NMS IoU threshold (detect/ctpn_predict.py:69).
NMS_THRESH = 0.3

# Minimum proposal box side in px (detect/ctpn_predict.py:62).
MIN_BOX_SIZE = 16

# Anchor geometry (detect/ctpn_utils.py:44-76).
ANCHOR_SCALE = 16
ANCHOR_HEIGHTS = (11, 16, 23, 33, 48, 68, 97, 139, 198, 283)

# Text-line connector thresholds — NOTE: the inference path reads ONLY these
# three of TextLineCfg (detect/ctpn_utils.py:297,309,337-338); the others
# (MIN_NUM_PROPOSALS, LINE_MIN_SCORE, ...) are dead config and intentionally
# not applied (SURVEY.md §7.4).
MAX_HORIZONTAL_GAP = 60
MIN_V_OVERLAPS = 0.6
MIN_SIZE_SIM = 0.6

# Post-connector horizontal expansion in px, always applied: the reference's
# get_det_boxes(expand=True) default (detect/ctpn_predict.py:38,79-84).
EXPAND_X = 10

# --- recognition (reference: recognize/config.py, crnn_recognizer.py) ---

# CRNN input height (recognize/config.py: imgH = 32).
CRNN_IMG_H = 32

# BiLSTM hidden size (recognize/config.py: nh = 256).
CRNN_HIDDEN = 256


@dataclass(frozen=True)
class PipelineConfig:
    """The scale parameter shared by the oracle and the Spark pipeline."""

    detect_height: int = DETECT_HEIGHT
    # NOTE: Arrow batch size (images per pandas batch in the OCR UDF) is
    # a session-level knob: spark.sql.execution.arrow.maxRecordsPerBatch
    # (set in sources/session.py), not a per-pipeline field.

    @staticmethod
    def reference() -> "PipelineConfig":
        return PipelineConfig()

    @staticmethod
    def fixture() -> "PipelineConfig":
        """CI/bench profile: small detect height keeps the full-shape VGG16
        NumPy forward ~100x cheaper per image while exercising every stage."""
        return PipelineConfig(detect_height=48)
