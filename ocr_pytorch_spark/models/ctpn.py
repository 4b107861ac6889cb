"""CTPN text detection: VGG16 + BiGRU forward and proposal post-processing.

Reproduces, in deterministic NumPy:
* model forward — detect/ctpn_model.py:89-128 (VGG16 ``features[:-1]``,
  rpn 3x3 conv, width-wise BiGRU, 1x1 lstm_fc, twin 1x1 heads reshaped to
  ``(1, H*W*10, 2)`` in ``h,w,k`` anchor order);
* anchors / decode / clip / size filter — detect/ctpn_utils.py:44-76,
  129-150, 153-163, 166-170;
* greedy NMS — detect/ctpn_utils.py:229-255;
* graph-based proposal connection into quads —
  detect/ctpn_utils.py:259-272, 289-362, 365-466;
* the driving sequence incl. the 0.5 prob gate, int32 cast, and the x±10
  expansion — detect/ctpn_predict.py:38-86.

NOTE (SURVEY.md §7.4): only MAX_HORIZONTAL_GAP / MIN_V_OVERLAPS /
MIN_SIZE_SIM of TextLineCfg are live in the inference path; the other
TextLineCfg knobs are dead config and intentionally not applied.
"""

from __future__ import annotations

import numpy as np

from ocr_pytorch_spark import config as C
from ocr_pytorch_spark.kernels import (
    bigru, conv2d, maxpool2d, resize_area, softmax,
)

# torchvision vgg16 features[:-1] conv layer indices and channel plan
# (detect/ctpn_model.py:92-94).
_VGG_LAYERS = (
    (0, 3, 64), (2, 64, 64), ("pool",),
    (5, 64, 128), (7, 128, 128), ("pool",),
    (10, 128, 256), (12, 256, 256), (14, 256, 256), ("pool",),
    (17, 256, 512), (19, 512, 512), (21, 512, 512), ("pool",),
    (24, 512, 512), (26, 512, 512), (28, 512, 512),
)


def ctpn_forward(x: np.ndarray, w: dict):
    """x: (1,3,H,W) float32 mean-subtracted -> (cls, regr) each (1,N,2),
    N = (H/16)*(W/16)*10 in h,w,k order (detect/ctpn_model.py:101-128)."""
    for layer in _VGG_LAYERS:
        if layer[0] == "pool":
            x = maxpool2d(x, 2, 2)
        else:
            idx = layer[0]
            x = conv2d(x, w[f"base_layers.{idx}.weight"],
                       w[f"base_layers.{idx}.bias"], 1, 1, relu=True)
    x = conv2d(x, w["rpn.conv.weight"], w["rpn.conv.bias"], 1, 1,
               relu=True)

    b, c, h, wd = x.shape
    x1 = x.transpose(0, 2, 3, 1).reshape(b * h, wd, c)  # rows as batch
    x2 = bigru(x1, w, "brnn")  # (b*h, w, 256)
    x3 = x2.reshape(b, h, wd, 256).transpose(0, 3, 1, 2)
    x3 = conv2d(x3, w["lstm_fc.conv.weight"], w["lstm_fc.conv.bias"],
                relu=True)

    cls = conv2d(x3, w["rpn_class.conv.weight"], w["rpn_class.conv.bias"])
    regr = conv2d(x3, w["rpn_regress.conv.weight"],
                  w["rpn_regress.conv.bias"])
    cls = cls.transpose(0, 2, 3, 1).reshape(b, h * wd * 10, 2)
    regr = regr.transpose(0, 2, 3, 1).reshape(b, h * wd * 10, 2)
    return cls, regr


def gen_anchor(featuresize: tuple[int, int], scale: int) -> np.ndarray:
    """Stride-16 anchor grid, 10 heights x width 16, h,w,k order
    (detect/ctpn_utils.py:44-76 — double loop vectorized)."""
    heights = np.array(C.ANCHOR_HEIGHTS, dtype=np.float64).reshape(-1, 1)
    widths = np.full_like(heights, 16.0)
    xt = yt = 7.5  # center of the 0..15 base anchor
    base = np.hstack([xt - widths * 0.5, yt - heights * 0.5,
                      xt + widths * 0.5, yt + heights * 0.5])  # (10,4)
    h, w = featuresize
    shift_x = np.arange(0, w) * scale
    shift_y = np.arange(0, h) * scale
    sx, sy = np.meshgrid(shift_x, shift_y)  # (h,w)
    shifts = np.stack([sx, sy, sx, sy], axis=-1).reshape(h * w, 1, 4)
    return (base[None, :, :] + shifts).reshape(-1, 4)


def bbox_transfor_inv(anchor: np.ndarray, regr: np.ndarray) -> np.ndarray:
    """Decode (Vc,Vh) against anchors; x snapped to the 16-wide strip
    (detect/ctpn_utils.py:129-150)."""
    cya = (anchor[:, 1] + anchor[:, 3]) * 0.5
    ha = anchor[:, 3] - anchor[:, 1] + 1
    vcx = regr[0, :, 0]
    vhx = regr[0, :, 1]
    cyx = vcx * ha + cya
    hx = np.exp(vhx) * ha
    xt = (anchor[:, 0] + anchor[:, 2]) * 0.5
    return np.vstack([xt - 8.0, cyx - hx * 0.5,
                      xt + 8.0, cyx + hx * 0.5]).T


def clip_box(bbox: np.ndarray, im_shape) -> np.ndarray:
    """Clamp to image bounds (detect/ctpn_utils.py:153-163)."""
    h, w = im_shape
    bbox[:, 0] = np.clip(bbox[:, 0], 0, w - 1)
    bbox[:, 1] = np.clip(bbox[:, 1], 0, h - 1)
    bbox[:, 2] = np.clip(bbox[:, 2], 0, w - 1)
    bbox[:, 3] = np.clip(bbox[:, 3], 0, h - 1)
    return bbox


def filter_bbox(bbox: np.ndarray, minsize: int) -> np.ndarray:
    """Keep boxes with width & height >= minsize, +1 inclusive
    (detect/ctpn_utils.py:166-170)."""
    ws = bbox[:, 2] - bbox[:, 0] + 1
    hs = bbox[:, 3] - bbox[:, 1] + 1
    return np.where((ws >= minsize) & (hs >= minsize))[0]


def nms(dets: np.ndarray, thresh: float) -> list[int]:
    """Greedy score-ordered NMS, +1 inclusive areas — inherently
    sequential, kept as the exact reference loop
    (detect/ctpn_utils.py:229-255)."""
    x1, y1, x2, y2, scores = (dets[:, i] for i in range(5))
    areas = (x2 - x1 + 1) * (y2 - y1 + 1)
    order = scores.argsort()[::-1]
    keep: list[int] = []
    while order.size > 0:
        i = order[0]
        keep.append(int(i))
        xx1 = np.maximum(x1[i], x1[order[1:]])
        yy1 = np.maximum(y1[i], y1[order[1:]])
        xx2 = np.minimum(x2[i], x2[order[1:]])
        yy2 = np.minimum(y2[i], y2[order[1:]])
        w = np.maximum(0.0, xx2 - xx1 + 1)
        h = np.maximum(0.0, yy2 - yy1 + 1)
        inter = w * h
        ovr = inter / (areas[i] + areas[order[1:]] - inter)
        order = order[np.where(ovr <= thresh)[0] + 1]
    return keep


class _GraphBuilder:
    """Text-proposal adjacency via the x-bucket probe: the *first*
    non-empty x column within MAX_HORIZONTAL_GAP wins — this
    nearest-column-first semantics is load-bearing, do not replace with a
    global range join (detect/ctpn_utils.py:289-362)."""

    def __init__(self, proposals: np.ndarray, scores: np.ndarray,
                 im_size) -> None:
        self.p = proposals
        self.scores = scores
        self.im_w = int(im_size[1])
        self.heights = proposals[:, 3] - proposals[:, 1] + 1
        table: list[list[int]] = [[] for _ in range(self.im_w)]
        for idx, box in enumerate(proposals):
            table[int(box[0])].append(idx)
        self.table = table

    def _meet_v_iou(self, i1: int, i2: int) -> bool:
        h1, h2 = self.heights[i1], self.heights[i2]
        y0 = max(self.p[i2][1], self.p[i1][1])
        y1 = min(self.p[i2][3], self.p[i1][3])
        overlaps_v = max(0, y1 - y0 + 1) / min(h1, h2)
        size_sim = min(h1, h2) / max(h1, h2)
        return overlaps_v >= C.MIN_V_OVERLAPS and size_sim >= C.MIN_SIZE_SIM

    def successions(self, index: int) -> list[int]:
        box = self.p[index]
        results: list[int] = []
        for left in range(int(box[0]) + 1,
                          min(int(box[0]) + C.MAX_HORIZONTAL_GAP + 1,
                              self.im_w)):
            for adj in self.table[left]:
                if self._meet_v_iou(adj, index):
                    results.append(adj)
            if results:
                return results
        return results

    def precursors(self, index: int) -> list[int]:
        box = self.p[index]
        results: list[int] = []
        for left in range(int(box[0]) - 1,
                          max(int(box[0] - C.MAX_HORIZONTAL_GAP), 0) - 1, -1):
            for adj in self.table[left]:
                if self._meet_v_iou(adj, index):
                    results.append(adj)
            if results:
                return results
        return results

    def build(self) -> np.ndarray:
        n = self.p.shape[0]
        graph = np.zeros((n, n), dtype=bool)
        for index in range(n):
            succs = self.successions(index)
            if not succs:
                continue
            succ = succs[int(np.argmax(self.scores[succs]))]
            # mutual-best check (is_succession_node, ctpn_utils.py:318-322)
            precs = self.precursors(succ)
            if self.scores[index] >= np.max(self.scores[precs]):
                graph[index, succ] = True
        return graph


def _sub_graphs_connected(graph: np.ndarray) -> list[list[int]]:
    """Chain-follow connected components (detect/ctpn_utils.py:263-272)."""
    subs: list[list[int]] = []
    for index in range(graph.shape[0]):
        if not graph[:, index].any() and graph[index, :].any():
            v = index
            subs.append([v])
            while graph[v, :].any():
                v = int(np.where(graph[v, :])[0][0])
                subs[-1].append(v)
    return subs


def _fit_y(x: np.ndarray, y: np.ndarray, x1: float, x2: float):
    """Deg-1 least squares through points; constant-X degenerates to
    y=Y[0] (detect/ctpn_utils.py:377-383)."""
    if np.sum(x == x[0]) == len(x):
        return y[0], y[0]
    p = np.poly1d(np.polyfit(x, y, 1))
    return p(x1), p(x2)


def get_text_lines(proposals: np.ndarray, scores: np.ndarray,
                   im_size) -> np.ndarray:
    """Group proposals into lines, fit 3 least-squares lines per group,
    emit (M,9) quads [x1,y1,x2,y2,x3,y3,x4,y4,score] TL,TR,BL,BR
    (detect/ctpn_utils.py:385-466)."""
    graph = _GraphBuilder(proposals, scores, im_size).build()
    tp_groups = _sub_graphs_connected(graph)

    text_lines = np.zeros((len(tp_groups), 8), dtype=np.float32)
    for index, tp_indices in enumerate(tp_groups):
        boxes = proposals[list(tp_indices)]
        xc = (boxes[:, 0] + boxes[:, 2]) / 2
        yc = (boxes[:, 1] + boxes[:, 3]) / 2
        z1 = np.polyfit(xc, yc, 1)  # center-line fit
        x0 = np.min(boxes[:, 0])
        x1 = np.max(boxes[:, 2])
        offset = (boxes[0, 2] - boxes[0, 0]) * 0.5
        lt_y, rt_y = _fit_y(boxes[:, 0], boxes[:, 1], x0 + offset,
                            x1 - offset)
        lb_y, rb_y = _fit_y(boxes[:, 0], boxes[:, 3], x0 + offset,
                            x1 - offset)
        score = scores[list(tp_indices)].sum() / float(len(tp_indices))
        text_lines[index, 0] = x0
        text_lines[index, 1] = min(lt_y, rt_y)
        text_lines[index, 2] = x1
        text_lines[index, 3] = max(lb_y, rb_y)
        text_lines[index, 4] = score
        text_lines[index, 5] = z1[0]
        text_lines[index, 6] = z1[1]
        text_lines[index, 7] = np.mean(boxes[:, 3] - boxes[:, 1]) + 2.5

    text_recs = np.zeros((len(text_lines), 9), dtype=np.float64)
    for index, line in enumerate(text_lines):
        b1 = line[6] - line[7] / 2
        b2 = line[6] + line[7] / 2
        x1 = line[0]
        y1 = line[5] * line[0] + b1
        x2 = line[2]
        y2 = line[5] * line[2] + b1
        x3 = line[0]
        y3 = line[5] * line[0] + b2
        x4 = line[2]
        y4 = line[5] * line[2] + b2
        dis_x = x2 - x1
        dis_y = y2 - y1
        width = np.sqrt(dis_x * dis_x + dis_y * dis_y)
        f_tmp0 = y3 - y1
        f_tmp1 = f_tmp0 * dis_y / width
        x = np.fabs(f_tmp1 * dis_x / width)
        y = np.fabs(f_tmp1 * dis_y / width)
        if line[5] < 0:
            x1 -= x
            y1 += y
            x4 += x
            y4 -= y
        else:
            x2 += x
            y2 += y
            x3 -= x
            y3 -= y
        text_recs[index] = [x1, y1, x2, y2, x3, y3, x4, y4, line[4]]
    return text_recs


def get_det_boxes(image: np.ndarray, weights: dict, cfg: C.PipelineConfig):
    """Full detection for one (H,W,3) uint8 image -> ((M,9) quads,
    resized image). Mirrors detect/ctpn_predict.py:38-111 minus drawing."""
    h0, w0 = image.shape[:2]
    r = cfg.detect_height / float(h0)
    image = resize_area(image, cfg.detect_height, int(w0 * r))
    h, w = image.shape[:2]
    x = image.astype(np.float32) - np.array(C.IMAGE_MEAN, dtype=np.float32)
    x = x.transpose(2, 0, 1)[None, :, :, :]

    cls, regr = ctpn_forward(x, weights)
    cls_prob = softmax(cls, axis=-1)
    anchor = gen_anchor((int(h / 16), int(w / 16)), C.ANCHOR_SCALE)
    bbox = bbox_transfor_inv(anchor, regr.astype(np.float64))
    bbox = clip_box(bbox, (h, w))

    fg = np.where(cls_prob[0, :, 1] > cfg.prob_thresh)[0]
    select_anchor = bbox[fg, :].astype(np.int32)
    select_score = cls_prob[0, fg, 1]
    keep_index = filter_bbox(select_anchor, cfg.min_box_size)
    select_anchor = select_anchor[keep_index]
    select_score = select_score[keep_index].reshape(-1, 1)
    if select_anchor.shape[0] == 0:
        return np.zeros((0, 9), dtype=np.float64), image
    nmsbox = np.hstack([select_anchor.astype(np.float64), select_score])
    keep = nms(nmsbox, cfg.nms_thresh)
    select_anchor = select_anchor[keep]
    select_score = select_score[keep]

    text = get_text_lines(select_anchor.astype(np.float64),
                          select_score.ravel(), (h, w))
    if cfg.expand:
        for idx in range(len(text)):
            text[idx][0] = max(text[idx][0] - C.EXPAND_X, 0)
            text[idx][2] = min(text[idx][2] + C.EXPAND_X, w - 1)
            text[idx][4] = max(text[idx][4] - C.EXPAND_X, 0)
            text[idx][6] = min(text[idx][6] + C.EXPAND_X, w - 1)
    return text, image
