"""NumPy inference kernels matching torch op semantics.

Conventions follow PyTorch so weights keyed by torch ``state_dict`` names
drop in directly:

* ``conv2d``: NCHW input, OIHW weight (torch ``nn.Conv2d``).
* ``maxpool2d``: torch ``nn.MaxPool2d`` with ``ceil_mode=False``.
* ``batchnorm2d``: inference mode — running stats
  (reference runs ``model.eval()``: detect/ctpn_predict.py:29,
  recognize/crnn_recognizer.py:114, so autograd/batch stats never apply).
* ``bigru`` / ``bilstm``: torch gate orders — GRU rows ``[r,z,n]`` with the
  reset gate applied *inside* the candidate's hidden term, LSTM rows
  ``[i,f,g,o]`` (SURVEY.md §2.9 M3/M8).

Everything is float32 with a fixed op order, so results are bit-identical
between the driver-side oracle and executor-side UDFs.
"""

from __future__ import annotations

import numpy as np
from numpy.lib.stride_tricks import as_strided


def _pair(v):
    return (v, v) if isinstance(v, int) else tuple(v)


# per-process workspace buffers, keyed by role+shape — avoids re-paging
# fresh allocations on every conv call, which matters when 32 workers
# share one box (allocation/zeroing churn is cross-core contention)
_WS: dict[tuple, np.ndarray] = {}


def _ws(key: tuple, shape: tuple) -> np.ndarray:
    """Flat grow-only buffer per role, viewed at the requested shape —
    one allocation serves every layer/image size."""
    n = 1
    for d in shape:
        n *= d
    buf = _WS.get(key)
    if buf is None or buf.size < n:
        buf = np.empty(n, dtype=np.float32)
        _WS[key] = buf
    return buf[:n].reshape(shape)


# col-tile budget for the blocked B=1 conv path: the im2col tile +
# GEMM tile should live in cache instead of streaming a 9x-inflated
# activation copy through DRAM (the measured 32-way contention source)
_CONV_TILE_BYTES = 4 << 20

# Winograd F(2x2, 3x3) dispatch window, tuned by interleaved A/B under
# the forced AVX-512 kernel (ratios = winograd/blocked):
#   * C >= 256 with P in [512, 8192] wins (0.61-0.90 at the
#     reference-720p deep layers, C512 P~1300-5400);
#   * small/medium tiles (the whole fixture profile, P<=~200) are
#     neutral-to-LOSING end-to-end — transform dispatch overhead
#     eats the per-call win, so the benchmark path stays blocked;
#   * huge tiles LOSE up to 8x — V is 16*C*P floats and falls out of
#     cache (C64 P=342000: 1.4 GB of transform traffic);
#   * C <= 128 LOSES at every P (K too skinny for the tile GEMMs).
# Outside the window the blocked im2col path runs — it is within 10%
# of winograd even where winograd wins marginally, so the gate only
# engages where the win is real.
_WINOGRAD_MIN_C = 256
_WINOGRAD_MIN_TILES = 512
_WINOGRAD_MAX_TILES = 8192

# weight-transform cache: id(w) -> (w, U) — keeping w referenced pins
# the id; one entry per conv layer per worker (VGG16+CTPN+CRNN ~ a
# dozen arrays, U is 16/9 the weight size)
_WINO_U: dict[int, tuple] = {}


def _wino_weight_transform(w: np.ndarray) -> np.ndarray:
    """U[16, O, C] = G g G^T per (O, C) 3x3 kernel;
    G = [[1,0,0],[.5,.5,.5],[.5,-.5,.5],[0,0,1]] (exact dyadic)."""
    hit = _WINO_U.get(id(w))
    if hit is not None and hit[0] is w:
        return hit[1]
    G = np.array([[1, 0, 0], [0.5, 0.5, 0.5], [0.5, -0.5, 0.5],
                  [0, 0, 1]], dtype=w.dtype)
    # two tensordots (GEMM-backed) instead of einsum — the one-time
    # transform of a 512x512x3x3 layer fell from ~600ms to ~10ms
    t = np.tensordot(G, w, axes=(1, 2))        # (4, O, C, 3)
    u = np.tensordot(t, G, axes=(3, 1))        # (4, O, C, 4)
    U = np.ascontiguousarray(u.transpose(0, 3, 1, 2)).reshape(
        16, w.shape[0], w.shape[1])
    if len(_WINO_U) < 256:
        _WINO_U[id(w)] = (w, U)
    return U


def _conv2d_winograd3x3(x, w, b, ph, pw, relu):
    """F(2x2, 3x3) Winograd for the B=1 stride-1 3x3 path: 16 tile
    GEMMs with K=C replace the 9C-reduction im2col GEMM — 2.25x fewer
    multiplies and a 2.25x smaller intermediate (V is 16*C*P floats vs
    36*C*P im2col columns), which is DRAM relief for the contended
    high-concurrency legs (BENCH/BASELINE.md).  Transforms use only
    +/- and exact dyadic constants.  Deterministic: tile geometry is a
    pure function of the shapes, shared by oracle and UDFs."""
    _, C, H, W = x.shape
    O = w.shape[0]
    oh, ow = H + 2 * ph - 2, W + 2 * pw - 2
    th, tw = (oh + 1) // 2, (ow + 1) // 2
    He, We = 2 * th + 2, 2 * tw + 2
    xp = _ws(("wpad",), (C, He, We))
    xp[:] = 0.0
    xp[:, ph:ph + H, pw:pw + W] = x[0]
    sc, sh_, sw_ = xp.strides
    # (4, 4, C, th, tw) tile view: last two dims step 2
    d = as_strided(xp, shape=(4, 4, C, th, tw),
                   strides=(sh_, sw_, sc, 2 * sh_, 2 * sw_),
                   writeable=False)
    # input transform  V = B^T d B ;  B^T rows: [1,0,-1,0] [0,1,1,0]
    # [0,-1,1,0] [0,1,0,-1]
    P = th * tw
    t = _ws(("winoT",), (4, 4, C, th, tw))
    np.subtract(d[0], d[2], out=t[0])
    np.add(d[1], d[2], out=t[1])
    np.subtract(d[2], d[1], out=t[2])
    np.subtract(d[1], d[3], out=t[3])
    V = _ws(("winoV",), (4, 4, C, th, tw))
    np.subtract(t[:, 0], t[:, 2], out=V[:, 0])
    np.add(t[:, 1], t[:, 2], out=V[:, 1])
    np.subtract(t[:, 2], t[:, 1], out=V[:, 2])
    np.subtract(t[:, 1], t[:, 3], out=V[:, 3])
    U = _wino_weight_transform(w)
    M = _ws(("winoM",), (16, O, P))
    np.matmul(U, V.reshape(16, C, P), out=M)
    m = M.reshape(4, 4, O, th, tw)
    # output transform  Y = A^T m A ;  A^T = [[1,1,1,0],[0,1,-1,-1]]
    r = _ws(("winoR",), (2, 4, O, th, tw))
    np.add(m[0], m[1], out=r[0])
    r[0] += m[2]
    np.subtract(m[1], m[2], out=r[1])
    r[1] -= m[3]
    y = _ws(("winoY",), (2, 2, O, th, tw))
    np.add(r[:, 0], r[:, 1], out=y[:, 0])
    y[:, 0] += r[:, 2]
    np.subtract(r[:, 1], r[:, 2], out=y[:, 1])
    y[:, 1] -= r[:, 3]
    # (2h, 2w, O, th, tw) -> (O, th, 2h, tw, 2w) -> crop to (oh, ow)
    full = np.ascontiguousarray(y.transpose(2, 3, 0, 4, 1)).reshape(
        O, 2 * th, 2 * tw)
    out = np.empty((1, O, oh, ow), dtype=x.dtype)
    np.copyto(out[0], full[:, :oh, :ow])
    if b is not None:
        out += b.reshape(1, O, 1, 1)
    if relu:
        np.maximum(out, 0.0, out=out)
    return out


def conv2d(x: np.ndarray, w: np.ndarray, b: np.ndarray | None,
           stride=1, padding=0, relu: bool = False) -> np.ndarray:
    """2-D convolution (cross-correlation, as torch) via im2col + GEMM.

    x: (B,C,H,W) float32; w: (O,C,kh,kw); b: (O,) or None.
    ``relu=True`` fuses the activation into the GEMM tile (saves a
    full read+write pass over the output).

    The B=1 path (all OCR inference) is ROW-BLOCKED: im2col tiles of
    ~_CONV_TILE_BYTES are built, multiplied, biased, and activated
    while cache-resident, and each output element is written to its
    final location exactly once — instead of materializing the full
    9x-size column matrix and then copying/transposing the result.
    Column tiling never splits the reduction axis, so every output
    element is the same single GEMM dot product; determinism holds
    because tile geometry is a pure function of the shapes, shared by
    oracle and UDF.
    """
    sh, sw = _pair(stride)
    ph, pw = _pair(padding)
    B, C, H, W = x.shape
    O, _, kh, kw = w.shape
    if (kh, kw, sh, sw) == (3, 3, 1, 1) and B == 1 \
            and C >= _WINOGRAD_MIN_C:
        _oh, _ow = H + 2 * ph - 2, W + 2 * pw - 2
        _p = ((_oh + 1) // 2) * ((_ow + 1) // 2)
        if _WINOGRAD_MIN_TILES <= _p <= _WINOGRAD_MAX_TILES:
            return _conv2d_winograd3x3(x, w, b, ph, pw, relu)
    if (kh, kw, sh, sw, ph, pw) == (1, 1, 1, 1, 0, 0) and B == 1:
        # 1x1 conv fast path: the GEMM input IS the (C, H*W) tensor —
        # no im2col copy (CTPN lstm_fc + twin heads)
        out = np.empty((1, O, H, W), dtype=np.float32)
        np.dot(w.reshape(O, C), x.reshape(C, H * W),
               out=out.reshape(O, H * W))
        if b is not None:
            out += b.reshape(1, O, 1, 1)
        if relu:
            np.maximum(out, 0.0, out=out)
        return out
    if ph or pw:
        xp = _ws(("pad",), (B, C, H + 2 * ph, W + 2 * pw))
        xp[:] = 0.0
        xp[:, :, ph:ph + H, pw:pw + W] = x
        x = xp
        H, W = H + 2 * ph, W + 2 * pw
    oh = (H - kh) // sh + 1
    ow = (W - kw) // sw + 1
    if B == 1:
        K = C * kh * kw
        rows_per = max(1, (_CONV_TILE_BYTES // 4) // max(1, K * ow))
        while rows_per * ow < 512 and rows_per < oh:
            rows_per += 1  # keep GEMM tiles wide enough to be efficient
        rows_per = min(rows_per, oh)
        out = np.empty((1, O, oh, ow), dtype=np.float32)
        out2d = out.reshape(O, oh * ow)
        w2d = w.reshape(O, K)
        b2d = b.reshape(O, 1).astype(np.float32) if b is not None \
            else None
        x0 = x[0]
        sxc, sxh, sxw = x0.strides
        for y0 in range(0, oh, rows_per):
            y1 = min(oh, y0 + rows_per)
            nrow = y1 - y0
            ncol = nrow * ow
            base = x0[:, y0 * sh:, :]
            view = as_strided(
                base,
                shape=(C, kh, kw, nrow, ow),
                strides=(sxc, sxh, sxw, sxh * sh, sxw * sw),
                writeable=False,
            )
            cols = _ws(("cols",), (C, kh, kw, nrow, ow))
            np.copyto(cols, view)
            gt = _ws(("gemm",), (O, ncol))
            np.dot(w2d, cols.reshape(K, ncol), out=gt)
            if b2d is not None:
                gt += b2d
            if relu:
                np.maximum(gt, 0.0, out=gt)
            out2d[:, y0 * ow:y1 * ow] = gt
        return out
    s = x.strides
    cols_view = as_strided(
        x,
        shape=(B, C, kh, kw, oh, ow),
        strides=(s[0], s[1], s[2], s[3], s[2] * sh, s[3] * sw),
        writeable=False,
    )
    # (C*kh*kw, B*oh*ow) GEMM with (O, C*kh*kw)
    cols = _ws(("cols",), (C, kh, kw, B, oh, ow))
    np.copyto(cols, cols_view.transpose(1, 2, 3, 0, 4, 5))
    cols2d = cols.reshape(C * kh * kw, B * oh * ow)
    out2d = _ws(("gemm",), (O, B * oh * ow))
    np.dot(w.reshape(O, -1), cols2d, out=out2d)
    out = out2d.reshape(O, B, oh, ow).transpose(1, 0, 2, 3)
    if b is not None:
        out = out + b.reshape(1, O, 1, 1)  # fresh array; ws stays free
    else:
        out = np.ascontiguousarray(out)
    if relu:
        np.maximum(out, 0.0, out=out)
    return out


def maxpool2d(x: np.ndarray, kernel, stride=None, padding=0) -> np.ndarray:
    """Max pool, NCHW, ceil_mode=False; padded cells are -inf."""
    kh, kw = _pair(kernel)
    sh, sw = _pair(stride if stride is not None else kernel)
    ph, pw = _pair(padding)
    if ph or pw:
        x = np.pad(x, ((0, 0), (0, 0), (ph, ph), (pw, pw)),
                   constant_values=-np.inf)
    B, C, H, W = x.shape
    oh = (H - kh) // sh + 1
    ow = (W - kw) // sw + 1
    # kh*kw strided np.maximum passes with unit-stride inner reads —
    # ~4x faster than the (B,C,oh,ow,kh,kw) window-view multi-axis
    # reduce, whose innermost iteration jumps rows; max is order-free,
    # so results are identical
    out = None
    for i in range(kh):
        for j in range(kw):
            sl = x[:, :, i:i + (oh - 1) * sh + 1:sh,
                   j:j + (ow - 1) * sw + 1:sw]
            if out is None:
                out = np.ascontiguousarray(sl)
            else:
                np.maximum(out, sl, out=out)
    return out


def relu(x: np.ndarray) -> np.ndarray:
    return np.maximum(x, 0.0)


def relu_(x: np.ndarray) -> np.ndarray:
    """In-place ReLU — for freshly-allocated activations (halves the
    memory traffic of the conv->relu hot path)."""
    return np.maximum(x, 0.0, out=x)


def sigmoid(x: np.ndarray) -> np.ndarray:
    # numerically stable, branch-free: exp(-|x|) never overflows, and
    # each element's selected expression is the SAME float op sequence
    # as the classic masked split form (1/(1+exp(-x)) for x>=0,
    # exp(x)/(1+exp(x)) otherwise), so results are bit-identical while
    # skipping the boolean gather/scatter that dominated on the small
    # per-timestep gate arrays (RNN hot path).
    z = np.exp(-np.abs(x))
    return np.where(x >= 0, 1.0 / (1.0 + z), z / (1.0 + z))


def softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    m = x.max(axis=axis, keepdims=True)
    e = np.exp(x - m)
    return e / e.sum(axis=axis, keepdims=True)


def batchnorm2d(x: np.ndarray, gamma, beta, running_mean, running_var,
                eps: float = 1e-5) -> np.ndarray:
    """Inference BN: gamma*(x-mu)/sqrt(var+eps)+beta over channel axis 1."""
    inv = gamma / np.sqrt(running_var + eps)
    return x * inv.reshape(1, -1, 1, 1) + (
        beta - running_mean * inv).reshape(1, -1, 1, 1)


def linear(x: np.ndarray, w: np.ndarray, b: np.ndarray | None) -> np.ndarray:
    """torch nn.Linear: x @ w.T + b; x (..., in), w (out, in)."""
    out = x @ w.T
    if b is not None:
        out = out + b
    return out


def _gru_direction(x, w_ih, w_hh, b_ih, b_hh, reverse: bool):
    """One GRU direction. x: (B,T,I) -> (B,T,H). torch gate rows [r,z,n]."""
    B, T, _ = x.shape
    H = w_hh.shape[1]
    # precompute input projections for all timesteps: (B,T,3H)
    xi = x @ w_ih.T + b_ih
    h = np.zeros((B, H), dtype=x.dtype)
    out = np.empty((B, T, H), dtype=x.dtype)
    steps = range(T - 1, -1, -1) if reverse else range(T)
    w_hr, w_hz, w_hn = w_hh[:H], w_hh[H:2 * H], w_hh[2 * H:]
    b_hr, b_hz, b_hn = b_hh[:H], b_hh[H:2 * H], b_hh[2 * H:]
    for t in steps:
        g = xi[:, t]
        r = sigmoid(g[:, :H] + h @ w_hr.T + b_hr)
        z = sigmoid(g[:, H:2 * H] + h @ w_hz.T + b_hz)
        n = np.tanh(g[:, 2 * H:] + r * (h @ w_hn.T + b_hn))
        h = (1.0 - z) * n + z * h
        out[:, t] = h
    return out


def bigru(x: np.ndarray, weights: dict, prefix: str) -> np.ndarray:
    """Bidirectional single-layer GRU, batch_first (CTPN brnn,
    detect/ctpn_model.py:96). x: (B,T,I) -> (B,T,2H)."""
    fwd = _gru_direction(
        x, weights[f"{prefix}.weight_ih_l0"], weights[f"{prefix}.weight_hh_l0"],
        weights[f"{prefix}.bias_ih_l0"], weights[f"{prefix}.bias_hh_l0"],
        reverse=False)
    bwd = _gru_direction(
        x, weights[f"{prefix}.weight_ih_l0_reverse"],
        weights[f"{prefix}.weight_hh_l0_reverse"],
        weights[f"{prefix}.bias_ih_l0_reverse"],
        weights[f"{prefix}.bias_hh_l0_reverse"], reverse=True)
    return np.concatenate([fwd, bwd], axis=2)


def _lstm_direction(x, w_ih, w_hh, b_ih, b_hh, reverse: bool):
    """One LSTM direction. x: (T,B,I) -> (T,B,H). torch gate rows [i,f,g,o]."""
    T, B, _ = x.shape
    H = w_hh.shape[1]
    xi = x @ w_ih.T + b_ih  # (T,B,4H)
    h = np.zeros((B, H), dtype=x.dtype)
    c = np.zeros((B, H), dtype=x.dtype)
    out = np.empty((T, B, H), dtype=x.dtype)
    steps = range(T - 1, -1, -1) if reverse else range(T)
    for t in steps:
        g = xi[t] + h @ w_hh.T + b_hh
        i = sigmoid(g[:, :H])
        f = sigmoid(g[:, H:2 * H])
        gg = np.tanh(g[:, 2 * H:3 * H])
        o = sigmoid(g[:, 3 * H:])
        c = f * c + i * gg
        h = o * np.tanh(c)
        out[t] = h
    return out


def bilstm(x: np.ndarray, weights: dict, prefix: str) -> np.ndarray:
    """Bidirectional single-layer LSTM, seq-first (CRNN rnn,
    recognize/crnn.py:9 — batch_first not set). x: (T,B,I) -> (T,B,2H)."""
    fwd = _lstm_direction(
        x, weights[f"{prefix}.weight_ih_l0"], weights[f"{prefix}.weight_hh_l0"],
        weights[f"{prefix}.bias_ih_l0"], weights[f"{prefix}.bias_hh_l0"],
        reverse=False)
    bwd = _lstm_direction(
        x, weights[f"{prefix}.weight_ih_l0_reverse"],
        weights[f"{prefix}.weight_hh_l0_reverse"],
        weights[f"{prefix}.bias_ih_l0_reverse"],
        weights[f"{prefix}.bias_hh_l0_reverse"], reverse=True)
    return np.concatenate([fwd, bwd], axis=2)
