"""Deterministic synthetic fixtures (FIXTURES.md): interleaved
``documents`` + raw-RGB ``images`` tables.

Everything is a pure function of (identifier, seed) — in particular
``gen_image_array(media_ref, seed)`` lets executors regenerate any image
without shipping bytes, and lets tests, oracle, and Spark agree exactly.

Image content follows the reference's own robustness bank as generators:
horizontal dark glyph-bar text lines on a light background, optional salt
noise (train_code/train_crnn/trans.py:146-157) and small rotation
(trans.py: rotate), plus adversarial quotas — empty images (no proposals,
ctpn_predict.py:56), and short/fat layouts exercising the size filter
(ctpn_utils.py:166-170) and the portrait-crop filter (ocr.py:64-65).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

DEFAULT_SEED = 42

_LEXICON = (
    "the quick brown fox jumps over lazy dog spark shuffle partition "
    "anchor proposal text line recognise decode tensor batch arrow vector "
    "iceberg parquet lineage resume executor broadcast skew salt "
).split()


def _rng_for(name: str, seed: int) -> np.random.Generator:
    h = hashlib.sha256(f"{seed}:{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def gen_image_array(media_ref: str, seed: int = DEFAULT_SEED
                    ) -> tuple[np.ndarray, int]:
    """Deterministic (H,W,3) uint8 RGB image for a media_ref.

    Returns (image, n_text_lines).  ~10% of refs are 'empty' images,
    ~15% carry small rotation, ~25% salt noise.
    """
    rng = _rng_for(media_ref, seed)
    h = int(rng.integers(40, 97))
    w = int(rng.integers(96, 257))
    bg = int(rng.integers(185, 240))
    img = np.full((h, w, 3), bg, dtype=np.uint8)

    kind_roll = rng.random()
    if kind_roll < 0.10:  # empty image — detection should yield nothing
        return img, 0

    n_lines = int(rng.integers(1, 5))
    line_h = max(6, h // (n_lines * 2 + 1))
    for li in range(n_lines):
        y0 = int((2 * li + 1) * h / (2 * n_lines + 1))
        y1 = min(h - 1, y0 + line_h)
        x0 = int(rng.integers(2, max(3, w // 8)))
        x1 = int(w - rng.integers(2, max(3, w // 8)))
        # glyph-ish bar pattern: dark cells on 2-4 px pitch
        pitch = int(rng.integers(2, 5))
        dark = int(rng.integers(10, 80))
        xs = np.arange(x0, x1)
        on = rng.random(size=((x1 - x0) // pitch + 1)) < 0.7
        mask = on[(xs - x0) // pitch]
        img[y0:y1, xs[mask]] = dark
        # horizontal stroke accents (makes rows distinguishable)
        if rng.random() < 0.5:
            img[y0, x0:x1] = dark
        if rng.random() < 0.5:
            img[y1 - 1, x0:x1] = dark

    if rng.random() < 0.25:  # salt noise (trans.py:146-157 as generator)
        n_salt = int(0.002 * h * w)
        ys = rng.integers(0, h, n_salt)
        xs = rng.integers(0, w, n_salt)
        img[ys, xs] = 255

    if rng.random() < 0.15:  # small rotation exercises the warp path
        from ocr_pytorch_spark.kernels.image import _affine_sample_bilinear
        deg = float(rng.uniform(-3, 3))
        rad = np.radians(deg)
        cx, cy = w / 2, h / 2
        ca, sa = np.cos(rad), np.sin(rad)
        minv = np.array([[ca, sa, cx - ca * cx - sa * cy],
                         [-sa, ca, cy + sa * cx - ca * cy]])
        img = _affine_sample_bilinear(img, minv, h, w, border=bg)

    return img, n_lines


def gen_document(doc_idx: int, seed: int = DEFAULT_SEED,
                 hot_pool: int = 8) -> dict:
    """One document row: interleaved text/media spans.

    Media-span count per doc ~ truncated Pareto(1.5) so a small tail of
    media-heavy documents exists (skew exercise, SURVEY.md §4.3).  ~10% of
    media refs come from a small hot pool (join-skew exercise).
    """
    doc_id = f"doc-{doc_idx:08d}"
    rng = _rng_for(doc_id, seed)
    n_text = int(rng.integers(1, 8))
    n_media = min(64, int(rng.pareto(1.5) + 1)) if rng.random() < 0.8 else 0
    n = n_text + n_media
    kinds = np.array(["text"] * n_text + ["media"] * n_media)
    rng.shuffle(kinds)
    spans = []
    for off, kind in enumerate(kinds):
        if kind == "text":
            words = rng.choice(_LEXICON, size=int(rng.integers(2, 9)))
            spans.append({"kind": "text", "text": " ".join(words),
                          "media_ref": None, "offset": off})
        else:
            if rng.random() < 0.10:
                ref = f"img-hot-{int(rng.integers(0, hot_pool)):04d}"
            else:
                ref = f"img-{doc_idx:08d}-{off:04d}"
            spans.append({"kind": "media", "text": None,
                          "media_ref": ref, "offset": off})
    return {"doc_id": doc_id, "spans": spans}


def gen_documents(n_docs: int, seed: int = DEFAULT_SEED) -> list[dict]:
    return [gen_document(i, seed) for i in range(n_docs)]


def media_refs_of(docs: list[dict]) -> list[str]:
    refs = {s["media_ref"] for d in docs for s in d["spans"]
            if s["kind"] == "media"}
    return sorted(refs)


def gen_images(refs: list[str], seed: int = DEFAULT_SEED) -> list[dict]:
    rows = []
    for ref in refs:
        arr, _ = gen_image_array(ref, seed)
        rows.append({"media_ref": ref, "height": arr.shape[0],
                     "width": arr.shape[1], "channels": 3,
                     "data": arr.tobytes()})
    return rows


def gen_augmented_image_array(media_ref: str, seed: int = DEFAULT_SEED
                              ) -> np.ndarray:
    """Fixture tier 2: the base fixture image pushed through the
    reference's probability-gated augmentation chain
    (kernels/augment.py, train_code/train_crnn/trans.py semantics),
    with the chain seed derived from the media_ref — still a pure
    function of (media_ref, seed)."""
    from ocr_pytorch_spark.kernels.augment import augment_chain

    img, _ = gen_image_array(media_ref, seed)
    chain_seed = int(_rng_for(f"aug:{media_ref}", seed)
                     .integers(0, 2 ** 31))
    return augment_chain(img, chain_seed)


def gen_augmented_images(refs: list[str],
                         seed: int = DEFAULT_SEED) -> list[dict]:
    rows = []
    for ref in refs:
        arr = gen_augmented_image_array(ref, seed)
        rows.append({"media_ref": ref, "height": arr.shape[0],
                     "width": arr.shape[1], "channels": 3,
                     "data": arr.tobytes()})
    return rows


# --- parquet writers (pyarrow; usable without a SparkSession) ---

def write_fixture(out_dir: str, n_docs: int,
                  seed: int = DEFAULT_SEED,
                  docs: list[dict] | None = None) -> tuple[str, str]:
    """Write documents.parquet + images.parquet under out_dir.
    ``docs`` overrides the generated list (e.g. skew-amplified
    variants for scale runs); images always cover exactly the media
    refs the docs reference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    docs = docs if docs is not None else gen_documents(n_docs, seed)
    span_type = pa.struct([("kind", pa.string()), ("text", pa.string()),
                           ("media_ref", pa.string()),
                           ("offset", pa.int32())])
    doc_tbl = pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
        "spans": pa.array(
            [[(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in d["spans"]] for d in docs],
            pa.list_(span_type)),
    })
    doc_path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(doc_tbl, doc_path)

    imgs = gen_images(media_refs_of(docs), seed)
    img_tbl = pa.table({
        "media_ref": pa.array([r["media_ref"] for r in imgs], pa.string()),
        "height": pa.array([r["height"] for r in imgs], pa.int32()),
        "width": pa.array([r["width"] for r in imgs], pa.int32()),
        "channels": pa.array([r["channels"] for r in imgs], pa.int32()),
        "data": pa.array([r["data"] for r in imgs], pa.binary()),
    })
    img_path = os.path.join(out_dir, "images.parquet")
    pq.write_table(img_tbl, img_path)
    return doc_path, img_path


# --- oracle-bearing driver fixtures (round 6) -------------------------
#
# Shared by the Spark-side synthesis UDFs AND the driver's literal
# DuckDB oracles, so both sides derive from the same pure-Python
# design — portable math only (hashlib.md5, integer arithmetic).

def compression_fixture_text(k: int) -> str:
    """Deterministic text spanning the zlib-compressibility spectrum:
    k%4==0 highly templated (ratio << 1), 1 small-vocab repetition,
    2 md5-chain hex (near-incompressible for text), 3 natural-ish
    pangram repeats.  Pure function of k — no RNG state."""
    if k % 4 == 0:
        return (f"copy copy pasta {k} ") * 120
    if k % 4 == 1:
        vocab = [
            "w" + hashlib.md5(f"cfv-{k}-{i}".encode()).hexdigest()[:4]
            for i in range(7)]
        return " ".join(vocab[i % 7] for i in range(80))
    if k % 4 == 2:
        cur, out = f"cfx-{k}".encode(), []
        for _ in range(40):
            cur = hashlib.md5(cur).digest()
            out.append(cur.hex())
        return "".join(out)
    return (f"the quick brown fox {k} jumps over the lazy dog. ") * 12
