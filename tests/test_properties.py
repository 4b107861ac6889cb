"""Property-based tests (hypothesis) for the deterministic kernels —
invariants that must hold for arbitrary inputs, not just fixtures."""

import numpy as np
from hypothesis import given, settings, strategies as st

from ocr_pytorch_spark.kernels import resize_area, softmax
from ocr_pytorch_spark.models.alphabet import ALPHABET, ctc_collapse, encode
from ocr_pytorch_spark.models.ctpn import clip_box, filter_bbox, nms


@given(st.integers(2, 40), st.integers(2, 40), st.integers(1, 20),
       st.integers(1, 20))
@settings(max_examples=30, deadline=None)
def test_resize_area_bounds_and_shape(h, w, oh, ow):
    img = np.random.default_rng(h * 41 + w).integers(
        0, 256, (h, w)).astype(np.uint8)
    out = resize_area(img, oh, ow)
    assert out.shape == (oh, ow)
    # area averaging cannot escape the input value range
    assert out.min() >= img.min() - 1 and out.max() <= img.max() + 1


@given(st.integers(1, 6), st.integers(2, 9))
@settings(max_examples=20, deadline=None)
def test_softmax_rows_sum_to_one(n, k):
    x = np.random.default_rng(n * 10 + k).normal(
        scale=50, size=(n, k)).astype(np.float32)
    p = softmax(x, axis=-1)
    np.testing.assert_allclose(p.sum(axis=-1), 1.0, rtol=1e-5)
    assert (p >= 0).all()


@given(st.lists(st.integers(0, 95), max_size=60))
@settings(max_examples=60, deadline=None)
def test_ctc_collapse_properties(codes):
    out = ctc_collapse(np.array(codes, dtype=int))
    # no output longer than input, chars all from the alphabet
    assert len(out) <= len(codes)
    assert all(c in ALPHABET for c in out)
    # collapsing twice via re-encode never grows (idempotent-ish bound)
    assert len(ctc_collapse(np.array(encode(out)))) <= len(out)
    # no two consecutive equal codes survive from a constant run
    if codes and all(c == codes[0] for c in codes):
        assert len(out) <= 1


@given(st.integers(1, 25))
@settings(max_examples=20, deadline=None)
def test_nms_keep_is_subset_and_nonoverlapping(n):
    rng = np.random.default_rng(n)
    x1 = rng.uniform(0, 80, n)
    y1 = rng.uniform(0, 80, n)
    dets = np.stack([x1, y1, x1 + rng.uniform(4, 30, n),
                     y1 + rng.uniform(4, 30, n),
                     rng.uniform(0, 1, n)], axis=1)
    keep = nms(dets, 0.3)
    assert set(keep) <= set(range(n)) and len(set(keep)) == len(keep)
    # surviving boxes pairwise IoU <= threshold
    for a in keep:
        for b in keep:
            if a >= b:
                continue
            xx1 = max(dets[a, 0], dets[b, 0])
            yy1 = max(dets[a, 1], dets[b, 1])
            xx2 = min(dets[a, 2], dets[b, 2])
            yy2 = min(dets[a, 3], dets[b, 3])
            inter = max(0, xx2 - xx1 + 1) * max(0, yy2 - yy1 + 1)
            aa = (dets[a, 2] - dets[a, 0] + 1) * (dets[a, 3] - dets[a, 1] + 1)
            ab = (dets[b, 2] - dets[b, 0] + 1) * (dets[b, 3] - dets[b, 1] + 1)
            assert inter / (aa + ab - inter) <= 0.3 + 1e-9


@given(st.integers(1, 30))
@settings(max_examples=20, deadline=None)
def test_clip_then_filter_inside_image(n):
    rng = np.random.default_rng(n + 99)
    bbox = rng.uniform(-100, 400, (n, 4))
    clipped = clip_box(bbox.copy(), (200, 300))
    assert (clipped[:, [0, 2]] >= 0).all()
    assert (clipped[:, [0, 2]] <= 299).all()
    assert (clipped[:, [1, 3]] <= 199).all()
    keep = filter_bbox(clipped.astype(np.int32), 16)
    ws = clipped[keep, 2] - clipped[keep, 0] + 1
    assert (ws.astype(int) >= 16).all()


def test_viral_duplicate_bucket_cap(spark):
    """VERDICT r1 item 9: 10k identical docs put every doc in the same
    band buckets; with bucket_cap the pair expansion is hard-bounded
    (capped output), without it the expansion would be ~5*10^7 pairs."""
    import time

    from pyspark.sql import functions as F

    from ocr_pytorch_spark.operators import dedup as D

    n = 10_000
    docs = (spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same viral document text repeated everywhere "
              "across the corpus again and again").alias("text")))
    t0 = time.time()
    pairs = D.minhash_lsh_pairs(docs, bucket_cap=64).count()
    dt = time.time() - t0
    assert pairs == 0  # every bucket exceeds the cap -> dropped
    assert dt < 60
    # observability: the bucket-size table shows what was dropped
    sizes = D.minhash_bucket_sizes(docs).collect()
    assert max(r["n"] for r in sizes) == n

    # a mixed corpus: the viral cluster is capped away but genuine
    # small-bucket near-dups are still found
    mixed = docs.unionByName(spark.createDataFrame(
        [(n + 1, "a rare pair of nearly identical docs alpha beta"),
         (n + 2, "a rare pair of nearly identical docs alpha beta")],
        "doc_id long, text string"))
    got = D.minhash_lsh_pairs(mixed, bucket_cap=64).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in got] == [(n + 1, n + 2)]


def test_winnow_fingerprint_shift_overlap(spark):
    """Property of winnowing: prepending text shifts k-gram positions
    but most selected fingerprints survive (content-defined sampling),
    whereas a naive positional sample would share none."""
    from pyspark.sql import functions as F

    from ocr_pytorch_spark.operators.text import winnow_fingerprint

    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the long meadow towards the river bank")
    docs = spark.createDataFrame(
        [(0, base), (1, "PREFIX ADDED " + base)],
        "doc_id long, text string")
    # compare the minima SETS, not just min/max: recompute via the same
    # lineage but grouped as collected sets
    from ocr_pytorch_spark.functions import fan_out
    from pyspark.sql import Window

    k, w = 8, 4
    n = F.length("text")
    pos_arr = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)) \
        .otherwise(F.array().cast("array<int>"))
    grams = (docs.select("doc_id", F.explode(pos_arr).alias("pos"),
                         "text")
             .select("doc_id", "pos",
                     F.substring(F.md5(F.expr(
                         f"substring(text, pos, {k})")), 1, 8)
                     .alias("h"), F.length("text").alias("n")))
    win = (Window.partitionBy("doc_id").orderBy("pos")
           .rowsBetween(0, w - 1))
    minima = (grams.withColumn("m", F.min("h").over(win))
              .where(F.col("pos") <= F.col("n") - k + 1 - (w - 1))
              .select("doc_id", "m").distinct().collect())
    sets = {0: set(), 1: set()}
    for r in minima:
        sets[r["doc_id"]].add(r["m"])
    inter = len(sets[0] & sets[1])
    union = len(sets[0] | sets[1])
    assert inter / union >= 0.6, f"winnow overlap {inter}/{union}"
    # and the summary operator agrees with the recomputed sets
    fp = {r["doc_id"]: r for r in winnow_fingerprint(docs).collect()}
    assert fp[0]["n_fps"] == len(sets[0])
    assert fp[0]["fp_min"] == min(sets[0])


@given(st.lists(st.tuples(st.integers(0, 10000),
                          st.booleans()), min_size=2, max_size=60))
@settings(max_examples=40, deadline=None)
def test_auc_integer_formula_matches_average_rank(pairs):
    """The integer Mann-Whitney used by classifier_auc
    (2U = sum_s 2*p_s*negs_below + p_s*n_s over the score histogram)
    must equal the classic average-rank AUC on ANY score/label
    multiset with ties — pure-Python cross-check of the formula the
    Spark/DuckDB sides both implement."""
    pos = [s for s, p in pairs if p]
    neg = [s for s, p in pairs if not p]
    if not pos or not neg:
        return
    # histogram formula (the distributed one)
    from collections import Counter

    hp, hn = Counter(pos), Counter(neg)
    scores = sorted(set(hp) | set(hn))
    u2, below = 0, 0
    for s in scores:
        u2 += 2 * hp[s] * below + hp[s] * hn[s]
        below += hn[s]
    # reference: pairwise with 0.5 for ties
    u_ref = sum((1.0 if sp > sn else 0.5 if sp == sn else 0.0)
                for sp in pos for sn in neg)
    assert u2 == round(2 * u_ref)


@given(st.integers(1, 500), st.integers(2, 64))
@settings(max_examples=25, deadline=None)
def test_dataset_split_cutoffs_partition_hash_space(n, seed):
    """Split assignment is a total function of the md5 hash: the
    three cutoff ranges partition [0, 16^8) with no gaps/overlap for
    any (train, val) fraction pair the API allows."""
    from ocr_pytorch_spark.operators.text import _SPLIT_SPAN

    tf = (seed % 9 + 1) / 10.0       # 0.1 .. 0.9
    vf = min((seed % 3 + 1) / 10.0, (1.0 - tf) / 2)
    c1, c2 = int(tf * _SPLIT_SPAN), int((tf + vf) * _SPLIT_SPAN)
    assert 0 <= c1 <= c2 <= _SPLIT_SPAN
    h = n * 8191 % _SPLIT_SPAN
    split = ("train" if h < c1 else "val" if h < c2 else "test")
    assert split in ("train", "val", "test")
