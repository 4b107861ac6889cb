"""End-to-end checkpoint integration.

A synthesized LEGACY-format torch .pth (the pre-1.6 layout the
reference's pretrained checkpoints ship in, ref README "checkpoints")
is converted by models/checkpoint.pth_to_npz and fed through the REAL
Spark extraction pipeline; spans must equal the single-process oracle
loading the same converted .npz — proving a user can drop their .pth
straight into the engine with no torch installed.

The fine-tune case stands in for a fine-tuning run with a small seeded
update to every CTPN weight, writes the updated weights to .npz, and
pipeline==oracle span parity must STILL hold — parity is
weight-agnostic, not an artifact of the bundled seed-42 weights.
"""

import os
from collections import OrderedDict

import numpy as np
import pytest

from ocr_pytorch_spark import datagen, oracle
from ocr_pytorch_spark.models import weights as W
from ocr_pytorch_spark.models.checkpoint import pth_to_npz
from ocr_pytorch_spark.models.weights import load_npz, save_npz
from ocr_pytorch_spark.operators import extract as EX

# reuse the torch-free .pth writer + fake-torch fixture
from tests.test_checkpoint import fake_torch  # noqa: F401
from tests.test_checkpoint import write_fake_pth_legacy

N_DOCS = 4


def _span_tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in spans]


@pytest.fixture(scope="module")
def fixture_tables(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("ckpt_fixture")
    doc_path, img_path = datagen.write_fixture(str(out), N_DOCS)
    return spark.read.parquet(doc_path), spark.read.parquet(img_path)


def _assert_pipeline_matches_oracle(spark, fixture_tables, spec,
                                    ctpn_npz, crnn_npz, cfg):
    docs_df, imgs_df = fixture_tables
    got = {r["doc_id"]: _span_tuples(r["spans"])
           for r in EX.extract(docs_df, imgs_df, spec, cfg).collect()}
    ctpn_w, crnn_w = load_npz(ctpn_npz), load_npz(crnn_npz)
    assert len(got) == N_DOCS
    n_spans = 0
    for d in datagen.gen_documents(N_DOCS):
        exp = oracle.extract_document(
            d, lambda r: datagen.gen_image_array(r)[0],
            ctpn_w, crnn_w, cfg)
        assert got[d["doc_id"]] == _span_tuples(exp["spans"]), \
            d["doc_id"]
        n_spans += len(exp["spans"])
    assert n_spans > 0


def test_legacy_pth_to_spark_parity(fake_torch, spark,  # noqa: F811
                                    fixture_tables, bundled_weights,
                                    fixture_cfg, tmp_path):
    """.pth (legacy format) -> pth_to_npz -> Spark extract == oracle
    on the same converted weights, in one run."""
    ctpn_w, crnn_w = bundled_weights
    ctpn_pth = str(tmp_path / "ctpn.pth")
    crnn_pth = str(tmp_path / "crnn.pth")
    # DataParallel-style 'module.' prefixes, as real checkpoints carry
    write_fake_pth_legacy(OrderedDict(
        ("module." + k, v) for k, v in ctpn_w.items()), ctpn_pth)
    write_fake_pth_legacy(OrderedDict(crnn_w.items()), crnn_pth)

    ctpn_npz = str(tmp_path / "ctpn.npz")
    crnn_npz = str(tmp_path / "crnn.npz")
    shapes = pth_to_npz(ctpn_pth, ctpn_npz)
    assert shapes and all(not k.startswith("module.") for k in shapes)
    pth_to_npz(crnn_pth, crnn_npz)

    spec = EX.file_weights_spec(ctpn_npz, crnn_npz)
    _assert_pipeline_matches_oracle(spark, fixture_tables, spec,
                                    ctpn_npz, crnn_npz, fixture_cfg)


def test_finetune_then_extract_parity(spark, fixture_tables,
                                      bundled_weights, fixture_cfg,
                                      tmp_path):
    """Fine-tuned CTPN weights (every tensor moved by a small seeded
    update) go through save_npz and file_weights_spec; the extraction
    pipeline + oracle must still agree under the NEW weights."""
    ctpn_w, _ = bundled_weights
    rng = np.random.default_rng(47)
    tuned = {k: (v + 0.01 * float(v.std())
                 * rng.standard_normal(v.shape)).astype(np.float32)
             for k, v in ctpn_w.items()}
    moved = sum(float(np.abs(tuned[k] - ctpn_w[k]).max())
                for k in ctpn_w)
    assert moved > 0.0

    tuned_npz = str(tmp_path / "ctpn_tuned.npz")
    save_npz(tuned_npz, tuned)
    crnn_npz = os.path.join(W.weights_dir(), "crnn.npz")
    spec = EX.file_weights_spec(tuned_npz, crnn_npz)
    _assert_pipeline_matches_oracle(spark, fixture_tables, spec,
                                    tuned_npz, crnn_npz, fixture_cfg)
