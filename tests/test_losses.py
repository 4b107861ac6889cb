"""OHEM classification loss (A5/W5) vs independent hand-computed values.

The loss lives on as the ``ohem_topk_sum`` entry query: per group,
(sum of positive losses + sum of the hardest (300 - n_pos) negative
losses) / 300, with positives the rows whose loss is >= 0.9
(train_ctpn/ctpn_model.py:56-81).  Both the Spark query and its DuckDB
oracle are checked against the value computed here with numpy.

Losses are multiples of 1/1024, so every partial sum is exact in float64
and the 4dp-quantized result is the same whatever order an engine adds
in.
"""

import math

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as E

TOTAL_NUM = 300


def _losses(rng, n, pos):
    # positives >= 922/1024 > 0.9; negatives <= 921/1024 < 0.9
    lo, hi = (922, 4096) if pos else (0, 922)
    return rng.integers(lo, hi, size=n) / 1024.0


def _want(pos, neg):
    k = min(neg.size, max(0, TOTAL_NUM - pos.size))
    hardest = np.sort(neg)[::-1][:k]
    v = (pos.sum() + hardest.sum()) / TOTAL_NUM
    return math.floor(v * 10000 + 0.5) / 10000


def _ohem_both_engines(spark, tmp_path, groups):
    """groups: {event_type: (pos_losses, neg_losses)} -> the
    {event_type: (n_pos, ohem_loss)} of the Spark query and of the
    DuckDB oracle."""
    rows = []
    for et, (pos, neg) in groups.items():
        for v in np.concatenate([pos, neg]):
            rows.append((et, len(rows), float(v)))
    sf = tmp_path / "sf"
    sf.mkdir()
    path = str(sf / "events.parquet")
    pd.DataFrame(rows, columns=["event_type", "event_id", "value"]) \
        .to_parquet(path, index=False)

    got = {r["event_type"]: (r["n_pos"], r["ohem_loss"])
           for r in E.queries()["ohem_topk_sum"](spark, str(sf))
           .collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    oracle = {et: (n, v) for et, n, v in
              con.sql(E.oracle_sql()["ohem_topk_sum"]).fetchall()}
    return got, oracle


def test_rpn_cls_loss_ohem_picks_hardest_negatives(spark, tmp_path):
    rng = np.random.default_rng(0)
    groups = {
        # 495 negatives > budget of 295: only the hardest count
        "a": (_losses(rng, 5, True), _losses(rng, 495, False)),
        # fewer negatives than the budget: all of them count
        "b": (_losses(rng, 10, True), _losses(rng, 100, False)),
    }
    got, oracle = _ohem_both_engines(spark, tmp_path, groups)
    want = {et: (pos.size, _want(pos, neg))
            for et, (pos, neg) in groups.items()}
    assert got == want
    assert oracle == want
    # the top-k matters: summing the first 295 negatives in input order
    # instead of the hardest gives a different loss
    pos, neg = groups["a"]
    unsorted = math.floor((pos.sum() + neg[:295].sum()) / TOTAL_NUM
                          * 10000 + 0.5) / 10000
    assert got["a"][1] > unsorted


def test_rpn_cls_loss_ohem_more_positives_than_budget(spark, tmp_path):
    """n_pos > total_num: k clamps to 0 — no negatives contribute
    (a negative k would silently sum all-but-|k| hardest negatives)."""
    rng = np.random.default_rng(1)
    pos, neg = _losses(rng, 350, True), _losses(rng, 50, False)
    got, oracle = _ohem_both_engines(spark, tmp_path, {"a": (pos, neg)})
    want = math.floor(pos.sum() / TOTAL_NUM * 10000 + 0.5) / 10000
    assert got == {"a": (350, want)}
    assert oracle == {"a": (350, want)}
