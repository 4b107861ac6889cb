"""Connected-components algorithms (operators/dedup.py): BSP min-label
vs large-star/small-star — identical outputs, logarithmic vs linear
round counts on a deep chain."""

import numpy as np
import pytest

from ocr_pytorch_spark.operators.dedup import dup_components

CHAIN_N = 100


@pytest.fixture()
def chain_graph(spark):
    """A single 100-node chain d000-d001-...-d099 — the worst case for
    diameter-bound propagation — plus two isolated nodes."""
    ids = [f"d{i:03d}" for i in range(CHAIN_N)] + ["iso-a", "iso-b"]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    edges = spark.createDataFrame(
        [(f"d{i:03d}", f"d{i + 1:03d}") for i in range(CHAIN_N - 1)],
        "doc_a string, doc_b string")
    return docs, edges


def test_star_matches_ground_truth_on_chain(chain_graph):
    docs, edges = chain_graph
    stats = {}
    out = dup_components(docs, edges=edges, algorithm="star",
                         max_iter=25, stats=stats)
    rows = {r["doc_id"]: (r["component"], r["is_keeper"])
            for r in out.collect()}
    assert len(rows) == CHAIN_N + 2
    for i in range(CHAIN_N):
        assert rows[f"d{i:03d}"] == ("d000", i == 0)
    assert rows["iso-a"] == ("iso-a", True)
    assert rows["iso-b"] == ("iso-b", True)
    # logarithmic convergence: a 100-chain needs ~log2(100) ~ 7 star
    # rounds, not 100 label-propagation rounds
    assert stats["rounds"] <= 10, f"star took {stats['rounds']} rounds"


def test_star_round_count_beats_bsp_on_chain(spark):
    """On a 40-chain, BSP needs ~diameter rounds while star needs
    O(log d) — the documented 10^12 story, asserted as code."""
    n = 40
    ids = [f"c{i:03d}" for i in range(n)]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    edges = spark.createDataFrame(
        [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(n - 1)],
        "doc_a string, doc_b string")
    bsp_stats, star_stats = {}, {}
    bsp = dup_components(docs, edges=edges, algorithm="bsp",
                         max_iter=60, stats=bsp_stats)
    star = dup_components(docs, edges=edges, algorithm="star",
                          max_iter=25, stats=star_stats)
    assert sorted(map(tuple, bsp.collect())) \
        == sorted(map(tuple, star.collect()))
    assert star_stats["rounds"] < bsp_stats["rounds"] / 3, (
        f"star {star_stats['rounds']} vs bsp {bsp_stats['rounds']}")


def test_star_matches_bsp_on_random_graph(spark):
    """Same components on a random multi-component graph (the general
    case, not just chains)."""
    rng = np.random.default_rng(11)
    n = 120
    ids = [f"r{i:03d}" for i in range(n)]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    pairs = {(f"r{a:03d}", f"r{b:03d}")
             for a, b in rng.integers(0, n, (90, 2)) if a != b}
    edges = spark.createDataFrame(sorted(pairs),
                                  "doc_a string, doc_b string")
    bsp = dup_components(docs, edges=edges, algorithm="bsp",
                         max_iter=60)
    star = dup_components(docs, edges=edges, algorithm="star")
    assert sorted(map(tuple, bsp.collect())) \
        == sorted(map(tuple, star.collect()))


def test_star_on_fixture_lsh_graph(spark, tmp_path_factory):
    """The flag composes with the real MinHash-LSH edge source: same
    dedup_components result either way on the fixture corpus."""
    from ocr_pytorch_spark import datagen

    out = tmp_path_factory.mktemp("dupfix")
    doc_path, _ = datagen.write_fixture(str(out), 24)
    raw = spark.read.parquet(doc_path)
    # flatten spans to the (doc_id, text) shape dedup expects
    from pyspark.sql import functions as F

    docs = raw.select(
        "doc_id",
        F.concat_ws(" ", F.transform("spans", lambda s: s["text"]))
        .alias("text"))
    a = dup_components(docs, algorithm="bsp")
    b = dup_components(docs, algorithm="star")
    assert sorted(map(tuple, a.collect())) \
        == sorted(map(tuple, b.collect()))


def test_bsp_computes_edges_once(spark):
    """The edge list is materialized once, not re-derived every round:
    a Python UDF in the edge plan runs once per edge, however many
    rounds propagation takes."""
    from pyspark.sql import functions as F

    tapped = spark.sparkContext.accumulator(0)

    def tap(doc_id):
        tapped.add(1)
        return doc_id

    n = 6
    ids = [f"t{i}" for i in range(n)]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    pairs = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    edges = (spark.createDataFrame(pairs, "doc_a string, doc_b string")
             .select(F.udf(tap, "string")("doc_a").alias("doc_a"),
                     "doc_b"))
    stats = {}
    out = dup_components(docs, edges=edges, stats=stats)
    assert {r["component"] for r in out.collect()} == {"t0"}
    assert stats["rounds"] >= 3
    assert tapped.value == len(pairs)


def test_bsp_rounds_and_isolated_docs(spark):
    """A k-node chain takes k rounds (diameter + 1, the last one finding
    no change); docs in no edge label themselves and are keepers."""
    k = 7
    chain = [f"k{i}" for i in range(k)]
    loose = ["z-iso", "a-iso"]
    docs = spark.createDataFrame([(i,) for i in chain + loose],
                                 "doc_id string")
    edges = spark.createDataFrame(
        [(chain[i + 1], chain[i]) for i in range(k - 1)],
        "doc_a string, doc_b string")
    stats = {}
    rows = {r["doc_id"]: (r["component"], r["is_keeper"])
            for r in dup_components(docs, edges=edges,
                                    stats=stats).collect()}
    assert stats["rounds"] == k
    assert rows == {**{d: ("k0", d == "k0") for d in chain},
                    **{d: (d, True) for d in loose}}

    # no edges at all: one round, every doc its own keeper
    stats = {}
    none = dup_components(docs, edges=edges.limit(0), stats=stats)
    assert stats["rounds"] == 1
    assert all(r["component"] == r["doc_id"] and r["is_keeper"]
               for r in none.collect())
