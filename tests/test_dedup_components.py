"""Connected components (operators/dedup.py::dup_components): frontier
min-label propagation runs to its fixed point — diameter + 1 rounds on
a chain, however long — computes the edge list once, and agrees with
a pure-Python union-find."""

import numpy as np

from ocr_pytorch_spark.operators.dedup import dup_components


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
    no change), however long it is; docs in no edge label themselves
    and are keepers."""
    loose = ["z-iso", "a-iso"]
    for k in (7, 30):
        chain = [f"k{i:02d}" for i in range(k)]
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
        assert rows == {**{d: ("k00", d == "k00") for d in chain},
                        **{d: (d, True) for d in loose}}

    # no edges at all: one round, every doc its own keeper
    stats = {}
    none = dup_components(docs, edges=edges.limit(0), stats=stats)
    assert stats["rounds"] == 1
    assert all(r["component"] == r["doc_id"] and r["is_keeper"]
               for r in none.collect())


def test_bsp_matches_union_find_on_random_graph(spark):
    """Same components as a pure-Python union-find on a random
    multi-component graph (the general case, not just chains)."""
    rng = np.random.default_rng(11)
    n = 120
    ids = [f"r{i:03d}" for i in range(n)]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    pairs = {(f"r{a:03d}", f"r{b:03d}")
             for a, b in rng.integers(0, n, (90, 2)) if a != b}
    edges = spark.createDataFrame(sorted(pairs),
                                  "doc_a string, doc_b string")

    # union by min root keeps every root the min id of its component
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    expected = sorted((i, find(i), find(i) == i) for i in ids)
    assert sorted(map(tuple, dup_components(docs, edges=edges)
                      .collect())) == expected
