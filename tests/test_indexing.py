"""Corpus indexing (operators/indexing.py): TF-IDF ranking, two-phase
inverted index, heavy hitters, Z-order clustering — semantic checks;
cross-engine hashes live in test_entry_contract."""

import pytest
from pyspark.sql import functions as F

from ocr_pytorch_spark.operators import indexing as IX


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "common rare common common"),
        (2, "common common unique"),
        (3, "common common common common"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tfidf_rare_term_outranks_common(spark):
    rows = [(1, "common rare"), (2, "common"), (3, "common")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["doc_id"], r["rank"]): r
           for r in IX.tfidf_topk(d, k=2).collect()}
    # doc 1, equal tf: 'rare' (df=1, idf=ln(2)+1) outranks 'common'
    # (df=3, idf=ln(1)+1)
    assert out[(1, 1)]["word"] == "rare"
    assert out[(1, 2)]["word"] == "common"
    # doc 2 has only one term
    assert out[(2, 1)]["word"] == "common"
    assert (2, 2) not in out


def test_inverted_index_two_phase(spark):
    rows = [(i, f"hot term here filler only doc{i} has this"
                + (" semi shared phrase" if i < 4 else ""))
            for i in range(5)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["term"]: r for r in
           IX.inverted_index(d, max_df=4, postings_cap=3).collect()}
    # 'hot term here' appears in all 5 docs: df > max_df -> NULL list
    hot = out["hot term here"]
    assert hot["df"] == 5 and hot["postings"] is None
    # a selective term gets its posting list
    sel = out["only doc2 has"]
    assert sel["df"] == 1 and sel["postings"] == "2"
    # df=4 term: postings capped at 3, lexicographically sorted
    semi = out["semi shared phrase"]
    assert semi["df"] == 4
    assert semi["postings"] == "0,1,2"


def test_top_ngrams_corpus(spark, docs):
    out = IX.top_ngrams_corpus(docs, k=2).collect()
    # d1 contributes 1 'common common', d2 1, d3 3
    assert out[0]["bigram"] == "common common" and out[0]["n"] == 5
    assert out[0]["rank"] == 1 and out[1]["rank"] == 2


def test_zorder_key_interleaves(spark):
    d = spark.createDataFrame([(0b101, 0b011)], "a long, b long")
    z = d.select(IX.zorder_key("a", "b").alias("z")).collect()[0]["z"]
    # a=101 in even bit positions (0,2,4): 1,0,1 -> 0b010001
    # b=011 in odd  bit positions (1,3,5): 1,1,0 -> 0b001010
    assert z == 0b010001 + 0b001010


def test_zorder_clustering_improves_file_skipping(spark, tmp_path):
    """The write-side payoff: Z-ordering the sort key before writing
    makes per-file [min, max] bounds tight in BOTH dimensions, so a
    range scan on the secondary column skips files; sorting by the
    primary column alone reads everything."""
    grid = (spark.range(0, 4096)
            .select((F.col("id") % 64).alias("a"),
                    (F.col("id") / 64).cast("long").alias("b")))

    def build(df, root, n_files=8):
        (df.repartitionByRange(n_files, "sort")
         .sortWithinPartitions("sort").drop("sort")
         .write.parquet(str(root)))
        return str(root)

    def scan_range(path, col, lo, hi):
        """Min/max file pruning: read only the files whose [min, max]
        of ``col`` overlaps [lo, hi]."""
        bounds = (spark.read.parquet(path)
                  .groupBy(F.input_file_name().alias("file"))
                  .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
                  .collect())
        keep = [r["file"] for r in bounds
                if r["lo"] <= hi and r["hi"] >= lo]
        df = spark.read.parquet(*keep).where(F.col(col).between(lo, hi))
        return df, {"files_read": len(keep), "files_total": len(bounds)}

    by_a = build(grid.withColumn("sort", F.col("a")), tmp_path / "a")
    by_z = build(grid.withColumn("sort", IX.zorder_key("a", "b")),
                 tmp_path / "z")
    _, pa = scan_range(by_a, "b", 0, 7)
    dfz, pz = scan_range(by_z, "b", 0, 7)
    assert pa["files_read"] == pa["files_total"]  # a-sort: no pruning
    assert pz["files_read"] < pz["files_total"] // 2  # z-sort prunes
    assert dfz.count() == 8 * 64  # and still returns every row


def test_bloom_no_false_negatives(spark):
    """Every true member must be a candidate (Bloom guarantees no
    false negatives); false positives are >= 0 and bounded well below
    the non-member count for 512 bits vs ~60 keys."""
    build = spark.range(0, 60).select(F.col("id").alias("bk"))
    probe = spark.range(0, 200).select(F.col("id").alias("pk"))
    row = IX.bloom_probe_stats(build, "bk", probe, "pk").collect()[0]
    assert row["n_probed"] == 200
    assert row["n_members"] == 60
    assert row["n_candidates"] >= row["n_members"]
    assert row["n_false_positives"] == \
        row["n_candidates"] - row["n_members"]
    # 3 hashes, 60 keys, 512 bits -> fp rate ~ (1-e^-180/512)^3 ~ 2.6%
    assert row["n_false_positives"] < 30


def test_hll_estimate_within_tolerance(spark):
    """HLL with m=64: relative error ~1.04/sqrt(64) = 13%; assert
    within 3 sigma at two cardinalities spanning the linear-counting
    and raw-estimate regimes."""
    for n in (40, 2000):
        d = spark.range(0, n).select(F.col("id").alias("v"))
        row = IX.hll_distinct(d, "v").collect()[0]
        # exact ground truth is the loop var — the query itself must
        # NOT compute it (no distinct aggregate in the sketch plan)
        assert "n_exact" not in row.asDict()
        assert abs(row["hll_est"] - n) / n < 0.4, row


def test_bm25_ranks_matching_docs(spark):
    """BM25 semantics on a handcrafted corpus: docs containing more
    of the data-derived query terms (with shorter length) score
    higher; docs with no query term never appear."""
    rows = [
        # 'alpha' df=4, 'beta' df=3 -> the two mid-band query terms
        # (df*4 <= 12 requires df <= 3: 'beta' (3) and 'gamma' (2))
        (1, "alpha beta gamma"),
        (2, "alpha beta filler filler filler filler filler filler"),
        (3, "alpha beta"),
        (4, "alpha only here"),
        (5, "nothing relevant at all"),
        (6, "gamma gamma plus extra words"),
    ] + [(10 + i, f"pad{i} unique words doc") for i in range(6)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = IX.bm25_topk(d, k=10, n_query_terms=2).collect()
    got = {r["doc_id"]: (r["rank"], r["score_micro"]) for r in out}
    # doc 1 holds BOTH query terms -> top rank
    assert got[1][0] == 1
    # doc 3 (short) outscores doc 2 (same tf, longer doc): length
    # normalization must bite
    assert got[3][1] > got[2][1]
    # docs with no query term are absent
    assert 4 not in got and 5 not in got
    # scores strictly ordered by (score desc, doc_id) rank
    ranked = sorted(out, key=lambda r: r["rank"])
    scores = [r["score_micro"] for r in ranked]
    assert scores == sorted(scores, reverse=True)


def test_skew_profile_flags_hot_key(spark):
    """The hot key dominates the profile: rank 1, share and
    ratio-to-uniform reflect exact integer math."""
    rows = ([("hot",)] * 80
            + [(f"cold{i}",) for i in range(20)])
    d = spark.createDataFrame(rows, "user_id string")
    out = {r["rank"]: r for r in
           IX.skew_profile(d, key="user_id", k=5).collect()}
    top = out[1]
    assert top["user_id"] == "hot" and top["cnt"] == 80
    # 80 of 100 rows = 800000 ppm; 21 distinct keys -> uniform
    # would be 100/21, ratio = floor(80*21*100/100) = 1680 pct
    assert top["share_ppm"] == 800000
    assert top["ratio_pct"] == 1680
    # cold keys: 1/100 = 10000 ppm, ratio floor(1*21*100/100) = 21
    assert out[2]["cnt"] == 1 and out[2]["share_ppm"] == 10000
    assert out[2]["ratio_pct"] == 21
