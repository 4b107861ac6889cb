"""End-to-end training-corpus cleaning job (jobs/clean_corpus.py):
near-dup components -> keeper policy -> lang/quality gates -> bucketed
lineage commit, with kill/resume idempotence."""

import os

from pyspark.sql import functions as F


def _docs(spark):
    from ocr_pytorch_spark import datagen

    rows = [(int(d["doc_id"][4:]),
             " ".join(s["text"] for s in d["spans"]
                      if s["kind"] == "text" and s["text"]))
            for d in datagen.gen_documents(40)]
    # planted near-dup: a noisy copy of doc 0 that the component
    # keeper policy must collapse
    ws = rows[0][1].split()
    if ws:
        ws[len(ws) // 2] = "zq"
    rows.append((9000, " ".join(ws)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus_rows(spark, dst):
    df = spark.read.parquet(os.path.join(dst, "data"))
    return sorted((r["doc_id"], r["text"], r["lang_pred"])
                  for r in df.select("doc_id", "text",
                                     "lang_pred").collect())


def test_clean_corpus_job_and_resume(spark, tmp_path_factory):
    import shutil

    from jobs.clean_corpus import run
    from ocr_pytorch_spark.operators.dedup import dup_components
    from ocr_pytorch_spark.plans.lineage import (LINEAGE_SCHEMA,
                                                 committed_buckets)

    buckets = 8
    docs = _docs(spark)

    dst_clean = str(tmp_path_factory.mktemp("cc_clean"))
    s1 = run(spark, docs, dst_clean, min_quality=0.0, lang="en",
             buckets=buckets)
    assert s1["input"] == 41
    assert 0 < s1["dedup+filter"] <= 41
    clean = _corpus_rows(spark, dst_clean)
    assert clean
    ids = {r[0] for r in clean}
    assert not (0 in ids and 9000 in ids)  # dup pair collapsed
    lin = spark.read.parquet(os.path.join(dst_clean, "_lineage"))
    assert lin.where(F.col("status") == "ok").count() == buckets
    st = spark.read.parquet(os.path.join(dst_clean, "_stats"))
    assert st.collect()[0]["input"] == 41
    cc = {}
    dup_components(docs, bucket_cap=1000, stats=cc)
    assert st.first()["dedup_rounds"] == cc["rounds"]

    # crash simulation: full output, only half the buckets committed
    dst = str(tmp_path_factory.mktemp("cc_crash"))
    run(spark, docs, dst, min_quality=0.0, lang="en", buckets=buckets)
    keep = [tuple(r) for r in spark.read.parquet(
        os.path.join(dst, "_lineage")).collect()
        if r["bucket"] < buckets // 2]
    shutil.rmtree(os.path.join(dst, "_lineage"))
    spark.createDataFrame(keep, LINEAGE_SCHEMA).coalesce(1) \
        .write.parquet(os.path.join(dst, "_lineage"))
    assert committed_buckets(spark, dst) == set(range(buckets // 2))

    s2 = run(spark, docs, dst, min_quality=0.0, lang="en",
             buckets=buckets)
    assert s2["buckets_skipped"] == buckets // 2
    assert _corpus_rows(spark, dst) == clean

    # second resume short-circuits
    s3 = run(spark, docs, dst, min_quality=0.0, lang="en",
             buckets=buckets)
    assert s3["docs_processed"] == 0
    assert s3["buckets_skipped"] == buckets


def test_dedup_filter_stat_is_exact(spark, tmp_path_factory):
    """``_stats`` "dedup+filter" counts every row that passed dedup and
    the gates: all committed rows at sample=1.0, and the same number on
    a half-committed resume (which writes only the pending buckets) and
    at sample=0.5 (which writes fewer rows)."""
    import shutil

    from jobs.clean_corpus import run
    from ocr_pytorch_spark.plans.lineage import LINEAGE_SCHEMA

    buckets = 8
    docs = _docs(spark)

    def stat(dst):
        return spark.read.parquet(
            os.path.join(dst, "_stats")).first()["dedup+filter"]

    dst = str(tmp_path_factory.mktemp("cc_exact"))
    s1 = run(spark, docs, dst, min_quality=0.0, lang="en",
             buckets=buckets)
    n = s1["dedup+filter"]
    assert n == s1["docs_processed"] == len(_corpus_rows(spark, dst)) > 0
    assert stat(dst) == n

    lin = os.path.join(dst, "_lineage")
    keep = [tuple(r) for r in spark.read.parquet(lin).collect()
            if r["bucket"] < buckets // 2]
    shutil.rmtree(lin)
    spark.createDataFrame(keep, LINEAGE_SCHEMA).coalesce(1) \
        .write.parquet(lin)
    s2 = run(spark, docs, dst, min_quality=0.0, lang="en",
             buckets=buckets)
    assert s2["buckets_skipped"] == buckets // 2
    assert 0 < s2["docs_processed"] < n
    assert s2["dedup+filter"] == stat(dst) == n

    dst_half = str(tmp_path_factory.mktemp("cc_exact_half"))
    s3 = run(spark, docs, dst_half, min_quality=0.0, lang="en",
             sample=0.5, buckets=buckets)
    assert 0 < s3["docs_processed"] < n
    assert s3["dedup+filter"] == stat(dst_half) == n
