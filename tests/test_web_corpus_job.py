"""End-to-end web-extraction pipeline (jobs/web_corpus.py): raw pages
-> main content -> repetition gate -> decontamination -> bucketed
corpus, with stage stats."""

import os


def test_web_corpus_job_end_to_end(spark, tmp_path_factory):
    from ocr_pytorch_spark import datagen
    from jobs.web_corpus import run

    src = tmp_path_factory.mktemp("wcsrc")
    dst = str(tmp_path_factory.mktemp("wcdst"))
    # flat (doc_id, text) docs — 40 normal + 1 hyper-repetitive spam
    rows = [(str(d["doc_id"]),
             " ".join(s["text"] for s in d["spans"]
                      if s["kind"] == "text" and s["text"]))
            for d in datagen.gen_documents(40)]
    rows.append(("spam-doc", "buy now " * 50))
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    stats = run(spark, docs, dst, min_words=4)
    assert stats["docs_in"] == 41
    # the spam doc dies at the repetition gate
    assert stats["after_repetition_gate"] < 41
    # each later stage only narrows, and survivors remain
    assert (stats["after_repetition_gate"]
            >= stats["after_quality_gate"]
            >= stats["after_line_dedup"]
            >= stats["after_decontam"])
    assert stats["after_decontam"] > 0
    out = spark.read.parquet(os.path.join(dst, "web_corpus"))
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert "spam-doc" not in ids
    assert out.count() == stats["after_decontam"]
    # extracted text is boilerplate-free
    sample = out.limit(5).collect()
    assert all("BUY NOW" not in r["text"] and "<" not in r["text"]
               for r in sample)
    # stats table written
    st = spark.read.parquet(os.path.join(dst, "_stats")).collect()[0]
    assert st["docs_in"] == 41


def _corpus_rows(spark, dst):
    df = spark.read.parquet(os.path.join(dst, "web_corpus"))
    return sorted((r["doc_id"], r["text"])
                  for r in df.select("doc_id", "text").collect())


def test_web_corpus_resume_idempotent(spark, tmp_path_factory):
    """Kill/resume for the web pipeline (r6 VERDICT task 3), mirroring
    tests/test_lineage.py: a run whose commit only covered half the
    buckets — with garbage partial files in an uncommitted bucket —
    must resume to exactly the clean-run table, skip committed
    buckets, and no-op on a second resume."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from jobs.web_corpus import run
    from ocr_pytorch_spark import datagen
    from ocr_pytorch_spark.plans.lineage import (LINEAGE_SCHEMA,
                                                 committed_buckets)

    buckets = 8
    rows = [(str(d["doc_id"]),
             " ".join(s["text"] for s in d["spans"]
                      if s["kind"] == "text" and s["text"]))
            for d in datagen.gen_documents(40)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    # clean one-shot run
    dst_clean = str(tmp_path_factory.mktemp("wc_clean"))
    s1 = run(spark, docs, dst_clean, min_words=4, buckets=buckets)
    assert s1["buckets_skipped"] == 0
    clean = _corpus_rows(spark, dst_clean)
    assert clean
    lin1 = spark.read.parquet(os.path.join(dst_clean, "_lineage"))
    assert lin1.where(F.col("status") == "ok").count() == buckets
    met1 = spark.read.parquet(os.path.join(dst_clean, "_metrics"))
    assert met1.where(F.col("stage") == "web_corpus").count() == buckets

    # "crashed" run: full output, but only half the buckets committed
    dst = str(tmp_path_factory.mktemp("wc_crash"))
    run(spark, docs, dst, min_words=4, buckets=buckets)
    lin_rows = [tuple(r) for r in spark.read.parquet(
        os.path.join(dst, "_lineage")).collect()
        if r["bucket"] < buckets // 2]
    shutil.rmtree(os.path.join(dst, "_lineage"))
    spark.createDataFrame(lin_rows, LINEAGE_SCHEMA).coalesce(1) \
        .write.parquet(os.path.join(dst, "_lineage"))
    committed = committed_buckets(spark, dst)
    assert committed == set(range(buckets // 2))
    # garbage partial files from the crash in an uncommitted bucket
    victim = buckets // 2
    gdir = os.path.join(dst, "web_corpus", f"bucket={victim}")
    os.makedirs(gdir, exist_ok=True)
    pq.write_table(pa.table({"doc_id": ["GARBAGE"],
                             "text": ["partial crash leftovers"]}),
                   os.path.join(gdir, "part-garbage.parquet"))

    # resume with the full input
    s2 = run(spark, docs, dst, min_words=4, buckets=buckets)
    assert s2["buckets_skipped"] == buckets // 2
    assert _corpus_rows(spark, dst) == clean  # garbage gone, identical
    lin = spark.read.parquet(os.path.join(dst, "_lineage"))
    assert (lin.where(F.col("status") == "ok")
            .groupBy("bucket").count()
            .where(F.col("count") > 1).count()) == 0

    # second resume short-circuits before any corpus-global recompute
    s3 = run(spark, docs, dst, min_words=4, buckets=buckets)
    assert s3["docs_processed"] == 0
    assert s3["buckets_skipped"] == buckets
    assert s3["docs_in"] == 40
