"""The shared lineage commit: one ``_lineage`` read per run, and a
lineage table that exists but cannot be read is an error, never
"nothing committed"."""

import os

import pytest

from ocr_pytorch_spark import datagen
from ocr_pytorch_spark.plans import lineage as L


@pytest.fixture
def count_lineage_reads(monkeypatch):
    calls = []
    orig = L._read_optional

    def counting(*args, **kwargs):
        calls.append(args[1])
        return orig(*args, **kwargs)

    monkeypatch.setattr(L, "_read_optional", counting)
    return calls


def test_unreadable_lineage_raises(spark, tmp_path):
    lin = tmp_path / "_lineage"
    lin.mkdir()
    (lin / "part-00000.parquet").write_text("not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        L.committed_buckets(spark, str(tmp_path))


def test_bucketed_write_reads_lineage_once(spark, tmp_path,
                                           count_lineage_reads):
    out = spark.createDataFrame(
        [(f"doc-{i}", "word " * i) for i in range(20)],
        "doc_id string, text string")
    dst = str(tmp_path)
    s1 = L.run_bucketed_write(spark, out, dst, buckets=4,
                              payload_col="text")
    assert count_lineage_reads == [os.path.join(dst, "_lineage")]
    assert s1["docs_processed"] == 20

    # a second run finds every bucket committed: still one read
    s2 = L.run_bucketed_write(spark, out, dst, buckets=4,
                              payload_col="text")
    assert len(count_lineage_reads) == 2
    assert s2["buckets_skipped"] == 4 and s2["docs_processed"] == 0

    m = spark.read.parquet(os.path.join(dst, "_metrics")).collect()
    assert sum(r["n_rows"] for r in m) == 20
    assert sum(r["n_spans"] for r in m) == sum(
        len("word " * i) for i in range(20))


def test_extract_job_reads_lineage_once(spark, bundled_weights,
                                        fixture_cfg, tmp_path,
                                        count_lineage_reads):
    doc_path, img_path = datagen.write_fixture(str(tmp_path / "in"), 4)
    docs = spark.read.parquet(doc_path)
    imgs = spark.read.parquet(img_path)
    dst = str(tmp_path / "out")
    s1 = L.run_extract_job(spark, docs, imgs, dst, fixture_cfg,
                           buckets=4)
    assert s1["docs_processed"] == 4
    assert len(count_lineage_reads) == 1

    s2 = L.run_extract_job(spark, docs, imgs, dst, fixture_cfg,
                           buckets=4)
    assert s2["docs_processed"] == 0
    assert len(count_lineage_reads) == 2


def test_commit_tables_keep_declared_types(spark, tmp_path):
    """After a corpus job, ``_lineage``, ``_metrics`` and ``_stats`` read
    back with exactly their declared column types (int vs bigint), and
    each append adds one file."""
    from pyspark.sql.types import LongType, StructType

    from jobs.clean_corpus import run

    rows = [(int(d["doc_id"][4:]),
             " ".join(s["text"] for s in d["spans"]
                      if s["kind"] == "text" and s["text"]))
            for d in datagen.gen_documents(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    dst = str(tmp_path)

    def table(name):
        path = os.path.join(dst, name)
        return ([(f.name, f.dataType)
                 for f in spark.read.parquet(path).schema],
                len([f for f in os.listdir(path)
                     if f.endswith(".parquet")]))

    def declared(ddl):
        return [(f.name, f.dataType) for f in StructType.fromDDL(ddl)]

    stats = run(spark, docs, dst, min_quality=0.0, buckets=4)
    assert table("_lineage") == (declared(L.LINEAGE_SCHEMA), 1)
    assert table("_metrics") == (declared(L.METRICS_SCHEMA), 1)
    assert table("_stats") == ([(k, LongType()) for k in stats], 1)

    run(spark, docs, dst, min_quality=0.0, buckets=4, resume=False)
    assert table("_lineage") == (declared(L.LINEAGE_SCHEMA), 2)
    assert table("_metrics") == (declared(L.METRICS_SCHEMA), 2)
    assert table("_stats") == ([(k, LongType()) for k in stats], 1)


def test_lineage_state_of_fresh_dst_runs_no_job(spark, tmp_path):
    sc = spark.sparkContext
    group = "fresh-lineage-state"
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        before = list(tracker.getJobIdsForGroup(group))
        assert L._lineage_state(spark, str(tmp_path)) == (set(), {})
        after = list(tracker.getJobIdsForGroup(group))
        # control: a job started in this group does show up
        spark.range(3).collect()
        control = list(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert after == before == []
    assert len(control) > len(after)
