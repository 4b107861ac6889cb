"""Per-partition checkpointed lineage + metrics for idempotent resume.

North-star requirement (BASELINE.json): "per-partition checkpointed
lineage + metrics tables so any failed partition resumes idempotently."

Layout under the destination root:

    <dst>/data/bucket=<k>/...   job output, hash-bucketed by doc_id
    <dst>/_lineage/...          one row per (bucket, attempt) commit
    <dst>/_metrics/...          per-bucket row/span counts per attempt
    <dst>/_stats/...            the corpus jobs' stage counts (one row)

Protocol (SURVEY.md §4.3), one commit path (``_commit``) for the OCR
job (``run_extract_job``) and the corpus jobs (``run_bucketed_write``):
* ``bucket = pmod(xxhash64(doc_id), B)`` — deterministic, so a doc
  always lands in the same bucket across attempts.
* A bucket is COMMITTED iff a lineage row with status='ok' exists.
  ``_lineage`` is read once per run, in one aggregate that gives both
  the committed set and the last attempt number of every bucket.
* The run OWNS the buckets it commits.  The OCR job prunes its input
  to uncommitted buckets, so it owns the buckets its pending docs fall
  in.  The corpus jobs' compute is corpus-global, so they own every
  uncommitted bucket, including ones their gates emptied (a bucket
  that is never committed would be recomputed on every resume).
* The owned buckets' rows are written with dynamic partition overwrite
  (Iceberg overwritePartitions / Parquet partitionOverwriteMode=
  dynamic), so re-running a bucket atomically replaces any partial
  files from a crashed attempt.  The written frame is persisted, and
  the per-bucket lineage/metrics stats are an aggregate over it.
  Lineage and metrics rows are appended only after the data write
  returns, making commit the last step.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ocr_pytorch_spark.config import PipelineConfig
from ocr_pytorch_spark.operators.extract import (extract,
                                                 file_weights_spec,
                                                 ocr_timing_accumulator)
from ocr_pytorch_spark.sources import tables

LINEAGE_SCHEMA = ("bucket int, doc_id_min string, doc_id_max string, "
                  "n_docs long, status string, attempt int, wall_ms long")
METRICS_SCHEMA = ("stage string, bucket int, n_rows long, n_spans long, "
                  "attempt int, wall_ms long")


def _exists(spark: SparkSession, path: str) -> bool:
    # Hadoop FileSystem, not os.path.exists: dst may live on HDFS/S3,
    # where a driver-local stat is always false and would make resume
    # silently reprocess everything.
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()).exists(p)


def _read_optional(spark: SparkSession, path: str,
                   schema: str) -> DataFrame | None:
    """The Parquet table at ``path``, or None if there is none yet; a
    table that exists but cannot be read raises."""
    if not _exists(spark, path):
        return None
    return spark.read.schema(schema).parquet(path)


def _write_rows(spark: SparkSession, rows: list[tuple], schema: str,
                path: str, mode: str = "append") -> None:
    """Write ``rows`` to ``path`` as one Parquet file with exactly the
    DDL ``schema``.  The frame is built from an Arrow table, which the
    JVM reads directly; a Python-list frame would run a Python-worker
    job to unpickle its rows."""
    struct = StructType.fromDDL(schema)
    tbl = pa.Table.from_pylist([dict(zip(struct.names, r)) for r in rows],
                               to_arrow_schema(struct))
    (spark.createDataFrame(tbl, struct).coalesce(1)
     .write.mode(mode).parquet(path))


def _lineage_state(spark: SparkSession, dst: str
                   ) -> tuple[set[int], dict[int, int]]:
    """(committed buckets, last attempt per bucket) from one read; no
    Spark job when there is no ``_lineage`` yet."""
    lineage = _read_optional(spark, os.path.join(dst, "_lineage"),
                             LINEAGE_SCHEMA)
    if lineage is None:
        return set(), {}
    rows = (lineage.groupBy("bucket")
            .agg(F.bool_or(F.col("status") == "ok").alias("ok"),
                 F.max("attempt").alias("attempt"))
            .collect())
    return ({r["bucket"] for r in rows if r["ok"]},
            {r["bucket"]: r["attempt"] for r in rows})


def committed_buckets(spark: SparkSession, dst: str) -> set[int]:
    return _lineage_state(spark, dst)[0]


def _bucketed(df: DataFrame, buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(buckets)).cast("int"))


def _summary(buckets: int, skipped: int, docs: int, wall_ms: int) -> dict:
    return {"buckets_total": buckets, "buckets_skipped": skipped,
            "docs_processed": docs, "wall_ms": wall_ms}


def _commit(spark: SparkSession, out: DataFrame, dst: str, data_dir: str,
            buckets: int, owned: set[int], attempts: dict[int, int],
            stage: str, n_spans: Column, t0: float,
            extra_metrics=lambda attempt: []) -> tuple[int, int]:
    """Write ``out``'s rows of the ``owned`` buckets to ``data_dir``,
    then commit every owned bucket: one ``_lineage`` and one ``_metrics``
    row each, plus the rows ``extra_metrics(job attempt)`` returns once
    the write has run.  ``n_spans``: the per-row expression summed into
    the metrics n_spans slot.  Returns (rows written, wall_ms)."""
    out_b = (_bucketed(out, buckets)
             .where(F.col("bucket").isin(*owned)).persist())
    try:
        # shuffle by bucket so one task writes each bucket (one file per
        # bucket): AQE does not coalesce a persisted plan's last stage,
        # and each of its partitions would write a file per bucket
        tables.write_partitioned(out_b.repartition("bucket"), data_dir,
                                 ["bucket"])
        wall_ms = int((time.time() - t0) * 1000)
        rows = (out_b.groupBy("bucket")
                .agg(F.min("doc_id").cast("string"),
                     F.max("doc_id").cast("string"),
                     F.count("*"), F.sum(n_spans))
                .collect())
    finally:
        out_b.unpersist()
    stats = {b: (lo, hi, n, sp or 0) for b, lo, hi, n, sp in rows}
    lineage_rows, metrics_rows = [], []
    for b in sorted(owned):
        lo, hi, n_docs, n_sp = stats.get(b, ("", "", 0, 0))
        attempt = attempts.get(b, 0) + 1
        lineage_rows.append((b, lo, hi, n_docs, "ok", attempt, wall_ms))
        metrics_rows.append((stage, b, n_docs, n_sp, attempt, wall_ms))
    metrics_rows += extra_metrics(max(attempts.values(), default=0) + 1)
    _write_rows(spark, lineage_rows, LINEAGE_SCHEMA,
                os.path.join(dst, "_lineage"))
    _write_rows(spark, metrics_rows, METRICS_SCHEMA,
                os.path.join(dst, "_metrics"))
    return sum(n for _, _, n, _ in stats.values()), wall_ms


def run_bucketed_write(spark: SparkSession, out: DataFrame, dst: str,
                       buckets: int = 32, resume: bool = True,
                       stage: str = "corpus",
                       data_subdir: str = "data",
                       payload_col: str | None = None) -> dict:
    """Bucketed lineage commit for corpus jobs whose output is a
    deterministic function of the FULL input (line dedup / decontam /
    near-dup components are corpus-global, so unlike the OCR job the
    compute cannot be pruned to pending buckets — but the WRITE can).
    The run owns every uncommitted bucket.  A killed run resumes by
    rewriting only uncommitted buckets; since the upstream plan is
    deterministic, re-derived bucket contents are identical, so the
    resume is idempotent.  ``payload_col``: a column whose total
    length lands in the metrics n_spans slot (e.g. text chars kept)."""
    t0 = time.time()
    done, attempts = _lineage_state(spark, dst)
    if not resume:
        done = set()
    owned = set(range(buckets)) - done
    if not owned:
        return _summary(buckets, len(done), 0, 0)
    n_docs, wall_ms = _commit(
        spark, out, dst, os.path.join(dst, data_subdir), buckets, owned,
        attempts, stage,
        F.length(payload_col) if payload_col else F.lit(0), t0)
    return _summary(buckets, len(done), n_docs, wall_ms)


def committed_run(spark: SparkSession, dst: str, buckets: int,
                  counts: tuple[str, ...]) -> dict | None:
    """The summary a corpus job returns for a destination whose every
    bucket is committed, or None while any bucket is pending.  The
    stage ``counts`` come from the committed run's ``_stats`` row (0
    when it is missing), so callers do not mistake the short-circuit
    for an empty corpus; ``wall_ms: 0`` marks it."""
    if len(committed_buckets(spark, dst)) < buckets:
        return None
    path = os.path.join(dst, "_stats")
    row = spark.read.parquet(path).first() if _exists(spark, path) else None
    prior = row.asDict() if row else {}
    stats = {k: int(prior.get(k, 0)) for k in counts}
    stats.update(_summary(buckets, buckets, 0, 0))
    return stats


def write_stats(spark: SparkSession, dst: str, stats: dict) -> None:
    """Replace ``<dst>/_stats`` with the one-row summary ``stats``."""
    _write_rows(spark, [tuple(stats.values())],
                ", ".join(f"`{k}` long" for k in stats),
                os.path.join(dst, "_stats"), mode="overwrite")


def run_extract_job(spark: SparkSession, documents: DataFrame,
                    images: DataFrame, dst: str, cfg: PipelineConfig,
                    buckets: int = 32, resume: bool = True,
                    data_table: str | None = None) -> dict:
    """Run the extraction into <dst> with bucketed lineage; returns a
    summary dict.  Safe to re-run after any failure: committed buckets
    are skipped, uncommitted ones are atomically overwritten.  Only
    the pending docs are OCR'd, and the run owns the buckets they fall
    in.

    ``data_table``: optional catalog identifier (e.g.
    ``local.db.spans``) — with an Iceberg runtime on the classpath the
    span data then lands in a native Iceberg table via the pluggable
    writer (sources/tables.write_partitioned) instead of
    ``<dst>/data`` Parquet; lineage/metrics stay at ``<dst>``
    (tests/test_iceberg_native.py)."""
    t0 = time.time()
    done, attempts = _lineage_state(spark, dst)
    if not resume:
        done = set()
    docs_b = _bucketed(documents, buckets)
    if done:
        docs_b = docs_b.where(~F.col("bucket").isin(*done))
    pending_docs = docs_b.persist()
    try:
        per_bucket = dict(pending_docs.groupBy("bucket").count().collect())
        if not per_bucket:
            return _summary(buckets, len(done), 0, 0)

        # per-partition OCR walls flow back through an accumulator and
        # land in _metrics as stage='ocr_partition' rows — the straggler
        # observability the bucket-level rows can't give (all buckets
        # commit from ONE job, so their wall_ms is the job wall)
        timing_acc = ocr_timing_accumulator(spark)
        out = extract(pending_docs.drop("bucket"), images,
                      file_weights_spec(), cfg, timing_acc=timing_acc)
        _, wall_ms = _commit(
            spark, out, dst, data_table or os.path.join(dst, "data"),
            buckets, set(per_bucket), attempts, "extract",
            F.size("spans"), t0,
            lambda attempt: [("ocr_partition", pid, n_imgs, 0, attempt,
                              w_ms)
                             for pid, n_imgs, w_ms in timing_acc.value])
    finally:
        pending_docs.unpersist()
    return _summary(buckets, len(done), sum(per_bucket.values()), wall_ms)
