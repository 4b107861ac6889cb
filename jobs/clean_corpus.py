"""spark-submit entry point for the training-corpus cleaning pipeline:
the operators a 100 TB pretraining dataset build actually chains.

    spark-submit --py-files ocr_pytorch_spark.zip jobs/clean_corpus.py \\
        --documents <dir-with-documents.parquet> --dst <out root> \\
        [--min-quality 0.5] [--lang en] [--sample 1.0] \\
        [--bucket-cap 1000] [--no-resume]

Stages (lazy until the single write, except the components' rounds):
  1. transitive near-dup components (MinHash-LSH bands, bucket-capped):
     the edge list is computed once, then label propagation runs one
     small checkpointed job per round over the changed frontier, to
     its fixed point (graph diameter + 1 rounds, _stats "dedup_rounds")
  2. keeper per component = highest-quality member
  3. language + quality gate (corpus_filter semantics); its row count
     (_stats "dedup+filter") is observed during the write, not counted
     by a job of its own
  4. optional deterministic md5-prefix sampling
  5. cleaned corpus written partitioned by xxhash64 doc bucket through
     the bucketed lineage commit (plans/lineage.run_bucketed_write):
     committed buckets skip on resume, uncommitted ones are atomically
     dynamic-partition-overwritten, and _lineage/_metrics rows land
     only after the data write — the same idempotent-restart story the
     OCR extract and web_corpus jobs have.  The dedup stages are
     corpus-global, so the COMPUTE is a deterministic function of the
     full input; only the write/commit is per-bucket.  A _stats
     summary is written alongside.

Every stage is a documented query-surface operator with a DuckDB
oracle (dedup_components / dedup_keeper_policy / corpus_filter /
sample_documents), so this job is a composition of hash-verified
parts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def run(spark, docs, dst: str, min_quality: float = 0.5,
        lang: str = "en", sample: float = 1.0,
        bucket_cap: int = 1000, buckets: int = 32,
        resume: bool = True) -> dict:
    from pyspark.sql import Observation, Window, functions as F

    from ocr_pytorch_spark.operators import dedup as D
    from ocr_pytorch_spark.operators import text as T
    from ocr_pytorch_spark.plans import lineage as L

    # short-circuit a fully-committed destination before paying any
    # corpus-global recompute
    if resume and (prior := L.committed_run(
            spark, dst, buckets,
            ("input", "dedup+filter", "dedup_rounds"))) is not None:
        return prior

    n_in = docs.count()

    # the label-propagation rounds run here, not in the write
    cc: dict = {}
    comp = D.dup_components(docs, bucket_cap=bucket_cap, stats=cc)
    qual = T.quality_score(docs).select("doc_id", "quality")
    lng = T.lang_id(docs).select("doc_id", "lang_pred")

    w = (Window.partitionBy("component")
         .orderBy(F.col("quality").desc(), "doc_id"))
    keepers = (comp.join(qual, "doc_id")
               .withColumn("rk", F.row_number().over(w))
               .where(F.col("rk") == 1)
               .select("doc_id"))

    cleaned = (docs.join(keepers, "doc_id")
               .join(lng, "doc_id").join(qual, "doc_id")
               .where((F.col("lang_pred") == lang)
                      & (F.col("quality") >= min_quality)))
    # counted by the write itself, above the sampling and bucket filters
    dedup_filtered = Observation()
    cleaned = cleaned.observe(dedup_filtered, F.count(F.lit(1)).alias("n"))

    if sample < 1.0:
        cut = int(sample * 16 ** 8)
        from functools import reduce

        h = reduce(
            lambda acc, i: acc + (
                F.expr(f"instr('0123456789abcdef', substring("
                       f"md5(cast(doc_id as string)), {i + 1}, 1))")
                - 1).cast("long") * F.lit(16 ** (7 - i)).cast("long"),
            range(8), F.lit(0).cast("long"))
        cleaned = cleaned.where(h < cut)

    out = cleaned.select("doc_id", "text", "quality", "lang_pred")
    commit = L.run_bucketed_write(spark, out, dst, buckets=buckets,
                                  resume=resume, stage="clean_corpus",
                                  payload_col="text")
    # get waits for the write to finish; the write does run, because
    # committed_run returned above unless some bucket is uncommitted
    stats = {"input": n_in, "dedup+filter": dedup_filtered.get["n"],
             "dedup_rounds": cc["rounds"]}
    stats.update(commit)
    L.write_stats(spark, dst, stats)
    return stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True)
    ap.add_argument("--dst", required=True)
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--lang", default="en")
    ap.add_argument("--sample", type=float, default=1.0,
                    help="deterministic keep fraction (md5-prefix)")
    ap.add_argument("--bucket-cap", type=int, default=1000)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--no-resume", action="store_true",
                    help="reprocess every bucket even if committed")
    args = ap.parse_args()

    from ocr_pytorch_spark.sources.session import get_spark

    spark = get_spark(app="clean-corpus")
    docs = spark.read.parquet(
        os.path.join(args.documents, "documents.parquet")
        if os.path.isdir(args.documents) else args.documents)
    stats = run(spark, docs, args.dst, min_quality=args.min_quality,
                lang=args.lang, sample=args.sample,
                bucket_cap=args.bucket_cap, buckets=args.buckets,
                resume=not args.no_resume)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
