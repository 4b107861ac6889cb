"""spark-submit entry point for the web-extraction pipeline: raw HTML
pages -> main content -> quality/repetition gates -> decontamination
-> cleaned text corpus.  The front half of what jobs/clean_corpus.py
finishes — together they are the full raw-web -> training-data path.

    spark-submit --py-files ocr_pytorch_spark.zip jobs/web_corpus.py \\
        --documents <dir-with-documents.parquet> --dst <out root> \\
        [--max-dup-word-frac 0.6] [--max-top-bigram-frac 0.2] \\
        [--min-words 8]

Stages (all lazy until the single write):
  1. main-content extraction: deterministic boilerplate pages
     (html_wrap stands in for the raw crawl) -> html_main_block's
     readability-style argmax block
  2. PII scrub: email/phone/IPv4 regex redaction of the extracted
     text (web.redact — map-side, fuses into the extraction stage)
  3. repetition gate: Gopher-style duplicate-word / top-bigram-share
     thresholds (repetition_signals)
  4. quality gate: fixed-weight logistic classifier score threshold
     (quality_classifier)
  5. line-level dedup: corpus-global first-occurrence line dedup
     (dedup.line_dedup); docs whose every line is a duplicate drop
  6. decontamination: drop documents sharing any word-8-gram with the
     eval stand-in set (decontam_overlap)
  7. cleaned corpus written partitioned by xxhash64 doc bucket through
     the bucketed lineage commit (plans/lineage.run_bucketed_write):
     committed buckets are skipped on resume, uncommitted ones are
     atomically dynamic-partition-overwritten, and _lineage/_metrics
     rows land only after the data write returns — the same
     idempotent-restart story the OCR extract job has.  The dedup /
     decontam stages are corpus-global, so the COMPUTE is a
     deterministic function of the full input (re-derived bucket
     contents are identical across attempts); only the write/commit
     is per-bucket.  A _stats summary (rows surviving each stage) is
     written alongside.

Gates run BEFORE dedup (the RefinedWeb order — dedup would compress
spam into innocuous-looking short docs).  Every stage is a
query-surface operator with an exact DuckDB oracle (html_main_block /
pii_redact / text_repetition / quality_classifier / dedup_lines /
decontam_overlap), so the job is a composition of hash-verified parts.
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


def run(spark, docs, dst: str, max_dup_word_frac: float = 0.6,
        max_top_bigram_frac: float = 0.2, min_words: int = 8,
        min_quality_score: float = 0.3, buckets: int = 32,
        resume: bool = True) -> dict:
    from pyspark.sql import functions as F

    from ocr_pytorch_spark.operators import dedup as D
    from ocr_pytorch_spark.operators import html as H
    from ocr_pytorch_spark.operators import text as T
    from ocr_pytorch_spark.operators import web as WB
    from ocr_pytorch_spark.plans import lineage as L

    # short-circuit a fully-committed destination before paying any
    # corpus-global recompute
    if resume and (prior := L.committed_run(spark, dst, buckets, (
            "docs_in", "after_repetition_gate", "after_quality_gate",
            "after_line_dedup", "after_decontam"))) is not None:
        return prior

    n_in = docs.count()

    # 1. main-content extraction; the winner block becomes the text
    # 2. PII scrub of the extracted text (same projection stage)
    main = WB.redact(
        H.html_main_block(docs)
        .select("doc_id", F.col("block_text").alias("text")))

    # 3. repetition gate over the extracted text
    rep = T.repetition_signals(main)
    gated = (main.join(rep, "doc_id")
             .where((F.col("n_words") >= min_words)
                    & (F.col("dup_word_frac") <= max_dup_word_frac)
                    & (F.col("top_bigram_frac")
                       <= max_top_bigram_frac))
             .select("doc_id", "text"))
    n_gated = gated.count()

    # 4. model-based quality gate (fixed-weight logistic score)
    quality = (T.quality_classifier(gated)
               .where(F.col("score") >= min_quality_score)
               .select("doc_id"))
    gated_q = gated.join(quality, "doc_id")
    n_quality = gated_q.count()

    # 5. corpus-global line dedup; fully-duplicated docs drop out
    deduped = (D.line_dedup(gated_q)
               .where(F.col("n_kept") > 0)
               .select("doc_id",
                       F.regexp_replace("kept_text", "\n", " ")
                       .alias("text")))
    n_dedup = deduped.count()

    # 6. decontamination against the eval stand-in (left_anti on the
    #    contaminated id set — the eval gram side broadcasts at scale)
    contaminated = T.decontam_overlap(docs).select("doc_id")
    cleaned = deduped.join(contaminated, "doc_id", "left_anti")
    n_clean = cleaned.count()

    # bucketed lineage commit: committed buckets skipped, pending ones
    # dynamic-overwritten, _lineage/_metrics appended post-write
    commit = L.run_bucketed_write(spark, cleaned, dst, buckets=buckets,
                                  resume=resume, stage="web_corpus",
                                  data_subdir="web_corpus",
                                  payload_col="text")
    stats = {"docs_in": n_in, "after_repetition_gate": n_gated,
             "after_quality_gate": n_quality,
             "after_line_dedup": n_dedup,
             "after_decontam": n_clean}
    stats.update(commit)
    L.write_stats(spark, dst, stats)
    return stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True)
    ap.add_argument("--dst", required=True)
    ap.add_argument("--max-dup-word-frac", type=float, default=0.6)
    ap.add_argument("--max-top-bigram-frac", type=float, default=0.2)
    ap.add_argument("--min-words", type=int, default=8)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--no-resume", action="store_true",
                    help="reprocess every bucket even if committed")
    args = ap.parse_args()

    from ocr_pytorch_spark.sources.session import get_spark

    spark = get_spark(app="web-corpus")
    docs = spark.read.parquet(
        os.path.join(args.documents, "documents.parquet")
        if os.path.isdir(args.documents) else args.documents)
    stats = run(spark, docs, args.dst, args.max_dup_word_frac,
                args.max_top_bigram_frac, args.min_words,
                buckets=args.buckets, resume=not args.no_resume)
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
