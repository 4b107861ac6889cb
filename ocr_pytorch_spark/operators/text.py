"""Text-analysis operators for large-scale training-data pipelines:
language-ID heuristic, quality scoring, token counting, document
fingerprinting.  All pure DataFrame expressions (whole-stage codegen, no
Python in the hot path); every operator has an exact DuckDB SQL analogue
in ``__spark_entry__.oracle_sql``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_pytorch_spark.functions import (fan_out, quant4,
                                         quant4_sql, word_rows, words)

# tiny deterministic stopword list used by the lang-ID and quality ops
STOPWORDS = ("the", "a", "of", "and", "to")


def _stop_hits(text_col):
    """Occurrences of each stopword as a standalone token, counted via
    length arithmetic on ' '-padded text (portable: no regex)."""
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    hits = F.lit(0)
    for sw in STOPWORDS:
        token = f" {sw} "
        hits = hits + (
            (F.length(padded)
             - F.length(F.replace(padded, F.lit(token), F.lit(""))))
            / len(token)
        ).cast("int")
    return hits


def _lang_pred_col():
    """The lang_id prediction as a bare column expression (shared by
    lang_id and gate_ablation so the two can never drift)."""
    n_tokens = F.size(words(F.col("text")))
    stop_hits = _stop_hits("text")
    return (F.when(n_tokens < 5, F.lit("short"))
            .when(stop_hits * 10 >= n_tokens, F.lit("en"))
            .otherwise(F.lit("other")))


def lang_id(documents: DataFrame) -> DataFrame:
    """N-gram/stopword language heuristic: docs whose stopword density
    clears a threshold are tagged 'en', short texts 'short', the rest
    'other'.  Output: doc_id, n_tokens, stop_hits, lang_pred."""
    n_tokens = F.size(words(F.col("text")))
    stop_hits = _stop_hits("text")
    return documents.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        stop_hits.alias("stop_hits"),
        _lang_pred_col().alias("lang_pred"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Length / word-shape / stopword-ratio quality score in [0,1]-ish.
    Internals stay unrounded (exact int ratios, identical across
    engines); only outputs are round()ed.  Output: doc_id, n_chars_calc,
    n_tokens, avg_word_len, stop_ratio, quality."""
    n_chars = F.length("text")
    n_tokens = F.size(words(F.col("text")))
    avg_wl = (n_chars - (n_tokens - 1)) / n_tokens
    stop_ratio = _stop_hits("text") / n_tokens
    quality = quant4(
        F.least(n_tokens / F.lit(64.0), F.lit(1.0)) * 0.5
        + F.least(avg_wl / F.lit(8.0), F.lit(1.0)) * 0.3
        + stop_ratio * 0.2)
    return documents.select(
        "doc_id", n_chars.alias("n_chars_calc"),
        n_tokens.cast("long").alias("n_tokens"),
        quant4(avg_wl).alias("avg_word_len"),
        quant4(stop_ratio).alias("stop_ratio"),
        quality.alias("quality"))


def winnow_fingerprint(documents: DataFrame, k: int = 8,
                       w: int = 4) -> DataFrame:
    """Rolling-hash winnowing fingerprint (the MOSS scheme): hash every
    char k-gram, slide a w-window over the hash sequence, keep each
    window's minimum — the classic content-defined sampling that makes
    near-identical documents share most fingerprints regardless of
    alignment.  Hashes stay as 8-hex md5 prefixes (string min/distinct
    are engine-portable; no numeric decode needed).
    Output: doc_id, n_fps (distinct minima), fp_min, fp_max."""
    from pyspark.sql import Window

    from ocr_pytorch_spark.functions import fan_out

    n = F.length("text")
    pos_arr = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)) \
        .otherwise(F.array().cast("array<int>"))
    grams = (fan_out(documents)
             .select("doc_id", F.explode(pos_arr).alias("pos"),
                     F.col("text"))
             .select("doc_id", "pos",
                     F.substring(F.md5(F.expr(
                         f"substring(text, pos, {k})")), 1, 8)
                     .alias("h"),
                     F.length("text").alias("n")))
    win = (Window.partitionBy("doc_id").orderBy("pos")
           .rowsBetween(0, w - 1))
    minima = (grams
              .withColumn("m", F.min("h").over(win))
              .where(F.col("pos") <= F.col("n") - k + 1 - (w - 1))
              .select("doc_id", "m").distinct())
    return (minima.groupBy("doc_id")
            .agg(F.count("*").alias("n_fps"),
                 F.min("m").alias("fp_min"),
                 F.max("m").alias("fp_max")))


def corpus_filter(documents: DataFrame, min_quality: float = 0.5,
                  lang: str = "en") -> DataFrame:
    """The end-to-end training-corpus cleaning composition: exact-dedup
    keepers ∩ language match ∩ quality threshold — the standard
    "dedup, then filter" pipeline over one documents table, all stages
    Catalyst-composable (the dedup window, lang/quality expressions and
    final filter collapse into one plan; nothing materializes between
    stages).  Output: doc_id, lang_pred, quality, n_tokens."""
    from ocr_pytorch_spark.operators.dedup import exact_dedup

    keepers = exact_dedup(documents).where("is_keeper") \
        .select("doc_id")
    langs = lang_id(documents).select("doc_id", "lang_pred")
    qual = quality_score(documents).select("doc_id", "quality",
                                           "n_tokens")
    return (documents.select("doc_id")
            .join(keepers, "doc_id")
            .join(langs, "doc_id")
            .join(qual, "doc_id")
            .where((F.col("lang_pred") == lang)
                   & (F.col("quality") >= min_quality))
            .select("doc_id", "lang_pred", "quality", "n_tokens"))


# BPE-ish pre-tokenizer: letter runs | digit runs | single symbol —
# the GPT-2-style split shape, restricted to classes whose semantics
# agree between Java regex (Spark) and RE2 (DuckDB)
BPE_SPLIT = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def token_count(documents: DataFrame) -> DataFrame:
    """Token statistics: whitespace tokens, a BPE-ish regex token count
    (letter/digit runs + symbols, the GPT-2 pre-tokenizer shape), and
    the chars/4 subword estimate (the empirical chars-per-token
    constant).  Output: doc_id, ws_tokens, bpe_tokens, subword_est."""
    non_space = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    bpe = F.size(F.expr(
        f"regexp_extract_all(text, '{BPE_SPLIT}', 0)"))
    return documents.select(
        "doc_id",
        F.size(words(F.col("text"))).cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
        F.ceil(non_space / 4).cast("long").alias("subword_est"),
    )


def word_ngrams(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, gram) rows of word n-grams, built map-side from the
    token array (transform-with-index + slice + explode) — zero
    shuffles; the old posexplode + positional self-joins moved the
    whole token stream through two exchanges.  Docs with fewer than n
    words yield no grams (same as the join formulation; the DuckDB
    oracle keeps the unnest+ordinality self-join).  The token array is
    its own column: written inline, the lambda would re-split the text
    once per token."""
    from ocr_pytorch_spark.functions import fan_out, words

    ws = F.col("ws")
    grams = F.transform(
        ws, lambda x, i: F.concat_ws(" ", F.slice(ws, i + 1, n)))
    grams = F.slice(grams, 1,
                    F.greatest(F.size(ws) - n + 1, F.lit(0)))
    return (fan_out(documents)
            .select("doc_id", words(F.col("text")).alias("ws"))
            .select("doc_id", F.explode(grams).alias("gram")))


def fingerprint(documents: DataFrame, n: int = 3) -> DataFrame:
    """Robust document fingerprint: min/max md5 over word-3-gram hashes
    (a 2-sample winnowing sketch).  Output: doc_id, fp_min, fp_max."""
    grams = word_ngrams(documents, n)
    return (grams.groupBy("doc_id")
            .agg(F.min(F.md5("gram")).alias("fp_min"),
                 F.max(F.md5("gram")).alias("fp_max")))


COMPRESSION_SCHEMA = ("doc_id string, n_chars long, n_compressed long, "
                      "compression_ratio double")


def compression_ratio(documents: DataFrame) -> DataFrame:
    """zlib compression-ratio quality signal (the CCNet/RedPajama
    trick: highly repetitive or templated text compresses far below
    natural language, gibberish barely compresses).  Needs zlib, so
    this is a batched Arrow UDF — a deliberate exception to the
    codegen-first rule, and rows-only (DuckDB has no compressor).
    Output: doc_id, n_chars, n_compressed, compression_ratio."""
    from typing import Iterator as _It

    import pandas as pd

    def comp(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import zlib

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = str(text).encode("utf-8")
                z = len(zlib.compress(raw, 6))
                rows.append((str(doc_id), len(raw), z,
                             z / max(len(raw), 1)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_chars", "n_compressed",
                "compression_ratio"])

    return (documents.select("doc_id", "text")
            .mapInPandas(comp, schema=COMPRESSION_SCHEMA))


def repetition_signals(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals: duplicate-word fraction
    (1 - distinct/total) and the frequency share of the most common
    word bigram — the filters that catch boilerplate/spam documents a
    plain length/stopword score misses.  One grams explode + two
    skinny aggregations; at 10^12 docs both shuffles carry (doc_id,
    counter) rows only.  Output: doc_id, n_words, dup_word_frac,
    top_bigram_frac (both quantized)."""
    from ocr_pytorch_spark.functions import quant4, words

    base = documents.select(
        "doc_id",
        F.size(words(F.col("text"))).cast("long").alias("n_words"),
        F.size(F.array_distinct(words(F.col("text")))).cast("long")
        .alias("n_distinct"))
    top = _bigram_top_agg(documents)
    dup_frac, top_frac = _rep_frac_cols()
    return (base.join(top, "doc_id", "left")
            .select("doc_id", "n_words",
                    dup_frac.alias("dup_word_frac"),
                    top_frac.alias("top_bigram_frac")))


def _bigram_top_agg(documents: DataFrame) -> DataFrame:
    """(doc_id, top_bigram_n, bigram_total) — the aggregation half of
    repetition_signals (shared with gate_ablation)."""
    return (word_ngrams(documents, 2)
            .groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
            .groupBy("doc_id")
            .agg(F.max("c").cast("long").alias("top_bigram_n"),
                 F.sum("c").cast("long").alias("bigram_total")))


def _rep_frac_cols():
    """The repetition fraction expressions over (n_words, n_distinct,
    top_bigram_n, bigram_total) columns — shared with gate_ablation."""
    from ocr_pytorch_spark.functions import quant4

    dup_frac = quant4(F.lit(1.0) - F.col("n_distinct")
                      / F.col("n_words"))
    top_frac = quant4(F.coalesce(F.col("top_bigram_n"), F.lit(0))
                      / F.greatest(F.coalesce(F.col("bigram_total"),
                                              F.lit(0)), F.lit(1)))
    return dup_frac, top_frac


def decontam_overlap(documents: DataFrame, n: int = 8,
                     eval_frac_hex: int | None = None) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-``n``-gram with the eval set (here: the deterministic
    md5-prefix 10% sample standing in for a benchmark corpus — the
    same engine-stable hashing as sample_documents).  The eval gram
    set is a distinct semi-join side; at real scale it is tiny
    (benchmarks are ~10^5 docs) and broadcasts, so the train side
    never shuffles its gram stream.  Output: (doc_id, n_shared) for
    contaminated TRAIN docs only."""
    from functools import reduce

    cut = eval_frac_hex if eval_frac_hex is not None \
        else int(0.1 * 16 ** 8)
    bucket = reduce(
        lambda acc, i: acc + (
            F.expr(f"instr('0123456789abcdef', substring("
                   f"md5(cast(doc_id as string)), {i + 1}, 1))")
            - 1).cast("long") * F.lit(16 ** (7 - i)).cast("long"),
        range(8), F.lit(0).cast("long"))
    tagged = documents.withColumn("is_eval", bucket < cut)
    grams = word_ngrams(tagged.select("doc_id", "text"), n)
    flags = tagged.select("doc_id", "is_eval")
    g = grams.join(flags, "doc_id")
    eval_grams = (g.where(F.col("is_eval"))
                  .select("gram").distinct())
    return (g.where(~F.col("is_eval"))
            .select("doc_id", "gram").distinct()
            .join(eval_grams, "gram")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_shared")))


# fixed published-style weights for the logistic quality gate:
# (token-count saturation, word-length saturation, stopword ratio,
#  vocabulary diversity), bias
QC_WEIGHTS = (1.2, 0.8, 2.0, 1.5)
QC_BIAS = -2.5


def _qc_feature_cols():
    """The quality-classifier feature and raw-score expressions
    (shared by quality_classifier and gate_ablation so the two can
    never drift).  Returns (f_len, f_wlen, f_stop, f_uniq, score)."""
    w1, w2, w3, w4 = QC_WEIGHTS
    ws = words(F.col("text"))
    n_tokens = F.size(ws)
    n_chars = F.length("text")
    f_len = F.least(n_tokens / F.lit(64.0), F.lit(1.0))
    f_wlen = F.least(
        ((n_chars - (n_tokens - 1)) / n_tokens) / F.lit(8.0),
        F.lit(1.0))
    f_stop = _stop_hits("text") / n_tokens
    f_uniq = F.size(F.array_distinct(ws)) / n_tokens
    z = (f_len * w1 + f_wlen * w2 + f_stop * w3 + f_uniq * w4
         + F.lit(float(QC_BIAS)))
    score = 1.0 / (1.0 + F.exp(-z))
    return f_len, f_wlen, f_stop, f_uniq, score


def quality_classifier(documents: DataFrame) -> DataFrame:
    """Fixed-weight logistic quality classifier (the fastText-style
    model-based gate, with hand-set weights so it is deterministic
    and engine-portable): features are token-count saturation,
    avg-word-length saturation, stopword ratio, and type/token
    diversity; score = sigmoid(w.x + b), keep = score >= 0.5.
    Pure codegen arithmetic — exp() is bitwise identical across
    engines, so the score carries no float divergence risk beyond
    the shared 4dp quantizer.
    Output: doc_id, f_len, f_wlen, f_stop, f_uniq, score, keep."""
    f_len, f_wlen, f_stop, f_uniq, score = _qc_feature_cols()
    return documents.select(
        "doc_id", quant4(f_len).alias("f_len"),
        quant4(f_wlen).alias("f_wlen"),
        quant4(f_stop).alias("f_stop"),
        quant4(f_uniq).alias("f_uniq"),
        quant4(score).alias("score"),
        (score >= 0.5).alias("keep"))


def quality_classifier_oracle_sql() -> str:
    from ocr_pytorch_spark.operators.text import STOPWORDS  # noqa

    w1, w2, w3, w4 = QC_WEIGHTS
    stop_terms = " + ".join(
        f"CAST((length(pt) - length(replace(pt, ' {sw} ', '')))"
        f" / {len(sw) + 2} AS INT)" for sw in STOPWORDS)
    return f"""
        WITH base AS (
          SELECT doc_id, text, ' ' || text || ' ' AS pt,
                 string_split(text, ' ') AS ws
          FROM documents
        ), feats AS (
          SELECT doc_id,
                 least(len(ws) / 64.0, 1.0) AS f_len,
                 least(((length(text) - (len(ws) - 1))
                        / CAST(len(ws) AS DOUBLE)) / 8.0, 1.0)
                   AS f_wlen,
                 ({stop_terms}) / CAST(len(ws) AS DOUBLE) AS f_stop,
                 len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE)
                   AS f_uniq
          FROM base
        ), z AS (
          SELECT doc_id, f_len, f_wlen, f_stop, f_uniq,
                 f_len * {w1} + f_wlen * {w2} + f_stop * {w3}
                 + f_uniq * {w4} + ({QC_BIAS}) AS zv
          FROM feats
        )
        SELECT doc_id,
               floor(f_len * 10000 + 0.5) / 10000 AS f_len,
               floor(f_wlen * 10000 + 0.5) / 10000 AS f_wlen,
               floor(f_stop * 10000 + 0.5) / 10000 AS f_stop,
               floor(f_uniq * 10000 + 0.5) / 10000 AS f_uniq,
               floor((1.0 / (1.0 + exp(-zv))) * 10000 + 0.5) / 10000
                 AS score,
               (1.0 / (1.0 + exp(-zv))) >= 0.5 AS keep
        FROM z"""


# default mixing rates per language stratum (corpus-composition dial)
MIX_RATES = (("de", 1.0), ("en", 0.5), ("es", 0.25), ("fr", 0.8),
             ("zh", 0.1))

_H_SPAN = 16 ** 8


def _md5_bucket(col_name: str = "doc_id"):
    """First 8 md5 hex digits of the named column as a long in
    [0, 16^8) — the engine-portable deterministic sampling hash (no
    RNG state; the same doc keeps/drops across runs, engines, and
    cluster sizes).  Takes the column NAME (the expression is built
    with F.expr, which cannot splice Column objects)."""
    from functools import reduce

    return reduce(
        lambda acc, i: acc + (
            F.expr(f"instr('0123456789abcdef', substring("
                   f"md5(cast({col_name} as string)), {i + 1}, 1))")
            - 1).cast("long") * (16 ** (7 - i)),
        range(8), F.lit(0).cast("long"))


def corpus_mix(documents: DataFrame,
               rates: tuple = MIX_RATES) -> DataFrame:
    """Deterministic stratified corpus mixing: each language stratum
    is down-sampled to its target rate via the md5-prefix hash, and
    the realized composition is reported per stratum.  This is the
    data-mixing step of corpus assembly (e.g. up-weighting rare
    languages) — map-side hash + one rollup shuffle; at 10^12 rows
    the decision is per-row with no RNG state to coordinate.
    Output: lang, rate, n_total, n_kept."""
    rate = F.lit(None).cast("double")
    for lang, r in rates:
        rate = F.when(F.col("lang") == lang, F.lit(float(r))) \
            .otherwise(rate)
    rate = F.coalesce(rate, F.lit(0.0))
    h = _md5_bucket("doc_id")
    keep = (h < (rate * _H_SPAN)).cast("long")
    return (documents
            .select("lang", rate.alias("rate"), keep.alias("keep"))
            .groupBy("lang", "rate")
            .agg(F.count("*").alias("n_total"),
                 F.sum("keep").alias("n_kept")))


def corpus_mix_oracle_sql(rates: tuple = MIX_RATES) -> str:
    bucket = " + ".join(
        f"(instr('0123456789abcdef', substr(md5("
        f"CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}" for i in range(8))
    rate_case = ("CASE " + " ".join(
        f"WHEN lang = '{lang}' THEN {float(r)}"
        for lang, r in rates) + " ELSE 0.0 END")
    return f"""
        WITH h AS (
          SELECT lang, {rate_case} AS rate,
                 CASE WHEN ({bucket}) < ({rate_case}) * {_H_SPAN}
                      THEN 1 ELSE 0 END AS keep
          FROM documents
        )
        SELECT lang, rate, count(*) AS n_total,
               CAST(sum(keep) AS BIGINT) AS n_kept
        FROM h GROUP BY lang, rate"""


# --- chunking & sequence packing (LLM training-data prep) ---------------

def chunk_documents(documents: DataFrame, chunk_tokens: int = 64,
                    overlap: int = 16) -> DataFrame:
    """Overlapping fixed-size token windows per document (the RAG /
    training-window splitter): stride = chunk_tokens - overlap; a doc
    with n tokens yields ceil((n - overlap) / stride) chunks (min 1),
    so consecutive chunks share ``overlap`` tokens.

    Map-side only — the token array is built, sliced and exploded
    inside one projection (no shuffle, no UDF); at 10^12 docs this is
    a pure scan whose output is partitioned exactly like its input.
    Output: doc_id, chunk_idx, chunk_text, n_tokens."""
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be < chunk_tokens")
    ws = words(F.col("text"))
    n = F.size(ws)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1)
    ).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        idx,
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(ws, i * stride + 1, chunk_tokens))
            .alias("chunk_text"),
            F.least(n - i * stride, F.lit(chunk_tokens)).cast("long")
            .alias("n_tokens")))
    return (documents
            .select("doc_id", F.explode(chunks).alias("c"))
            .select("doc_id", "c.chunk_idx", "c.chunk_text",
                    "c.n_tokens"))


def chunk_documents_oracle_sql(chunk_tokens: int = 64,
                               overlap: int = 16) -> str:
    stride = chunk_tokens - overlap
    return f"""
        WITH d AS (
          SELECT doc_id, string_split(text, ' ') AS ws,
                 len(string_split(text, ' ')) AS n
          FROM documents
        ), c AS (
          SELECT doc_id, ws, n,
                 unnest(generate_series(0, CAST(greatest(
                     ceil((n - {overlap}) / {stride}.0), 1) AS INT) - 1))
                   AS chunk_idx
          FROM d
        )
        SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               array_to_string(
                 ws[chunk_idx * {stride} + 1 :
                    chunk_idx * {stride} + {chunk_tokens}], ' ')
                 AS chunk_text,
               CAST(least(n - chunk_idx * {stride}, {chunk_tokens})
                    AS BIGINT) AS n_tokens
        FROM c"""


def pack_sequences(documents: DataFrame, budget: int = 256,
                   range_partitions: int = 8) -> DataFrame:
    """Concatenate-then-cut sequence packing (how LLM pretraining
    actually batches: all docs concatenated in doc_id order, cut into
    fixed ``budget``-token training sequences; docs straddle cuts).
    Emits one row per (sequence, doc slice):
    (seq_id, doc_id, doc_off, n_tokens).

    Scale design — the global prefix sum is NOT a single-partition
    window: docs are bucketed into ``range_partitions`` doc_id ranges,
    per-bucket token totals (one row per bucket) are collected and
    turned into broadcast bucket offsets, and the running sum is then a
    bucket-LOCAL window.  Driver traffic is O(buckets), each executor
    sorts only its own range — the classic two-phase scan prefix-sum,
    good at any row count.

    The bucket id is a DETERMINISTIC function of doc_id (count of
    precomputed range boundaries below it), NOT
    ``spark_partition_id()`` over a ``repartitionByRange`` exchange:
    RangePartitioner re-samples boundaries per job with an RDD-id-
    derived seed, so the totals job and the window job could disagree
    on which bucket a boundary-adjacent doc lands in, silently
    corrupting the global prefix sum (r4 ADVICE, high).  Boundaries
    come from a deterministic hash-sampled sort (xxhash64 sieve,
    ~200 ids per bucket to the driver, any orderable doc_id type);
    with them fixed up front, every job assigns buckets identically
    and the result is independent of AQE, re-execution, or
    ``range_partitions``."""
    from pyspark.sql import Window

    n_parts = max(1, int(range_partitions))
    bounds: list = []
    if n_parts > 1:
        n_docs = documents.count()
        # driver traffic is HARD-capped at ~200 ids/bucket: the sieve
        # (ceil so the expected survivor count is <= cap, not 2x cap)
        # thins distributed, then a deterministic bottom-k on
        # (hash, doc_id) clamps the worst case — sieve=1 on a small
        # corpus can no longer collect every doc_id (r5 ADVICE).
        # orderBy+limit compiles to TakeOrderedAndProject over the
        # already-sieved ~cap rows, so the sort is never corpus-sized.
        cap = n_parts * 200
        sieve = max(1, -(-n_docs // cap))
        vals = sorted(r["doc_id"] for r in documents
                      .select("doc_id",
                              F.xxhash64(F.col("doc_id").cast("string"))
                              .alias("h"))
                      .where(F.pmod(F.col("h"), F.lit(sieve)) == 0)
                      .orderBy("h", "doc_id").limit(cap)
                      .select("doc_id").collect())
        bounds = sorted({vals[(len(vals) * i) // n_parts]
                         for i in range(1, n_parts)}) if vals else []
    pid_expr = F.lit(0)
    for b in bounds:
        pid_expr = pid_expr + (F.col("doc_id") > F.lit(b)).cast("int")
    toks = (documents
            .select("doc_id",
                    F.greatest(F.size(words(F.col("text"))), F.lit(1))
                    .cast("long").alias("n_tok"))
            .withColumn("pid", pid_expr))
    part_totals = sorted(
        (r["pid"], r["tot"]) for r in
        toks.groupBy("pid").agg(F.sum("n_tok").alias("tot")).collect())
    offsets, acc = {}, 0
    for pid, tot in part_totals:
        offsets[pid] = acc
        acc += tot
    off_expr = F.coalesce(
        F.element_at(
            F.create_map(*[F.lit(v) for kv in offsets.items()
                           for v in kv]),
            F.col("pid")),
        F.lit(0))
    w = Window.partitionBy("pid").orderBy("doc_id")
    with_pos = (toks
                .withColumn("end_", F.sum("n_tok").over(w) + off_expr)
                .withColumn("start_", F.col("end_") - F.col("n_tok")))
    seq_ids = F.sequence(
        F.floor(F.col("start_") / budget),
        F.floor((F.col("end_") - 1) / budget))
    out = (with_pos.select(
        "doc_id", "n_tok", "start_", "end_",
        F.explode(seq_ids).alias("seq_id")))
    seq_lo = F.col("seq_id") * budget
    seq_hi = seq_lo + budget
    return out.select(
        F.col("seq_id").cast("long"),
        "doc_id",
        (F.greatest(seq_lo, F.col("start_")) - F.col("start_"))
        .cast("long").alias("doc_off"),
        (F.least(seq_hi, F.col("end_"))
         - F.greatest(seq_lo, F.col("start_")))
        .cast("long").alias("n_tokens"))


def pack_sequences_oracle_sql(budget: int = 256) -> str:
    return f"""
        WITH t AS (
          SELECT doc_id,
                 greatest(len(string_split(text, ' ')), 1) AS n_tok
          FROM documents
        ), p AS (
          SELECT doc_id, n_tok,
                 sum(n_tok) OVER (ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS end_,
                 sum(n_tok) OVER (ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING)
                   - n_tok AS start_
          FROM t
        ), s AS (
          SELECT doc_id, n_tok, start_, end_,
                 unnest(generate_series(
                     CAST(floor(start_ / {budget}.0) AS BIGINT),
                     CAST(floor((end_ - 1) / {budget}.0) AS BIGINT)))
                   AS seq_id
          FROM p
        )
        SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
               CAST(greatest(seq_id * {budget}, start_) - start_
                    AS BIGINT) AS doc_off,
               CAST(least((seq_id + 1) * {budget}, end_)
                    - greatest(seq_id * {budget}, start_)
                    AS BIGINT) AS n_tokens
        FROM s"""


# --- count-based bigram LM perplexity (CCNet-style quality filter) ------

def lm_perplexity(documents: DataFrame, smooth_k: float = 0.5
                  ) -> DataFrame:
    """Per-document mean negative log-likelihood under an add-k
    smoothed bigram LM trained on the corpus itself — the CCNet-style
    "LM perplexity" quality signal, here with exact counts so the
    score is oracle-checkable.

    p(w2 | w1) = (c(w1 w2) + k) / (c(w1) + k·V),  V = |vocab|.

    Plan shape at scale: bigram and unigram counts are each one
    partial-aggregated groupBy; the per-doc scoring joins the doc's
    bigram stream to those count tables on their natural keys (both
    sides pre-aggregated — the count tables are ~vocab-sized, far
    smaller than the corpus, and broadcastable when the vocab fits;
    Spark's AQE picks broadcast automatically below the threshold).
    V is a scalar aggregate collected once.
    Output: doc_id, n_bigrams, nll_q4 (quant4 of the mean NLL)."""
    ws = words(F.col("text"))
    pairs = F.transform(
        ws, lambda x, i: F.struct(
            x.alias("w1"),
            # try_: the last element has no successor; sliced away below
            F.try_element_at(ws, i + 2).alias("w2")))
    pairs = F.slice(pairs, 1, F.greatest(F.size(ws) - 1, F.lit(0)))
    doc_bi = (fan_out(documents)
              .select("doc_id", F.explode(pairs).alias("p"))
              .select("doc_id", "p.w1", "p.w2"))

    # (uni is consumed by two broadcast subqueries, which recompute
    # its word explode independently — an r9 localCheckpoint attempt
    # to share it measured SLOWER warm (1.43 vs 1.25 s): broadcast
    # jobs overlap asynchronously, the eager checkpoint serializes.)
    uni = (documents
           .select(F.explode(words(F.col("text"))).alias("w1"))
           .groupBy("w1").agg(F.count("*").alias("c1")))
    # r9: shuffle the bigram stream by (w1, w2) ONCE — the bigram
    # counts aggregate on top of that exchange and the scoring join
    # reads the SAME exchange back (ReusedExchange), where the old
    # plan shuffled the stream separately for the count and for the
    # join.  The bigram table itself is NOT broadcast: distinct
    # bigrams grow with the corpus (measured 2.9x slower when
    # broadcast at the bench tier), unlike the unigram vocab below.
    s1 = doc_bi.repartition("w1", "w2")
    bi = s1.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    # vocab size as a broadcast 1-row relation (r9): the old
    # uni.count() was a SEPARATE driver action that re-ran the word
    # explode + groupBy once per invocation just to inline a scalar
    # literal; as a crossJoin the count rides the same job (and the
    # DuckDB oracle already phrases it as CROSS JOIN v)
    vrow = uni.agg(F.count("*").alias("v"))

    k = float(smooth_k)
    # uni IS broadcastable (true unigram vocab, sublinear in corpus) —
    # without the hint the stream was re-shuffled by w1 just to attach
    # one count per word
    scored = (s1
              .join(bi, ["w1", "w2"])        # always matches (self-LM)
              .join(F.broadcast(uni), ["w1"])
              .crossJoin(F.broadcast(vrow))
              .select("doc_id",
                      (-F.log((F.col("c12") + k)
                              / (F.col("c1") + k * F.col("v"))))
                      .alias("nll")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_bigrams"),
                 quant4(F.avg("nll")).alias("nll_q4")))


def lm_perplexity_oracle_sql(smooth_k: float = 0.5) -> str:
    k = float(smooth_k)
    return f"""
        WITH w AS (
          SELECT doc_id,
                 unnest(string_split(text, ' ')) AS word,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents
        ), doc_bi AS (
          SELECT a.doc_id, a.word AS w1, b.word AS w2
          FROM w a JOIN w b
            ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ), uni AS (
          SELECT word AS w1, count(*) AS c1 FROM w GROUP BY 1
        ), bi AS (
          SELECT w1, w2, count(*) AS c12 FROM doc_bi GROUP BY 1, 2
        ), v AS (SELECT count(*) AS v FROM uni)
        SELECT d.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               {quant4_sql(
                   f"avg(-ln((bi.c12 + {k}) / (uni.c1 + {k} * v.v)))")}
                 AS nll_q4
        FROM doc_bi d
        JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
        GROUP BY d.doc_id"""


def stratified_sample(documents: DataFrame,
                      c: float = 8.0) -> DataFrame:
    """Temperature-rebalanced stratified sampling (alpha = 0.5):
    each language stratum keeps docs at rate min(1, c / sqrt(n_lang)),
    so the sampled count per stratum is ~c * sqrt(n_lang) — exactly
    the alpha=0.5 temperature-smoothed multinomial shape used to
    rebalance multilingual training corpora (rare languages are
    up-weighted relative to their raw share; XLM-R-style).  Unlike
    ``corpus_mix`` (operator-supplied constant rates), the rates here
    are DERIVED FROM THE DATA in a first tiny aggregation pass.

    Scale shape: pass 1 is a count-by-lang (|langs| rows) broadcast
    back; pass 2 is a map-only md5-prefix threshold test per row — no
    shuffle of the corpus, no RNG state, no per-stratum sort (an
    exact-quota row_number() design would shuffle and sort 10^12 rows
    by stratum, with the dominant language as one giant skewed
    partition; the rate design is O(rows) map-side and the realized
    quota concentrates tightly around the target).

    Engine parity: the per-stratum cutoff floor(c * 16^8 /
    sqrt(n_lang)) involves ONE sqrt, ONE divide and ONE floor of
    exact-integer inputs — correctly-rounded IEEE ops that are
    bit-identical across engines (no cross-stratum float sum whose
    reduction order could differ).
    Output: lang, n_lang, doc_id, h."""
    counts = documents.groupBy("lang").agg(
        F.count("*").alias("n_lang"))
    cutoff = F.least(
        F.lit(_H_SPAN).cast("long"),
        F.floor(F.lit(float(c) * _H_SPAN)
                / F.sqrt(F.col("n_lang").cast("double")))
        .cast("long"))
    h = _md5_bucket("doc_id")
    return (documents
            .join(F.broadcast(counts), "lang")
            .select("lang", "n_lang", "doc_id", h.alias("h"),
                    cutoff.alias("cutoff"))
            .where(F.col("h") < F.col("cutoff"))
            .select("lang", "n_lang", "doc_id", "h"))


def stratified_sample_oracle_sql(c: float = 8.0) -> str:
    """DuckDB oracle for stratified_sample — identical cutoff math."""
    bucket = " + ".join(
        f"(instr('0123456789abcdef', substr(md5("
        f"CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}" for i in range(8))
    return f"""
        WITH counts AS (
          SELECT lang, count(*) AS n_lang
          FROM documents GROUP BY lang
        ), h AS (
          SELECT lang, doc_id, {bucket} AS h FROM documents
        )
        SELECT h.lang, counts.n_lang, h.doc_id, h.h
        FROM h JOIN counts USING (lang)
        WHERE h.h < least({_H_SPAN},
                          CAST(floor({float(c) * _H_SPAN!r}
                               / sqrt(CAST(counts.n_lang AS DOUBLE)))
                               AS BIGINT))"""


# --- DSIR data selection (r7) ---------------------------------------------

def _md5_int8(col):
    """First 8 hex digits of md5 as a bigint — the engine-portable
    hash this repo standardizes on (DuckDB replays it with an
    instr-digit chain; Spark's conv is exact at 8 hex digits)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def dsir_topk(documents: DataFrame, k: int = 50,
              n_buckets: int = 4096,
              target_frac_hex: int | None = None) -> DataFrame:
    """DSIR-style data selection via importance resampling (Xie et
    al. 2023, arXiv:2302.03169): score every raw document by the
    log-likelihood ratio of a hashed-bigram bag-of-features model
    between a target-domain sample and the raw corpus, and keep the
    top-``k``.  The target stands in for "quality domain" data and is
    the same deterministic md5-prefix 10% doc sample
    ``decontam_overlap`` uses as its eval set, so the key is
    input-driven at every scale factor.

    Scale shape (100 TB story): the bigram stream is built map-side
    (zero-shuffle transform+slice+explode, see ``word_ngrams``), and
    the target flag is an expression of doc_id — no join touches the
    gram stream.  The feature distributions are ONE shuffle keyed by
    hashed bucket with map-side combine (4096 rows out); totals are a
    1-row agg; the per-bucket log-ratio table broadcasts back, so
    per-doc scoring is a map-side join plus one (doc_id, bucket)
    combine and one skinny per-doc sum.  The global top-k is
    TakeOrderedAndProject (no full sort).

    Engine parity: bucket log-ratios are rounded HALF-UP to integer
    micro-units BEFORE the per-doc sum (the ``bm25_topk`` trick), so
    every aggregation is order-independent bigint addition.
    Output: rank, doc_id, weight_micro (bigint, log-ratio * 1e6)."""
    from pyspark.sql import Window

    cut = target_frac_hex if target_frac_hex is not None \
        else int(0.1 * 16 ** 8)
    grams = word_ngrams(documents.select("doc_id", "text"), 2)
    g = grams.select(
        "doc_id",
        F.pmod(_md5_int8(F.col("gram")), F.lit(n_buckets))
        .alias("bucket"),
        (_md5_int8(F.col("doc_id").cast("string")) < cut)
        .alias("is_tgt"))
    # ONE pass over the gram stream (r9): pre-aggregate (doc_id,
    # bucket, is_tgt) counts, then derive both the per-bucket feature
    # distributions AND the per-doc scoring counts from that relation.
    # The old plan keyed its two groupBys differently (bucket vs
    # doc_id+bucket) and recomputed the gram explode + md5 hashing for
    # each.  localCheckpoint is required for the sharing: the bucket
    # branch feeds a BROADCAST subquery (the weights table), and
    # broadcast exchanges materialize outside AQE's stage-reuse scope,
    # so without it the identical shuffle subtree still ran twice
    # (measured 2.2 s vs 1.4 s at the bench tier).  is_tgt is constant
    # per doc_id, so grouping by it adds nothing to the key's
    # cardinality; all sums are exact integers.
    per = (g.groupBy("doc_id", "bucket", "is_tgt")
           .agg(F.count("*").alias("cnt"))
           .localCheckpoint())
    buckets = (per.groupBy("bucket")
               .agg(F.sum(F.when(F.col("is_tgt"), F.col("cnt"))
                          .otherwise(0)).alias("t_cnt"),
                    F.sum(F.when(F.col("is_tgt"), 0)
                          .otherwise(F.col("cnt"))).alias("r_cnt")))
    totals = buckets.agg(F.sum("t_cnt").alias("t_tot"),
                         F.sum("r_cnt").alias("r_tot"))
    lw = (F.log((F.col("t_cnt") + F.lit(1)).cast("double")
                / (F.col("t_tot") + F.lit(n_buckets)).cast("double"))
          - F.log((F.col("r_cnt") + F.lit(1)).cast("double")
                  / (F.col("r_tot") + F.lit(n_buckets)).cast("double")))
    weights = (buckets.crossJoin(F.broadcast(totals))
               .select("bucket",
                       F.floor(lw * F.lit(1000000.0) + F.lit(0.5))
                       .cast("long").alias("lw_micro")))
    per_doc = (per.where(~F.col("is_tgt"))
               .select("doc_id", "bucket", "cnt")
               .join(F.broadcast(weights), "bucket")
               .groupBy("doc_id")
               .agg(F.sum(F.col("cnt") * F.col("lw_micro"))
                    .alias("weight_micro")))
    top = (per_doc.orderBy(F.col("weight_micro").desc(), "doc_id")
           .limit(k))
    rw = Window.orderBy(F.col("weight_micro").desc(), "doc_id")
    return (top.withColumn("rank",
                           F.row_number().over(rw).cast("long"))
            .select("rank", "doc_id", "weight_micro"))


def dsir_topk_oracle_sql(k: int = 50, n_buckets: int = 4096,
                         target_frac_hex: int | None = None) -> str:
    """DuckDB oracle for dsir_topk — identical hashing (md5 8-hex-digit
    prefix via the instr digit chain), bucket counts, micro-rounded
    log-ratios, and bigint per-doc sums."""
    cut = target_frac_hex if target_frac_hex is not None \
        else int(0.1 * 16 ** 8)

    def h8(expr: str) -> str:
        return " + ".join(
            f"(instr('0123456789abcdef', substr(md5({expr}), "
            f"{i + 1}, 1)) - 1) * {16 ** (7 - i)}" for i in range(8))

    return f"""
        WITH w AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents
        ), g2 AS (
          SELECT a.doc_id, a.word || ' ' || b.word AS gram
          FROM w a JOIN w b
            ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ), g AS (
          SELECT doc_id,
                 ({h8('gram')}) % {n_buckets} AS bucket,
                 ({h8('CAST(doc_id AS VARCHAR)')}) < {cut} AS is_tgt
          FROM g2
        ), buckets AS (
          SELECT bucket,
                 sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS t_cnt,
                 sum(CASE WHEN is_tgt THEN 0 ELSE 1 END) AS r_cnt
          FROM g GROUP BY bucket
        ), totals AS (
          SELECT sum(t_cnt) AS t_tot, sum(r_cnt) AS r_tot FROM buckets
        ), weights AS (
          SELECT bucket,
                 CAST(floor((ln(CAST(t_cnt + 1 AS DOUBLE)
                                / CAST(t_tot + {n_buckets} AS DOUBLE))
                             - ln(CAST(r_cnt + 1 AS DOUBLE)
                                  / CAST(r_tot + {n_buckets}
                                         AS DOUBLE)))
                            * 1000000.0 + 0.5) AS BIGINT) AS lw_micro
          FROM buckets CROSS JOIN totals
        ), per AS (
          SELECT doc_id, bucket, count(*) AS cnt
          FROM g WHERE NOT is_tgt GROUP BY doc_id, bucket
        ), scored AS (
          SELECT doc_id,
                 CAST(sum(cnt * lw_micro) AS BIGINT) AS weight_micro
          FROM per JOIN weights USING (bucket) GROUP BY doc_id
        ), top AS (
          SELECT * FROM scored
          ORDER BY weight_micro DESC, doc_id LIMIT {k}
        )
        SELECT CAST(row_number() OVER (ORDER BY weight_micro DESC,
                                       doc_id) AS BIGINT) AS rank,
               doc_id, weight_micro
        FROM top"""


# --- eval-metrics family (r7) ----------------------------------------------

def classifier_auc(documents: DataFrame) -> DataFrame:
    """Exact ROC-AUC of the fixed-weight quality classifier against
    the lang=='en' label — the calibration measurement a pipeline runs
    before trusting a model-based gate (is the quality score actually
    ranking in-language docs higher?).  Mann-Whitney U with average
    ranks for ties, computed entirely in integers: for each distinct
    quantized score s with p_s positives and n_s negatives,
    2U = sum_s (2 * p_s * negs_below(s) + p_s * n_s), so every
    aggregation is order-independent bigint addition and the only
    float op is the final ratio (exact-int inputs, identical IEEE
    division in both engines).

    Scale shape: one (score-histogram) shuffle with map-side combine —
    the window that accumulates negs_below runs over the DISTINCT
    QUANTIZED SCORES, a relation bounded at 10^4+1 rows at any corpus
    size (the 4dp quantizer's range), so the single-partition window
    is a constant-size reduction, not a data-volume sort.
    Output: one row (n_pos, n_neg, u2, auc_micro)."""
    from pyspark.sql import Window

    scored = quality_classifier(documents).select("doc_id", "score")
    lab = documents.select("doc_id",
                           (F.col("lang") == "en").alias("pos"))
    j = (scored.join(lab, "doc_id")
         .select(F.floor(F.col("score") * 10000 + F.lit(0.5))
                 .cast("long").alias("s4"), "pos"))
    per = (j.groupBy("s4")
           .agg(F.sum(F.when(F.col("pos"), 1).otherwise(0))
                .alias("p"),
                F.sum(F.when(F.col("pos"), 0).otherwise(1))
                .alias("n")))
    w = (Window.orderBy("s4")
         .rowsBetween(Window.unboundedPreceding, -1))
    per = per.withColumn(
        "neg_below", F.coalesce(F.sum("n").over(w), F.lit(0)))
    agg = per.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("n").cast("long").alias("n_neg"),
        F.sum(F.lit(2) * F.col("p") * F.col("neg_below")
              + F.col("p") * F.col("n")).cast("long").alias("u2"))
    # single-class corpus (n_pos or n_neg == 0): no Mann-Whitney
    # denominator -> NULL, not an ANSI DIVIDE_BY_ZERO (r7 ADVICE)
    ratio = (F.floor(F.col("u2") * F.lit(1000000.0)
                     / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")))
             .cast("long"))
    return agg.select(
        "n_pos", "n_neg", "u2",
        F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0), ratio)
        .otherwise(F.lit(None).cast("long")).alias("auc_micro"))


def classifier_auc_oracle_sql() -> str:
    """DuckDB oracle for classifier_auc — the same integer
    Mann-Whitney over the same quantized-score histogram."""
    return f"""
        WITH scored AS (
          SELECT doc_id,
                 CAST(floor(score * 10000 + 0.5) AS BIGINT) AS s4,
                 lang = 'en' AS pos
          FROM ({quality_classifier_oracle_sql()}) q
          JOIN documents USING (doc_id)
        ), per AS (
          SELECT s4,
                 sum(CASE WHEN pos THEN 1 ELSE 0 END) AS p,
                 sum(CASE WHEN pos THEN 0 ELSE 1 END) AS n
          FROM scored GROUP BY s4
        ), below AS (
          SELECT s4, p, n,
                 coalesce(sum(n) OVER (ORDER BY s4
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS neg_below
          FROM per
        ), agg AS (
          SELECT CAST(sum(p) AS BIGINT) AS n_pos,
                 CAST(sum(n) AS BIGINT) AS n_neg,
                 CAST(sum(2 * p * neg_below + p * n) AS BIGINT) AS u2
          FROM below
        )
        SELECT n_pos, n_neg, u2,
               CASE WHEN n_pos > 0 AND n_neg > 0
                    THEN CAST(floor(u2 * 1000000.0
                                    / (2.0 * n_pos * n_neg)) AS BIGINT)
                    ELSE NULL END AS auc_micro
        FROM agg"""


_SPLIT_SPAN = 16 ** 8


def dataset_split(documents: DataFrame,
                  train_frac: float = 0.8,
                  val_frac: float = 0.1) -> DataFrame:
    """Deterministic train/val/test assignment by document-id hash —
    the standard leakage-safe split (a doc's split never depends on
    corpus order, partitioning, or reprocessing; re-runs and late
    arrivals land in the same split forever).  Map-only expression +
    one 3-group rollup with map-side combine.
    Output: split, n_docs, total_chars, doc_id_min, doc_id_max."""
    c1 = int(train_frac * _SPLIT_SPAN)
    c2 = int((train_frac + val_frac) * _SPLIT_SPAN)
    h = _md5_int8(F.col("doc_id").cast("string"))
    split = (F.when(h < c1, F.lit("train"))
             .when(h < c2, F.lit("val"))
             .otherwise(F.lit("test")))
    return (documents
            .select(split.alias("split"), "doc_id", "n_chars")
            .groupBy("split")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.min("doc_id").alias("doc_id_min"),
                 F.max("doc_id").alias("doc_id_max")))


def dataset_split_oracle_sql(train_frac: float = 0.8,
                             val_frac: float = 0.1) -> str:
    """DuckDB oracle for dataset_split — same md5-prefix hash and
    cutoffs."""
    c1 = int(train_frac * _SPLIT_SPAN)
    c2 = int((train_frac + val_frac) * _SPLIT_SPAN)
    h = " + ".join(
        f"(instr('0123456789abcdef', substr(md5("
        f"CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}" for i in range(8))
    return f"""
        WITH h AS (
          SELECT doc_id, n_chars,
                 CASE WHEN ({h}) < {c1} THEN 'train'
                      WHEN ({h}) < {c2} THEN 'val'
                      ELSE 'test' END AS split
          FROM documents
        )
        SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               min(doc_id) AS doc_id_min, max(doc_id) AS doc_id_max
        FROM h GROUP BY split"""


def gate_ablation(documents: DataFrame, min_words: int = 8,
                  max_dup: float = 0.6, max_bigram: float = 0.2,
                  min_quality: float = 0.3,
                  lang: str = "en") -> DataFrame:
    """Gate-ablation Venn: for the three standard corpus gates
    (repetition, model quality, language), how many documents fail
    each COMBINATION — the diagnostic a pipeline owner reads before
    tuning thresholds (a gate that only ever fails docs other gates
    already fail is free to tighten; one that uniquely kills volume
    is the one to calibrate).  Composes the same expressions the
    oracle-proven text_repetition / quality_classifier / text_lang_id
    keys use.

    Scale shape: three skinny per-doc signal relations join on doc_id
    (Catalyst collapses the shared documents scan; each signal's own
    shuffle carries (doc_id, counters) rows only), then an 8-group
    rollup with map-side combine.
    Output: fail_rep, fail_quality, fail_lang, n_docs, kept."""
    # r9: the quality score and language prediction are pure per-row
    # expressions, so they ride the SAME map-side projection as the
    # repetition base counts — the old plan materialized three signal
    # relations and shuffle-joined them on doc_id twice just to AND
    # per-row flags back together.  Only the bigram aggregation (the
    # one genuinely aggregated signal) still joins.  The expressions
    # are the shared _qc_feature_cols/_lang_pred_col/_rep_frac_cols
    # builders, so the flags cannot drift from the oracle-proven
    # quality_classifier / lang_id / text_repetition keys.
    score = quant4(_qc_feature_cols()[4])
    base = documents.select(
        "doc_id",
        F.size(words(F.col("text"))).cast("long").alias("n_words"),
        F.size(F.array_distinct(words(F.col("text")))).cast("long")
        .alias("n_distinct"),
        score.alias("score"),
        _lang_pred_col().alias("lang_pred"))
    dup_frac, top_frac = _rep_frac_cols()
    flags = (base.join(_bigram_top_agg(documents), "doc_id", "left")
             .select(((F.col("n_words") < min_words)
                      | (dup_frac > max_dup)
                      | (top_frac > max_bigram))
                     .alias("fail_rep"),
                     (F.col("score") < min_quality)
                     .alias("fail_quality"),
                     (F.col("lang_pred") != lang).alias("fail_lang")))
    return (flags.groupBy("fail_rep", "fail_quality", "fail_lang")
            .agg(F.count("*").cast("long").alias("n_docs"))
            .withColumn("kept", ~F.col("fail_rep")
                        & ~F.col("fail_quality")
                        & ~F.col("fail_lang")))
