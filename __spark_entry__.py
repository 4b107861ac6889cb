"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship OCR span-extraction over an
interleaved documents table derived deterministically from
/root/testdata/sf0.001.  ``queries()`` exposes the engine's operator
surface (SURVEY.md §2 SQL analogues + the training-data operators);
``oracle_sql()`` gives bit-compatible DuckDB SQL for every
SQL-expressible query (hashes are md5-hex both sides; float outputs are
round()ed identically; counts are BIGINT both sides).  ``ocr_extract``
is non-SQL-expressible (NumPy model forwards) and omits an oracle ->
rows-only check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from functools import reduce

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

import ocr_pytorch_spark  # noqa: E402,F401  (sets OPENBLAS_CORETYPE pre-numpy)
from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from ocr_pytorch_spark.functions import quant4  # noqa: E402
from ocr_pytorch_spark.operators import dedup as _DDP  # noqa: E402
from ocr_pytorch_spark.operators import indexing as _IX  # noqa: E402
from ocr_pytorch_spark.operators import text as _TXT  # noqa: E402
from ocr_pytorch_spark.operators import web as _WEB  # noqa: E402

SF_DEFAULT = "/root/testdata/sf0.001"
N_OCR_DOCS = 48        # docs used by the flagship OCR query
N_OCR_IMAGES = 24      # distinct media refs (shared -> dedup exercised)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _ship_package(spark: SparkSession) -> None:
    """Make ocr_pytorch_spark importable in python workers even when the
    session was created by an external harness (no PYTHONPATH, arbitrary
    cwd): zip the package and addPyFile it, once per session."""
    if getattr(spark, "_ocr_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.join(REPO_ROOT, "ocr_pytorch_spark")
    zpath = os.path.join(tempfile.gettempdir(),
                         f"ocr_pytorch_spark_pkg_{os.getpid()}.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, REPO_ROOT))
    spark.sparkContext.addPyFile(zpath)
    spark._ocr_pkg_shipped = True


# --- flagship: interleaved docs derived from the testdata corpus ---

def _interleaved_docs(spark: SparkSession, sf_dir: str,
                      n_docs: int = N_OCR_DOCS) -> DataFrame:
    """Wrap the flat testdata documents into the input_hint shape:
    (doc_id string, spans array<struct<kind,text,media_ref,offset>>) with
    one text span and one media span per doc; media refs drawn from a
    small shared pool so the OCR-once-per-distinct-image path and the
    hot-ref join skew are both exercised."""
    docs = _t(spark, sf_dir, "documents").where(
        F.col("doc_id") < n_docs)
    ref = F.concat(F.lit("img-td-"),
                   F.lpad((F.col("doc_id") % N_OCR_IMAGES).cast("string"),
                          4, "0"))
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(F.lit("text").alias("kind"),
                     F.col("text").alias("text"),
                     F.lit(None).cast("string").alias("media_ref"),
                     F.lit(0).cast("int").alias("offset")),
            F.struct(F.lit("media").alias("kind"),
                     F.lit(None).cast("string").alias("text"),
                     ref.alias("media_ref"),
                     F.lit(1).cast("int").alias("offset")),
        ).alias("spans"))


def _fixture_images(spark: SparkSession,
                    n_images: int = N_OCR_IMAGES) -> DataFrame:
    from ocr_pytorch_spark import datagen

    rows = datagen.gen_images(
        [f"img-td-{i:04d}" for i in range(n_images)])
    return spark.createDataFrame(
        [(r["media_ref"], r["height"], r["width"], r["channels"],
          bytearray(r["data"])) for r in rows],
        "media_ref string, height int, width int, channels int, data binary")


def _ocr_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ship_package(spark)
    from ocr_pytorch_spark.config import PipelineConfig
    from ocr_pytorch_spark.models import weights as W
    from ocr_pytorch_spark.operators.extract import (extract,
                                                     file_weights_spec)

    docs = _interleaved_docs(spark, sf_dir)
    imgs = _fixture_images(spark)
    W.load_bundled()  # ensure weights/*.npz exist
    out = extract(docs, imgs, file_weights_spec(),
                  PipelineConfig.fixture())
    # stable projection for the driver's hash: spans as flat rows
    return out.select(
        "doc_id", F.posexplode("spans").alias("i", "s")
    ).select("doc_id", F.col("s.offset").alias("offset"),
             F.col("s.kind").alias("kind"), F.col("s.text").alias("text"),
             F.col("s.media_ref").alias("media_ref"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _ocr_extract(spark, SF_DEFAULT)


def _pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text-layer round trip (sources/pdf.py): every document is
    written as a real 1-page FlateDecode PDF in the executor and its
    text layer parsed back.  Extraction is lossless for this subset,
    so the DuckDB oracle is the identity projection — writer, parser,
    unescaper, and stream inflation are all value-hash-checked."""
    _ship_package(spark)
    from ocr_pytorch_spark.sources.pdf import pdf_roundtrip_extract

    return pdf_roundtrip_extract(_t(spark, sf_dir, "documents"))


def _ocr_extract_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable flagship invariant (SURVEY §5.2 Layer 2, under
    the driver instead of pytest): the distributed pipeline's span rows
    are anti-joined BOTH ways against the single-process NumPy oracle's
    expected rows — parity holds iff the result is EMPTY.  The DuckDB
    oracle is the literal empty relation with this schema, so the
    driver's row-count + schema + value-hash checks all bite: any span
    produced out of order, dropped, duplicated, or transcribed
    differently by the Spark path shows up as violation rows and fails
    rows_match.

    Oracle cost is bounded: each of the N_OCR_IMAGES distinct fixture
    images is OCR'd once (pure functions of (name, seed)), then
    reassembled per doc via oracle.extract_document — the same code
    path the pytest layer trusts.

    The per-image oracle OCR runs in EXECUTORS (a bare one-row-per-
    image mapInPandas over oracle.ocr_image, none of the pipeline's
    dedup/salting/assembly plumbing) rather than the driver process:
    under a harness-owned session the driver's numpy may have
    initialised on a different OpenBLAS kernel family than the python
    workers (OPENBLAS_CORETYPE lands pre-fork for workers but possibly
    post-numpy-import in the driver), and GEMM families differ bitwise
    — a borderline CTC argmax then flips
    (tests/test_blas_coretype.py).  Executor-side, both parity sides
    share one kernel family by construction, and the invariant still
    catches every plumbing defect: dropped / duplicated / reordered /
    misassembled spans, dedup mistakes, error-row leaks.  Only the
    tiny transcript lists return to the driver."""
    _ship_package(spark)
    from ocr_pytorch_spark import oracle
    from ocr_pytorch_spark.config import PipelineConfig
    from ocr_pytorch_spark.models import weights as W
    from ocr_pytorch_spark.operators.extract import (OCR_OUT_SCHEMA,
                                                     file_weights_spec,
                                                     make_ocr_udf)

    ctpn_w, crnn_w = W.load_bundled()
    cfg = PipelineConfig.fixture()
    transcript_rows = (_fixture_images(spark)
                       .repartition(8, "media_ref")
                       .mapInPandas(make_ocr_udf(file_weights_spec(),
                                                 cfg),
                                    OCR_OUT_SCHEMA)
                       .collect())  # ~N_OCR_IMAGES tiny rows
    per_ref = {}
    for r in sorted(transcript_rows,
                    key=lambda r: (r["media_ref"], r["box_order"])):
        if r["box_order"] < 0:  # decode/OCR error must fail loudly
            raise RuntimeError(
                f"oracle OCR failed for {r['media_ref']}: {r['text']}")
        per_ref.setdefault(r["media_ref"], []).append(
            (r["box_order"], r["text"]))
    for i in range(N_OCR_IMAGES):  # empty-detection images yield no rows
        per_ref.setdefault(f"img-td-{i:04d}", [])

    expected_rows = []
    for d in _interleaved_docs(spark, sf_dir).collect():  # N_OCR_DOCS rows
        doc = {"doc_id": d["doc_id"],
               "spans": [{"kind": s["kind"], "text": s["text"],
                          "media_ref": s["media_ref"]} for s in d["spans"]]}
        out = oracle.extract_document(
            doc, None, ctpn_w, crnn_w, cfg,
            ocr_for_ref=lambda ref: per_ref[ref])
        for s in out["spans"]:
            expected_rows.append((out["doc_id"], s["offset"], s["kind"],
                                  s["text"], s["media_ref"]))

    if not expected_rows:  # parity must never be vacuously true
        raise RuntimeError("oracle produced no expected spans")
    schema = ("doc_id string, offset int, kind string, text string, "
              "media_ref string")
    expected = spark.createDataFrame(expected_rows, schema)
    actual = _ocr_extract(spark, sf_dir)
    return (actual.exceptAll(expected)
            .withColumn("side", F.lit("pipeline_only"))
            .unionByName(expected.exceptAll(actual)
                         .withColumn("side", F.lit("oracle_only"))))


def _png_ocr_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-image-file ingestion as a PARITY surface — ORACLE-BEARING
    since r6 (r5 VERDICT task 4, the ocr_extract_parity empty-anti-
    join pattern): a PNG corpus (fixture images encoded across all
    five PNG filter types + the checked-in reference files
    test_images/t1.png AND the reference's own rendered JPEG output
    test_result/t1.jpg — the reference's demo input path, demo.py:11
    np.array(PIL Image.open(...).convert('RGB')) over
    test_images/*.*) is decoded INSIDE executors by the
    pure-NumPy codecs (magic-byte dispatch) and OCR'd; the expected
    side OCRs reference raw arrays — datagen.gen_image_array for the
    fixtures (fully independent of the PNG codec: encode->decode must
    be the identity) and a driver-side single-process kernel decode
    for the real files.  Both sides anti-join to EMPTY, so the DuckDB
    oracle is the typed empty relation and the driver hash proves the
    file-ingest path emits byte-identical spans to the direct-array
    path."""
    _ship_package(spark)
    from ocr_pytorch_spark.config import PipelineConfig
    from ocr_pytorch_spark.models import weights as W
    from ocr_pytorch_spark.operators.extract import (file_weights_spec,
                                                     ocr_transcripts)
    from ocr_pytorch_spark.sources import png as PNG

    refs = [f"img-td-{i:04d}" for i in range(8)]
    corpus = PNG.encode_fixture_pngs(spark, refs)
    real = PNG.read_image_dir(
        spark, os.path.join(REPO_ROOT, "tests", "assets"))
    images = PNG.decode_png_images(corpus.unionByName(real))
    ok = images.where(F.col("height") > 0)
    W.load_bundled()
    cfg = PipelineConfig.fixture()
    actual = ocr_transcripts(ok, ok.select("media_ref"),
                             file_weights_spec(), cfg)

    # expected side: reference raw arrays, no executor codec involved
    from ocr_pytorch_spark import datagen
    from ocr_pytorch_spark.kernels.jpeg import decode_jpeg
    from ocr_pytorch_spark.kernels.png import decode_png

    exp_rows = []
    for ref in refs:
        arr, _ = datagen.gen_image_array(ref)
        exp_rows.append((ref, arr.shape[0], arr.shape[1], 3,
                         bytearray(arr.tobytes())))
    assets = os.path.join(REPO_ROOT, "tests", "assets")
    for fname in sorted(os.listdir(assets)):
        with open(os.path.join(assets, fname), "rb") as fh:
            blob = fh.read()
        arr = (decode_png(blob) if blob[:8].startswith(b"\x89PNG")
               else decode_jpeg(blob))
        exp_rows.append((fname, arr.shape[0], arr.shape[1], 3,
                         bytearray(arr.tobytes())))
    exp_images = spark.createDataFrame(
        exp_rows, "media_ref string, height int, width int, "
                  "channels int, data binary")
    expected = ocr_transcripts(exp_images,
                               exp_images.select("media_ref"),
                               file_weights_spec(), cfg)
    return (actual.exceptAll(expected)
            .withColumn("side", F.lit("file_ingest_only"))
            .unionByName(expected.exceptAll(actual)
                         .withColumn("side", F.lit("reference_only"))))


def _text_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal — ORACLE-BEARING since r6
    (r5 VERDICT task 4): DuckDB has no compressor, but zlib is
    deterministic, so the oracle is a literal expected relation
    recomputed single-process at oracle-build time from the same
    datagen.compression_fixture_text corpus (the ocr_errors_scan
    pattern).  The Spark side runs the REAL distributed operator
    (operators/text.compression_ratio, Arrow-batched mapInPandas) over
    texts synthesized on executors from doc_id alone, so the driver
    hash proves the distributed plumbing reproduces the single-process
    computation on a corpus spanning the compressibility spectrum
    (ratios 0.02-0.56).  The full documents table stays covered by
    pytest (tests/test_text_ops.py)."""
    _ship_package(spark)
    from ocr_pytorch_spark.functions import quant4
    from ocr_pytorch_spark.operators.text import compression_ratio

    def synth(batches):
        import pandas as pd

        from ocr_pytorch_spark.datagen import compression_fixture_text

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": [int(k) for k in pdf["doc_id"]],
                "text": [compression_fixture_text(int(k))
                         for k in pdf["doc_id"]]})

    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 32).select("doc_id"))
    texts = docs.mapInPandas(synth, "doc_id long, text string")
    return compression_ratio(texts).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_chars", "n_compressed",
        quant4(F.col("compression_ratio")).alias("compression_ratio"))


def _text_compression_oracle_sql() -> str:
    """Literal expected relation: the same fixture texts compressed by
    the driver's zlib (level 6, the operator's setting).  Building the
    literal at oracle-request time — not a frozen string — keeps the
    oracle pinned to the interpreter's actual zlib, so a zlib upgrade
    shifts both sides together (the lesson of the r5 numpy-message
    fragility).  The unquantized double ratio is embedded via repr()
    (shortest round-trip) and BOTH engines then apply the identical
    quant4 floor expression to the identical double."""
    import zlib

    from ocr_pytorch_spark.datagen import compression_fixture_text
    from ocr_pytorch_spark.functions import quant4_sql

    rows = []
    for k in range(32):
        raw = compression_fixture_text(k).encode("utf-8")
        z = len(zlib.compress(raw, 6))
        ratio = z / max(len(raw), 1)
        rows.append(f"({k}, {len(raw)}, {z}, "
                    f"CAST({ratio!r} AS DOUBLE))")
    q4 = quant4_sql("compression_ratio")
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(n_chars AS BIGINT) AS n_chars, "
        "CAST(n_compressed AS BIGINT) AS n_compressed, "
        f"{q4} AS compression_ratio "
        "FROM (VALUES " + ", ".join(rows) + ") AS t("
        "doc_id, n_chars, n_compressed, compression_ratio)")


def _semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table PLUS 48 planted near-
    duplicates (deterministic md5-derived jitter, the same expression
    DuckDB evaluates — both engines compute identical doubles), so the
    key verifies the operator's discrimination, not a vacuous
    all-keep: the base corpus has no cos>=0.9 pairs (measured max
    0.53), so all 48 planted copies are dropped and every original
    kept (at 16 centroids, 2 copies survived by straddling a cell
    boundary — the documented SemDeDup cluster-splitting recall
    trade, arXiv:2303.09540 §3; 64 centroids resolves it here AND
    keeps cells small enough that the quadratic within-cell stage
    stays bounded).  operators/similarity.semantic_dedup."""
    from ocr_pytorch_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    jit = ("(((instr('0123456789abcdef', "
           "substr(md5(concat(vec_id, ':', i)), 1, 1)) - 1) * 16 + "
           "instr('0123456789abcdef', "
           "substr(md5(concat(vec_id, ':', i)), 2, 1)) - 1) "
           "/ 255.0 * 0.08 - 0.04)")
    copies = (emb.where(F.col("vec_id") < 48)
              .select((F.col("vec_id") + 1000000).alias("vec_id"),
                      F.expr("transform(CAST(embedding AS "
                             f"array<double>), (x, i) -> x + {jit})")
                      .alias("embedding")))
    base = emb.select("vec_id",
                      F.col("embedding").cast("array<double>")
                      .alias("embedding"))
    # n_centroids=64: cell population is the quadratic dial — 16
    # cells left ~500 vecs/cell at the bench tier (2M pairs, 9s); 64
    # keeps cells ~125 and the pair stage sub-second, exactly the
    # "raise n_centroids with corpus size" scale story
    return S.semantic_dedup(base.unionByName(copies), n_centroids=64,
                            tau=0.9)


def _ocr_errors_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 error sink as a query surface: a corpus with one poisoned
    image (truncated bytes) yields per-image error rows instead of a
    failed job (ERROR_BOX_ORDER contract).  ORACLE-BEARING since r5:
    the poison row's (media_ref, error) pair is fully deterministic
    (numpy's reshape message for 2 bytes vs a declared 10x10x3), so
    the DuckDB oracle is the literal expected relation — the driver
    hash then proves the error sink emits EXACTLY one row, with the
    right ref and message, and that no healthy image leaks into it."""
    _ship_package(spark)
    from ocr_pytorch_spark.config import PipelineConfig
    from ocr_pytorch_spark.models import weights as W
    from ocr_pytorch_spark.operators.extract import (file_weights_spec,
                                                     ocr_errors,
                                                     ocr_transcripts)

    imgs = _fixture_images(spark).limit(4).unionByName(
        spark.createDataFrame(
            [("img-poison", 10, 10, 3, bytearray(b"\x01\x02"))],
            "media_ref string, height int, width int, channels int, "
            "data binary"))
    W.load_bundled()
    spans = ocr_transcripts(imgs, imgs.select("media_ref"),
                            file_weights_spec(),
                            PipelineConfig.fixture())
    # hash the exception CLASS, not numpy's exact message wording —
    # a numpy upgrade that rewords "cannot reshape ..." must not break
    # the driver key when the error-sink behavior is correct (r5
    # ADVICE); the full message stays available from ocr_errors()
    return ocr_errors(spans).select(
        "media_ref",
        F.split(F.col("error"), ":").getItem(0).alias("error_class"))


# --- queries -----------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from ocr_pytorch_spark.operators import dedup as D
    from ocr_pytorch_spark.operators import html as H
    from ocr_pytorch_spark.operators import similarity as S
    from ocr_pytorch_spark.operators import text as T
    from ocr_pytorch_spark.operators import web as WB

    def filter_threshold(spark, sf):
        return (_t(spark, sf, "events").where(F.col("value") > 0.5)
                .groupBy("event_type")
                .agg(F.count("*").alias("n"),
                     quant4(F.sum("value") / 1000.0).alias("sum_value_k")))

    def filter_minsize(spark, sf):
        return (_t(spark, sf, "lineitem")
                .where((F.col("l_quantity") >= 16)
                       & (F.col("l_extendedprice") >= 1000))
                .groupBy("l_returnflag")
                .agg(F.count("*").alias("n")))

    def project_bbox_decode(spark, sf):
        li = _t(spark, sf, "lineitem").where(F.col("l_orderkey") % 8 == 0)
        # raw doubles: Math.exp and DuckDB exp agree bitwise, while 4dp
        # round() disagrees on half-grid values (verified empirically)
        return li.select(
            "l_orderkey", "l_linenumber",
            (F.col("l_quantity") * 0.5
             + F.exp(F.col("l_discount")) * 8.0).alias("y_dec"),
            (F.col("l_extendedprice") / 1000.0
             - F.col("l_tax") * 16.0).alias("x_dec"))

    def topk_score(spark, sf):
        return (_t(spark, sf, "events")
                .orderBy(F.col("value").desc(), "event_id")
                .select("event_id", quant4(F.col("value")).alias("score"))
                .limit(100))

    def filename_munge(spark, sf):
        """C12 (demo.py:26-27): derive sink file names from source
        paths — basename for the framed image, stem + '.txt' for the
        transcript file.  Pure string expressions, engine-portable."""
        docs = _t(spark, sf, "documents")
        path = F.concat(F.lit("/data/in/imgs/doc-"),
                        F.col("doc_id").cast("string"), F.lit(".png"))
        base = F.element_at(F.split(path, "/"), -1)
        stem = F.element_at(F.split(base, "\\."), 1)
        return docs.select(
            "doc_id",
            base.alias("output_file"),
            F.concat(stem, F.lit(".txt")).alias("txt_file"))

    def data_quality_checks(spark, sf):
        """Deequ-style constraint validation in one pass per table:
        null keys, duplicate keys, out-of-range values, referential
        orphans — each check a conditional aggregate, emitted as
        (check, n_violations) rows.  At 10^12 rows this is the same
        single scan + tiny join it is here."""
        ev = _t(spark, sf, "events")
        docs = _t(spark, sf, "documents")
        li = _t(spark, sf, "lineitem")
        orders = _t(spark, sf, "orders")
        ev_checks = ev.agg(
            F.count(F.when(F.col("event_id").isNull(), 1))
            .alias("events_null_id"),
            F.count(F.when(F.col("value") < 0, 1))
            .alias("events_negative_value"),
            (F.count("*") - F.count_distinct("event_id"))
            .alias("events_dup_id"))
        doc_checks = docs.agg(
            F.count(F.when(F.col("text").isNull()
                           | (F.length("text") == 0), 1))
            .alias("documents_empty_text"),
            (F.count("*") - F.count_distinct("doc_id"))
            .alias("documents_dup_id"))
        orphans = (li.join(orders,
                           li["l_orderkey"] == orders["o_orderkey"],
                           "left_anti")
                   .agg(F.count("*").alias("lineitem_orphan_orders")))
        wide = ev_checks.crossJoin(doc_checks).crossJoin(orphans)
        checks = ["events_null_id", "events_negative_value",
                  "events_dup_id", "documents_empty_text",
                  "documents_dup_id", "lineitem_orphan_orders"]
        stacked = F.explode(F.array(*[
            F.struct(F.lit(c).alias("check"),
                     F.col(c).cast("long").alias("n_violations"))
            for c in checks])).alias("kv")
        return (wide.select(stacked)
                .select("kv.check", "kv.n_violations"))

    def time_bucket_rollup(spark, sf):
        """Hypertable-style continuous-aggregate rollup: fixed hourly
        time buckets x event_type with count/sum/min/max — the
        pre-aggregation a timeseries store maintains incrementally; in
        Spark it is one partial-aggregated groupBy whose bucket key is
        a pure function of ts."""
        ev = _t(spark, sf, "events")
        bucket = F.date_trunc("HOUR", F.col("ts"))
        return (ev.groupBy(
                    F.date_format(bucket, "yyyy-MM-dd HH:00")
                    .alias("hour_bucket"), "event_type")
                .agg(F.count("*").alias("n"),
                     quant4(F.sum("value")).alias("sum_value"),
                     quant4(F.min("value")).alias("min_value"),
                     quant4(F.max("value")).alias("max_value")))

    def text_normalize(spark, sf):
        """Dedup preprocessing normalization: lowercase, collapse
        non-alphanumerics to single spaces, trim — the canonical form
        fed to shingling so near-dups differing only in case or
        punctuation collide.  Pure codegen expressions."""
        norm = F.trim(F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "),
            " +", " "))
        return (_t(spark, sf, "documents")
                .select("doc_id", norm.alias("norm_text"),
                        F.md5(norm).alias("norm_hash")))

    def sample_documents(spark, sf):
        """Deterministic 10% corpus sample via content-free hashing:
        keep doc iff the first 8 md5 hex digits of its id fall under
        0.1 * 16^8 — reproducible across engines/runs (no RNG state),
        the standard way to sample 10^12 rows consistently."""
        cut = int(0.1 * 16 ** 8)
        bucket = reduce(
            lambda acc, i: acc + (
                F.expr(f"instr('0123456789abcdef', substring("
                       f"md5(cast(doc_id as string)), {i + 1}, 1))")
                - 1).cast("long") * F.lit(16 ** (7 - i)).cast("long"),
            range(8), F.lit(0).cast("long"))
        return (_t(spark, sf, "documents")
                .select("doc_id", bucket.cast("long").alias("h"))
                .where(F.col("h") < cut)
                .select("doc_id"))

    def salted_join(spark, sf):
        """Explicit skew-salting pattern, result-equality-proven: the
        (potentially skewed) lineitem side gets a random-free
        deterministic salt from its row key; the orders side is
        replicated across all salts; the join key becomes
        (o_orderkey, salt) so one hot order key spreads over SALTS
        partitions.  The oracle is the PLAIN join — salting must not
        change results, only the shuffle layout."""
        SALTS = 8
        li = _t(spark, sf, "lineitem").select(
            "l_orderkey", "l_extendedprice",
            F.pmod(F.xxhash64("l_orderkey", "l_linenumber"),
                   F.lit(SALTS)).cast("int").alias("salt"))
        orders = (_t(spark, sf, "orders")
                  .select("o_orderkey", "o_totalprice")
                  .crossJoin(spark.range(SALTS).select(
                      F.col("id").cast("int").alias("salt"))))
        j = li.join(orders,
                    (li["l_orderkey"] == orders["o_orderkey"])
                    & (li["salt"] == orders["salt"]))
        # per-row integer cents -> order-insensitive exact aggregation
        # (salted partial sums reassociate float adds; ints don't care)
        cents = F.floor((F.col("l_extendedprice")
                         + F.col("o_totalprice")) * 100).cast("long")
        return (j.groupBy("l_orderkey")
                .agg(F.count("*").alias("n"),
                     F.sum(cents).alias("combined_cents")))

    def session_window_agg(spark, sf):
        """Spark's NATIVE session_window (gap-merged event-time
        sessions) — the built-in the manual `sessionize` query
        re-derives with lag/running-sum windows.  The oracle IS that
        manual derivation, so the two session definitions are proven
        equivalent.  Output: user_id, sess_start_s, n_events."""
        ev = _t(spark, sf, "events").withColumn(
            "ts", F.col("ts").cast("timestamp"))
        return (ev.groupBy("user_id",
                           F.session_window("ts", "5 minutes"))
                .agg(F.count("*").alias("n_events"))
                .select("user_id",
                        F.col("session_window.start").cast("long")
                        .alias("sess_start_s"), "n_events"))

    def dedup_keeper_policy(spark, sf):
        """Pipeline keeper policy: within each transitive dup component
        keep the highest-quality doc (ties -> min doc_id) — the
        decision rule a cleaning pipeline actually applies, composed
        from dup_components x quality_score.
        Output: component, keeper, quality, n_members."""
        from pyspark.sql import Window

        comp = D.dup_components(_t(spark, sf, "documents"))
        qual = T.quality_score(_t(spark, sf, "documents")) \
            .select("doc_id", "quality")
        j = comp.join(qual, "doc_id")
        w = (Window.partitionBy("component")
             .orderBy(F.col("quality").desc(), "doc_id"))
        return (j.withColumn("rk", F.row_number().over(w))
                .withColumn("n_members",
                            F.count("*").over(
                                Window.partitionBy("component")))
                .where((F.col("rk") == 1) & (F.col("n_members") > 1))
                .select("component", F.col("doc_id").alias("keeper"),
                        "quality", "n_members"))

    def cube_agg(spark, sf):
        """CUBE over (event_type, value-band): all 4 grouping-set
        combinations in one pass (partial aggregation per set)."""
        ev = _t(spark, sf, "events").select(
            "event_type", (F.col("value") >= 50).cast("int").alias("hi"),
            "value")
        return (ev.cube("event_type", "hi")
                .agg(F.count("*").alias("n"),
                     quant4(F.sum("value") / 1000).alias("sum_value_k")))

    def window_moving_avg(spark, sf):
        """Rolling 5-row mean of value per user (frame-based window) —
        one sort-based shuffle, emitted per event row."""
        from pyspark.sql import Window

        w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(-4, 0))
        return (_t(spark, sf, "events")
                .select("user_id", "event_id",
                        quant4(F.avg("value").over(w)).alias("mavg5")))

    def asof_join_events(spark, sf):
        """As-of join — the canonical operator Spark lacks natively,
        composed from built-ins (brief: compose before dropping to
        UDFs): each purchase gets the most recent view at-or-before it
        per user.  Implementation: union the two streams tagged, one
        window pass per user ordered by (ts, is_right) carrying
        last(view_ts ignorenulls) — a single sort-based shuffle, no
        per-row Python, no cross product.  The DuckDB oracle uses the
        native ASOF LEFT JOIN, so the composition is checked against a
        real asof implementation."""
        from pyspark.sql import Window

        ev = _t(spark, sf, "events")
        views = (ev.where(F.col("event_type") == "view")
                 .select("user_id", F.col("ts").alias("view_ts")))
        buys = (ev.where(F.col("event_type") == "purchase")
                .select("user_id", "event_id", "ts"))
        tagged = (views.select("user_id",
                               F.col("view_ts").alias("ts"),
                               F.lit(None).cast("long").alias("event_id"),
                               F.col("view_ts"),
                               F.lit(0).alias("side"))
                  .unionByName(buys.select(
                      "user_id", "ts", "event_id",
                      F.lit(None).cast(views.schema["view_ts"].dataType)
                      .alias("view_ts"), F.lit(1).alias("side"))))
        # views sort before purchases at equal ts (side 0 < 1), so a
        # same-instant view is visible to the purchase — ASOF >= match
        w = (Window.partitionBy("user_id")
             .orderBy("ts", "side", "event_id")
             .rowsBetween(Window.unboundedPreceding, 0))
        out = (tagged
               .withColumn("last_view",
                           F.last("view_ts", ignorenulls=True).over(w))
               .where(F.col("side") == 1))
        return out.select(
            "user_id", "event_id",
            F.col("ts").cast("timestamp").cast("long").alias("buy_s"),
            F.col("last_view").cast("timestamp").cast("long")
            .alias("view_s"))

    def percentiles_value(spark, sf):
        """Exact linear-interpolated percentiles per event_type (Spark
        percentile() == DuckDB quantile_cont, both the standard
        type-7 estimator; quant4 absorbs last-ulp differences).  The
        exact form needs a per-group sort — the approx path for 10^12
        rows is percentile_approx (see approx_distinct for the sketch
        precedent)."""
        ev = _t(spark, sf, "events")
        ps = [0.25, 0.5, 0.75, 0.99]
        cols = [quant4(F.expr(f"percentile(value, {p})"))
                .alias(f"p{int(p * 100)}") for p in ps]
        return ev.groupBy("event_type").agg(*cols)

    def funnel_counts(spark, sf):
        """Ordered-funnel analytics: users progressing view -> click ->
        purchase, where each stage's FIRST event must follow the prior
        stage's first event.  One groupBy (first-touch timestamps per
        user) + one aggregation — no per-user collect, no self-joins."""
        ev = _t(spark, sf, "events")
        firsts = ev.groupBy("user_id").agg(
            F.min(F.when(F.col("event_type") == "view",
                         F.col("ts"))).alias("t_view"),
            F.min(F.when(F.col("event_type") == "click",
                         F.col("ts"))).alias("t_click"),
            F.min(F.when(F.col("event_type") == "purchase",
                         F.col("ts"))).alias("t_buy"))
        reached_click = (F.col("t_view").isNotNull()
                         & (F.col("t_click") > F.col("t_view")))
        reached_buy = reached_click & (F.col("t_buy") > F.col("t_click"))
        agg = firsts.agg(
            F.count(F.when(F.col("t_view").isNotNull(), 1))
            .alias("n_view"),
            F.count(F.when(reached_click, 1)).alias("n_click"),
            F.count(F.when(reached_buy, 1)).alias("n_purchase"))
        return agg.select(
            "n_view", "n_click", "n_purchase",
            quant4(F.col("n_click") / F.col("n_view"))
            .alias("view_to_click"),
            quant4(F.col("n_purchase") / F.col("n_click"))
            .alias("click_to_buy"))

    def retention_cohorts(spark, sf):
        """Cohort retention: users grouped by first-seen day; distinct
        active users per (cohort_day, day_offset) for the first week.
        Two shuffles (first-touch groupBy + cohort-cell distinct), both
        on skinny (user, day) rows."""
        ev = _t(spark, sf, "events").select(
            "user_id", F.date_trunc("DAY", "ts").alias("day"))
        first = ev.groupBy("user_id").agg(
            F.min("day").alias("cohort_day"))
        act = (ev.join(first, "user_id")
               .select("user_id", "cohort_day",
                       F.datediff(F.col("day").cast("date"),
                                  F.col("cohort_day").cast("date"))
                       .alias("day_offset"))
               .where(F.col("day_offset") <= 7))
        return (act.groupBy(F.date_format("cohort_day", "yyyy-MM-dd")
                            .alias("cohort_day"), "day_offset")
                .agg(F.count_distinct("user_id").alias("n_users")))

    def ohem_topk_sum(spark, sf):
        """W5/A5 relational analogue (train_ctpn/ctpn_model.py:56-81):
        per group, loss = (sum of positive losses + sum of the hardest
        (300 - n_pos) negative losses) / 300 — OHEM as a window rank +
        conditional sum, fully distributed (no per-group collect)."""
        from pyspark.sql import Window

        ev = _t(spark, sf, "events").select(
            "event_type", "event_id", F.col("value").alias("loss"),
            (F.col("value") >= 0.9).alias("pos"))
        ranked = ev.withColumn(
            "rk", F.when(~F.col("pos"),
                         F.row_number().over(
                             Window.partitionBy("event_type", "pos")
                             .orderBy(F.col("loss").desc(), "event_id")))
            .otherwise(F.lit(None)))
        agg = ranked.groupBy("event_type").agg(
            F.count(F.when(F.col("pos"), 1)).alias("n_pos"),
            F.sum(F.when(F.col("pos"), F.col("loss"))
                  .otherwise(F.lit(0.0))).alias("pos_sum"))
        hard_neg = (ranked.where(~F.col("pos"))
                    .join(agg.select("event_type", "n_pos"), "event_type")
                    .where(F.col("rk") <= 300 - F.col("n_pos"))
                    .groupBy("event_type")
                    .agg(F.sum("loss").alias("neg_sum")))
        return (agg.join(hard_neg, "event_type", "left")
                .select("event_type", "n_pos",
                        quant4((F.col("pos_sum")
                                + F.coalesce(F.col("neg_sum"),
                                             F.lit(0.0))) / 300)
                        .alias("ohem_loss")))

    def window_reading_order(spark, sf):
        from pyspark.sql import Window
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (_t(spark, sf, "events")
                .select("user_id", "event_id",
                        F.row_number().over(w).alias("rn"))
                .where(F.col("rn") <= 3))

    def dedupe_consecutive_lag(spark, sf):
        from pyspark.sql import Window
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ev = (_t(spark, sf, "events")
              .select("user_id", "event_type", "ts", "event_id",
                      F.lag("event_type").over(w).alias("prev")))
        return (ev.where(F.col("prev").isNull()
                         | (F.col("event_type") != F.col("prev")))
                .groupBy("user_id").agg(F.count("*").alias("n_kept")))

    def group_line_stats(spark, sf):
        return (_t(spark, sf, "events").groupBy("user_id")
                .agg(F.count("*").alias("n"),
                     quant4(F.min("value")).alias("mn"),
                     quant4(F.max("value")).alias("mx"),
                     quant4(F.avg("value")).alias("avg_v")))

    def group_linefit_regr(spark, sf):
        return (_t(spark, sf, "lineitem").groupBy("l_returnflag")
                .agg(quant4(F.expr(
                    "regr_slope(l_extendedprice, l_quantity)"))
                    .alias("slope"),
                    quant4(F.expr(
                        "regr_intercept(l_extendedprice, l_quantity)"))
                    .alias("icept")))

    def range_self_join(spark, sf):
        _t(spark, sf, "events").createOrReplaceTempView("ev_rsj")
        return spark.sql("""
            SELECT a.user_id AS user_id, count(*) AS n_pairs
            FROM ev_rsj a JOIN ev_rsj b
              ON a.user_id = b.user_id
             AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 60 SECOND
            GROUP BY a.user_id""")

    def semi_join_keep(spark, sf):
        li = _t(spark, sf, "lineitem")
        keys = (_t(spark, sf, "orders")
                .where(F.col("o_totalprice") > 150000)
                .select(F.col("o_orderkey").alias("l_orderkey")))
        return (li.join(keys, "l_orderkey", "left_semi")
                .groupBy("l_returnflag").agg(F.count("*").alias("n")))

    def broadcast_dim_join(spark, sf):
        li = _t(spark, sf, "lineitem")
        part = _t(spark, sf, "part")
        return (li.join(F.broadcast(part),
                        li.l_partkey == part.p_partkey)
                .groupBy("p_brand")
                .agg(F.count("*").alias("n"),
                     quant4(F.sum("l_extendedprice") / 1e6)
                     .alias("revenue_m")))

    def explode_reassemble(spark, sf):
        from ocr_pytorch_spark.functions import word_rows
        return (word_rows(_t(spark, sf, "documents"))
                .groupBy("doc_id")
                .agg(F.count("*").alias("n_words"),
                     F.min("word").alias("w_min"),
                     F.max("word").alias("w_max")))

    def tpch_q1(spark, sf):
        return (_t(spark, sf, "lineitem")
                .where(F.col("l_shipdate") <= "1998-09-02")
                .groupBy("l_returnflag", "l_linestatus")
                .agg(quant4(F.sum("l_quantity") / 1000.0)
                     .alias("sum_qty_k"),
                     quant4(F.sum("l_extendedprice") / 1e6)
                     .alias("sum_price_m"),
                     quant4(F.avg("l_discount")).alias("avg_disc"),
                     F.count("*").alias("n")))

    def tpch_q6(spark, sf):
        # selective scan: both predicates push down to the parquet scan
        return (_t(spark, sf, "lineitem")
                .where((F.col("l_shipdate") >= "1994-01-01")
                       & (F.col("l_shipdate") < "1995-01-01")
                       & (F.col("l_discount") >= 0.05)
                       & (F.col("l_quantity") < 24))
                .agg(quant4(F.sum(F.col("l_extendedprice")
                                  * F.col("l_discount")) / 1000.0)
                     .alias("revenue_k"),
                     F.count("*").alias("n")))

    def tpch_q3_topk(spark, sf):
        li = _t(spark, sf, "lineitem")
        o = _t(spark, sf, "orders")
        rev = (li.join(o, li.l_orderkey == o.o_orderkey)
               .groupBy("l_orderkey")
               .agg(quant4(F.sum(F.col("l_extendedprice")
                                 * (1 - F.col("l_discount"))) / 1000.0)
                    .alias("rev_k")))
        return rev.orderBy(F.col("rev_k").desc(), "l_orderkey").limit(10)

    def tpch_q5(spark, sf):
        """Local-supplier volume (TPC-H Q5 on the testdata subset):
        revenue per nation for ASIA, 1996, where the supplier and the
        customer share the nation.  Five-way join: the region/nation
        dims broadcast, customer/supplier hash-join, lineitem never
        shuffles twice."""
        li = _t(spark, sf, "lineitem")
        o = _t(spark, sf, "orders").where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01"))
        c = _t(spark, sf, "customer")
        s = _t(spark, sf, "supplier")
        n = _t(spark, sf, "nation")
        r = _t(spark, sf, "region").where(F.col("r_name") == "ASIA")
        j = (li.join(o, li.l_orderkey == o.o_orderkey)
             .join(c, o.o_custkey == c.c_custkey)
             .join(s, li.l_suppkey == s.s_suppkey)
             .where(c.c_nationkey == s.s_nationkey)
             .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
             .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
        return (j.groupBy("n_name")
                .agg(quant4(F.sum(F.col("l_extendedprice")
                                  * (1 - F.col("l_discount"))) / 1000.0)
                     .alias("revenue_k"),
                     F.count("*").alias("n")))

    def tpch_q10(spark, sf):
        """Returned-item customer ranking (Q10 shape): top 20
        customers by revenue on returned lineitems in one quarter."""
        li = _t(spark, sf, "lineitem").where(
            F.col("l_returnflag") == "R")
        o = _t(spark, sf, "orders").where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-04-01"))
        c = _t(spark, sf, "customer")
        n = _t(spark, sf, "nation")
        j = (li.join(o, li.l_orderkey == o.o_orderkey)
             .join(c, o.o_custkey == c.c_custkey)
             .join(F.broadcast(n), c.c_nationkey == n.n_nationkey))
        rev = (j.groupBy("c_custkey", "c_name", "n_name")
               .agg(quant4(F.sum(F.col("l_extendedprice")
                                 * (1 - F.col("l_discount"))) / 1000.0)
                    .alias("revenue_k")))
        return rev.orderBy(F.col("revenue_k").desc(),
                           "c_custkey").limit(20)

    def tpch_q14(spark, sf):
        """Promotion-effect revenue share (Q14): promo-part revenue
        over total revenue for one ship month; the part dim joins
        broadcast-side."""
        li = _t(spark, sf, "lineitem").where(
            (F.col("l_shipdate") >= "1996-03-01")
            & (F.col("l_shipdate") < "1996-04-01"))
        p = _t(spark, sf, "part")
        rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        return j.agg(
            quant4(100.0 * F.sum(F.when(F.col("p_type") == "PROMO",
                                        rev).otherwise(0.0))
                   / F.sum(rev)).alias("promo_revenue_pct"),
            F.count("*").alias("n_items"))

    def event_outliers(spark, sf):
        """Data-quality anomaly scan: per-event-type population
        z-scores; report count and peak |z| of 3-sigma outliers —
        one scan for the moments + one broadcast join back."""
        ev = _t(spark, sf, "events")
        stats = (ev.groupBy("event_type")
                 .agg(F.avg("value").alias("mu"),
                      (F.sqrt(F.avg(F.col("value") * F.col("value"))
                              - F.avg("value") * F.avg("value")))
                      .alias("sigma")))
        z = (ev.join(F.broadcast(stats), "event_type")
             .withColumn("z", F.abs((F.col("value") - F.col("mu"))
                                    / F.col("sigma"))))
        return (z.where(F.col("z") > 3.0)
                .groupBy("event_type")
                .agg(F.count("*").alias("n_outliers"),
                     quant4(F.max("z")).alias("max_z")))

    def tpch_q18(spark, sf):
        """Large-volume customers (Q18 shape): orders whose total
        lineitem quantity clears 280, joined back to customer — the
        aggregate-THEN-join plan (the HAVING subquery becomes a
        skinny (orderkey, qty) build side)."""
        li = _t(spark, sf, "lineitem")
        big = (li.groupBy("l_orderkey")
               .agg(F.sum("l_quantity").alias("total_qty"))
               .where(F.col("total_qty") > 280))
        o = _t(spark, sf, "orders")
        c = _t(spark, sf, "customer")
        j = (o.join(big, o.o_orderkey == big.l_orderkey)
             .join(c, o.o_custkey == c.c_custkey))
        return (j.select("c_custkey", "c_name", "o_orderkey",
                         quant4(F.col("total_qty"))
                         .alias("total_qty"))
                .orderBy(F.col("total_qty").desc(), "o_orderkey")
                .limit(20))

    def bloom_custkey(spark, sf):
        """Bloom-filter sketch build+probe: orders' customer keys
        folded into a 512-bit mergeable filter, probed by every
        customer; reports the measured false-positive count."""
        return _IX.bloom_probe_stats(
            _t(spark, sf, "orders"), "o_custkey",
            _t(spark, sf, "customer"), "c_custkey")

    def sessionize(spark, sf):
        # gap > 300s starts a new session; classic running-sum window
        from pyspark.sql import Window
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ev = (_t(spark, sf, "events")
              .select("user_id", "ts", "event_id",
                      F.lag("ts").over(w).alias("prev")))
        # ts is TIMESTAMP_NTZ: route through timestamp (session tz=UTC)
        # to epoch seconds, matching DuckDB's epoch(ts)
        def _epoch(c):
            return F.col(c).cast("timestamp").cast("long")
        new_s = F.when(
            F.col("prev").isNull()
            | (_epoch("ts") - _epoch("prev") > 300), 1).otherwise(0)
        sess = ev.select(
            "user_id", "ts", "event_id",
            F.sum(new_s).over(
                w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("session_id"))
        return (sess.groupBy("user_id")
                .agg(F.max("session_id").cast("long").alias("n_sessions"),
                     F.count("*").alias("n_events")))

    def distinct_agg(spark, sf):
        return (_t(spark, sf, "lineitem").groupBy("l_returnflag")
                .agg(F.countDistinct("l_partkey").alias("n_parts"),
                     F.count("*").alias("n")))

    def approx_distinct(spark, sf):
        # HLL sketch — algorithms differ across engines, so the raw
        # estimate can't be hash-compared.  ORACLE-BEARING since r7
        # (r6 VERDICT task 5): the driver-checkable projection is the
        # tolerance RELATION — exact count plus a boolean asserting
        # |approx − exact|/exact ≤ 0.15 (Spark's default rsd is 0.05,
        # so 0.15 is a 3-sigma bound) — against a literal TRUE oracle.
        per = (_t(spark, sf, "lineitem").groupBy("l_returnflag")
               .agg(F.approx_count_distinct("l_partkey")
                    .alias("approx_parts"),
                    F.countDistinct("l_partkey").alias("exact_parts")))
        return per.select(
            "l_returnflag",
            F.col("exact_parts").cast("long").alias("exact_parts"),
            (F.abs(F.col("approx_parts") - F.col("exact_parts"))
             / F.col("exact_parts") <= 0.15).alias("within_tol"))

    def rollup_agg(spark, sf):
        return (_t(spark, sf, "lineitem")
                .rollup("l_returnflag", "l_linestatus")
                .agg(F.count("*").alias("n"),
                     quant4(F.sum("l_extendedprice") / 1e6)
                     .alias("rev_m")))

    def set_ops(spark, sf):
        o = _t(spark, sf, "orders")
        hi = (o.where(F.col("o_totalprice") > 150000)
              .select("o_custkey").distinct())
        urgent = (o.where(F.col("o_orderpriority") == "1-URGENT")
                  .select("o_custkey").distinct())
        return hi.exceptAll(urgent).distinct()

    def pivot_counts(spark, sf):
        ev = _t(spark, sf, "events")
        aggs = [F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
                .cast("long").alias(f"n_{t}")
                for t in ("click", "view", "purchase")]
        return ev.groupBy("user_id").agg(*aggs)

    def histogram_value(spark, sf):
        return (_t(spark, sf, "events")
                .select(F.floor(F.col("value") / 25.0).cast("int")
                        .alias("bucket"))
                .groupBy("bucket").agg(F.count("*").alias("n")))

    def doc_chunks(spark, sf):
        """RAG / training-window chunking: overlapping fixed-size
        token windows, map-side only (operators/text.chunk_documents);
        chunks of 64 tokens with 16-token overlap."""
        return T.chunk_documents(_t(spark, sf, "documents"))

    def pack_sequences_q(spark, sf):
        """Concatenate-then-cut sequence packing into 256-token
        training sequences via the two-phase distributed prefix sum
        (operators/text.pack_sequences)."""
        return T.pack_sequences(_t(spark, sf, "documents"))

    def lm_perplexity_q(spark, sf):
        """CCNet-style bigram-LM quality signal: mean NLL per doc
        under an add-k smoothed count LM trained on the corpus
        (operators/text.lm_perplexity)."""
        return T.lm_perplexity(_t(spark, sf, "documents"))

    base = {
        # --- ordering matters: the driver verifies queries in dict
        # order under a bounded budget (~50 checks/round).  The dict
        # below is grouped by family for readability; the ACTUAL order
        # returned is produced by _rotate() (see the rotation schedule
        # right after this function).
        "corpus_filter": lambda s, sf: T.corpus_filter(
            _t(s, sf, "documents")),
        "text_winnow_fp": lambda s, sf: T.winnow_fingerprint(
            _t(s, sf, "documents")),
        "salted_join": salted_join,
        "ocr_extract_parity": _ocr_extract_parity,
        # north_rule main-content extraction surface (r3, new)
        "html_strip": lambda s, sf: H.html_strip(
            _t(s, sf, "documents")),
        "html_main_block": lambda s, sf: H.html_main_block(
            _t(s, sf, "documents")),
        # Boilerpipe NumWordsRulesClassifier (Kohlschuetter et al.,
        # WSDM 2010) with lag/lead block context
        # (operators/html.boilerplate_classify)
        "boilerplate_blocks": lambda s, sf: H.boilerplate_classify(
            _t(s, sf, "documents")),
        "layout_reading_order": lambda s, sf: H.layout_reading_order(
            _t(s, sf, "documents")),
        # outlink/anchor-text harvest (r6,
        # operators/html.html_outlinks) — data-dependent citation
        # links over html_wrap_linked pages
        "html_outlinks": lambda s, sf: H.html_outlinks(
            _t(s, sf, "documents")),
        "pdf_text_extract": _pdf_text_extract,
        "text_repetition": lambda s, sf: T.repetition_signals(
            _t(s, sf, "documents")),
        "decontam_overlap": lambda s, sf: T.decontam_overlap(
            _t(s, sf, "documents")),
        # web-corpus hygiene + C4-style line dedup (r3, new)
        "pii_redact": lambda s, sf: WB.pii_redact(
            _t(s, sf, "documents")),
        "url_host_filter": lambda s, sf: WB.url_host_filter(
            _t(s, sf, "documents")),
        # canonical-URL dedup (r6, new): RefinedWeb-style URL-level
        # dedup before any content pass (operators/web.py)
        "url_canonical_dedup": lambda s, sf: WB.url_canonical_dedup(
            _t(s, sf, "documents")),
        # per-domain document cap (r6, new): RefinedWeb/C4-style cap on
        # pages per domain, salted two-phase top-k (operators/web.py)
        "domain_doc_cap": lambda s, sf: WB.domain_doc_cap(
            _t(s, sf, "documents")),
        "dedup_lines": lambda s, sf: D.line_dedup(
            _t(s, sf, "documents")),
        # corpus indexing family (r3, new)
        "tfidf_topk": lambda s, sf: _IX.tfidf_topk(
            _t(s, sf, "documents")),
        "inverted_index": lambda s, sf: _IX.inverted_index(
            _t(s, sf, "documents")),
        "top_ngrams_corpus": lambda s, sf: _IX.top_ngrams_corpus(
            _t(s, sf, "documents")),
        "zorder_key": lambda s, sf: _t(s, sf, "documents").select(
            "doc_id", _IX.zorder_key("doc_id", "n_chars").alias("z")),
        "quality_classifier": lambda s, sf: T.quality_classifier(
            _t(s, sf, "documents")),
        "corpus_mix": lambda s, sf: T.corpus_mix(
            _t(s, sf, "documents")),
        "dedup_substring_spans": lambda s, sf:
            D.repeated_substring_spans(_t(s, sf, "documents")),
        "phrase_lookup": lambda s, sf: _IX.phrase_lookup(
            _t(s, sf, "documents")),
        # r6 additions: retrieval scoring, temperature resampling,
        # and the pre-salting skew diagnostic
        "bm25_topk": lambda s, sf: _IX.bm25_topk(
            _t(s, sf, "documents")),
        "stratified_sample": lambda s, sf: T.stratified_sample(
            _t(s, sf, "documents")),
        "skew_profile": lambda s, sf: _IX.skew_profile(
            _t(s, sf, "events")),
        # r7 additions: DSIR importance resampling and the corpus-pair
        # MinHash overlap diagnostic
        "dsir_topk": lambda s, sf: _TXT.dsir_topk(
            _t(s, sf, "documents")),
        "corpus_overlap_minhash": lambda s, sf:
            _DDP.corpus_overlap_minhash(_t(s, sf, "documents")),
        # r7 additions: eval-metrics family (gate calibration +
        # leakage-safe split accounting)
        "classifier_auc": lambda s, sf: _TXT.classifier_auc(
            _t(s, sf, "documents")),
        "dataset_split": lambda s, sf: _TXT.dataset_split(
            _t(s, sf, "documents")),
        "gate_ablation": lambda s, sf: _TXT.gate_ablation(
            _t(s, sf, "documents")),
        "robots_filter": lambda s, sf: _WEB.robots_filter(
            _t(s, sf, "documents")),
        # r8: real RFC 9309 surface — parse (host, robots_txt) blobs
        # into rule rows, then broadcast-gate the URL stream with
        # */$ wildcards + longest-match (VERDICT r7 task 3)
        "robots_parse": lambda s, sf: _WEB.robots_parse(
            _WEB.robots_corpus(_t(s, sf, "documents"))),
        "robots_match": lambda s, sf: _WEB.robots_match(
            _WEB.robots_urls(_t(s, sf, "documents")),
            _WEB.robots_parse(
                _WEB.robots_corpus(_t(s, sf, "documents"))),
            agent="ccbot"),
        # r8: the second crawl control surface — sitemap blobs into
        # per-URL frontier rows (map-side regex, zero shuffles)
        "sitemap_parse": lambda s, sf: _WEB.sitemap_parse(
            _WEB.sitemap_corpus(_t(s, sf, "documents"))),
        "tpch_q5": tpch_q5,
        "tpch_q10": tpch_q10,
        "tpch_q14": tpch_q14,
        "tpch_q18": tpch_q18,
        "event_outliers": event_outliers,
        "bloom_custkey": bloom_custkey,
        "approx_distinct_hll": lambda s, sf: _IX.hll_distinct(
            _t(s, sf, "events"), "user_id"),
        "text_quality": lambda s, sf: T.quality_score(
            _t(s, sf, "documents")),
        "text_token_count": lambda s, sf: T.token_count(
            _t(s, sf, "documents")),
        "text_fingerprint": lambda s, sf: T.fingerprint(
            _t(s, sf, "documents")),
        # SURVEY §7.3 reference-operator analogues
        "filter_threshold": filter_threshold,
        "sessionize": sessionize,
        "project_bbox_decode": project_bbox_decode,
        "ohem_topk_sum": ohem_topk_sum,
        "asof_join_events": asof_join_events,
        "cube_agg": cube_agg,
        "window_moving_avg": window_moving_avg,
        "session_window_agg": session_window_agg,
        "dedup_keeper_policy": dedup_keeper_policy,
        "text_normalize": text_normalize,
        "sample_documents": sample_documents,
        "time_bucket_rollup": time_bucket_rollup,
        "data_quality_checks": data_quality_checks,
        "window_reading_order": window_reading_order,
        "group_line_stats": group_line_stats,
        "group_linefit_regr": group_linefit_regr,
        "range_self_join": range_self_join,
        "semi_join_keep": semi_join_keep,
        "broadcast_dim_join": broadcast_dim_join,
        "explode_reassemble": explode_reassemble,
        "tpch_q1": tpch_q1,
        "tpch_q6": tpch_q6,
        "tpch_q3_topk": tpch_q3_topk,
        # training-data pipeline operators
        "dedup_exact": lambda s, sf: D.exact_dedup(_t(s, sf, "documents")),
        "dedup_minhash_sig": lambda s, sf: D.minhash_signatures(
            _t(s, sf, "documents")),
        "dedup_minhash_lsh": lambda s, sf: D.minhash_lsh_pairs(
            _t(s, sf, "documents")),
        # capped: broadcast anti-join of oversized history buckets —
        # cap=1 because fixture buckets are tiny (max 2 at sf0.01);
        # production sizes the cap off the persisted bucket-size table
        "dedup_incremental": lambda s, sf: D.incremental_neardup(
            _t(s, sf, "documents"), bucket_cap=1),
        "dedup_simhash": lambda s, sf: D.simhash(_t(s, sf, "documents")),
        "dedup_ngram_jaccard": lambda s, sf: D.ngram_jaccard_pairs(
            _t(s, sf, "documents")),
        "dedup_components": lambda s, sf: D.dup_components(
            _t(s, sf, "documents")),
        # IVF-preclustered scale path (r8): band buckets pair only
        # within a vector's 3 nearest of 16 cells — production sizes
        # n_cells ~ corpus/128 (see BENCH/EMB_COSINE.json ivf curve)
        "dedup_embedding_cosine": lambda s, sf: D.embedding_neardup_pairs(
            _t(s, sf, "embeddings"), n_cells=16),
        "filename_munge": filename_munge,
        "sim_topk_cosine": lambda s, sf: S.cosine_topk(
            _t(s, sf, "embeddings")),
        "sim_lsh_buckets": lambda s, sf: S.lsh_band_keys(
            _t(s, sf, "embeddings")),
        "sim_lsh_topk": lambda s, sf: S.lsh_cosine_topk(
            _t(s, sf, "embeddings")),
        "sim_ivf_cells": lambda s, sf: S.ivf_cells(
            _t(s, sf, "embeddings")),
        "sim_ivf_topk": lambda s, sf: S.ivf_cosine_topk(
            _t(s, sf, "embeddings")),
        # r8: product quantization — the ANN memory dial (8-byte
        # codes instead of 256-byte floats at the serving tier)
        "sim_pq_codes": lambda s, sf: S.pq_codes(
            _t(s, sf, "embeddings")),
        "sim_pq_topk": lambda s, sf: S.pq_topk(
            _t(s, sf, "embeddings")),
        # SemDeDup (arXiv:2303.09540): IVF-cluster then drop
        # within-cell cosine>=tau duplicates, lowest id survives
        # (operators/similarity.semantic_dedup)
        "semdedup": _semdedup,
        "text_lang_id": lambda s, sf: T.lang_id(_t(s, sf, "documents")),
        # trivial relational coverage, green in r1 AND r2 — parked at
        # the tail so the driver's check budget lands on fresher keys
        "filter_minsize": filter_minsize,
        "topk_score": topk_score,
        "dedupe_consecutive_lag": dedupe_consecutive_lag,
        "funnel_counts": funnel_counts,
        "retention_cohorts": retention_cohorts,
        "percentiles_value": percentiles_value,
        "distinct_agg": distinct_agg,
        "rollup_agg": rollup_agg,
        "set_ops": set_ops,
        "pivot_counts": pivot_counts,
        "histogram_value": histogram_value,
        # LLM training-data prep (r4, new)
        "doc_chunks": doc_chunks,
        "pack_sequences": pack_sequences_q,
        "lm_perplexity": lm_perplexity_q,
        # sketch tolerance relation (oracle-bearing since r7, suite
        # member — see _SUITES)
        "approx_distinct": approx_distinct,
        # non-SQL-expressible (NumPy model forwards) -> rows-only checks
        "ocr_extract": _ocr_extract,
        # oracle-bearing since r6 (literal oracle):
        "text_compression": _text_compression,
        "ocr_errors_scan": _ocr_errors_scan,
        "png_ocr_extract": _png_ocr_extract,
    }
    # composite verification suites (r6 VERDICT task 1): each suite
    # key UNION-ALLs its members' full relations (member tag +
    # canonical row_repr), so one driver row hash-checks every member
    # relation.  Members stay in `base` (pytest checks each exactly),
    # but _rotate() keeps them out of the driver window — the suite is
    # their driver presence.
    members_snapshot = dict(base)
    for sname, ms in _SUITES.items():
        base[sname] = _make_suite_query(sname, ms, members_snapshot)
    return _rotate(base)


# --- composite verification suites (r6 VERDICT task 1) ------------------
# The 50-key driver window saturated in r6 (107 oracle keys, zero
# headroom).  Fix: the 24 proven-stable trivial `_ROT_SLOW` keys, plus
# phrase_lookup + tpch_q18 (pulled from _ROT_ODD, green r5) and
# approx_distinct (tolerance relation, first oracle this round), fold
# into FOUR composite suite keys.  Each suite UNION-ALLs its members'
# complete relations as (member, row_repr) rows, where row_repr is a
# canonical '|'-joined rendering of the member's columns sorted by
# name:
#   * DOUBLE columns  -> CAST(floor(x*10000 + 0.5) AS BIGINT) — floor
#     and IEEE arithmetic are identical in Spark and DuckDB on
#     identical input bits (and the contract test proves the member
#     values ARE bit-identical), so this sidesteps the engines'
#     different double->string formatting;
#   * everything else -> CAST(col AS VARCHAR) (integer/boolean/string
#     renderings agree across engines);
#   * NULLs           -> '<NULL>' sentinel (concat_ws would silently
#     drop them).
# One driver hash per suite therefore certifies every member relation,
# at a 2-round cadence, using 4 window slots instead of 26.
# _SUITE_SPECS pins each member's (column, is_double) layout; the
# Spark wrapper asserts the live schema matches the spec and the
# oracle wrapper references the same columns, so schema drift in any
# member fails loudly on both sides.
_SUITES: dict = {
    "suite_tpch": [
        "tpch_q6", "tpch_q14", "tpch_q3_topk", "tpch_q18",
        "distinct_agg", "rollup_agg", "cube_agg"],
    "suite_agg_stats": [
        "percentiles_value", "histogram_value", "pivot_counts",
        "topk_score", "set_ops", "phrase_lookup", "approx_distinct"],
    "suite_events": [
        "funnel_counts", "retention_cohorts", "sessionize",
        "time_bucket_rollup", "sample_documents",
        "dedupe_consecutive_lag",
        # r8 third pass: ODD event/window veterans green since r3-r5
        # (suite is ODD-checked; their cadence is unchanged)
        "asof_join_events", "window_moving_avg",
        "session_window_agg"],
    "suite_text_dedup": [
        "text_normalize", "text_token_count", "filename_munge",
        "dedup_exact", "dedup_minhash_sig", "filter_minsize",
        "filter_threshold"],
    # r7 second consolidation pass (banking headroom for r8+): ODD
    # veterans green since r5 or earlier ...
    "suite_joins_tpch": [
        "semi_join_keep", "broadcast_dim_join", "explode_reassemble",
        "window_reading_order", "group_line_stats", "tpch_q1",
        "tpch_q5", "tpch_q10"],
    # ... and EVEN veterans green r4+r6 (suite checked r8, gap 2)
    "suite_web_hygiene": [
        "pii_redact", "url_host_filter", "text_lang_id",
        "text_repetition", "decontam_overlap", "corpus_filter",
        "text_winnow_fp"],
    # r8 third consolidation pass (headroom for the 5 r8 debuts):
    # EVEN extraction-family veterans green r4+r6; the suite key
    # debuts r8 (mechanical promotion), so the gap is 2
    "suite_extraction": [
        "html_strip", "html_main_block", "layout_reading_order",
        "pdf_text_extract", "dedup_lines"],
}
_SUITE_MEMBERS = frozenset(m for ms in _SUITES.values() for m in ms)
# member -> columns sorted by name, with an is_double flag driving the
# canonical rendering above (generated from DuckDB's result types at
# sf0.001; tests/test_html.py re-derives and asserts this table)
_SUITE_SPECS: dict = {
    "tpch_q6": [("n", 0), ("revenue_k", 1)],
    "tpch_q14": [("n_items", 0), ("promo_revenue_pct", 1)],
    "tpch_q3_topk": [("l_orderkey", 0), ("rev_k", 1)],
    "tpch_q18": [("c_custkey", 0), ("c_name", 0), ("o_orderkey", 0),
                 ("total_qty", 1)],
    "distinct_agg": [("l_returnflag", 0), ("n", 0), ("n_parts", 0)],
    "rollup_agg": [("l_linestatus", 0), ("l_returnflag", 0), ("n", 0),
                   ("rev_m", 1)],
    "cube_agg": [("event_type", 0), ("hi", 0), ("n", 0),
                 ("sum_value_k", 1)],
    "percentiles_value": [("event_type", 0), ("p25", 1), ("p50", 1),
                          ("p75", 1), ("p99", 1)],
    "histogram_value": [("bucket", 0), ("n", 0)],
    "pivot_counts": [("n_click", 0), ("n_purchase", 0), ("n_view", 0),
                     ("user_id", 0)],
    "topk_score": [("event_id", 0), ("score", 1)],
    "set_ops": [("o_custkey", 0)],
    "phrase_lookup": [("doc_id", 0), ("term", 0)],
    "approx_distinct": [("exact_parts", 0), ("l_returnflag", 0),
                        ("within_tol", 0)],
    "funnel_counts": [("click_to_buy", 1), ("n_click", 0),
                      ("n_purchase", 0), ("n_view", 0),
                      ("view_to_click", 1)],
    "retention_cohorts": [("cohort_day", 0), ("day_offset", 0),
                          ("n_users", 0)],
    "sessionize": [("n_events", 0), ("n_sessions", 0), ("user_id", 0)],
    "time_bucket_rollup": [("event_type", 0), ("hour_bucket", 0),
                           ("max_value", 1), ("min_value", 1),
                           ("n", 0), ("sum_value", 1)],
    "sample_documents": [("doc_id", 0)],
    "dedupe_consecutive_lag": [("n_kept", 0), ("user_id", 0)],
    "text_normalize": [("doc_id", 0), ("norm_hash", 0),
                       ("norm_text", 0)],
    "text_token_count": [("bpe_tokens", 0), ("doc_id", 0),
                         ("subword_est", 0), ("ws_tokens", 0)],
    "filename_munge": [("doc_id", 0), ("output_file", 0),
                       ("txt_file", 0)],
    "dedup_exact": [("doc_id", 0), ("dup_count", 0), ("is_keeper", 0),
                    ("text_hash", 0)],
    "dedup_minhash_sig": [("doc_id", 0)] + [(f"mh{i}", 0)
                                            for i in range(8)],
    "filter_minsize": [("l_returnflag", 0), ("n", 0)],
    "filter_threshold": [("event_type", 0), ("n", 0),
                         ("sum_value_k", 1)],
    "semi_join_keep": [("l_returnflag", 0), ("n", 0)],
    "broadcast_dim_join": [("n", 0), ("p_brand", 0),
                           ("revenue_m", 1)],
    "explode_reassemble": [("doc_id", 0), ("n_words", 0),
                           ("w_max", 0), ("w_min", 0)],
    "window_reading_order": [("event_id", 0), ("rn", 0),
                             ("user_id", 0)],
    "group_line_stats": [("avg_v", 1), ("mn", 1), ("mx", 1),
                         ("n", 0), ("user_id", 0)],
    "tpch_q1": [("avg_disc", 1), ("l_linestatus", 0),
                ("l_returnflag", 0), ("n", 0), ("sum_price_m", 1),
                ("sum_qty_k", 1)],
    "tpch_q5": [("n", 0), ("n_name", 0), ("revenue_k", 1)],
    "tpch_q10": [("c_custkey", 0), ("c_name", 0), ("n_name", 0),
                 ("revenue_k", 1)],
    "pii_redact": [("doc_id", 0), ("n_email", 0), ("n_ip", 0),
                   ("n_phone", 0), ("redacted", 0)],
    "url_host_filter": [("domain", 0), ("first_doc", 0), ("host", 0),
                        ("n_docs", 0), ("total_chars", 0)],
    "text_lang_id": [("doc_id", 0), ("lang_pred", 0),
                     ("n_tokens", 0), ("stop_hits", 0)],
    "text_repetition": [("doc_id", 0), ("dup_word_frac", 1),
                        ("n_words", 0), ("top_bigram_frac", 1)],
    "decontam_overlap": [("doc_id", 0), ("n_shared", 0)],
    "corpus_filter": [("doc_id", 0), ("lang_pred", 0),
                      ("n_tokens", 0), ("quality", 1)],
    "text_winnow_fp": [("doc_id", 0), ("fp_max", 0), ("fp_min", 0),
                       ("n_fps", 0)],
    "asof_join_events": [("buy_s", 0), ("event_id", 0),
                         ("user_id", 0), ("view_s", 0)],
    "window_moving_avg": [("event_id", 0), ("mavg5", 1),
                          ("user_id", 0)],
    "session_window_agg": [("n_events", 0), ("sess_start_s", 0),
                           ("user_id", 0)],
    "html_strip": [("clean_text", 0), ("doc_id", 0),
                   ("link_density", 1), ("n_links", 0),
                   ("text_len", 0), ("title", 0)],
    "html_main_block": [("block_idx", 0), ("block_text", 0),
                        ("doc_id", 0), ("score", 1)],
    "layout_reading_order": [("doc_id", 0), ("reading_text", 0)],
    "pdf_text_extract": [("doc_id", 0), ("extracted_text", 0)],
    "dedup_lines": [("doc_id", 0), ("kept_text", 0), ("n_kept", 0)],
}


def _suite_wrap(df: DataFrame, member: str) -> DataFrame:
    """Canonical (member, row_repr) projection of one member relation
    (rendering rules in the _SUITES comment above)."""
    spec = _SUITE_SPECS[member]
    assert sorted(df.columns) == [c for c, _ in spec], \
        (member, sorted(df.columns), spec)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    parts = []
    for col, is_double in spec:
        c = F.col(col)
        if is_double:
            c = F.floor(c * 10000 + F.lit(0.5)).cast("long")
        elif types[col] in ("double", "float"):
            # oracle side renders this column as an integer type
            c = c.cast("long")
        parts.append(F.coalesce(c.cast("string"), F.lit("<NULL>")))
    return df.select(F.lit(member).alias("member"),
                     F.concat_ws("|", *parts).alias("row_repr"))


def _make_suite_query(sname: str, members: list, base: dict):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = None
        for m in members:
            w = _suite_wrap(base[m](spark, sf_dir), m)
            out = w if out is None else out.unionByName(w)
        return out
    run.__name__ = sname
    return run


def _suite_oracle(members: list, oracles: dict) -> str:
    sels = []
    for m in members:
        parts = []
        for col, is_double in _SUITE_SPECS[m]:
            e = (f"CAST(floor({col} * 10000 + 0.5) AS BIGINT)"
                 if is_double else col)
            parts.append(f"coalesce(CAST({e} AS VARCHAR), '<NULL>')")
        sels.append(
            f"SELECT '{m}' AS member, "
            f"concat_ws('|', {', '.join(parts)}) AS row_repr "
            f"FROM ({oracles[m]}) AS _sub_{m}")
    return " UNION ALL ".join(sels)


# --- driver-verification rotation (VERDICT r3 task 3) -------------------
# The correctness driver checks only the first ~50 keys of queries()
# per round.  Deterministic schedule (round = 1 + highest existing
# CORRECTNESS_r*.json number in the repo):
#   * _PINNED flagship keys lead EVERY round;
#   * oracle keys in NEITHER rotation group (newly added this round)
#     come next, so every key's debut round is driver-checked;
#   * _ROT_EVEN leads on even rounds, _ROT_ODD on odd rounds — each
#     group plus the pinned keys fits the ~50-key window, so every
#     oracle key gets a driver row at least every 2 rounds;
#   * rows-only keys (no DuckDB oracle) always trail.
# When adding a NEW oracle key, leave it out of both groups for its
# debut round, then fold it into the SMALLER group next round.
# tests/test_entry_contract.py independently re-verifies every oracle
# key against DuckDB each session, so rotation only decides which rows
# appear in a given round's CORRECTNESS_r0N.json — nothing is ever
# unverified.
_PINNED = ["ocr_extract_parity"]
# CAPACITY NOTE (r7 restructure — r6 VERDICT task 1): the driver
# window is 50 keys.  The schedule saturated at exactly 50 in r6
# (1 pinned + 8 slow + 41 lead, zero headroom; every new key cost a
# 3-demotion cascade).  r7 buys the headroom back STRUCTURALLY: the
# whole r6 `_ROT_SLOW` tier (24 proven-stable trivial keys, each
# hash-green in >=2 prior rounds), plus phrase_lookup + tpch_q18
# (pulled from _ROT_ODD, green r5) and approx_distinct (first oracle
# this round — tolerance relation), folds into FOUR composite suite
# keys (see _SUITES above).  Every member keeps its own queries() /
# oracle_sql() entry — pytest still checks each exactly, and the
# driver still could — but its DRIVER presence is the suite: one
# UNION-ALL relation whose hash certifies all member relations at
# once.  Member transition gaps: the r6 slow tier's r7/r8 slices
# (16 keys, last green r4/r5) would have surfaced in r7/r8; their
# suites ARE in r7's window, so every carried gap stays <= 3 and
# shrinks to the suite cadence (2) thereafter.
# Tiers after the restructure (numbers include the r8 THIRD pass,
# which folded 3 ODD event/window veterans into suite_events and 5
# EVEN extraction veterans into the new suite_extraction — 50 members
# across 7 suites):
#   * _PINNED (1): the flagship parity key, EVERY round.
#   * _ROT_ODD (32 = 27 singles + 5 suites) / _ROT_EVEN (30 = 28
#     singles + suite_web_hygiene + suite_extraction): every 2
#     rounds.  Suites debut in the parity leading their landing round
#     OR mechanically (never-checked keys always sort into the next
#     window); all folded members were green <= 2 rounds before their
#     suite's first check, so every gap stays within cadence.
# Window arithmetic: odd rounds 1 + 32 = 33, even rounds 1 + 30 = 31,
# no declared debuts — 17 free slots in odd rounds and 19 in even
# rounds.
# tests/test_html.py asserts >= 5 free slots in BOTH parities
# (headroom, not just fit) and that the window still holds every lead
# key even with every never-checked key mechanically promoted (none
# at present), so new keys for the next several rounds are plain
# appends — no cascade.
# Suite members are excluded from the window by _rotate() and ordered
# after it; rows-only keys trail last.  Steady state: every oracle
# key (or its certifying suite) every 2 rounds.
# (r6 five-pass rebalance history lives in git: 839fee3^ and before.)
_ROT_ODD = [
    # pack_sequences moved even->odd for r5: its prefix-sum bucketing
    # was rewritten this round (deterministic boundaries, r4 ADVICE
    # high) and the fix should carry a fresh driver hash in
    # CORRECTNESS_r05, not wait for r6; it was checked green in r4,
    # so the every-2-rounds cadence is unbroken either way
    "pack_sequences",
    "tfidf_topk", "inverted_index",
    "top_ngrams_corpus", "zorder_key",
    "quality_classifier", "corpus_mix", "dedup_substring_spans",
    # phrase_lookup + tpch_q18 folded into suites in the r7
    # restructure (suite_agg_stats / suite_tpch); tpch_q5 + tpch_q10
    # into suite_joins_tpch in the second pass
    "event_outliers", "bloom_custkey", "approx_distinct_hll",
    "text_quality", "text_fingerprint",
    # sessionize demoted to _ROT_SLOW in the r6 fourth-pass rebalance
    "project_bbox_decode",
    "ohem_topk_sum",
    # asof_join_events / window_moving_avg / session_window_agg
    # folded into suite_events in the r8 third pass
    "dedup_keeper_policy",
    # sample_documents demoted to _ROT_SLOW in the r6 fifth-pass
    # rebalance (html_outlinks landing)
    # window_reading_order + group_line_stats folded into
    # suite_joins_tpch (r7 second pass)
    "data_quality_checks",
    "group_linefit_regr", "range_self_join",
    # r6 rebalance: r5 debuts fold here (checked r5 as debuts -> r7)
    "semdedup", "boilerplate_blocks", "ocr_errors_scan",
    # semi_join_keep / broadcast_dim_join / explode_reassemble /
    # tpch_q1 folded into suite_joins_tpch (r7 second pass)
    # r7 restructure: the composite suites debut here (round 7 is
    # odd; one driver hash each certifies 6-7 member relations)
    "suite_tpch", "suite_agg_stats", "suite_events",
    "suite_text_dedup", "suite_joins_tpch",
    # r7 debuts (round 7 is odd, membership IS the debut check)
    "classifier_auc", "gate_ablation",
    # r9 fold of the r8 debuts (r8 VERDICT task 1): checked green in
    # r8, so the odd slice lands r9/r11/... — cadence gap stays <= 2.
    # Split 3 odd / 3 even keeps both parities at >= 5 free slots.
    "robots_parse", "robots_match", "sitemap_parse",
]
# outside round 3's window -> lead even rounds (incl. this round 4)
_ROT_EVEN = [
    # tpch_q3_topk + dedupe_consecutive_lag demoted to _ROT_SLOW in
    # the r6 fourth-pass rebalance; dedup_exact + dedup_minhash_sig in
    # the fifth (html_outlinks landing)
    "dedup_minhash_lsh", "dedup_simhash",
    "dedup_ngram_jaccard", "dedup_components", "dedup_embedding_cosine",
    "sim_topk_cosine", "sim_lsh_buckets",
    "sim_lsh_topk", "sim_ivf_cells", "sim_ivf_topk",
    # r6 late additions (debut-by-membership, round 6 is even; the
    # matching rebalances demoted funnel_counts/topk_score/
    # text_token_count, then dedupe_consecutive_lag/tpch_q3_topk/
    # sessionize, to _ROT_SLOW per the CAPACITY NOTE):
    "url_canonical_dedup", "domain_doc_cap", "html_outlinks",
    # r6 debuts (new operators land in the round-6 leading group):
    "bm25_topk", "stratified_sample", "skew_profile",
    # r7 second consolidation pass: 7 veterans (green r4+r6) fold
    # into suite_web_hygiene, checked from r8 (gap 2)
    "suite_web_hygiene",
    # r7 debuts (driver-checked r8; the contract pytest checks them
    # against DuckDB from day one)
    "dsir_topk", "corpus_overlap_minhash", "dataset_split",
    "robots_filter", "dedup_incremental",
    # round-4 debuts, folded straight into the even group: round 4's
    # window still covers them (2 pinned + 37 even + 11 odd = 50) and
    # round 5's leading group (2 + 48 odd) then fits exactly
    "doc_chunks", "lm_perplexity",
    # r6 oracle upgrades, folded directly into the even group (their
    # debut round 6 is even — see CAPACITY NOTE above):
    "text_compression", "png_ocr_extract",
    # demoted from _PINNED in r6 (see CAPACITY NOTE above):
    "salted_join",
    # r9 fold of the r8 debuts (r8 VERDICT task 1), even slice —
    # checked r8, so r10/r12/... keeps the 2-round cadence; the sim_*
    # family already lives in this group
    "sim_pq_codes", "sim_pq_topk",
    # moved from _ROT_ODD in the r5 rebalance; corpus_filter /
    # text_winnow_fp / text_repetition / decontam_overlap /
    # pii_redact / url_host_filter (+ text_lang_id above) folded into
    # suite_web_hygiene in the r7 second pass; html_strip /
    # html_main_block / layout_reading_order / pdf_text_extract /
    # dedup_lines folded into suite_extraction in the r8 third pass
    # (headroom for the 5 r8 debuts)
    "suite_extraction",
]
# The r6 low-cadence `_ROT_SLOW` tier is GONE (r7 restructure): all
# 24 of its keys are now suite members — certified by their suite's
# driver hash every 2 rounds instead of appearing individually every
# 3.  See the CAPACITY NOTE and _SUITES.
_ROT_SLOW: list[str] = []
_SLOW_PER_ROUND = 0
# oracle keys debuting THIS round — in neither group, so _rotate()
# puts them right after the pinned keys; fold into the smaller group
# next round.  Since r8 the debut ordering is also MECHANICAL:
# _rotate() promotes every oracle key absent from all recorded
# CORRECTNESS_r*.json rounds, so a misplaced key cannot skip its
# debut window again (r7 VERDICT task 1).  This list remains the
# declared intent (the partition test checks it).
# (empty since r9: the six r8 debuts were driver-checked green in
# CORRECTNESS_r08.json and are now folded into _ROT_ODD/_ROT_EVEN
# above — r8 VERDICT task 1.  New oracle keys debut here as before.)
_ROT_DEBUT: list[str] = []


def _round_number() -> int:
    import glob as _glob
    import re as _re
    here = os.path.dirname(os.path.abspath(__file__))
    ns = [int(m.group(1))
          for p in _glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
          if (m := _re.search(r"CORRECTNESS_r(\d+)\.json$", p))]
    return max(ns) + 1 if ns else 1


def _driver_checked_keys() -> set:
    """Keys with at least one row in any existing CORRECTNESS_r*.json
    — i.e. keys the driver has EVER verified.  Used by _rotate() to
    mechanically promote never-checked keys to the front of the next
    window regardless of group placement (r7 VERDICT task 1: five r7
    debuts were filed mid-group and missed their debut window; the
    comment-only debut rule was not enough)."""
    import glob as _glob
    import json as _json
    here = os.path.dirname(os.path.abspath(__file__))
    seen: set = set()
    for p in _glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        try:
            with open(p) as f:
                seen |= set(_json.load(f))
        except Exception:
            pass
    return seen


def _rotate(base: dict) -> dict:
    with_oracle = set(oracle_sql().keys())
    rnd = _round_number()
    lead, trail = ((_ROT_EVEN, _ROT_ODD) if rnd % 2 == 0
                   else (_ROT_ODD, _ROT_EVEN))
    # low-cadence tier: _SLOW_PER_ROUND keys per round, round-robin,
    # so every _ROT_SLOW key is in-window within ceil(len/era) rounds
    if _ROT_SLOW:
        start = (rnd * _SLOW_PER_ROUND) % len(_ROT_SLOW)
        slow = [_ROT_SLOW[(start + i) % len(_ROT_SLOW)]
                for i in range(min(_SLOW_PER_ROUND, len(_ROT_SLOW)))]
    else:
        slow = []
    # debut-first is MECHANICAL, not placement-dependent: every
    # oracle key (grouped or not) with zero driver rows across all
    # recorded rounds sorts right after the pinned keys.  Suite
    # members are exempt — their driver presence is their suite's
    # hash, and the suite key itself is subject to this same rule.
    checked = _driver_checked_keys()
    new = [k for k in base
           if k in with_oracle and k not in _PINNED
           and k not in _SUITE_MEMBERS and k not in checked]
    # suite members keep queries()/oracle_sql() entries (pytest checks
    # each exactly) but stay OUT of the driver window — their suite's
    # hash is their driver presence (CAPACITY NOTE)
    members = [k for k in base if k in _SUITE_MEMBERS]
    rows_only = [k for k in base if k not in with_oracle]
    order, seen = [], set()
    for k in (_PINNED + new + slow + lead + trail + _ROT_SLOW
              + members + rows_only):
        if k in base and k not in seen:
            order.append(k)
            seen.add(k)
    order += [k for k in base if k not in seen]  # lenient; test is strict
    return {k: base[k] for k in order}


# --- DuckDB oracles -----------------------------------------------------

_W_CTE = """WITH w AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
)"""

_GRAMS_CTE = _W_CTE + """, grams AS (
  SELECT a.doc_id,
         a.word || ' ' || b.word || ' ' || c.word AS gram
  FROM w a
  JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
)"""

_STOPS = ("the", "a", "of", "and", "to")
_STOP_HITS_SQL = " + ".join(
    f"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ',"
    f" ' {s} ', ''))) / {len(s) + 2} AS INT)" for s in _STOPS)

_SIMHASH_CODE = " + ".join(
    f"(instr('0123456789abcdef', substr(md5(word), {i + 1}, 1)) - 1)"
    f" * {16 ** (3 - i)}" for i in range(4))

_SIMHASH_BITS = ", ".join(
    f"sum((CAST(floor(code / {2 ** j}) AS BIGINT) % 2) * 2 - 1) AS s{j}"
    for j in range(16))
_SIMHASH_VAL = " + ".join(
    f"(CASE WHEN s{j} > 0 THEN {2 ** j} ELSE 0 END)" for j in range(16))

# portable md5-prefix bigint of doc_id (the history/batch split
# hash used by dedup_incremental)
_H8_DOC = "(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 268435456 + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16777216 + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 1048576 + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 65536 + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 4096 + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 6, 1)) - 1) * 256 + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 7, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 8, 1)) - 1) * 1"
_MH = ", ".join(
    f"min(substr(md5('{i // 4}:' || gram), {(i % 4) * 8 + 1}, 8))"
    f" AS mh{i}" for i in range(8))

_BANDS = ", ".join(
    f"md5(mh{b * 2} || '|' || mh{b * 2 + 1}) AS band{b}" for b in range(4))

# --- embedding-family oracle fragments: generated from the SAME
# constants as operators/similarity.py (32 planes, 4 bands of 8,
# Hamming<=1 multi-probe, literal md5-derived weights).  DuckDB
# list_dot_product == Spark aggregate(zip_with(...)) bit-for-bit (both
# are in-order float64 folds), so quant4'd cosines hash-match.

from ocr_pytorch_spark.functions import (  # noqa: E402
    quant4_sql, weight_array_sql)
from ocr_pytorch_spark.operators.similarity import (  # noqa: E402
    BANDS as _EMB_BANDS, DIM as _EMB_DIM, N_PLANES as _EMB_PLANES)

_EMB_R = _EMB_PLANES // _EMB_BANDS

_VEC_CTE = """WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
), vn AS (
  SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM v
)"""

_EMB_PROJ = ", ".join(
    f"list_dot_product(vec, {weight_array_sql(p, _EMB_DIM)}) AS proj{p}"
    for p in range(_EMB_PLANES))


def _emb_band_key(b: int) -> str:
    return " + ".join(
        f"(CASE WHEN proj{b * _EMB_R + j} > 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(_EMB_R))


_EMB_BANDS_SQL = "\n  UNION ALL ".join(
    f"SELECT vec_id, {b} AS band_idx,"
    f" CAST({_emb_band_key(b)} AS INT) AS bucket FROM proj"
    for b in range(_EMB_BANDS))

_EMB_PROBES = "[bucket, " + ", ".join(
    f"xor(bucket, {1 << j})" for j in range(_EMB_R)) + "]"

_EMB_LSH_CTE = _VEC_CTE + f""", proj AS (
  SELECT vec_id, {_EMB_PROJ} FROM v
), bands AS (
  {_EMB_BANDS_SQL}
), probes AS (
  SELECT vec_id, band_idx, unnest({_EMB_PROBES}) AS bucket FROM bands
)"""

_PAIR_COS = quant4_sql(
    "list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm)")
_QC_COS = quant4_sql(
    "list_dot_product(q.vec, c.vec) / (q.nrm * c.nrm)")

# product quantization (operators/similarity.pq_codes / pq_topk):
# per-subspace squared-L2 in micro-unit BIGINTs; argmin with
# lowest-code tiebreak is the single integer MIN(du * ks + code)
_PQ_M, _PQ_KS = 8, 16
_PQ_SUB = _EMB_DIM // _PQ_M
_PQ_AV = f"list_slice(a.vec, g.j*{_PQ_SUB}+1, g.j*{_PQ_SUB}+{_PQ_SUB})"
_PQ_CV = f"list_slice(c.cvec, g.j*{_PQ_SUB}+1, g.j*{_PQ_SUB}+{_PQ_SUB})"
_PQ_D2 = (f"list_dot_product({_PQ_AV}, {_PQ_AV})"
          f" - 2 * list_dot_product({_PQ_AV}, {_PQ_CV})"
          f" + list_dot_product({_PQ_CV}, {_PQ_CV})")
_PQ_CTE = f"""WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
), cents AS (
  SELECT CAST(vec_id AS INT) AS code, vec AS cvec
  FROM v WHERE vec_id < {_PQ_KS}
), sub AS (
  SELECT a.vec_id, c.code, g.j,
         CAST(floor(({_PQ_D2}) * 10000 + 0.5) AS BIGINT) AS du
  FROM v a CROSS JOIN cents c
  CROSS JOIN generate_series(0, {_PQ_M - 1}) g(j)
), codes AS (
  SELECT vec_id, j,
         CAST(min(du * {_PQ_KS} + code) % {_PQ_KS} AS INT) AS code
  FROM sub GROUP BY vec_id, j
)"""


# --- main-content extraction oracle fragments (operators/html.py's
# page builder and strip chain reproduced verbatim in DuckDB SQL) ---

_HTML_PAGE_CTE = """WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         CAST(floor(len(string_split(text, ' ')) / 2.0) AS INT) AS half
  FROM documents
), pages AS (
  SELECT doc_id,
    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
    || ' - Corpus</title><style>body {margin:0}</style>'
    || '<script>var t = 1;</script></head><body>'
    || '<nav><a href=/home>Home</a> <a href=/about>About</a> '
    || '<a href=/login>Login</a></nav>'
    || '<div class=ad><a href=/buy>BUY NOW</a> limited offer '
    || '<a href=/buy2>click</a> <a href=/buy3>here</a></div><p>'
    || array_to_string(ws[1:greatest(half, 1)], ' ')
    || '</p><main>'
    || array_to_string(ws[half + 1:len(ws)], ' ')
    || ' tail &amp; end</main><footer><a href=/tos>Terms</a> &amp; '
    || '<a href=/privacy>Privacy</a> &copy; corpus</footer>'
    || '</body></html>' AS html
  FROM d
)"""


def _html_clean_sql(col: str) -> str:
    """The html.py _strip_expr chain in DuckDB (RE2 needs the 'g'
    flag; Spark regexp_replace is global by default)."""
    return (
        "trim(regexp_replace(regexp_replace(regexp_replace("
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        f"{col}, '(?s)<script.*?</script>', ' ', 'g'), "
        "'(?s)<style.*?</style>', ' ', 'g'), "
        "'<[^>]*>', ' ', 'g'), "
        "'&amp;', '&', 'g'), "
        "'&copy;', '(c)', 'g'), "
        "'&nbsp;', ' ', 'g'), "
        "' +', ' ', 'g'))")


_HTML_CLEAN = _html_clean_sql("html")
_HTML_CLEAN_RAW = _html_clean_sql("raw")


def oracle_sql() -> dict[str, str]:
    sqls = {
        "filter_threshold": """
            SELECT event_type, count(*) AS n,
                   floor((sum(value) / 1000.0) * 10000 + 0.5) / 10000 AS sum_value_k
            FROM events WHERE value > 0.5 GROUP BY event_type""",
        "filter_minsize": """
            SELECT l_returnflag, count(*) AS n FROM lineitem
            WHERE l_quantity >= 16 AND l_extendedprice >= 1000
            GROUP BY l_returnflag""",
        "sessionize": """
            WITH lagged AS (
              SELECT user_id, ts, event_id,
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
              FROM events
            ), marked AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN prev IS NULL
                            OR epoch(ts) - epoch(prev) > 300
                          THEN 1 ELSE 0 END AS new_s
              FROM lagged
            ), sess AS (
              SELECT user_id,
                     sum(new_s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS session_id
              FROM marked
            )
            SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM sess GROUP BY user_id""",
        "distinct_agg": """
            SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
                   count(*) AS n
            FROM lineitem GROUP BY l_returnflag""",
        # HLL estimates differ across engines; the checkable
        # projection is the tolerance relation (r6 VERDICT task 5):
        # the Spark side emits within_tol = |approx-exact|/exact
        # <= 0.15, the oracle asserts it is literally TRUE
        "approx_distinct": """
            SELECT l_returnflag,
                   CAST(count(DISTINCT l_partkey) AS BIGINT)
                     AS exact_parts,
                   TRUE AS within_tol
            FROM lineitem GROUP BY l_returnflag""",
        "rollup_agg": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   floor((sum(l_extendedprice) / 1e6) * 10000 + 0.5)
                     / 10000 AS rev_m
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
        "set_ops": """
            SELECT DISTINCT o_custkey FROM orders
            WHERE o_totalprice > 150000
            EXCEPT
            SELECT DISTINCT o_custkey FROM orders
            WHERE o_orderpriority = '1-URGENT'""",
        "pivot_counts": """
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1
                            ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1
                            ELSE 0 END) AS BIGINT) AS n_view,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                            ELSE 0 END) AS BIGINT) AS n_purchase
            FROM events GROUP BY user_id""",
        "histogram_value": """
            SELECT CAST(floor(value / 25.0) AS INT) AS bucket,
                   count(*) AS n
            FROM events GROUP BY 1""",
        "doc_chunks": _TXT.chunk_documents_oracle_sql(),
        "pack_sequences": _TXT.pack_sequences_oracle_sql(),
        "lm_perplexity": _TXT.lm_perplexity_oracle_sql(),
        # r6 oracle upgrades (r5 VERDICT tasks 4+5)
        "text_compression": _text_compression_oracle_sql(),
        "png_ocr_extract": """
            SELECT CAST(NULL AS VARCHAR) AS media_ref,
                   CAST(NULL AS INT) AS box_order,
                   CAST(NULL AS VARCHAR) AS text,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE""",
        "project_bbox_decode": """
            SELECT l_orderkey, l_linenumber,
                   l_quantity * 0.5 + exp(l_discount) * 8.0 AS y_dec,
                   l_extendedprice / 1000.0 - l_tax * 16.0 AS x_dec
            FROM lineitem WHERE l_orderkey % 8 = 0""",
        "topk_score": """
            SELECT event_id, floor((value) * 10000 + 0.5) / 10000 AS score FROM events
            ORDER BY value DESC, event_id LIMIT 100""",
        "window_reading_order": """
            SELECT user_id, event_id, rn FROM (
              SELECT user_id, event_id,
                     CAST(row_number() OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS INT) AS rn
              FROM events) WHERE rn <= 3""",
        "dedupe_consecutive_lag": """
            SELECT user_id, count(*) AS n_kept FROM (
              SELECT user_id, event_type,
                     lag(event_type) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev
              FROM events)
            WHERE prev IS NULL OR event_type <> prev
            GROUP BY user_id""",
        "group_line_stats": """
            SELECT user_id, count(*) AS n, floor((min(value)) * 10000 + 0.5) / 10000 AS mn,
                   floor((max(value)) * 10000 + 0.5) / 10000 AS mx,
                   floor((avg(value)) * 10000 + 0.5) / 10000 AS avg_v
            FROM events GROUP BY user_id""",
        "group_linefit_regr": """
            SELECT l_returnflag,
                   floor((regr_slope(l_extendedprice, l_quantity)) * 10000 + 0.5) / 10000
                     AS slope,
                   floor((regr_intercept(l_extendedprice, l_quantity)) * 10000 + 0.5) / 10000
                     AS icept
            FROM lineitem GROUP BY l_returnflag""",
        "range_self_join": """
            SELECT a.user_id AS user_id, count(*) AS n_pairs
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 60 SECOND
            GROUP BY a.user_id""",
        "semi_join_keep": """
            SELECT l_returnflag, count(*) AS n FROM lineitem
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = lineitem.l_orderkey
                            AND o.o_totalprice > 150000)
            GROUP BY l_returnflag""",
        "broadcast_dim_join": """
            SELECT p_brand, count(*) AS n,
                   floor((sum(l_extendedprice) / 1e6) * 10000 + 0.5) / 10000 AS revenue_m
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand""",
        "explode_reassemble": _W_CTE + """
            SELECT doc_id, count(*) AS n_words, min(word) AS w_min,
                   max(word) AS w_max
            FROM w GROUP BY doc_id""",
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   floor((sum(l_quantity) / 1000.0) * 10000 + 0.5) / 10000 AS sum_qty_k,
                   floor((sum(l_extendedprice) / 1e6) * 10000 + 0.5) / 10000 AS sum_price_m,
                   floor((avg(l_discount)) * 10000 + 0.5) / 10000 AS avg_disc, count(*) AS n
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus""",
        "tpch_q6": """
            SELECT floor((sum(l_extendedprice * l_discount) / 1000.0)
                         * 10000 + 0.5) / 10000 AS revenue_k,
                   count(*) AS n
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
              AND l_discount >= 0.05 AND l_quantity < 24""",
        "tpch_q3_topk": """
            SELECT l_orderkey,
                   floor((sum(l_extendedprice * (1 - l_discount))
                         / 1000.0) * 10000 + 0.5) / 10000 AS rev_k
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY l_orderkey ORDER BY rev_k DESC, l_orderkey LIMIT 10""",
        "data_quality_checks": """
            WITH ev AS (
              SELECT count(CASE WHEN event_id IS NULL THEN 1 END)
                       AS events_null_id,
                     count(CASE WHEN value < 0 THEN 1 END)
                       AS events_negative_value,
                     count(*) - count(DISTINCT event_id)
                       AS events_dup_id
              FROM events
            ), dc AS (
              SELECT count(CASE WHEN text IS NULL OR length(text) = 0
                                THEN 1 END) AS documents_empty_text,
                     count(*) - count(DISTINCT doc_id)
                       AS documents_dup_id
              FROM documents
            ), orph AS (
              SELECT count(*) AS lineitem_orphan_orders
              FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey)
            )
            SELECT 'events_null_id' AS check,
                   CAST(events_null_id AS BIGINT) AS n_violations
              FROM ev
            UNION ALL SELECT 'events_negative_value',
                   CAST(events_negative_value AS BIGINT) FROM ev
            UNION ALL SELECT 'events_dup_id',
                   CAST(events_dup_id AS BIGINT) FROM ev
            UNION ALL SELECT 'documents_empty_text',
                   CAST(documents_empty_text AS BIGINT) FROM dc
            UNION ALL SELECT 'documents_dup_id',
                   CAST(documents_dup_id AS BIGINT) FROM dc
            UNION ALL SELECT 'lineitem_orphan_orders',
                   CAST(lineitem_orphan_orders AS BIGINT) FROM orph""",
        "time_bucket_rollup": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00')
                     AS hour_bucket,
                   event_type, count(*) AS n,
                   floor(sum(value) * 10000 + 0.5) / 10000
                     AS sum_value,
                   floor(min(value) * 10000 + 0.5) / 10000
                     AS min_value,
                   floor(max(value) * 10000 + 0.5) / 10000
                     AS max_value
            FROM events
            GROUP BY date_trunc('hour', ts), event_type""",
        "text_normalize": """
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))
                     AS norm_text,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')))
                     AS norm_hash
            FROM documents""",
        "sample_documents": f"""
            SELECT doc_id FROM (
              SELECT doc_id,
                     {" + ".join(
                         f"(instr('0123456789abcdef', substr(md5("
                         f"CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1)"
                         f" * {16 ** (7 - i)}" for i in range(8))}
                       AS h
              FROM documents)
            WHERE h < {int(0.1 * 16 ** 8)}""",
        # flagship invariant: the Spark query returns span-parity
        # VIOLATIONS (pipeline-vs-oracle, both directions); correct
        # behavior is the empty relation, which this literal encodes
        # with the exact output schema so schema/rows/hash all check
        "ocr_extract_parity": """
            SELECT CAST(NULL AS VARCHAR) AS doc_id,
                   CAST(NULL AS INT) AS offset,
                   CAST(NULL AS VARCHAR) AS kind,
                   CAST(NULL AS VARCHAR) AS text,
                   CAST(NULL AS VARCHAR) AS media_ref,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE""",
        # --- main-content extraction family: the page is synthesized
        # by the same concat in both engines, so strip/score logic is
        # hash-checked end to end.  Regexes live in the Java-regex/RE2
        # common subset; DuckDB regexp_replace needs the 'g' flag
        # (Spark is global by default).
        "html_strip": _HTML_PAGE_CTE + """
            SELECT doc_id,
                   regexp_extract(html, '<title>([^<]*)</title>', 1)
                     AS title,
                   """ + _HTML_CLEAN + """ AS clean_text,
                   CAST(length(""" + _HTML_CLEAN + """) AS BIGINT)
                     AS text_len,
                   CAST(len(string_split(html, '<a ')) - 1 AS BIGINT)
                     AS n_links,
                   floor(((len(string_split(html, '<a ')) - 1)
                          / greatest(length(""" + _HTML_CLEAN + """), 1))
                         * 10000 + 0.5) / 10000 AS link_density
            FROM pages""",
        # identical page construction (html_wrap_linked) + identical
        # two-group link regex; DuckDB unnest of two same-length lists
        # zips positionally, matching Spark's arrays_zip + explode
        "html_outlinks": """
            WITH d AS (
              SELECT doc_id, string_split(text, ' ') AS ws
              FROM documents
            ), pages AS (
              SELECT doc_id,
                '<html><body><nav><a href=https://hub.example/nav>'
                || 'Hub home</a></nav><p>'
                || '<a href=https://'
                || ws[least(2, greatest(len(ws), 1))]
                || '.example/p' || CAST(doc_id AS VARCHAR) || '>'
                || ws[least(2, greatest(len(ws), 1))]
                || ' page</a> cite '
                || '<a href=https://'
                || ws[least(5, greatest(len(ws), 1))]
                || '.example/p' || CAST(doc_id AS VARCHAR) || '>'
                || ws[least(5, greatest(len(ws), 1))]
                || ' page</a> see '
                || '<a href=https://'
                || ws[least(8, greatest(len(ws), 1))]
                || '.example/p' || CAST(doc_id AS VARCHAR) || '>'
                || ws[least(8, greatest(len(ws), 1))]
                || ' page</a></p><footer>'
                || '<a href=https://hub.example/tos>Terms of use</a>'
                || '</footer></body></html>' AS html
              FROM d
            ), links AS (
              SELECT doc_id,
                     regexp_extract_all(html,
                       '<a href=https://([^/>]+)/[^>]*>([^<]*)</a>',
                       1) AS hosts,
                     regexp_extract_all(html,
                       '<a href=https://([^/>]+)/[^>]*>([^<]*)</a>',
                       2) AS anchors
              FROM pages
            ), edges AS (
              SELECT doc_id, unnest(hosts) AS dst_host,
                     unnest(anchors) AS anchor
              FROM links
            )
            SELECT dst_host, count(*) AS n_links,
                   count(DISTINCT doc_id) AS n_docs,
                   CAST(sum(length(anchor)) AS BIGINT) AS anchor_chars
            FROM edges GROUP BY 1""",
        "html_main_block": _HTML_PAGE_CTE + """,
        blocks AS (
          SELECT doc_id,
                 generate_subscripts(string_split_regex(html,
                   '<(?:p|main|nav|div[^>]*|footer|header)>'), 1) - 1
                   AS block_idx,
                 unnest(string_split_regex(html,
                   '<(?:p|main|nav|div[^>]*|footer|header)>')) AS raw
          FROM pages
        ), scored AS (
          SELECT doc_id, CAST(block_idx AS INT) AS block_idx,
                 """ + _HTML_CLEAN_RAW + """ AS block_text,
                 floor((CAST(length(""" + _HTML_CLEAN_RAW + """)
                             AS DOUBLE)
                        * (1.0 - CAST(len(string_split(raw, '<a ')) - 1
                                      AS DOUBLE)
                           / greatest(CAST(len(string_split(raw, '<a '))
                                           - 1 AS DOUBLE) + 1.0, 1.0)))
                       * 10000 + 0.5) / 10000 AS score
          FROM blocks
        )
        SELECT doc_id, block_idx, block_text, score FROM (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, block_idx) AS rn
          FROM scored) WHERE rn = 1""",
        "boilerplate_blocks": _HTML_PAGE_CTE + """,
        blocks AS (
          SELECT doc_id,
                 generate_subscripts(string_split_regex(html,
                   '<(?:p|main|nav|div[^>]*|footer|header)>'), 1) - 1
                   AS block_idx,
                 unnest(string_split_regex(html,
                   '<(?:p|main|nav|div[^>]*|footer|header)>')) AS raw
          FROM pages
        ), feat AS (
          SELECT doc_id, CAST(block_idx AS INT) AS block_idx,
                 CAST(CASE WHEN length(trim(""" + _HTML_CLEAN_RAW
        + """)) = 0 THEN 0
                      ELSE len(string_split(trim(""" + _HTML_CLEAN_RAW
        + """), ' ')) END AS BIGINT) AS n_words,
                 CAST(CASE WHEN length(trim(coalesce(array_to_string(
                        regexp_extract_all(raw,
                          '(?s)<a [^>]*>(.*?)</a>', 1), ' '), ''))) = 0
                      THEN 0
                      ELSE len(string_split(trim(coalesce(
                        array_to_string(regexp_extract_all(raw,
                          '(?s)<a [^>]*>(.*?)</a>', 1), ' '), '')),
                        ' '))
                      END AS BIGINT) AS n_anchor
          FROM blocks
        ), ld AS (
          SELECT doc_id, block_idx, n_words,
                 CAST(n_anchor AS DOUBLE)
                   / greatest(CAST(n_words AS DOUBLE), 1.0) AS ld
          FROM feat
        ), ctx AS (
          SELECT doc_id, block_idx, n_words, ld,
                 lag(n_words, 1, 0) OVER w AS prev_words,
                 lead(n_words, 1, 0) OVER w AS next_words,
                 lag(ld, 1, 0.0) OVER w AS prev_ld
          FROM ld
          WINDOW w AS (PARTITION BY doc_id ORDER BY block_idx)
        )
        SELECT doc_id, block_idx, n_words,
               floor(ld * 10000 + 0.5) / 10000 AS link_density,
               CASE WHEN ld > 0.333 THEN FALSE
                    WHEN prev_ld <= 0.555
                      THEN (n_words > 16 OR next_words > 15
                            OR prev_words > 4)
                    ELSE (n_words > 40 OR next_words > 17)
               END AS is_content
        FROM ctx""",
        "text_repetition": _W_CTE + """,
        d AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), base AS (
          SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
                 CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct
          FROM d
        ), bg AS (
          SELECT a.doc_id, a.word || ' ' || b.word AS gram
          FROM w a JOIN w b
            ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ), cnt AS (
          SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2
        ), top AS (
          SELECT doc_id, CAST(max(c) AS BIGINT) AS top_n,
                 CAST(sum(c) AS BIGINT) AS tot
          FROM cnt GROUP BY doc_id
        )
        SELECT b.doc_id, b.n_words,
               floor((1.0 - n_distinct / n_words) * 10000 + 0.5)
                 / 10000 AS dup_word_frac,
               floor((coalesce(top_n, 0)
                      / greatest(coalesce(tot, 0), 1))
                     * 10000 + 0.5) / 10000 AS top_bigram_frac
        FROM base b LEFT JOIN top USING (doc_id)""",
        "decontam_overlap": f"""
            WITH d AS (
              SELECT doc_id, string_split(text, ' ') AS ws,
                     {" + ".join(
                         f"(instr('0123456789abcdef', substr(md5("
                         f"CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1)"
                         f" * {16 ** (7 - i)}" for i in range(8))}
                       AS h
              FROM documents
            ), g AS (
              SELECT doc_id, h < {int(0.1 * 16 ** 8)} AS is_eval,
                     array_to_string(ws[i:i + 7], ' ') AS gram
              FROM d, UNNEST(range(1, greatest(len(ws) - 6, 1)))
                        AS t(i)
            ), eg AS (
              SELECT DISTINCT gram FROM g WHERE is_eval
            ), tg AS (
              SELECT DISTINCT doc_id, gram FROM g WHERE NOT is_eval
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
            FROM tg JOIN eg USING (gram) GROUP BY doc_id""",
        "pii_redact": f"""
            WITH p AS ({_WEB.PII_WRAP_SQL})
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(raw,
                       '{_WEB.EMAIL_RE}', '<EMAIL>', 'g'),
                       '{_WEB.PHONE_RE}', '<PHONE>', 'g'),
                       '{_WEB.IP_RE}', '<IP>', 'g') AS redacted,
                   len(regexp_extract_all(raw, '{_WEB.EMAIL_RE}'))
                     AS n_email,
                   len(regexp_extract_all(raw, '{_WEB.PHONE_RE}'))
                     AS n_phone,
                   len(regexp_extract_all(raw, '{_WEB.IP_RE}'))
                     AS n_ip
            FROM p""",
        "url_host_filter": f"""
            WITH u AS ({_WEB.URL_WRAP_SQL}),
            p AS (
              SELECT doc_id, n_chars,
                     regexp_extract(url, '{_WEB.HOST_RE}', 1) AS host
              FROM u
            )
            SELECT host,
                   regexp_extract(host, '{_WEB.DOMAIN_RE}', 1)
                     AS domain,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   min(doc_id) AS first_doc
            FROM p
            WHERE host NOT IN ({", ".join(
                f"'{h}'" for h in _WEB.BLOCKLIST)})
            GROUP BY 1, 2""",
        # canonical-URL dedup: the same 7-step canonicalization chain
        # as operators/web.canonical_url_expr, staged as CTEs (every
        # regex in the shared Java-regex/RE2 subset; DuckDB needs the
        # explicit 'g' flag only where Spark replaces all matches —
        # the dup-slash collapse)
        "url_canonical_dedup": f"""
            WITH u AS ({_WEB.URL_MESSY_WRAP_SQL}),
            s1 AS (SELECT doc_id, n_chars,
                          regexp_replace(url, '{_WEB.URL_FRAG_RE}',
                                         '') AS u
                   FROM u),
            s2 AS (SELECT doc_id, n_chars,
                          lower(regexp_extract(u,
                              '({_WEB.URL_PREFIX_RE})', 1))
                          || regexp_replace(u,
                              '{_WEB.URL_PREFIX_RE}', '') AS u
                   FROM s1),
            s3 AS (SELECT doc_id, n_chars,
                          replace(u, ':443/', '/') AS u FROM s2),
            s4 AS (SELECT doc_id, n_chars,
                          regexp_replace(u, '{_WEB.URL_TRACK_RE}',
                                         '') AS u
                   FROM s3),
            s5 AS (SELECT doc_id, n_chars,
                          regexp_replace(u, '{_WEB.URL_INDEX_RE}',
                                         '') AS u
                   FROM s4),
            s6 AS (SELECT doc_id, n_chars,
                          'https://' || regexp_replace(substring(u, 9),
                              '{_WEB.URL_DUPSLASH_RE}', '/', 'g') AS u
                   FROM s5),
            s7 AS (SELECT doc_id, n_chars,
                          regexp_replace(u, '{_WEB.URL_TRAIL_RE}', '')
                            AS canonical_url
                   FROM s6)
            SELECT canonical_url,
                   count(*) AS n_variants,
                   min(doc_id) AS keeper_doc,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM s7 GROUP BY 1""",
        # the salt is invisible in the result (phase 1 is a lossless
        # prune under the total order), so the oracle is the plain
        # per-domain ranked cap; CAST rank to match Spark's
        # row_number() IntegerType
        "domain_doc_cap": """
            SELECT source, doc_id, n_chars, rank FROM (
              SELECT source, doc_id, n_chars,
                     CAST(row_number() OVER (PARTITION BY source
                         ORDER BY n_chars DESC, doc_id) AS INTEGER)
                       AS rank
              FROM documents)
            WHERE rank <= 10""",
        "dedup_lines": """
            WITH words AS (
              SELECT doc_id, string_split(text, ' ') AS w
              FROM documents
            ), lines AS (
              SELECT doc_id, CAST(g.i AS BIGINT) AS line_no,
                     array_to_string(w[g.i*3+1 : g.i*3+3], ' ')
                       AS line
              FROM words, LATERAL (
                SELECT unnest(range(0,
                    CAST(ceil(len(w) / 3.0) AS BIGINT))) AS i) g
            ), ranked AS (
              SELECT doc_id, line_no, line,
                     row_number() OVER (PARTITION BY line
                         ORDER BY doc_id, line_no) AS rn
              FROM lines
            ), kept AS (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY line_no)
                       AS kept_text,
                     count(*) AS n_kept
              FROM ranked WHERE rn = 1 GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(k.kept_text, '') AS kept_text,
                   CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
            FROM documents d LEFT JOIN kept k USING (doc_id)""",
        "quality_classifier": _TXT.quality_classifier_oracle_sql(),
        "corpus_mix": _TXT.corpus_mix_oracle_sql(),
        "dedup_substring_spans":
            _DDP.repeated_substring_spans_oracle_sql(),
        "phrase_lookup": _IX.phrase_lookup_oracle_sql(),
        "tpch_q5": """
            SELECT n_name,
                   floor((sum(l_extendedprice * (1 - l_discount))
                          / 1000.0) * 10000 + 0.5) / 10000
                     AS revenue_k,
                   count(*) AS n
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name""",
        "tpch_q10": """
            SELECT c_custkey, c_name, n_name,
                   floor((sum(l_extendedprice * (1 - l_discount))
                          / 1000.0) * 10000 + 0.5) / 10000
                     AS revenue_k
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue_k DESC, c_custkey LIMIT 20""",
        "tpch_q14": """
            SELECT floor((100.0
                     * sum(CASE WHEN p_type = 'PROMO'
                           THEN l_extendedprice * (1 - l_discount)
                           ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)))
                     * 10000 + 0.5) / 10000 AS promo_revenue_pct,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'""",
        "tpch_q18": """
            WITH big AS (
              SELECT l_orderkey, sum(l_quantity) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(l_quantity) > 280
            )
            SELECT c_custkey, c_name, o_orderkey,
                   floor(total_qty * 10000 + 0.5) / 10000
                     AS total_qty
            FROM orders
            JOIN big ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY total_qty DESC, o_orderkey LIMIT 20""",
        "event_outliers": """
            WITH s AS (
              SELECT event_type, avg(value) AS mu,
                     sqrt(avg(value * value)
                          - avg(value) * avg(value)) AS sigma
              FROM events GROUP BY event_type
            ), z AS (
              SELECT e.event_type,
                     abs((e.value - s.mu) / s.sigma) AS z
              FROM events e JOIN s USING (event_type)
            )
            SELECT event_type, count(*) AS n_outliers,
                   floor(max(z) * 10000 + 0.5) / 10000 AS max_z
            FROM z WHERE z > 3.0 GROUP BY event_type""",
        "bloom_custkey": _IX.bloom_probe_stats_oracle_sql(
            "orders", "o_custkey", "customer", "c_custkey"),
        "approx_distinct_hll": _IX.hll_distinct_oracle_sql(
            "events", "user_id"),
        "tfidf_topk": _IX.tfidf_topk_oracle_sql(),
        "inverted_index": _IX.inverted_index_oracle_sql(),
        "top_ngrams_corpus": _IX.top_ngrams_corpus_oracle_sql(),
        "bm25_topk": _IX.bm25_topk_oracle_sql(),
        "skew_profile": _IX.skew_profile_oracle_sql(),
        "stratified_sample": _TXT.stratified_sample_oracle_sql(),
        "dsir_topk": _TXT.dsir_topk_oracle_sql(),
        "corpus_overlap_minhash":
            _DDP.corpus_overlap_minhash_oracle_sql(),
        "classifier_auc": _TXT.classifier_auc_oracle_sql(),
        "dataset_split": _TXT.dataset_split_oracle_sql(),
        "robots_filter": _WEB.robots_filter_oracle_sql(),
        "robots_parse": _WEB.robots_parse_oracle_sql(),
        "robots_match": _WEB.robots_match_oracle_sql(),
        "sitemap_parse": _WEB.sitemap_parse_oracle_sql(),
        "zorder_key": f"""
            SELECT doc_id,
                   {_IX.zorder_key_sql('doc_id', 'n_chars')} AS z
            FROM documents""",
        # extraction is lossless for the synthesized subset, so the
        # oracle is the identity projection of the source table
        "pdf_text_extract": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   text AS extracted_text
            FROM documents""",
        "layout_reading_order": """
            WITH w AS (
              SELECT doc_id,
                     unnest(string_split(text, ' ')) AS word,
                     generate_subscripts(string_split(text, ' '), 1) - 1
                       AS i
              FROM documents
            ), boxed AS (
              SELECT doc_id, word,
                     CAST(floor(i / 40.0) AS INT) AS page,
                     CAST(floor((i % 40) / 20.0) AS INT) AS col,
                     (i % 40) % 20 AS y,
                     CAST(floor((i % 40) / 20.0) AS INT) * 300
                       + (i % 7) * 10 AS x
              FROM w
            )
            SELECT doc_id,
                   string_agg(word, ' ' ORDER BY page, col, y, x)
                     AS reading_text
            FROM boxed GROUP BY doc_id""",
        "salted_join": """
            SELECT l_orderkey, count(*) AS n,
                   CAST(sum(CAST(floor((l_extendedprice + o_totalprice)
                                       * 100) AS BIGINT))
                        AS BIGINT) AS combined_cents
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY l_orderkey""",
        "session_window_agg": """
            WITH lagged AS (
              SELECT user_id, ts,
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
              FROM events
            ), marked AS (
              SELECT user_id, ts,
                     CASE WHEN prev IS NULL
                            OR epoch(ts) - epoch(prev) > 300
                          THEN 1 ELSE 0 END AS new_s
              FROM lagged
            ), sess AS (
              SELECT user_id, ts,
                     sum(new_s) OVER (PARTITION BY user_id
                                      ORDER BY ts
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS sid
              FROM marked
            )
            SELECT user_id,
                   CAST(floor(epoch(min(ts))) AS BIGINT)
                     AS sess_start_s,
                   count(*) AS n_events
            FROM sess GROUP BY user_id, sid""",
        "dedup_keeper_policy": _GRAMS_CTE.replace(
            "WITH w AS", "WITH RECURSIVE w AS", 1) + f""", sig AS (
              SELECT doc_id, {_MH} FROM grams GROUP BY doc_id
            ), banded AS (
              SELECT doc_id, {_BANDS} FROM sig
            ), stacked AS (
              SELECT doc_id, 0 AS band_idx, band0 AS key FROM banded
              UNION ALL SELECT doc_id, 1, band1 FROM banded
              UNION ALL SELECT doc_id, 2, band2 FROM banded
              UNION ALL SELECT doc_id, 3, band3 FROM banded
            ), cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM stacked a JOIN stacked b
                ON a.band_idx = b.band_idx AND a.key = b.key
               AND a.doc_id < b.doc_id
            ), sym AS (
              SELECT doc_a AS a, doc_b AS b FROM cand
              UNION SELECT doc_b, doc_a FROM cand
            ), reach(doc, lab) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.doc
            ), comp AS (
              SELECT doc AS doc_id, min(lab) AS component
              FROM reach GROUP BY doc
            ), qual AS (
              SELECT doc_id,
                     floor((least(len(string_split(text, ' ')) / 64.0,
                                  1.0) * 0.5
                           + least((length(text)
                                    - (len(string_split(text, ' '))
                                       - 1))
                                   / len(string_split(text, ' '))
                                   / 8.0, 1.0) * 0.3
                           + (({_STOP_HITS_SQL})
                              / len(string_split(text, ' '))) * 0.2)
                           * 10000 + 0.5) / 10000 AS quality
              FROM documents
            ), r AS (
              SELECT c.component, c.doc_id, q.quality,
                     row_number() OVER (PARTITION BY c.component
                       ORDER BY q.quality DESC, c.doc_id) AS rk,
                     count(*) OVER (PARTITION BY c.component)
                       AS n_members
              FROM comp c JOIN qual q ON c.doc_id = q.doc_id
            )
            SELECT component, doc_id AS keeper, quality, n_members
            FROM r WHERE rk = 1 AND n_members > 1""",
        "cube_agg": """
            SELECT event_type,
                   CAST(value >= 50 AS INT) AS hi, count(*) AS n,
                   floor((sum(value) / 1000) * 10000 + 0.5) / 10000
                     AS sum_value_k
            FROM events
            GROUP BY CUBE (event_type, CAST(value >= 50 AS INT))""",
        "window_moving_avg": """
            SELECT user_id, event_id,
                   floor(avg(value) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                         * 10000 + 0.5) / 10000 AS mavg5
            FROM events""",
        "asof_join_events": """
            SELECT p.user_id, p.event_id,
                   CAST(floor(epoch(p.ts)) AS BIGINT) AS buy_s,
                   CAST(floor(epoch(v.ts)) AS BIGINT) AS view_s
            FROM (SELECT user_id, event_id, ts FROM events
                  WHERE event_type = 'purchase') p
            ASOF LEFT JOIN
                 (SELECT user_id, ts FROM events
                  WHERE event_type = 'view') v
              ON p.user_id = v.user_id AND p.ts >= v.ts""",
        "percentiles_value": """
            SELECT event_type,
                   floor(quantile_cont(value, 0.25) * 10000 + 0.5)
                     / 10000 AS p25,
                   floor(quantile_cont(value, 0.5) * 10000 + 0.5)
                     / 10000 AS p50,
                   floor(quantile_cont(value, 0.75) * 10000 + 0.5)
                     / 10000 AS p75,
                   floor(quantile_cont(value, 0.99) * 10000 + 0.5)
                     / 10000 AS p99
            FROM events GROUP BY event_type""",
        "funnel_counts": """
            WITH firsts AS (
              SELECT user_id,
                     min(CASE WHEN event_type = 'view' THEN ts END)
                       AS t_view,
                     min(CASE WHEN event_type = 'click' THEN ts END)
                       AS t_click,
                     min(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS t_buy
              FROM events GROUP BY user_id
            ), agg AS (
              SELECT count(CASE WHEN t_view IS NOT NULL THEN 1 END)
                       AS n_view,
                     count(CASE WHEN t_view IS NOT NULL
                                 AND t_click > t_view THEN 1 END)
                       AS n_click,
                     count(CASE WHEN t_view IS NOT NULL
                                 AND t_click > t_view
                                 AND t_buy > t_click THEN 1 END)
                       AS n_purchase
              FROM firsts
            )
            SELECT n_view, n_click, n_purchase,
                   floor((n_click / n_view) * 10000 + 0.5) / 10000
                     AS view_to_click,
                   floor((n_purchase / n_click) * 10000 + 0.5) / 10000
                     AS click_to_buy
            FROM agg""",
        "retention_cohorts": """
            WITH ev AS (
              SELECT user_id, date_trunc('day', ts) AS day FROM events
            ), first AS (
              SELECT user_id, min(day) AS cohort_day
              FROM ev GROUP BY user_id
            ), act AS (
              SELECT e.user_id,
                     strftime(CAST(f.cohort_day AS DATE), '%Y-%m-%d')
                       AS cohort_date,
                     date_diff('day', CAST(f.cohort_day AS DATE),
                               CAST(e.day AS DATE)) AS day_offset
              FROM ev e JOIN first f ON e.user_id = f.user_id
            )
            SELECT cohort_date AS cohort_day, day_offset,
                   count(DISTINCT user_id) AS n_users
            FROM act WHERE day_offset <= 7
            GROUP BY cohort_date, day_offset""",
        "ohem_topk_sum": """
            WITH ev AS (
              SELECT event_type, event_id, value AS loss,
                     value >= 0.9 AS pos
              FROM events
            ), ranked AS (
              SELECT *,
                     CASE WHEN NOT pos THEN
                       row_number() OVER (PARTITION BY event_type, pos
                                          ORDER BY loss DESC, event_id)
                     END AS rk
              FROM ev
            ), agg AS (
              SELECT event_type,
                     count(CASE WHEN pos THEN 1 END) AS n_pos,
                     sum(CASE WHEN pos THEN loss ELSE 0.0 END)
                       AS pos_sum
              FROM ranked GROUP BY event_type
            ), hard_neg AS (
              SELECT r.event_type, sum(r.loss) AS neg_sum
              FROM ranked r JOIN agg a ON r.event_type = a.event_type
              WHERE NOT r.pos AND r.rk <= 300 - a.n_pos
              GROUP BY r.event_type
            )
            SELECT a.event_type, a.n_pos,
                   floor(((a.pos_sum + coalesce(h.neg_sum, 0.0)) / 300)
                         * 10000 + 0.5) / 10000 AS ohem_loss
            FROM agg a LEFT JOIN hard_neg h
              ON a.event_type = h.event_type""",
        "dedup_exact": """
            SELECT doc_id, md5(text) AS text_hash,
                   count(*) OVER (PARTITION BY md5(text)) AS dup_count,
                   (min(doc_id) OVER (PARTITION BY md5(text)) = doc_id)
                     AS is_keeper
            FROM documents""",
        "dedup_minhash_sig": _GRAMS_CTE + f"""
            SELECT doc_id, {_MH} FROM grams GROUP BY doc_id""",
        "dedup_minhash_lsh": _GRAMS_CTE + f""", sig AS (
              SELECT doc_id, {_MH} FROM grams GROUP BY doc_id
            ), banded AS (
              SELECT doc_id, {_BANDS} FROM sig
            ), stacked AS (
              SELECT doc_id, 0 AS band_idx, band0 AS key FROM banded
              UNION ALL SELECT doc_id, 1, band1 FROM banded
              UNION ALL SELECT doc_id, 2, band2 FROM banded
              UNION ALL SELECT doc_id, 3, band3 FROM banded
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS n_bands
            FROM stacked a JOIN stacked b
              ON a.band_idx = b.band_idx AND a.key = b.key
             AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id""",
        # batch-vs-history incremental near-dup: candidates cross the
        # md5-half split only (never history x history or batch x
        # batch)
        "dedup_incremental": _GRAMS_CTE + f""", sig AS (
              SELECT doc_id, {_MH} FROM grams GROUP BY doc_id
            ), banded AS (
              SELECT doc_id, {_BANDS} FROM sig
            ), stacked AS (
              SELECT doc_id, 0 AS band_idx, band0 AS key FROM banded
              UNION ALL SELECT doc_id, 1, band1 FROM banded
              UNION ALL SELECT doc_id, 2, band2 FROM banded
              UNION ALL SELECT doc_id, 3, band3 FROM banded
            ), flagged AS (
              SELECT doc_id, band_idx, key,
                     ({_H8_DOC}) < 2147483648 AS is_hist
              FROM stacked
            ), hsz AS (
              SELECT band_idx, key, count(*) AS n
              FROM flagged WHERE is_hist GROUP BY band_idx, key
            )
            SELECT b.doc_id AS doc_id, h.doc_id AS dup_of,
                   CAST(count(*) AS BIGINT) AS n_bands
            FROM flagged b JOIN flagged h
              ON b.band_idx = h.band_idx AND b.key = h.key
            JOIN hsz z
              ON z.band_idx = h.band_idx AND z.key = h.key
            WHERE NOT b.is_hist AND h.is_hist AND z.n <= 1
            GROUP BY b.doc_id, h.doc_id""",
        "dedup_simhash": _W_CTE + f""", c AS (
              SELECT doc_id, {_SIMHASH_CODE} AS code FROM w
            ), bits AS (
              SELECT doc_id, {_SIMHASH_BITS} FROM c GROUP BY doc_id
            )
            SELECT doc_id, CAST({_SIMHASH_VAL} AS BIGINT) AS simhash
            FROM bits""",
        "dedup_ngram_jaccard": _GRAMS_CTE + f""", sig AS (
              SELECT doc_id, {_MH} FROM grams GROUP BY doc_id
            ), banded AS (
              SELECT doc_id, {_BANDS} FROM sig
            ), stacked AS (
              SELECT doc_id, 0 AS band_idx, band0 AS key FROM banded
              UNION ALL SELECT doc_id, 1, band1 FROM banded
              UNION ALL SELECT doc_id, 2, band2 FROM banded
              UNION ALL SELECT doc_id, 3, band3 FROM banded
            ), cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM stacked a JOIN stacked b
                ON a.band_idx = b.band_idx AND a.key = b.key
               AND a.doc_id < b.doc_id
            ), dw AS (
              SELECT DISTINCT doc_id, word FROM w
            ), sizes AS (
              SELECT doc_id, count(*) AS n FROM dw GROUP BY doc_id
            ), inter AS (
              SELECT c.doc_a, c.doc_b, count(*) AS i
              FROM cand c
              JOIN dw wa ON wa.doc_id = c.doc_a
              JOIN dw wb ON wb.doc_id = c.doc_b AND wb.word = wa.word
              GROUP BY c.doc_a, c.doc_b
            )
            SELECT i.doc_a, i.doc_b,
                   floor((i.i / (sa.n + sb.n - i.i)) * 10000 + 0.5) / 10000 AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE floor((i.i / (sa.n + sb.n - i.i)) * 10000 + 0.5) / 10000 >= 0.5""",
        "dedup_components": _GRAMS_CTE.replace(
            "WITH w AS", "WITH RECURSIVE w AS", 1) + f""", sig AS (
              SELECT doc_id, {_MH} FROM grams GROUP BY doc_id
            ), banded AS (
              SELECT doc_id, {_BANDS} FROM sig
            ), stacked AS (
              SELECT doc_id, 0 AS band_idx, band0 AS key FROM banded
              UNION ALL SELECT doc_id, 1, band1 FROM banded
              UNION ALL SELECT doc_id, 2, band2 FROM banded
              UNION ALL SELECT doc_id, 3, band3 FROM banded
            ), cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM stacked a JOIN stacked b
                ON a.band_idx = b.band_idx AND a.key = b.key
               AND a.doc_id < b.doc_id
            ), sym AS (
              SELECT doc_a AS a, doc_b AS b FROM cand
              UNION SELECT doc_b, doc_a FROM cand
            ), reach(doc, lab) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.doc
            )
            SELECT doc AS doc_id, min(lab) AS component,
                   (doc = min(lab)) AS is_keeper
            FROM reach GROUP BY doc""",
        "filename_munge": """
            SELECT doc_id,
                   string_split('/data/in/imgs/doc-'
                                || CAST(doc_id AS VARCHAR)
                                || '.png', '/')[-1] AS output_file,
                   string_split(string_split('/data/in/imgs/doc-'
                                || CAST(doc_id AS VARCHAR)
                                || '.png', '/')[-1], '.')[1]
                     || '.txt' AS txt_file
            FROM documents""",
        # IVF-preclustered (n_cells=16, n_cell_probe=3): band buckets
        # pair only when the two vectors share one of their 3 nearest
        # cells
        "dedup_embedding_cosine": _EMB_LSH_CTE + f""", cents AS (
              SELECT vec_id AS cell, vec AS cv, nrm AS cn
              FROM vn WHERE vec_id < 16
            ), assign AS (
              SELECT vec_id, cell FROM (
                SELECT v.vec_id, c.cell,
                       row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY
                           {quant4_sql("list_dot_product(v.vec, c.cv)"
                                       " / (v.nrm * c.cn)")} DESC,
                           c.cell) AS rk
                FROM vn v CROSS JOIN cents c)
              WHERE rk <= 3
            ), cand AS (
              SELECT DISTINCT least(p.vec_id, s.vec_id) AS vec_a,
                              greatest(p.vec_id, s.vec_id) AS vec_b
              FROM probes p JOIN bands s
                ON p.band_idx = s.band_idx AND p.bucket = s.bucket
               AND p.vec_id <> s.vec_id
              JOIN assign pa ON pa.vec_id = p.vec_id
              JOIN assign sa ON sa.vec_id = s.vec_id
               AND sa.cell = pa.cell
            )
            SELECT vec_a, vec_b, cos FROM (
              SELECT c.vec_a, c.vec_b, {_PAIR_COS} AS cos
              FROM cand c
              JOIN vn a ON c.vec_a = a.vec_id
              JOIN vn b ON c.vec_b = b.vec_id)
            WHERE cos >= 0.35""",
        "sim_topk_cosine": _VEC_CTE + f"""
            SELECT q_id, vec_id, cos, rank FROM (
              SELECT q_id, vec_id, cos,
                     CAST(row_number() OVER (PARTITION BY q_id
                          ORDER BY cos DESC, vec_id) AS INT) AS rank
              FROM (
                SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
                       {_QC_COS} AS cos
                FROM vn q JOIN vn c
                  ON q.vec_id < 5 AND q.vec_id <> c.vec_id))
            WHERE rank <= 10""",
        "sim_lsh_buckets": _EMB_LSH_CTE + """
            SELECT vec_id, band_idx, bucket FROM bands""",
        "sim_ivf_cells": _VEC_CTE + f""", cents AS (
              SELECT vec_id AS cell, vec AS cv, nrm AS cn
              FROM vn WHERE vec_id < 16
            )
            SELECT vec_id, cell FROM (
              SELECT v.vec_id, c.cell,
                     row_number() OVER (PARTITION BY v.vec_id ORDER BY
                       {quant4_sql("list_dot_product(v.vec, c.cv)"
                                   " / (v.nrm * c.cn)")} DESC, c.cell)
                       AS rk
              FROM vn v CROSS JOIN cents c)
            WHERE rk = 1""",
        "semdedup": f"""WITH b AS (  -- n_centroids=64, tau=0.9
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
              FROM embeddings
            ), copies AS (
              SELECT vec_id + 1000000 AS vec_id,
                     list(x + (((instr('0123456789abcdef',
                         substr(md5(vec_id || ':' || (i - 1)), 1, 1))
                         - 1) * 16
                       + instr('0123456789abcdef',
                         substr(md5(vec_id || ':' || (i - 1)), 2, 1))
                         - 1) / 255.0 * 0.08 - 0.04)
                       ORDER BY i) AS vec
              FROM (
                SELECT vec_id, unnest(vec) AS x,
                       generate_subscripts(vec, 1) AS i
                FROM b WHERE vec_id < 48)
              GROUP BY vec_id
            ), v AS (
              SELECT * FROM b UNION ALL SELECT * FROM copies
            ), vn AS (
              SELECT vec_id, vec,
                     sqrt(list_dot_product(vec, vec)) AS nrm FROM v
            ), cents AS (
              SELECT vec_id AS cell, vec AS cv, nrm AS cn
              FROM vn WHERE vec_id < 64
            ), assign AS (
              SELECT vec_id, cell FROM (
                SELECT v.vec_id, c.cell,
                       row_number() OVER (PARTITION BY v.vec_id ORDER BY
                         {quant4_sql("list_dot_product(v.vec, c.cv)"
                                     " / (v.nrm * c.cn)")} DESC, c.cell)
                         AS rk
                FROM vn v CROSS JOIN cents c)
              WHERE rk = 1
            ), vc AS (
              SELECT a.vec_id, a.vec, a.nrm, s.cell
              FROM vn a JOIN assign s USING (vec_id)
            ), dropped AS (
              SELECT DISTINCT hi.vec_id
              FROM vc hi JOIN vc lo
                ON hi.cell = lo.cell AND lo.vec_id < hi.vec_id
              WHERE {quant4_sql("list_dot_product(hi.vec, lo.vec)"
                                " / (hi.nrm * lo.nrm)")} >= 0.9
            )
            SELECT a.vec_id, a.cell,
                   (d.vec_id IS NULL) AS keep
            FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id""",
        "sim_ivf_topk": _VEC_CTE + f""", cents AS (
              SELECT vec_id AS cell, vec AS cv, nrm AS cn
              FROM vn WHERE vec_id < 16
            ), assign AS (
              SELECT vec_id, cell FROM (
                SELECT v.vec_id, c.cell,
                       row_number() OVER (PARTITION BY v.vec_id ORDER BY
                         {quant4_sql("list_dot_product(v.vec, c.cv)"
                                     " / (v.nrm * c.cn)")} DESC, c.cell)
                         AS rk
                FROM vn v CROSS JOIN cents c)
              WHERE rk = 1
            ), probed AS (
              SELECT q_id, cell FROM (
                SELECT v.vec_id AS q_id, c.cell,
                       row_number() OVER (PARTITION BY v.vec_id ORDER BY
                         {quant4_sql("list_dot_product(v.vec, c.cv)"
                                     " / (v.nrm * c.cn)")} DESC, c.cell)
                         AS rk
                FROM vn v CROSS JOIN cents c WHERE v.vec_id < 5)
              WHERE rk <= 2
            ), cand AS (
              SELECT p.q_id, a.vec_id
              FROM assign a JOIN probed p ON a.cell = p.cell
              WHERE p.q_id <> a.vec_id
            )
            SELECT q_id, vec_id, cos, rank FROM (
              SELECT q_id, vec_id, cos,
                     CAST(row_number() OVER (PARTITION BY q_id
                          ORDER BY cos DESC, vec_id) AS INT) AS rank
              FROM (
                SELECT cd.q_id, cd.vec_id, {_QC_COS} AS cos
                FROM cand cd
                JOIN vn q ON cd.q_id = q.vec_id
                JOIN vn c ON cd.vec_id = c.vec_id))
            WHERE rank <= 10""",
        "sim_pq_codes": _PQ_CTE + f"""
            SELECT vec_id, {", ".join(
                f"max(CASE WHEN j = {j} THEN code END) AS c{j}"
                for j in range(_PQ_M))}
            FROM codes GROUP BY vec_id""",
        "sim_pq_topk": _PQ_CTE + """, scored AS (
              SELECT q.vec_id AS q_id, c.vec_id,
                     CAST(sum(q.du) AS BIGINT) AS adist
              FROM codes c JOIN sub q
                ON q.j = c.j AND q.code = c.code
              WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
              GROUP BY q.vec_id, c.vec_id
            ), short AS (
              SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (PARTITION BY q_id
                         ORDER BY adist, vec_id) AS srank
                FROM scored)
              WHERE srank <= 80
            ), refined AS (
              SELECT s.q_id, s.vec_id,
                     CAST(floor((list_dot_product(qv.vec, qv.vec)
                           - 2 * list_dot_product(qv.vec, cv.vec)
                           + list_dot_product(cv.vec, cv.vec))
                           * 10000 + 0.5) AS BIGINT) AS d2u
              FROM short s
              JOIN v qv ON qv.vec_id = s.q_id
              JOIN v cv ON cv.vec_id = s.vec_id
            )
            SELECT q_id, vec_id, d2u, rank FROM (
              SELECT q_id, vec_id, d2u,
                     CAST(row_number() OVER (PARTITION BY q_id
                          ORDER BY d2u, vec_id) AS INT) AS rank
              FROM refined)
            WHERE rank <= 10""",
        "sim_lsh_topk": _EMB_LSH_CTE + f""", qc AS (
              SELECT DISTINCT p.vec_id AS q_id, s.vec_id
              FROM probes p JOIN bands s
                ON p.band_idx = s.band_idx AND p.bucket = s.bucket
              WHERE p.vec_id < 5 AND p.vec_id <> s.vec_id
            )
            SELECT q_id, vec_id, cos, rank FROM (
              SELECT q_id, vec_id, cos,
                     CAST(row_number() OVER (PARTITION BY q_id
                          ORDER BY cos DESC, vec_id) AS INT) AS rank
              FROM (
                SELECT qc.q_id, qc.vec_id, {_QC_COS} AS cos
                FROM qc
                JOIN vn q ON qc.q_id = q.vec_id
                JOIN vn c ON qc.vec_id = c.vec_id))
            WHERE rank <= 10""",
        "text_lang_id": f"""
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT)
                     AS n_tokens,
                   CAST({_STOP_HITS_SQL} AS INT) AS stop_hits,
                   CASE WHEN len(string_split(text, ' ')) < 5
                          THEN 'short'
                        WHEN ({_STOP_HITS_SQL}) * 10
                             >= len(string_split(text, ' ')) THEN 'en'
                        ELSE 'other' END AS lang_pred
            FROM documents""",
        "text_quality": f"""
            SELECT doc_id, CAST(length(text) AS INT) AS n_chars_calc,
                   CAST(len(string_split(text, ' ')) AS BIGINT)
                     AS n_tokens,
                   floor(((length(text) - (len(string_split(text, ' '))
                          - 1)) / len(string_split(text, ' '))) * 10000 + 0.5) / 10000
                     AS avg_word_len,
                   floor((({_STOP_HITS_SQL})
                         / len(string_split(text, ' '))) * 10000 + 0.5) / 10000 AS stop_ratio,
                   floor((least(len(string_split(text, ' ')) / 64.0, 1.0)
                           * 0.5
                         + least((length(text)
                                  - (len(string_split(text, ' ')) - 1))
                                 / len(string_split(text, ' ')) / 8.0,
                                 1.0) * 0.3
                         + (({_STOP_HITS_SQL})
                            / len(string_split(text, ' '))) * 0.2) * 10000 + 0.5) / 10000
                     AS quality
            FROM documents""",
        "corpus_filter": f"""
            WITH keep AS (
              SELECT doc_id FROM (
                SELECT doc_id,
                       (min(doc_id) OVER (PARTITION BY md5(text))
                        = doc_id) AS is_keeper
                FROM documents) WHERE is_keeper
            ), lng AS (
              SELECT doc_id,
                     CASE WHEN len(string_split(text, ' ')) < 5
                            THEN 'short'
                          WHEN ({_STOP_HITS_SQL}) * 10
                               >= len(string_split(text, ' '))
                            THEN 'en'
                          ELSE 'other' END AS lang_pred
              FROM documents
            ), qual AS (
              SELECT doc_id,
                     floor((least(len(string_split(text, ' ')) / 64.0,
                                  1.0) * 0.5
                           + least((length(text)
                                    - (len(string_split(text, ' '))
                                       - 1))
                                   / len(string_split(text, ' '))
                                   / 8.0, 1.0) * 0.3
                           + (({_STOP_HITS_SQL})
                              / len(string_split(text, ' '))) * 0.2)
                           * 10000 + 0.5) / 10000 AS quality,
                     CAST(len(string_split(text, ' ')) AS BIGINT)
                       AS n_tokens
              FROM documents
            )
            SELECT d.doc_id, l.lang_pred, q.quality, q.n_tokens
            FROM documents d
            JOIN keep k ON d.doc_id = k.doc_id
            JOIN lng l ON d.doc_id = l.doc_id
            JOIN qual q ON d.doc_id = q.doc_id
            WHERE l.lang_pred = 'en' AND q.quality >= 0.5""",
        "text_token_count": """
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT)
                     AS ws_tokens,
                   CAST(len(regexp_extract_all(text,
                        '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT)
                     AS bpe_tokens,
                   CAST(ceil(length(replace(text, ' ', '')) / 4.0)
                     AS BIGINT) AS subword_est
            FROM documents""",
        "text_winnow_fp": """
            WITH g AS (
              SELECT doc_id, pos,
                     substr(md5(substring(text, CAST(pos AS INT), 8)),
                            1, 8) AS h,
                     length(text) AS n
              FROM documents,
                   LATERAL unnest(CASE WHEN length(text) >= 8 THEN
                       range(1, length(text) - 8 + 2)
                     ELSE [] END) AS t(pos)
            ), m AS (
              SELECT DISTINCT doc_id, mn FROM (
                SELECT doc_id, pos, n,
                       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN CURRENT ROW
                                    AND 3 FOLLOWING) AS mn
                FROM g)
              WHERE pos <= n - 8 + 1 - 3
            )
            SELECT doc_id, count(*) AS n_fps,
                   min(mn) AS fp_min, max(mn) AS fp_max
            FROM m GROUP BY doc_id""",
        "text_fingerprint": _GRAMS_CTE + """
            SELECT doc_id, min(md5(gram)) AS fp_min,
                   max(md5(gram)) AS fp_max
            FROM grams GROUP BY doc_id""",
        "ocr_errors_scan": """
            SELECT 'img-poison' AS media_ref,
                   'ValueError' AS error_class""",
    }
    # gate-ablation Venn composes three member oracles as subqueries
    sqls["gate_ablation"] = f"""
        WITH rep AS ({sqls['text_repetition']}),
             qc AS ({sqls['quality_classifier']}),
             li AS ({sqls['text_lang_id']}),
             flags AS (
               SELECT r.doc_id,
                      (r.n_words < 8 OR r.dup_word_frac > 0.6
                       OR r.top_bigram_frac > 0.2) AS fail_rep,
                      (q.score < 0.3) AS fail_quality,
                      (l.lang_pred <> 'en') AS fail_lang
               FROM rep r JOIN qc q ON r.doc_id = q.doc_id
                          JOIN li l ON r.doc_id = l.doc_id)
        SELECT fail_rep, fail_quality, fail_lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               (NOT fail_rep AND NOT fail_quality AND NOT fail_lang)
                 AS kept
        FROM flags GROUP BY fail_rep, fail_quality, fail_lang"""
    # composite suite oracles (r6 VERDICT task 1): UNION ALL of each
    # member's oracle wrapped in the same canonical (member, row_repr)
    # projection the Spark side applies — see the _SUITES block
    for sname, ms in _SUITES.items():
        sqls[sname] = _suite_oracle(ms, sqls)
    return sqls
