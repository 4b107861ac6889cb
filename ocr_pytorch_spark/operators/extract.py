"""The flagship distributed OCR span-extraction pipeline.

Relational skeleton (all built-in DataFrame ops — Catalyst prunes the
``images.data`` bytes off the text branch and picks join strategies):

    documents --posexplode--> spans
      ├── kind='text'  ----------------------------------------+
      └── kind='media' --distinct media_ref--+                  |
    images --left_semi(needed refs)----------+--> salted        |
              repartition --> mapInPandas(OCR UDF) --> transcripts
                                 (media_ref, box_order, text)   |
      media spans  <--join (tiny rows)-- transcripts            |
            └---------------- unionByName ----------------------+
                     --> groupBy(doc_id) --> array_sort --> spans

Scale properties (the 100 TB story, SURVEY.md §4.3):

* **OCR runs once per DISTINCT media_ref** — a hot image referenced by
  10^4 documents is decoded and recognized once; the fan-out back to
  documents joins only ~100-byte transcript rows.
* **Image bytes move at most once**: the semi-join against needed refs
  is broadcast when the ref set is small (no image shuffle at all),
  else a single shuffle; the salted repartition of distinct images is
  uniform by construction (distinct keys, xxhash64) — this is the
  explicit skew-breaker for media-heavy documents: docs were already
  exploded per-span, so no single doc pins a partition.
* **Every doc-level shuffle carries only text**: union + groupBy move
  (doc_id, offset, text) rows, never pixels.
* AQE (enabled in the session) coalesces the small shuffles and splits
  any residual skew.

The per-image compute — reference semantics of ocr.py:73-78 — runs in an
iterator-form ``mapInPandas`` UDF: model weights deserialize once per
python worker (shipped .npz files + module cache), each Arrow batch
carries up to ``spark.sql.execution.arrow.maxRecordsPerBatch`` raw-RGB
rows (``get_spark(arrow_batch=)``), and within a batch images are
processed by shared NumPy kernels (never per-row Python at the Spark
level; the per-row loop below is over in-batch numpy arrays, which is
the Arrow-vectorized pattern the input_hint mandates).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ocr_pytorch_spark.config import PipelineConfig

# one cached weight pair per python worker process, keyed by the .npz
# paths, which are STABLE ACROSS TASKS — the whole point is that a
# reused worker deserializes the ~100 MB of weights once, not once per
# task (executor-local singleton, the Spark analogue of the reference's
# module-global model load at ocr.py:6)
_WORKER_CACHE: dict[tuple, tuple[dict, dict]] = {}

OCR_OUT_SCHEMA = "media_ref string, box_order int, text string"

# transcript rows with this box_order mark a failed image decode/OCR —
# excluded from document reassembly, surfaced via ocr_errors()
ERROR_BOX_ORDER = -1
SPAN_STRUCT = ("struct<kind:string,text:string,media_ref:string,"
               "offset:int>")


def _resolve_path(path: str) -> str:
    """Absolute path as-is; else resolve via SparkFiles (cluster mode:
    ship the .npz with spark-submit --files)."""
    import os

    if os.path.exists(path):
        return path
    from pyspark import SparkFiles

    return SparkFiles.get(os.path.basename(path))


def _get_weights(spec: dict) -> tuple[dict, dict]:
    """The weight pair of a ``file_weights_spec``, loaded once per
    python worker."""
    key = (spec["ctpn"], spec["crnn"])
    if key not in _WORKER_CACHE:
        import numpy as np

        def load(p):
            with np.load(_resolve_path(p)) as z:
                return {k: z[k] for k in z.files}

        _WORKER_CACHE[key] = (load(spec["ctpn"]), load(spec["crnn"]))
    return _WORKER_CACHE[key]


def make_ocr_udf(weights_spec, cfg: PipelineConfig, timing_acc=None):
    """Iterator-of-DataFrames UDF: (media_ref, height, width, channels,
    data) batches -> (media_ref, box_order, text) rows.

    ``timing_acc``: optional list-accumulator; when set, each task adds
    ONE (partition_id, n_images, wall_ms) triple on completion — the
    per-partition wall source for the lineage job's _metrics table
    (straggler observability; task retries may double-count, which is
    fine for a diagnostic)."""

    def ocr_batches(batches: Iterator[pd.DataFrame]
                    ) -> Iterator[pd.DataFrame]:
        import time as _time

        import numpy as np

        from ocr_pytorch_spark.oracle import ocr_image

        _t0 = _time.time()
        _n_imgs = 0
        ctpn_w, crnn_w = _get_weights(weights_spec)
        for pdf in batches:
            _n_imgs += len(pdf)
            refs: list[str] = []
            orders: list[int] = []
            texts: list[str] = []
            for ref, h, w, c, data in zip(
                    pdf["media_ref"], pdf["height"], pdf["width"],
                    pdf["channels"], pdf["data"]):
                try:
                    img = np.frombuffer(data, dtype=np.uint8).reshape(
                        int(h), int(w), int(c))
                    results = ocr_image(img, ctpn_w, crnn_w, cfg)
                except Exception as exc:  # poison-row tolerance (K3):
                    # one corrupt image must not fail the partition;
                    # emit an ERROR_BOX_ORDER row for the metrics/error
                    # sink instead (reference analogue: error_imgs.txt,
                    # train_code/.../dataset.py:181-190)
                    refs.append(ref)
                    orders.append(ERROR_BOX_ORDER)
                    texts.append(f"{type(exc).__name__}: {exc}"[:200])
                    continue
                for order, (_, text) in enumerate(results):
                    refs.append(ref)
                    orders.append(order)
                    texts.append(text)
            yield pd.DataFrame(
                {"media_ref": refs,
                 "box_order": pd.array(orders, dtype="int32"),
                 "text": texts})
        if timing_acc is not None:
            from pyspark import TaskContext
            tc = TaskContext.get()
            pid = tc.partitionId() if tc is not None else -1
            timing_acc.add([(pid, _n_imgs,
                             int((_time.time() - _t0) * 1000))])

    return ocr_batches


class ListAccumulatorParam:
    """AccumulatorParam collecting small lists of tuples (per-partition
    timing rows).  Import-light: duck-typed against
    pyspark.accumulators.AccumulatorParam."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def ocr_timing_accumulator(spark):
    """-> a list accumulator make_ocr_udf/extract can fill with
    (partition_id, n_images, wall_ms) rows."""
    return spark.sparkContext.accumulator([], ListAccumulatorParam())


def file_weights_spec(ctpn_path: str | None = None,
                      crnn_path: str | None = None) -> dict:
    """Default weight-shipping mechanism: workers np.load the bundled
    .npz (page-cache-shared across local workers; on a real cluster the
    files travel with spark-submit --files and resolve via SparkFiles).
    ~0.3s once per worker vs ~7s per broadcast fetch (measured)."""
    import os

    from ocr_pytorch_spark.models.weights import weights_dir

    d = weights_dir()
    return {"ctpn": ctpn_path or os.path.join(d, "ctpn.npz"),
            "crnn": crnn_path or os.path.join(d, "crnn.npz")}


def explode_spans(documents: DataFrame) -> DataFrame:
    return documents.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("src_offset"),
    )


def ocr_transcripts(images: DataFrame, media_spans: DataFrame,
                    weights_spec, cfg: PipelineConfig,
                    salt_partitions: int | None = None,
                    timing_acc=None) -> DataFrame:
    """(media_ref, box_order, text) for every distinct needed image."""
    spark = images.sparkSession
    needed = media_spans.select("media_ref").distinct()
    # semi join: image bytes never join doc rows; broadcast when small
    todo = images.join(needed, "media_ref", "left_semi")
    # 4 waves per core: small task quanta bound the straggler penalty of
    # variable per-image cost (image widths vary ~3x).  Swept r2 at
    # bench scale (128 imgs, local[32]): 32p=20.6, 64p=25.6, 128p=26.0,
    # 256p=21.0 img/s — the 4-wave default is the measured optimum
    p = salt_partitions or max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        4 * spark.sparkContext.defaultParallelism)
    # salted repartition: uniform spread of distinct images for the
    # compute-heavy UDF stage (explicit skew-breaker, SURVEY.md §4.3);
    # the explicit partition count marks the shuffle REPARTITION_BY_NUM
    # so AQE does not coalesce this low-bytes/high-compute stage
    todo = todo.repartition(p, F.xxhash64("media_ref"))
    return todo.mapInPandas(make_ocr_udf(weights_spec, cfg, timing_acc),
                            schema=OCR_OUT_SCHEMA)


def ocr_errors(transcripts: DataFrame) -> DataFrame:
    """Error-sink view over a transcripts frame: one row per image whose
    decode/OCR failed (media_ref, error message)."""
    return (transcripts.where(F.col("box_order") == ERROR_BOX_ORDER)
            .select("media_ref", F.col("text").alias("error")))


def extract(documents: DataFrame, images: DataFrame, weights_spec=None,
            cfg: PipelineConfig | None = None,
            salt_partitions: int | None = None,
            timing_acc=None) -> DataFrame:
    """documents(doc_id, spans) x images -> extracted(doc_id, spans).

    Text spans pass through untouched; media spans are replaced by their
    image's OCR'd text spans in reading order; output offsets renumber
    0..n-1 by (source offset, box order).  Per-row invariant vs the
    oracle: span-sequence equality on (kind, text, media_ref, order).
    """
    cfg = cfg or PipelineConfig.fixture()
    if weights_spec is None:
        weights_spec = file_weights_spec()
    spans = explode_spans(documents)

    text_spans = (
        spans.where(F.col("kind") == "text")
        .select("doc_id", "src_offset",
                F.lit(0).cast("int").alias("box_order"), "text",
                F.lit(None).cast("string").alias("media_ref"))
    )
    media_spans = (
        spans.where(F.col("kind") == "media")
        .select("doc_id", "src_offset", "media_ref")
    )

    transcripts = ocr_transcripts(images, media_spans, weights_spec, cfg,
                                  salt_partitions, timing_acc)
    ocr_spans = (
        media_spans.join(
            transcripts.where(F.col("box_order") != ERROR_BOX_ORDER),
            "media_ref", "inner")
        .select("doc_id", "src_offset", "box_order", "text", "media_ref")
    )

    all_spans = text_spans.unionByName(ocr_spans)
    assembled = (
        all_spans
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct(
            "src_offset", "box_order", "text", "media_ref"))).alias("seq"))
        .select(
            "doc_id",
            F.transform(
                "seq",
                lambda s, i: F.struct(
                    F.lit("text").alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            ).cast(f"array<{SPAN_STRUCT}>").alias("spans"),
        )
    )
    # docs whose spans all vanished (or were empty) still appear, with []
    return (
        documents.select("doc_id")
        .join(assembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                "spans",
                F.expr(f"cast(array() as array<{SPAN_STRUCT}>)"),
            ).alias("spans"),
        )
    )
