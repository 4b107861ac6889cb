"""Image-file ingestion source: real PNG/JPEG FILES -> the engine's
raw-RGB images table.

The reference's own demo inputs are image files read with cv2.imread
(demo.py:11 over test_images/*.* — PNGs in the shipped repo, JPEGs
equally accepted) and its rendered output is a JPEG
(test_result/t1.jpg); this source gives the Spark engine the same
capability without PIL/cv2 via the pure-NumPy codecs in
``kernels/png.py`` and ``kernels/jpeg.py`` (magic-byte dispatch, so
one scan handles a mixed directory).  ``tests/assets/ref_t1.png`` and
``tests/assets/ref_t1.jpg`` are reference files checked in so the
ingest path is exercised against real inputs from both codecs.

Flow: ``spark.read.format("binaryFile")`` (built-in, splits by file)
-> Arrow-batched ``mapInPandas`` decode -> (media_ref, height, width,
channels, data) rows identical to the native image table, so OCR
extract works on decoded PNGs unchanged.  Corrupt files follow the K3
poison-row contract: they become (media_ref, -1, -1, -1, error bytes)
rows surfaced by ``png_errors`` instead of failing the partition.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

RAW_IMAGE_SCHEMA = ("media_ref string, height int, width int, "
                    "channels int, data binary")


def read_png_dir(spark: SparkSession, path: str,
                 glob: str = "*.png") -> DataFrame:
    """Directory of PNG files -> (media_ref, content) binary rows.
    binaryFile is a built-in source: file listing is distributed and
    each file is one row, so a 10^9-file corpus scans in parallel
    (on a real lake you'd land these in parquet/Iceberg first)."""
    df = (spark.read.format("binaryFile")
          .option("pathGlobFilter", glob).load(path))
    name = F.element_at(F.split(F.col("path"), "/"), -1)
    return df.select(name.alias("media_ref"), "content")


def read_image_dir(spark: SparkSession, path: str,
                   glob: str = "*.{png,jpg,jpeg}") -> DataFrame:
    """Mixed-codec directory scan (PNG + JPEG); decode dispatches on
    magic bytes per file in decode_png_images."""
    return read_png_dir(spark, path, glob)


def decode_png_images(png_df: DataFrame,
                      ref_col: str = "media_ref",
                      bytes_col: str = "content") -> DataFrame:
    """(media_ref, <bytes>) -> raw-RGB images table rows.  Decode is a
    map-side Arrow-batched UDF (no shuffle); poison rows get
    height = -1 and the error text as data."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_pytorch_spark.kernels import decode_image

        for pdf in batches:
            refs, hs, ws, cs, datas = [], [], [], [], []
            for ref, blob in zip(pdf[ref_col], pdf[bytes_col]):
                try:
                    img = decode_image(bytes(blob))
                    h, w, c = img.shape
                    payload = img.tobytes()
                except Exception as exc:
                    h = w = c = -1
                    payload = f"{type(exc).__name__}: {exc}"[:200] \
                        .encode()
                refs.append(ref)
                hs.append(h)
                ws.append(w)
                cs.append(c)
                datas.append(payload)
            yield pd.DataFrame(
                {"media_ref": refs,
                 "height": pd.array(hs, dtype="int32"),
                 "width": pd.array(ws, dtype="int32"),
                 "channels": pd.array(cs, dtype="int32"),
                 "data": datas})

    return png_df.mapInPandas(dec, schema=RAW_IMAGE_SCHEMA)


def png_errors(images: DataFrame) -> DataFrame:
    """Error-sink view over decoded rows (K3 analogue)."""
    return (images.where(F.col("height") < 0)
            .select("media_ref",
                    F.decode(F.col("data"), "UTF-8").alias("error")))


def encode_fixture_pngs(spark: SparkSession, refs: list[str],
                        filter_cycle: bool = True) -> DataFrame:
    """Deterministic PNG corpus for tests/queries: fixture images
    (pure functions of the ref name, datagen.gen_image_array) encoded
    in-executor, cycling through the five PNG filter types so decode
    coverage is structural, not incidental."""

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_pytorch_spark import datagen
        from ocr_pytorch_spark.kernels.png import encode_png

        for pdf in batches:
            out_refs, blobs = [], []
            for i, ref in enumerate(pdf["media_ref"]):
                img, _ = datagen.gen_image_array(ref)
                ft = (i % 5) if filter_cycle else 0
                out_refs.append(ref)
                blobs.append(encode_png(img, ft))
            yield pd.DataFrame({"media_ref": out_refs, "content": blobs})

    base = spark.createDataFrame([(r,) for r in refs], "media_ref string")
    return base.repartition(max(1, min(len(refs), 8))) \
        .mapInPandas(enc, schema="media_ref string, content binary")
