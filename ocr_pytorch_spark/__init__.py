"""ocr_pytorch_spark — a PySpark-native OCR/extraction analytics engine.

Re-expresses the capabilities of courao/ocr.pytorch (two-stage CTPN text
detection + CRNN/CTC recognition over images) as an idiomatic Spark pipeline
over Iceberg/Parquet tables of interleaved text+media documents:

* relational skeleton (scan / explode / join / regroup / write) = pure
  DataFrame API, optimized by Catalyst/AQE;
* the compute kernels (VGG16+BiGRU CTPN forward, CRNN BiLSTM forward,
  anchor decode, NMS, text-line connection, CTC collapse) = deterministic
  NumPy inside Arrow-vectorized ``mapInPandas`` UDFs, weights shipped as
  ``.npz`` files and loaded once per python worker;
* a single-process oracle (``ocr_pytorch_spark.oracle``) that is the
  correctness ground truth — the Spark pipeline must reproduce its span
  sequence ``(kind, text, media_ref, order)`` exactly.

Alongside the extraction pipeline, :mod:`ocr_pytorch_spark.operators`
ships the large-scale training-data operators (dedup, similarity search,
text quality) needed to run this engine as a web-scale data pipeline.
"""

import os as _os

# Force deterministic, non-oversubscribed BLAS before numpy first loads in
# Spark python workers (harmless if numpy is already initialised).  Every
# executor core runs its own python worker; 1 BLAS thread per worker keeps
# local[32] from oversubscribing and keeps GEMM reduction order identical
# between the driver-side oracle and executor-side UDFs.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    _os.environ.setdefault(_v, "1")


def _blas_coretype() -> str | None:
    """Pick the OpenBLAS kernel family from /proc/cpuinfo flags.

    On virtualized hosts the CPU model string is generic ("Intel Xeon
    Processor @ …") and OpenBLAS's DYNAMIC_ARCH auto-detection falls
    back to a pre-AVX-512 kernel: measured 29 GFLOP/s single-thread
    sgemm vs 122 GFLOP/s with the matching kernel forced — a 4.2×
    swing on the conv-bound OCR path.  Flags don't lie, so force it.

    MUST run before numpy first loads libopenblas (the env var is read
    at library init).  The session factory forwards the choice to
    executor python workers so driver-side oracle and executor-side
    UDFs run the *same* GEMM kernel — different kernels produce
    bitwise-different accumulations (span decodes agree, but the
    engine's determinism story is bit-level; see
    tests/test_blas_coretype.py).
    """
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("flags"):
                    flags = set(line.split(":", 1)[1].split())
                    break
            else:
                return None
    except OSError:
        return None
    if "avx512_bf16" in flags:
        return "COOPERLAKE"
    if "avx512f" in flags:
        return "SKYLAKEX"
    if "avx2" in flags and "fma" in flags:
        return "HASWELL"
    return None


_ct = _blas_coretype()
if _ct is not None:
    _os.environ.setdefault("OPENBLAS_CORETYPE", _ct)

__version__ = "0.1.0"
