"""SparkSession factory with the engine's scale-oriented defaults.

AQE (runtime coalescing + skew-join splitting) and Arrow batching are
load-bearing here — the north_star requires AQE-coalesced shuffles, and
the OCR UDFs consume Arrow batches of raw image bytes
(SURVEY.md §4.2-4.3).
"""

from __future__ import annotations

import os

MAX_DRIVER_MEM_MB = 48 * 1024


def _default_driver_mem() -> str:
    """min(48g, a quarter of the host's RAM): a heap sized past what the
    host holds lets the driver JVM grow until the kernel OOM-kills it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(MAX_DRIVER_MEM_MB, kb // 4096)}m"


def get_spark(app: str = "ocr_pytorch_spark", cpus: str | None = None,
              shuffle_partitions: int | None = None,
              arrow_batch: int = 32):
    # single-thread BLAS in every python worker (forked before numpy init)
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    # make this package importable in python workers (local mode: the JVM
    # inherits the driver env, workers inherit PYTHONPATH from the JVM)
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{pp}" if pp else repo_root)
    from pyspark.sql import SparkSession

    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle_partitions = shuffle_partitions or max(
        32, (os.cpu_count() or 8))
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(arrow_batch))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        # keep [Stage N:===>] progress bars off stdout, where callers
        # such as perfbench/run.py print machine-parsed JSON lines
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
    )
    # same GEMM kernel in every python worker as in the driver (package
    # __init__ detected it from cpu flags) — keeps oracle==UDF bitwise
    coretype = os.environ.get("OPENBLAS_CORETYPE")
    if coretype:
        builder = builder.config(
            "spark.executorEnv.OPENBLAS_CORETYPE", coretype)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
