"""Table loading and the pluggable Iceberg/Parquet writer.

The engine targets Iceberg tables (BASELINE.json north_rule); the sandbox
has no Iceberg runtime jar, so the writer degrades to partitioned Parquet
with the same per-partition-atomic overwrite semantics
(``partitionOverwriteMode=dynamic``), which is what the lineage/resume
layer relies on (SURVEY.md §4.3, §7.2).  Commit bookkeeping on top of
these writes (the ``_lineage``/``_metrics`` tables that make a bucket
committed) lives in ``plans/lineage.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def is_table_ident(dst: str) -> bool:
    """catalog.namespace.table identifier vs a filesystem path."""
    return dst.count(".") >= 2 and not os.path.isabs(dst) \
        and "/" not in dst


def write_partitioned(df: DataFrame, dst: str, partition_cols: list[str],
                      mode: str = "overwrite") -> None:
    """Write with per-partition-atomic overwrite: when ``dst`` is a
    catalog identifier and the Iceberg runtime is on the classpath,
    a native Iceberg table (created partitioned on first write, then
    ``overwritePartitions`` / ``append``); else Parquet dynamic
    partition overwrite.  Both make per-bucket re-writes idempotent
    for resume (SURVEY.md §7.2; tests/test_iceberg_native.py)."""
    spark = df.sparkSession
    if is_table_ident(dst) and iceberg_available(spark):
        from pyspark.sql.functions import col
        writer = df.writeTo(dst).using("iceberg")
        if not spark.catalog.tableExists(dst):
            if partition_cols:
                writer = writer.partitionedBy(
                    *[col(c) for c in partition_cols])
            writer.create()
        elif mode == "overwrite":
            writer.overwritePartitions()
        else:
            writer.append()
        return
    # pin dynamic overwrite on the writer — session conf may be static
    (df.write.mode(mode)
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(*partition_cols).parquet(dst))


def read_partitioned(spark: SparkSession, dst: str) -> DataFrame:
    """Read back what ``write_partitioned`` wrote (table or path)."""
    if is_table_ident(dst) and iceberg_available(spark):
        return spark.read.table(dst)
    return spark.read.parquet(dst)
