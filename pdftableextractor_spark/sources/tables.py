"""Table reads and writes through one format seam (SURVEY.md §2.1).

Parquet in the sandbox; the same entry points take ``format='iceberg'`` on a
cluster with the Iceberg runtime — the engine never assumes anything beyond
``spark.read.format(...).load(...)``. Binary ingestion of raw PDFs maps to
``spark.read.format('binaryFile')`` (S1/S2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# The ONE production-format seam: every table read/write in the engine and
# the jobs routes through read_path/write_table below, so running against
# Iceberg is this single line → "iceberg" (plus the Iceberg runtime jars +
# catalog conf on the cluster; paths become catalog table identifiers via
# the same .format(...).load/save calls). Nothing else in the engine
# assumes parquet.
FORMAT = "parquet"


def read_path(spark: SparkSession, path: str) -> DataFrame:
    """Format-seam table read (see FORMAT)."""
    return spark.read.format(FORMAT).load(path)


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """Format-seam table write (see FORMAT). ``options`` pass through to the
    DataFrameWriter (e.g. partitionOverwriteMode='dynamic')."""
    w = df.write.mode(mode).format(FORMAT)
    for k, v in options.items():
        w = w.option(k, v)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)

