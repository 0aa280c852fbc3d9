"""File sources (SURVEY.md §2.1 S1-S3, S12 + X5 binary ingestion).

- S1/S2: parquet scan with recursive discovery - Spark's reader natively
  handles multi-file/recursive layouts; at scale, file listing happens on
  the driver against the FS/object store, reads on executors.
- S3: directory-per-table layout - one DataFrame per first-level folder.
- S12: content checksums via the binaryFile source + ``md5``: the batch
  ingest's change detection, matching the reference's md5-of-bytes
  ledger exactly.
- X5: binaryFile ingestion for multimodal blobs (images/audio) into
  binary columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_parquet_recursive(spark: SparkSession, path: str) -> DataFrame:
    """S1+S2: all parquet under ``path``, any depth."""
    return (
        spark.read.option("recursiveFileLookup", "true").parquet(path)
    )


def list_symbol_dirs(source_root: str) -> list[str]:
    """S3: first-level subfolders = one table each (reference
    ``lakehouse_pipeline.py:322-331``)."""
    if not os.path.isdir(source_root):
        return []
    return sorted(
        os.path.join(source_root, d)
        for d in os.listdir(source_root)
        if os.path.isdir(os.path.join(source_root, d))
    )


def file_checksums(
    spark: SparkSession,
    path: str,
    glob: str = "*.parquet",
    recursive: bool = True,
) -> DataFrame:
    """S12 at scale: distributed md5 of file contents via the binaryFile
    source - returns (path, length, modificationTime, checksum). The md5
    matches the reference's md5-of-bytes exactly
    (``lakehouse_pipeline.py:122-128``), but runs on executors: the
    ingest change-detection anti-join consumes this instead of a
    sequential driver hash loop. ``path`` is normalized from Spark's
    ``file:`` URI back to a plain filesystem path so it joins against
    ledger entries recorded by any mode."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
        .select(
            F.regexp_replace(F.col("path"), "^file:/+", "/").alias("path"),
            "length",
            "modificationTime",
            F.md5(F.col("content")).alias("checksum"),
        )
    )


def read_binary_files(spark: SparkSession, glob: str, mime: str | None = None) -> DataFrame:
    """X5: binary blobs as (path, content, mime, length) - the multimodal
    ingestion source feeding operators/multimodal.py."""
    df = (
        spark.read.format("binaryFile")
        .load(glob)
        .select(
            "path",
            "content",
            "length",
            "modificationTime",
        )
    )
    if mime:
        df = df.withColumn("mime", F.lit(mime))
    return df


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema=None,
    recursive: bool = True,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSONL corpus ingestion (the standard LLM training-data exchange
    format; .jsonl / .jsonl.gz - Spark decompresses per file).

    With an explicit ``schema`` the reader skips the inference pass
    (one full read saved - at 100 TB, mandatory) and runs PERMISSIVE:
    malformed lines land in ``corrupt_col`` instead of killing the job
    or being silently dropped. Returns (rows, corrupt) - the clean
    frame (corrupt rows removed, corrupt_col dropped) and the quarantine
    frame holding the raw bad lines for the reject audit, mirroring the
    QC-gate discipline of ingest.py."""
    from pyspark.sql.types import StringType, StructField, StructType

    reader = spark.read.option(
        "recursiveFileLookup", str(recursive).lower()
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", corrupt_col
    )
    if schema is not None:
        read_schema = StructType(
            list(schema.fields) + [StructField(corrupt_col, StringType())]
        )
        df = reader.schema(read_schema).json(path)
    else:
        df = reader.json(path)
    if corrupt_col not in df.columns:
        # inference saw only clean rows; quarantine is empty
        return df, df.limit(0).select(
            F.lit(None).cast("string").alias(corrupt_col)
        ).limit(0)
    # PERMISSIVE quirk: a corrupt row must be CACHED-or-rescanned to be
    # filterable (Spark requires referencing the corrupt column from a
    # materialized plan); selecting it through a checkpoint keeps the
    # split deterministic and single-pass
    df = df.localCheckpoint(eager=True)
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = df.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)
    return clean, quarantine
