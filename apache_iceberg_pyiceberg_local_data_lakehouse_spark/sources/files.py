"""File sources (SURVEY.md §2.1 S1-S3, S12 + X5 binary ingestion).

- S1/S2: parquet scan with recursive discovery - Spark's reader natively
  handles multi-file/recursive layouts; at scale, file listing happens on
  the driver against the FS/object store, reads on executors.
- S3: directory-per-table layout - one DataFrame per first-level folder.
- S12: content checksums, matching the reference's md5-of-bytes ledger
  exactly. Ingest's change detection lists a folder on the driver
  (``list_parquet_files``, by the rules of Spark's binaryFile scan) and
  hashes the files there; ``file_checksums`` is the same listing and
  md5 as a distributed binaryFile scan.
- Parquet footers read on the driver (``parquet_footers``): the ingest
  quality gate's numbers, and the key (``read_schema_key``) under which
  ingest remembers the schema Spark inferred for a footer shape.
- X5: binaryFile ingestion for multimodal blobs (images/audio) into
  binary columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# the SQL confs Spark's ParquetToSparkSchemaConverter reads: a footer
# and these values fix the schema Spark infers for it
READ_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
)
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def parquet_footers(paths: list[str]) -> list | None:
    """Each file's Parquet footer (``pyarrow.parquet.FileMetaData``),
    read on the driver; ``None`` if any file's footer cannot be read,
    so that Spark's reader reports the file as it always did."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        return [pq.read_metadata(p) for p in paths]
    except (OSError, pa.ArrowException):
        return None


def read_schema_key(footer) -> tuple[str, bytes | None]:
    """What Spark's schema inference reads from one footer: the Parquet
    schema text (without pyarrow's object-address line) and the Spark
    row schema a Spark writer stores beside it."""
    text = str(footer.schema).split("\n", 1)[1]
    return text, (footer.metadata or {}).get(_SPARK_ROW_METADATA)


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


def _hidden_name(name: str) -> bool:
    """Spark's ``HadoopFSUtils.shouldFilterOutPathName`` without its
    ``_metadata`` exemption: a name starting with ``.``, one starting
    with ``_`` that holds no ``=`` (``_k=1`` is a partition directory),
    or an in-flight copy ending ``._COPYING_``."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def list_parquet_files(folder: str) -> list[str]:
    """The files under ``folder``, at any depth, that Spark's binaryFile
    scan with ``pathGlobFilter="*.parquet"`` and ``recursiveFileLookup``
    reads (``file_checksums``), as sorted ``os.path.abspath`` strings:

    - a directory is entered unless its name is hidden; Spark exempts
      names starting ``_metadata`` or ``_common_metadata``, so it
      enters ``_metadata/`` but not ``_d/``;
    - a file is kept when its name is not hidden (no exemption: Spark's
      data-path check drops ``_metadata.parquet``), ends ``.parquet``
      (case-sensitive) and it is not empty;
    - symlinked directories and files are followed; a broken link is
      neither, and is skipped.

    The listing runs on the driver, as Spark's file index lists there."""
    out = []
    stack = [folder]
    while stack:
        with os.scandir(stack.pop()) as it:
            for e in it:
                name = e.name
                if e.is_dir():
                    if not _hidden_name(name) or name.startswith(
                        ("_metadata", "_common_metadata")
                    ):
                        stack.append(e.path)
                elif (
                    name.endswith(".parquet")
                    and not _hidden_name(name)
                    and e.is_file()
                    and e.stat().st_size > 0
                ):
                    out.append(os.path.abspath(e.path))
    return sorted(out)


def file_checksums(
    spark: SparkSession,
    path: str,
    glob: str = "*.parquet",
    recursive: bool = True,
) -> DataFrame:
    """S12 as a distributed scan: md5 of file contents via the binaryFile
    source - returns (path, length, modificationTime, checksum). The md5
    matches the reference's md5-of-bytes exactly
    (``lakehouse_pipeline.py:122-128``) and runs on executors. ``path``
    is normalized from Spark's ``file:`` URI back to a plain filesystem
    path, the form the ingest ledger stores. With the default arguments
    it lists exactly the files of ``list_parquet_files``."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
        .selectExpr(
            "regexp_replace(path, '^file:/+', '/') AS path",
            "length",
            "modificationTime",
            "md5(content) AS checksum",
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
