"""Scale posture of the ingest/commit path: change detection and
commit-time stats must not degenerate into per-file driver loops.

- The batch ingest mode must never call the driver-side md5
  (``ingest.file_checksum``) - checksums come from a distributed
  binaryFile job left-joined against the ledger table, and only the
  unseen files' (path, checksum) pairs reach the driver.
- Appends with hundreds of output files must still produce a complete
  manifest (rows, bytes, per-column min/max for every file) - the footer
  reads run as a Spark job past ``_STATS_JOB_THRESHOLD``.
"""

from __future__ import annotations

import datetime as dtm
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from apache_iceberg_pyiceberg_local_data_lakehouse_spark import ingest as ingest_mod
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
    LakehouseCatalog,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.ingest import (
    IngestPipeline,
)

N_FILES = 100


def _write_tick_files(src: str, n_files: int, rows_per_file: int = 120) -> None:
    os.makedirs(src, exist_ok=True)
    base = dtm.datetime(2024, 1, 1)
    for i in range(n_files):
        start = i * rows_per_file
        ts = [base + dtm.timedelta(seconds=start + j) for j in range(rows_per_file)]
        pq.write_table(
            pa.table(
                {
                    "DateTime": pa.array(ts, type=pa.timestamp("us")),
                    "Bid": pa.array(np.linspace(1.1, 1.2, rows_per_file)),
                    "Ask": pa.array(np.linspace(1.2, 1.3, rows_per_file)),
                }
            ),
            os.path.join(src, f"chunk_{i:04d}.parquet"),
        )


def test_batch_ingest_never_hashes_on_driver(spark, tmp_path, monkeypatch):
    """100 files through the default (batch) mode with the driver md5
    forbidden: discovery, skip detection and ledger recording must all
    come from the distributed checksum job."""

    def _forbidden(*a, **k):
        raise AssertionError("driver-side file_checksum called in batch mode")

    monkeypatch.setattr(ingest_mod, "file_checksum", _forbidden)

    src = tmp_path / "src" / "EURUSD"
    _write_tick_files(str(src), N_FILES)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))

    s1 = pipeline.run(str(tmp_path / "src"))
    assert s1.files_processed == N_FILES
    assert s1.rows_appended == N_FILES * 120
    table = pipeline.catalog.load_table("gold.eurusd")
    assert table.to_df().count() == N_FILES * 120

    # idempotent re-run: everything checksum-skips, nothing appends
    s2 = pipeline.run(str(tmp_path / "src"))
    assert s2.files_skipped == N_FILES
    assert s2.files_processed == 0
    assert s2.rows_appended == 0
    assert table.to_df().count() == N_FILES * 120

    # content change on one file: exactly that file re-ingests, and the
    # J1 dedup keeps the table's row multiset unchanged
    first = sorted(src.iterdir())[0]
    data = pq.read_table(first)
    pq.write_table(data, first)  # rewrite -> new mtime, same content
    s3 = pipeline.run(str(tmp_path / "src"))
    assert s3.files_skipped == N_FILES  # same checksum: still skipped

    _write_tick_files(str(src / "late"), 1, rows_per_file=150)
    s4 = pipeline.run(str(tmp_path / "src"))
    assert s4.files_skipped == N_FILES and s4.files_processed == 1


def test_large_append_manifest_complete(spark, tmp_path):
    """A 200-file append (past the distributed-stats threshold) records a
    full manifest: every entry carries rows, bytes and min/max stats, and
    file-level pruning over those stats still works."""
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("bench")
    df = spark.range(20_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    t = cat.create_table("bench.wide", df.schema)
    t.append(df.repartition(200))

    snap = t.snapshot()
    assert len(snap.manifest) >= 200
    assert sum(e["rows"] for e in snap.manifest) == 20_000
    for e in snap.manifest:
        assert e["bytes"] > 0
        assert "k" in e["stats"] and len(e["stats"]["k"]) == 2
    assert t.to_df().count() == 20_000

    # manifest min/max actually usable for pruning
    hit = [e for e in snap.manifest if e["stats"]["k"][0] <= 5 <= e["stats"]["k"][1]]
    assert 0 < len(hit) < len(snap.manifest)
    pruned = t.scan(file_filter=lambda e: e in hit)
    assert pruned.filter(F.col("k") == 5).count() == 1


def _file_pairs(schema, rows) -> int | None:
    """(path, checksum) pairs a collect brought to the driver: one per row
    when the first columns are ``path, checksum``, plus one per element of
    any collected list of ``(path, checksum, ...)`` structs. None when the
    collect carries no such pairs at all."""
    from pyspark.sql.types import ArrayType, StructType

    def is_pair(fields):
        return [f.name for f in fields[:2]] == ["path", "checksum"]

    lists = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, ArrayType)
        and isinstance(f.dataType.elementType, StructType)
        and is_pair(f.dataType.elementType.fields)
    ]
    top = is_pair(schema.fields)
    if not (top or lists):
        return None
    return (len(rows) if top else 0) + sum(
        len(r[name] or []) for r in rows for name in lists
    )


def test_rerun_collect_bounded_by_new_file_count(spark, tmp_path, monkeypatch):
    """A re-run over a large already-ingested tree must NOT pull one row
    per discovered file to the driver: skip counting is an aggregate, and
    the only (path, checksum) pairs collected are the unseen files -
    bounded by the NEW-file count (0 on a no-op re-run, 3 after 3 late
    files), not the 1000 discovered files. Pairs are counted whether they
    arrive as rows or inside a collected list."""
    # patch the CONCRETE class (pyspark.sql.DataFrame is the abstract
    # base in Spark 4; instances override collect)
    from pyspark.sql.classic.dataframe import DataFrame

    n_files = 1000
    src = tmp_path / "src" / "EURUSD"
    _write_tick_files(str(src), n_files, rows_per_file=120)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    s1 = pipeline.run(str(tmp_path / "src"))
    assert s1.files_processed == n_files

    collected_file_rows: list[int] = []
    orig_collect = DataFrame.collect

    def spy(self):
        rows = orig_collect(self)
        pairs = _file_pairs(self.schema, rows)
        if pairs is not None:
            collected_file_rows.append(pairs)
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)

    s2 = pipeline.run(str(tmp_path / "src"))
    assert s2.files_skipped == n_files and s2.files_processed == 0
    assert collected_file_rows, "no (path, checksum) collect was seen"
    assert all(n == 0 for n in collected_file_rows), collected_file_rows

    collected_file_rows.clear()
    _write_tick_files(str(src / "late"), 3, rows_per_file=150)
    s3 = pipeline.run(str(tmp_path / "src"))
    assert s3.files_skipped == n_files and s3.files_processed == 3
    assert max(collected_file_rows) == 3, collected_file_rows
