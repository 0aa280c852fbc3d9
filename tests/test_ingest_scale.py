"""Scale posture of the ingest/commit path: change detection runs on
the driver without Spark jobs, and commit-time stats stay complete.

- A re-run over 100 already-ingested files launches no Spark job:
  listing, md5 and the ledger lookup all run on the driver. Skips,
  row counts and a late file's re-ingest stay exact.
- A re-run over 1,000 files calls no ``DataFrame.collect``: the ledger
  is read from its files, not pulled through Spark.
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

from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
    LakehouseCatalog,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.ingest import (
    IngestPipeline,
)
from tests.test_ingest_change_detection import _jobs

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


def test_batch_rerun_launches_no_jobs(spark, tmp_path):
    """100 files through the default (batch) mode; the idempotent re-run
    over them launches no Spark job: discovery, hashing and the ledger
    lookup all run on the driver."""
    src = tmp_path / "src" / "EURUSD"
    _write_tick_files(str(src), N_FILES)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))

    s1 = pipeline.run(str(tmp_path / "src"))
    assert s1.files_processed == N_FILES
    assert s1.rows_appended == N_FILES * 120
    table = pipeline.catalog.load_table("gold.eurusd")
    assert table.to_df().count() == N_FILES * 120

    # idempotent re-run: everything checksum-skips, nothing appends
    s2, jobs = _jobs(spark, lambda: pipeline.run(str(tmp_path / "src")))
    assert jobs == 0
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


def test_rerun_calls_no_collect(spark, tmp_path, monkeypatch):
    """A re-run over a large already-ingested tree (1000 files) calls no
    ``DataFrame.collect``: change detection reads the ledger's files on
    the driver, so not even the skip count goes through Spark. 3 late
    files then re-ingest exactly."""
    # patch the CONCRETE class (pyspark.sql.DataFrame is the abstract
    # base in Spark 4; instances override collect)
    from pyspark.sql.classic.dataframe import DataFrame

    n_files = 1000
    src = tmp_path / "src" / "EURUSD"
    _write_tick_files(str(src), n_files, rows_per_file=120)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    s1 = pipeline.run(str(tmp_path / "src"))
    assert s1.files_processed == n_files

    collects = []
    orig_collect = DataFrame.collect

    def spy(self):
        collects.append(self.schema.simpleString())
        return orig_collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)

    s2 = pipeline.run(str(tmp_path / "src"))
    assert s2.files_skipped == n_files and s2.files_processed == 0
    assert collects == []

    _write_tick_files(str(src / "late"), 3, rows_per_file=150)
    s3 = pipeline.run(str(tmp_path / "src"))
    assert s3.files_skipped == n_files and s3.files_processed == 3
