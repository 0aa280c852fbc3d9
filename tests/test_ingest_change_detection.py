"""Batch ingest change detection: which files a run ingests, and what it
costs in Spark jobs.

- Parity: folder shapes (empty, non-parquet only, nested, same file
  names in two folders) and file histories (content change, A->B->A
  revert, same-content rewrite) give exact ``RunSummary`` counts and
  gold row counts.
- Job guard: an idle re-run launches the same, small number of Spark
  jobs whether the source root holds 1 symbol folder or 4.
- Dedup bounds: the quality pass's ``DateTime`` range is the one
  ``dedup_against_table`` would compute itself, and passing it in skips
  that probe without changing the deduped rows.
"""

from __future__ import annotations

import datetime as dt
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from apache_iceberg_pyiceberg_local_data_lakehouse_spark.functions.normalize import (
    normalize,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.functions.quality import (
    check_quality,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.ingest import (
    IngestPipeline,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.dedup import (
    dedup_against_table,
)

BASE = dt.datetime(2024, 3, 1)


def _ticks(path, n: int = 150, start: int = 0) -> None:
    """``n`` one-second ticks from ``BASE + start`` seconds."""
    path.parent.mkdir(parents=True, exist_ok=True)
    ts = [BASE + dt.timedelta(seconds=start + i) for i in range(n)]
    pq.write_table(
        pa.table(
            {
                "DateTime": pa.array(ts, type=pa.timestamp("us")),
                "Bid": pa.array(np.linspace(1.1, 1.2, n)),
                "Ask": pa.array(np.linspace(1.2, 1.3, n)),
            }
        ),
        path,
    )


def _counts(s):
    return (
        s.tables_processed,
        s.files_processed,
        s.files_skipped,
        s.files_rejected,
        s.rows_appended,
    )


def _rows(pipeline, table_id: str) -> int:
    return pipeline.catalog.load_table(table_id).to_df().count()


def _jobs(spark, fn):
    """Run ``fn`` and return ``(its result, Spark jobs it launched)``."""
    sc = spark.sparkContext
    group = f"job-guard-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("per_file", [False, True], ids=["batch", "per_file"])
def test_change_detection_folder_shapes(spark, tmp_path, per_file):
    """An empty folder and a folder of non-parquet files ingest nothing;
    files in a nested subfolder belong to their symbol; two folders with
    the same file names are told apart by their paths."""
    src = tmp_path / "src"
    (src / "EMPTY").mkdir(parents=True)
    (src / "DOCS").mkdir()
    (src / "DOCS" / "notes.txt").write_text("not a tick file")
    (src / "DOCS" / "ticks.csv").write_text("DateTime,Bid,Ask\n")
    _ticks(src / "NESTED" / "2024" / "03" / "a.parquet", 150)
    _ticks(src / "NESTED" / "b.parquet", 150, start=150)
    _ticks(src / "EURUSD" / "tick_0000.parquet", 150)
    _ticks(src / "USDJPY" / "tick_0000.parquet", 120, start=1000)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))

    s1 = pipeline.run(str(src), per_file=per_file)
    assert _counts(s1) == (3, 4, 0, 0, 570)
    assert _rows(pipeline, "gold.nested") == 300
    assert _rows(pipeline, "gold.eurusd") == 150
    assert _rows(pipeline, "gold.usdjpy") == 120
    assert not pipeline.catalog.table_exists("gold.empty")
    assert not pipeline.catalog.table_exists("gold.docs")

    s2 = pipeline.run(str(src), per_file=per_file)
    assert _counts(s2) == (0, 0, 4, 0, 0)

    # a same-named file lands in one folder only: only that one is new
    _ticks(src / "USDJPY" / "tick_0001.parquet", 120, start=1120)
    s3 = pipeline.run(str(src), per_file=per_file)
    assert _counts(s3) == (1, 1, 4, 0, 120)
    assert _rows(pipeline, "gold.eurusd") == 150
    assert _rows(pipeline, "gold.usdjpy") == 240


def test_change_detection_content_history(spark, tmp_path):
    """The latest ledger entry per path decides: a content change
    re-ingests, an A->B->A revert re-ingests (B is the latest entry), and
    a rewrite with the same bytes is skipped."""
    src = tmp_path / "src"
    f = src / "EURUSD" / "tick.parquet"
    _ticks(f, 150)  # content A
    a_bytes = f.read_bytes()
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    assert _counts(pipeline.run(str(src))) == (1, 1, 0, 0, 150)

    _ticks(f, 150, start=100)  # content B: 50 keys overlap A
    assert _counts(pipeline.run(str(src))) == (1, 1, 0, 0, 100)
    assert _rows(pipeline, "gold.eurusd") == 250

    f.write_bytes(a_bytes)  # revert to A: every key already committed
    assert _counts(pipeline.run(str(src))) == (1, 1, 0, 0, 0)
    assert _rows(pipeline, "gold.eurusd") == 250

    f.write_bytes(a_bytes)  # same content again, new mtime
    assert _counts(pipeline.run(str(src))) == (0, 0, 1, 0, 0)
    assert _rows(pipeline, "gold.eurusd") == 250


def test_idle_rerun_jobs_do_not_grow_with_folders(spark, tmp_path):
    """Change detection is one query per run: an idle re-run over 4
    symbol folders launches as many Spark jobs as one over 1 folder, and
    few of them: change detection only, the audit row is written by
    the driver."""
    idle_jobs = {}
    for n_folders in (1, 4):
        src = tmp_path / f"src{n_folders}"
        for i in range(n_folders):
            _ticks(src / f"SYM{i}" / "tick_0000.parquet", 120, start=i * 1000)
        pipeline = IngestPipeline(spark, str(tmp_path / f"wh{n_folders}"))
        assert pipeline.run(str(src)).files_processed == n_folders
        s, idle_jobs[n_folders] = _jobs(spark, lambda: pipeline.run(str(src)))
        assert _counts(s) == (0, 0, n_folders, 0, 0)
    assert idle_jobs[1] == idle_jobs[4], idle_jobs
    assert idle_jobs[4] <= 4, idle_jobs


def test_quality_bounds_feed_dedup(spark, tmp_path):
    """``check_quality`` reports the batch's DateTime range; it equals the
    range ``dedup_against_table`` computes itself, and passing it in
    skips that probe and yields the same deduped rows."""
    src = tmp_path / "src"
    _ticks(src / "EURUSD" / "a.parquet", 150)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    pipeline.run(str(src))
    table = pipeline.catalog.load_table("gold.eurusd")

    _ticks(src / "EURUSD" / "b.parquet", 150, start=100)
    df = normalize(spark.read.parquet(str(src / "EURUSD" / "b.parquet")))
    report = check_quality(df)
    lo, hi = df.agg(F.min("DateTime"), F.max("DateTime")).collect()[0]
    bounds = (report.metrics["min_DateTime"], report.metrics["max_DateTime"])
    assert bounds == (lo, hi)
    assert bounds == (BASE + dt.timedelta(seconds=100), BASE + dt.timedelta(seconds=249))

    probed, probe_jobs = _jobs(spark, lambda: dedup_against_table(df, table))
    given, given_jobs = _jobs(
        spark, lambda: dedup_against_table(df, table, bounds=bounds)
    )
    assert given_jobs == 0 < probe_jobs
    rows = sorted(probed.collect())
    assert len(rows) == 100
    assert sorted(given.collect()) == rows
