"""``IngestPipeline.run`` ingests the tables of one run concurrently.

- Same table: folders that name one table (``EURUSD/`` and ``eurusd/``)
  stay serial, so the second dedups against the first's commit.
- Context: every Spark job the run submits carries the caller's job
  group, job tag and session tag.
- Failure: a failing table re-raises after every worker finishes, and no
  ledger or audit row is written; the re-run leaves exactly the distinct
  keys.
- Expiry: a snapshot expiry that raises after the commit is logged as a
  warning, and the run still succeeds.
- Order: counters and quality issues merge in sorted folder order.
- Job guards: a plain two-symbol run, and a write-audit-publish one,
  launch 6 jobs.
"""

from __future__ import annotations

import uuid
import warnings

import pytest
from pyspark.sql import functions as F

from apache_iceberg_pyiceberg_local_data_lakehouse_spark.ingest import (
    IngestPipeline,
)
from tests.test_ingest_change_detection import _jobs, _rows, _ticks
from tests.test_wap import _tick_file


def _distinct_keys(pipeline, table_id: str) -> int:
    t = pipeline.catalog.load_table(table_id)
    return t.to_df().select(F.countDistinct("DateTime")).first()[0]


def test_same_table_folders_stay_serial(spark, tmp_path):
    """``EURUSD/`` and ``eurusd/`` both feed ``gold.eurusd`` and overlap
    by half: the table ends with one row per distinct key, and the run
    counts only the new keys. Racing the two folders would append the
    overlap twice."""
    src = tmp_path / "src"
    _ticks(src / "EURUSD" / "a.parquet", n=2000)
    _ticks(src / "eurusd" / "b.parquet", n=2000, start=1000)
    _ticks(src / "GBPUSD" / "a.parquet", n=2000)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    s = pipeline.run(str(src))
    assert _rows(pipeline, "gold.eurusd") == _distinct_keys(pipeline, "gold.eurusd")
    assert _rows(pipeline, "gold.eurusd") == 3000
    assert s.rows_appended == 3000 + 2000
    assert (s.tables_processed, s.files_processed) == (3, 3)


def test_run_inherits_callers_spark_context(spark, tmp_path):
    """A three-symbol run under a job group, a job tag and a session tag
    puts every job it submits into the group and tags it, and raises no
    warning that tags were not inherited."""
    src = tmp_path / "src"
    for i, sym in enumerate(("AUDUSD", "EURUSD", "GBPUSD")):
        _ticks(src / sym / "a.parquet", start=i)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    group, tag, session_tag = (f"{k}-{uuid.uuid4().hex}" for k in "gts")
    sc.setJobGroup(group, group)
    sc.addJobTag(tag)
    spark.addTag(session_tag)
    first = jsc.dagScheduler().nextJobId()
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            s = pipeline.run(str(src))
    finally:
        spark.removeTag(session_tag)
        sc.removeJobTag(tag)
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc.listenerBus().waitUntilEmpty()
    submitted = set(range(first, jsc.dagScheduler().nextJobId()))

    assert s.rows_appended == 450
    assert not [w for w in caught if issubclass(w.category, UserWarning)]
    assert submitted
    assert set(sc.statusTracker().getJobIdsForGroup(group)) == submitted
    assert set(jsc.statusTracker().getJobIdsForTag(tag)) == submitted
    # a session tag reaches the jobs of SQL executions
    store = jsc.statusStore()
    sql_jobs = 0
    for j in submitted:
        tags = store.job(j).jobTags().mkString(",").split(",")
        if any(t.startswith("spark-session-") for t in tags):
            sql_jobs += 1
            assert any(t.endswith(f"-{session_tag}") for t in tags), tags
    assert sql_jobs


def test_failed_table_writes_no_ledger_or_audit(spark, tmp_path, monkeypatch):
    """Two of three tables fail: ``run`` re-raises the first failure in
    folder order and writes no ledger or audit row. The re-run without
    the fault leaves each table with exactly its distinct keys."""
    src = tmp_path / "src"
    for i, sym in enumerate(("AUDUSD", "EURUSD", "GBPUSD")):
        _ticks(src / sym / "a.parquet", start=50 * i)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    ingest_batch = IngestPipeline.ingest_batch

    def faulty(self, table_id, raw, write_audit_publish=False, **kwargs):
        if table_id != "gold.audusd":
            raise RuntimeError(f"fault in {table_id}")
        return ingest_batch(self, table_id, raw, write_audit_publish, **kwargs)

    monkeypatch.setattr(IngestPipeline, "ingest_batch", faulty)
    with pytest.raises(RuntimeError, match="fault in gold.eurusd"):
        pipeline.run(str(src))
    assert _rows(pipeline, "ops.ingest_ledger") == 0
    assert _rows(pipeline, "ops.audit_runs") == 0

    monkeypatch.undo()
    s = pipeline.run(str(src))
    assert s.rows_appended == 300  # gold.audusd committed in the failed run
    for t in ("gold.audusd", "gold.eurusd", "gold.gbpusd"):
        assert _rows(pipeline, t) == _distinct_keys(pipeline, t) == 150
    assert _rows(pipeline, "ops.ingest_ledger") == 3
    assert _rows(pipeline, "ops.audit_runs") == 1


def test_failed_expiry_is_logged_not_raised(spark, tmp_path, monkeypatch, caplog):
    """A snapshot expiry that raises after a table's batch committed does
    not fail the run: the run counts the batch, and a warning naming
    the table carries the exception."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark import ingest

    def broken(table, **kwargs):
        raise OSError(f"cannot expire {table.location}")

    monkeypatch.setattr(ingest, "expire_snapshots", broken)
    src = tmp_path / "src"
    _ticks(src / "EURUSD" / "a.parquet")
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    with caplog.at_level("WARNING", logger=ingest.__name__):
        s = pipeline.run(str(src))
    assert (s.files_processed, s.rows_appended) == (1, 150)
    assert _rows(pipeline, "gold.eurusd") == 150
    [rec] = [r for r in caplog.records if r.name == ingest.__name__]
    assert rec.levelname == "WARNING"
    assert "gold.eurusd" in rec.getMessage()
    assert isinstance(rec.exc_info[1], OSError)


def test_wap_rejections_merge_in_folder_order(spark, tmp_path):
    """A write-audit-publish run rejects two symbols: one after auditing
    its staged files, a later one at the row-count gate before any
    write. Their issues come out in folder order, and the audit row
    records them so."""
    src = tmp_path / "src"
    for sym in ("AUDUSD", "EURUSD", "GBPUSD"):
        (src / sym).mkdir(parents=True)
    _tick_file(str(src / "AUDUSD" / "bad.parquet"), 150, bad_bid=True)
    _tick_file(str(src / "EURUSD" / "good.parquet"), 150)
    _tick_file(str(src / "GBPUSD" / "few.parquet"), 10)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    s = pipeline.run(str(src), write_audit_publish=True)

    assert (s.files_processed, s.files_rejected, s.rows_appended) == (1, 2, 150)
    heads = list(dict.fromkeys(i.split(": ", 1)[0] for i in s.quality_issues))
    assert heads == ["gold.audusd:bad.parquet", "gold.gbpusd:few.parquet"]
    audit = pipeline.catalog.load_table("ops.audit_runs").to_df().first()
    assert audit["quality_issues"] == "; ".join(s.quality_issues)
    assert audit["files_rejected"] == 2


def test_plain_run_jobs_on_nonempty_target(spark, tmp_path):
    """A plain two-symbol run on non-empty tables launches, counted
    through the caller's job group, exactly 6 jobs: 3 per table (the
    dedup and the distributed write). Change detection runs on the
    driver, the quality gate reads the files' footers, and the read
    schema was remembered from the first run. A pool that lost the
    caller's group would count fewer."""
    src = tmp_path / "src"
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    for sym in ("EURUSD", "USDJPY"):
        _ticks(src / sym / "a.parquet", n=1000)
    pipeline.run(str(src))
    for sym in ("EURUSD", "USDJPY"):
        _ticks(src / sym / "b.parquet", n=1000, start=500)
    s, jobs = _jobs(spark, lambda: pipeline.run(str(src)))
    assert (s.files_processed, s.files_skipped, s.rows_appended) == (2, 2, 1000)
    assert jobs == 6


def test_wap_run_jobs_on_nonempty_target(spark, tmp_path):
    """A write-audit-publish two-symbol run on non-empty tables in which
    both batches pass launches exactly 6 jobs, as many as a plain run:
    the incoming row gate reads the source files' footers and the audit
    reads the staged files' footers."""
    src = tmp_path / "src"
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    for sym in ("EURUSD", "USDJPY"):
        _ticks(src / sym / "a.parquet", n=1000)
    pipeline.run(str(src), write_audit_publish=True)
    for sym in ("EURUSD", "USDJPY"):
        _ticks(src / sym / "b.parquet", n=1000, start=500)
    s, jobs = _jobs(spark, lambda: pipeline.run(str(src), write_audit_publish=True))
    assert (s.files_processed, s.files_skipped, s.rows_appended) == (2, 2, 1000)
    assert jobs == 6
