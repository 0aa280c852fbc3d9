"""How rows reach disk on the ingest path, and what it costs in Spark jobs.

- Zero-row files: a Spark write whose first task is empty writes a
  zero-row parquet file; ``_write_files`` drops it instead of
  committing it.
- Driver writes: ``append_rows`` writes rows already on the driver (the
  ingest ledger and audit rows) with no Spark job, and reads back equal
  to ``append(createDataFrame(rows, schema))``, manifest stats included.
  A table with write-time rules takes the Spark append, rules and all.
- Job guard: a default-path ``ingest_batch`` on a non-empty target
  dedups and writes the batch once.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest
from pyspark.sql import functions as F

from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
    LakehouseCatalog,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.ingest import (
    AUDIT_SCHEMA,
    LEDGER_SCHEMA,
    IngestPipeline,
)

from test_ingest_change_detection import _jobs, _ticks

T0 = dt.datetime(2024, 3, 1, 12, 30, 15, 123456)


@pytest.fixture
def cat(spark, tmp_path):
    c = LakehouseCatalog(spark, str(tmp_path / "wh"))
    c.create_namespace("ops")
    return c


def _data_files(table) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _d, files in os.walk(table.data_dir)
        for f in files
        if f.endswith(".parquet")
    ]


def _bounds(snap) -> dict[str, tuple]:
    """Per-column manifest (min, max) over all of a snapshot's files."""
    out: dict[str, tuple] = {}
    for e in snap.data_entries:
        for c, (lo, hi) in e["stats"].items():
            a, b = out.get(c, (lo, hi))
            out[c] = (min(a, lo), max(b, hi))
    return out


def test_one_row_append_names_one_file(cat, spark):
    """The empty first task of a one-row write leaves no file behind and
    no manifest entry; every committed file holds rows."""
    t = cat.create_table("ops.one", spark.createDataFrame([], "k long").schema)
    snap = t.append(spark.createDataFrame([(1,)], "k long"))
    assert [e["rows"] for e in snap.data_entries] == [1]
    assert len(_data_files(t)) == 1

    snap = t.append(spark.range(0, 3, 1, 4).select(F.col("id").alias("k")))
    assert snap.summary["added_files"] == 3
    assert all(e["rows"] == 1 for e in snap.data_entries)
    assert len(_data_files(t)) == 4


def test_all_empty_append_names_no_file(cat, spark):
    t = cat.create_table("ops.none", spark.createDataFrame([], "k long").schema)
    snap = t.append(spark.range(0, 0, 1, 4).select(F.col("id").alias("k")))
    assert snap.summary["added_files"] == 0 and snap.data_entries == []
    assert _data_files(t) == []
    df = t.to_df()
    assert df.schema == t.schema and df.count() == 0


@pytest.mark.parametrize(
    "schema,rows",
    [
        (
            LEDGER_SCHEMA,
            [("/src/a.parquet", "0cc1", T0), ("/src/b.parquet", "9f2e", T0)],
        ),
        (
            AUDIT_SCHEMA,
            [
                ("r1", T0, 1.5, 2, 3, 4, 0, 5000, None),
                ("r2", T0 + dt.timedelta(hours=7), 0.25, 0, 0, 4, 1, 0, "x: bad"),
            ],
        ),
    ],
    ids=["ledger", "audit"],
)
def test_append_rows_equals_spark_append(cat, spark, schema, rows, monkeypatch):
    """Driver-written rows read back equal to the Spark append of the
    same rows, with the same manifest min/max, in a process time zone
    that is not the session's UTC (both read naive datetimes as local
    time through ``TimestampType.toInternal``)."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        by_spark = cat.create_table("ops.by_spark", schema)
        by_driver = cat.create_table("ops.by_driver", schema)
        s_snap = by_spark.append(spark.createDataFrame(rows, schema))
        d_snap, jobs = _jobs(spark, lambda: by_driver.append_rows(rows))
    finally:
        monkeypatch.undo()
        time.tzset()
    assert jobs == 0
    assert sorted(by_driver.to_df().collect()) == sorted(by_spark.to_df().collect())
    assert by_driver.to_df().schema == by_spark.to_df().schema
    assert len(d_snap.data_entries) == 1
    assert _bounds(d_snap) == _bounds(s_snap)
    assert d_snap.summary["added_rows"] == len(rows)


def test_append_rows_keeps_check_constraints(cat, spark):
    """A table with a CHECK constraint takes the Spark append, so the
    constraint still refuses a violating row."""
    t = cat.create_table("ops.checked", LEDGER_SCHEMA)
    t.add_constraint("has_path", "path IS NOT NULL")
    v0 = t.current_version()
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.append_rows([(None, "0cc1", T0)])
    assert t.current_version() == v0
    t.append_rows([("/src/a.parquet", "0cc1", T0)])
    assert t.to_df().count() == 1


def test_ingest_batch_jobs_on_nonempty_target(spark, tmp_path):
    """A default-path batch against committed data is gated, deduped and
    written once: the gate's aggregate, the staged write and its
    distribution shuffle - no count of the deduped batch, no second
    anti-join, no distinct over the committed keys."""
    src = tmp_path / "src"
    _ticks(src / "EURUSD" / "a.parquet", 150)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    pipeline.run(str(src))
    _ticks(src / "EURUSD" / "b.parquet", 150, start=100)
    batch = spark.read.parquet(str(src / "EURUSD" / "b.parquet"))
    (n, issues), jobs = _jobs(
        spark, lambda: pipeline.ingest_batch("gold.eurusd", batch)
    )
    assert (n, issues) == (100, [])
    assert pipeline.catalog.load_table("gold.eurusd").to_df().count() == 250
    assert jobs <= 5, jobs
