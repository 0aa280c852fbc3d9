"""Write-audit-publish staging: stage invisibly -> audit -> publish
(metadata-only) or abort (no snapshot, no files left behind)."""

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
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (
    expire_snapshots,
)


@pytest.fixture
def table(spark, tmp_path):
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    t = cat.create_table("gold.kv", df.schema)
    t.append(df)
    return t


def test_stage_is_invisible_until_publish(table):
    spark = table.spark
    v_before = table.current_version()
    batch = spark.range(100, 150).select(
        F.col("id").alias("k"), F.lit(0.0).alias("v")
    )
    sid = table.stage_append(batch)
    # nothing visible, no new snapshot
    assert table.current_version() == v_before
    assert table.to_df().count() == 100
    # the audit reads exactly the staged rows
    assert table.staged_scan(sid).count() == 50
    assert sid in table.list_staged()

    snap = table.publish_staged(sid)
    assert snap.version == v_before + 1
    assert snap.summary["published_stage"] == sid
    assert table.to_df().count() == 150
    assert table.list_staged() == []


def test_abort_leaves_no_trace(table):
    spark = table.spark
    v_before = table.current_version()
    batch = spark.range(100, 150).select(
        F.col("id").alias("k"), F.lit(0.0).alias("v")
    )
    sid = table.stage_append(batch)
    staged_files = [
        os.path.join(table.location, e["path"])
        for e in table.staged_entries(sid)
    ]
    assert all(os.path.exists(p) for p in staged_files)
    n = table.abort_staged(sid)
    assert n == len(staged_files)
    assert not any(os.path.exists(p) for p in staged_files)
    assert table.current_version() == v_before
    assert table.to_df().count() == 100
    with pytest.raises(ValueError, match="no staged commit"):
        table.staged_scan(sid)


def test_stage_append_validates_writer_schema(spark, tmp_path):
    """Staging checks the writer schema as ``append`` does: a double
    column into a float table raises the same error, and stages
    nothing."""
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    t = cat.create_table(
        "gold.f", spark.createDataFrame([], "k long, v float").schema
    )
    batch = spark.createDataFrame([(1, 1.5)], "k long, v double")
    with pytest.raises(ValueError) as by_append:
        t.append(batch)
    with pytest.raises(ValueError) as by_stage:
        t.stage_append(batch)
    assert str(by_stage.value) == str(by_append.value)
    assert "cannot be read under the table's float" in str(by_stage.value)
    assert t.list_staged() == [] and t.to_df().count() == 0


def test_publish_rebases_over_concurrent_append(table):
    spark = table.spark
    batch = spark.range(100, 150).select(
        F.col("id").alias("k"), F.lit(0.0).alias("v")
    )
    sid = table.stage_append(batch)
    # a writer lands between stage and publish
    other = spark.range(200, 210).select(
        F.col("id").alias("k"), F.lit(9.0).alias("v")
    )
    table.append(other)
    table.publish_staged(sid)
    assert table.to_df().count() == 160  # both visible


def test_staged_files_survive_orphan_gc(table):
    spark = table.spark
    batch = spark.range(100, 150).select(
        F.col("id").alias("k"), F.lit(0.0).alias("v")
    )
    sid = table.stage_append(batch)
    # zero grace: everything unreferenced would be GC'd - except staged
    res = expire_snapshots(table, older_than_ms=0, orphan_grace_secs=0.0)
    assert res["deleted_files"] == 0
    table.publish_staged(sid)
    assert table.to_df().count() == 150


def test_publish_after_mor_delete_survives(table):
    """Sequence stamping happens at publish: a tombstone committed while
    the batch sat in audit must not claim the published rows."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        delete_where,
    )

    spark = table.spark
    batch = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(123.0).alias("v")
    )
    sid = table.stage_append(batch)
    delete_where(table, F.col("k") < 10, mode="merge-on-read", equality_cols=["k"])
    assert table.to_df().count() == 90
    table.publish_staged(sid)
    df = table.to_df()
    assert df.count() == 100
    assert df.filter((F.col("k") < 10) & (F.col("v") == 123.0)).count() == 10


def _tick_file(path, n, start_s=0, bad_bid=False):
    base = dtm.datetime(2024, 3, 1)
    ts = [base + dtm.timedelta(seconds=start_s + i) for i in range(n)]
    bid = np.linspace(1.1, 1.2, n)
    if bad_bid:
        bid = bid - 2.0  # non-positive prices: QC must reject
    pq.write_table(
        pa.table(
            {
                "DateTime": pa.array(ts, type=pa.timestamp("us")),
                "Bid": pa.array(bid),
                "Ask": pa.array(np.linspace(1.2, 1.3, n)),
            }
        ),
        path,
    )


def test_ingest_wap_mode(spark, tmp_path):
    """Pipeline WAP mode: a clean batch stages+publishes; a bad batch is
    audited on its staged bytes, aborted, and leaves no snapshot."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.ingest import (
        IngestPipeline,
    )

    src = tmp_path / "src" / "EURUSD"
    src.mkdir(parents=True)
    _tick_file(str(src / "good.parquet"), 150)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    s1 = pipeline.run(str(tmp_path / "src"), write_audit_publish=True)
    assert s1.rows_appended == 150
    t = pipeline.catalog.load_table("gold.eurusd")
    assert t.to_df().count() == 150
    assert t.list_staged() == []
    v_after_good = t.current_version()

    bad = tmp_path / "src" / "GBPUSD"
    bad.mkdir()
    _tick_file(str(bad / "bad.parquet"), 150, bad_bid=True)
    s2 = pipeline.run(str(tmp_path / "src"), write_audit_publish=True)
    assert s2.files_rejected == 1
    assert "non-positive" in "; ".join(s2.quality_issues)
    # aborted: no table for the bad symbol beyond the empty create,
    # and the good table untouched
    bad_t = pipeline.catalog.load_table("gold.gbpusd")
    assert bad_t.to_df().count() == 0
    assert bad_t.list_staged() == []
    assert t.current_version() == v_after_good


def test_wap_abort_leaves_no_batch_dir(spark, tmp_path):
    """A write-audit-publish batch that fails its audit leaves no
    directory under ``data/``: ``abort_staged`` takes Spark's
    ``_SUCCESS`` and ``.crc`` side files with the batch, and the
    published table reads the same."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.ingest import (
        IngestPipeline,
    )

    src = tmp_path / "src" / "EURUSD"
    src.mkdir(parents=True)
    _tick_file(str(src / "good.parquet"), 150)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    pipeline.run(str(tmp_path / "src"), write_audit_publish=True)
    t = pipeline.catalog.load_table("gold.eurusd")
    dirs = sorted(os.listdir(t.data_dir))
    rows = sorted(tuple(r) for r in t.to_df().collect())

    _tick_file(str(src / "bad.parquet"), 150, start_s=150, bad_bid=True)
    s = pipeline.run(str(tmp_path / "src"), write_audit_publish=True)
    assert s.files_rejected == 1
    assert sorted(os.listdir(t.data_dir)) == dirs
    assert sorted(tuple(r) for r in t.to_df().collect()) == rows
