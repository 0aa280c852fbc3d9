"""The ingest quality gate read from Parquet footers, and the read-schema
memo.

- Equivalence: over fixed file shapes, ``footer_stats`` either gives
  exactly the aggregate's ``BatchStats`` and so its ``QualityReport``
  (``ok``, ``issues``, ``metrics``, timestamps as the same Python
  values), or declines with ``None``. Each case states which it must
  do, so a pass that always declines fails too.
- Memo: a folder receives a float64 file, a float32 file, a
  Spark-written file and the float64 shape again. Every batch reads
  with the schema plain ``spark.read.parquet`` infers; the second and
  third shapes are new to the memo, and the repeat skips Spark's
  schema-inference job. Threads sharing one pipeline's memo each read
  their file's own schema.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import (
    DoubleType,
    StructField,
    StructType,
    TimestampType,
)

from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
    LakehouseCatalog,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.functions.normalize import (
    normalize,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.functions.quality import (
    aggregate_stats,
    check_quality,
    footer_stats,
    quality_report,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.ingest import (
    IngestPipeline,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.sources.files import (
    parquet_footers,
)
from tests.test_ingest_change_detection import _jobs

BASE = dt.datetime(2024, 3, 1)


def _ticks(n, dtype=np.float64, bid_at=None, null_every=0, dt_null=False, start=0):
    """``n`` one-second ticks: ``bid_at`` overrides Bid at given rows,
    ``null_every`` NULLs every k-th Ask, ``dt_null`` NULLs DateTime."""
    ts = [
        None if dt_null else BASE + dt.timedelta(seconds=start + i) for i in range(n)
    ]
    bid = np.linspace(1.1, 1.2, n).astype(dtype)
    for i, v in (bid_at or {}).items():
        bid[i] = v
    ask = [
        None if null_every and i % null_every == 0 else float(a)
        for i, a in enumerate(np.linspace(1.2, 1.3, n).astype(dtype))
    ]
    price = pa.float32() if dtype == np.float32 else pa.float64()
    return pa.table(
        {
            "DateTime": pa.array(ts, type=pa.timestamp("us")),
            "Bid": pa.array(bid, type=price),
            "Ask": pa.array(ask, type=price),
        }
    )


# name -> (tables to write, one file each; write_table kwargs; must the
# footer pass give the exact report?)
CASES = {
    "float64": ([_ticks(200)], {}, True),
    "float32": ([_ticks(200, np.float32)], {}, True),
    "float64_zero": ([_ticks(200, bid_at={7: 0.0})], {}, False),
    "float32_zero": ([_ticks(200, np.float32, bid_at={7: 0.0})], {}, False),
    "float64_negative": ([_ticks(200, bid_at={7: -0.5})], {}, True),
    "float32_negative": ([_ticks(200, np.float32, bid_at={7: -0.5})], {}, True),
    "nulls_under_5pct": ([_ticks(200, null_every=25)], {}, True),
    "nulls_over_5pct": ([_ticks(200, null_every=10)], {}, True),
    "datetime_all_null": ([_ticks(200, dt_null=True)], {}, True),
    "nan_prices": ([_ticks(200, bid_at={3: np.nan, 9: np.nan})], {}, True),
    "row_groups": ([_ticks(250)], {"row_group_size": 40}, True),
    "zero_rows": ([_ticks(0)], {}, True),
    "no_statistics": ([_ticks(200)], {"write_statistics": False}, False),
    "two_schemas": ([_ticks(150), _ticks(150, np.float32, start=150)], {}, False),
    "two_files": ([_ticks(60), _ticks(60, start=60)], {}, True),
}


@pytest.mark.parametrize("case", list(CASES))
def test_footer_report_equals_aggregate(spark, tmp_path, case):
    tables, kwargs, exact = CASES[case]
    paths = []
    for i, t in enumerate(tables):
        paths.append(str(tmp_path / f"f{i}.parquet"))
        pq.write_table(t, paths[-1], **kwargs)
    df = normalize(spark.read.parquet(*paths))

    got = footer_stats(parquet_footers(paths), df.schema)
    if not exact:
        assert got is None
        return
    assert got == aggregate_stats(df)
    report = quality_report(got, df.columns)
    want = check_quality(df)
    assert (report.ok, report.issues, report.metrics) == (
        want.ok,
        want.issues,
        want.metrics,
    )


@pytest.mark.parametrize(
    "bid", [1.5, 0.0, float("nan")], ids=["positive", "zero", "nan"]
)
def test_footer_report_of_spark_staged_file(spark, tmp_path, bid):
    """A Spark-written staged file (session-zone timestamps, NULLs, two
    files): the staged audit's footer report equals the aggregate's. It
    declines for a zero price, and for a NaN price, which Spark's writer
    keeps in the footer's max."""
    schema = StructType(
        [
            StructField("DateTime", TimestampType()),
            StructField("Bid", DoubleType()),
            StructField("Ask", DoubleType()),
        ]
    )
    rows = [
        (
            BASE + dt.timedelta(seconds=i),
            bid if i == 5 else 1.0 + i,
            None if i % 9 == 0 else 2.0,
        )
        for i in range(300)
    ]
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    table = cat.create_table("gold.t", schema)
    staged = table.stage_append(spark.createDataFrame(rows, schema).repartition(2))
    entries = table.staged_entries(staged)
    assert len(entries) == 2
    footers = parquet_footers(
        [os.path.join(table.location, e["path"]) for e in entries]
    )
    df = table.staged_scan(staged)

    got = footer_stats(footers, df.schema)
    if not bid > 0:
        assert got is None
        return
    assert got == aggregate_stats(df)
    assert got.lo == BASE
    report = check_quality(df, min_rows=0, footers=footers)
    want = check_quality(df, min_rows=0)
    assert (report.ok, report.issues, report.metrics) == (
        want.ok,
        want.issues,
        want.metrics,
    )
    assert "null ratio 0.113 > 0.05 in Ask" in report.issues


def test_read_schema_memo(spark, tmp_path):
    """float64, float32 and Spark-written files each read with the
    schema plain ``spark.read.parquet`` infers; the first three shapes
    miss the memo, and a repeat of the first hits it: its run launches
    one job fewer than the float32 run, counted through a job group."""
    folder = tmp_path / "src" / "EURUSD"
    folder.mkdir(parents=True)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    reads = []
    read = pipeline._read_parquet

    def spy(paths, footers):
        df = read(paths, footers)
        reads.append((paths, df.schema))
        return df

    pipeline._read_parquet = spy

    def arrive(name, table):
        pq.write_table(table, str(folder / name))

    spark_dir = str(tmp_path / "spark_out")
    arrive("a.parquet", _ticks(150))
    spark.read.parquet(str(folder / "a.parquet")).selectExpr(
        "DateTime + INTERVAL 1000 SECONDS AS DateTime", "Bid", "Ask"
    ).coalesce(1).write.parquet(spark_dir)
    batches = [
        lambda: arrive("b.parquet", _ticks(150, np.float32, start=300)),
        lambda: shutil.move(
            glob.glob(os.path.join(spark_dir, "*.parquet"))[0],
            str(folder / "c.parquet"),
        ),
        lambda: arrive("d.parquet", _ticks(150, start=2000)),
    ]
    pipeline.run(str(tmp_path / "src"))
    sizes, jobs = [len(pipeline._read_schemas)], []
    for add in batches:
        add()
        s, n = _jobs(spark, lambda: pipeline.run(str(tmp_path / "src")))
        assert (s.files_processed, s.rows_appended) == (1, 150)
        sizes.append(len(pipeline._read_schemas))
        jobs.append(n)

    assert sizes == [1, 2, 3, 3]
    assert jobs[2] == jobs[0] - 1 == jobs[1] - 1
    assert len(reads) == 4
    for paths, schema in reads:
        assert schema == spark.read.parquet(*paths).schema
    float_types = [s["Bid"].dataType.simpleString() for _, s in reads]
    assert float_types == ["double", "float", "double", "double"]


def test_read_schema_memo_shared_by_threads(spark, tmp_path):
    """Twelve threads read two file shapes through one pipeline at once,
    with a short switch interval: every read has the schema plain
    ``spark.read.parquet`` infers for its file, and the memo ends with
    exactly one entry per shape."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    paths = []
    for i, dtype in enumerate((np.float64, np.float32)):
        paths.append(str(tmp_path / f"s{i}.parquet"))
        pq.write_table(_ticks(150, dtype), paths[-1])
    want = [spark.read.parquet(p).schema for p in paths]
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))

    def read(k):
        p = paths[k % 2]
        return k % 2, pipeline._read_parquet([p], parquet_footers([p])).schema

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=12) as pool:
            got = list(pool.map(read, range(36), timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert len(got) == 36
    assert all(schema == want[k] for k, schema in got)
    assert sorted(s.simpleString() for s in pipeline._read_schemas.values()) == sorted(
        s.simpleString() for s in want
    )
