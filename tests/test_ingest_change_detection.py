"""Batch ingest change detection: which files a run ingests, and what it
costs in Spark jobs.

- Parity: folder shapes (empty, non-parquet only, nested, same file
  names in two folders) and file histories (content change, A->B->A
  revert, same-content rewrite) give exact ``RunSummary`` counts and
  gold row counts.
- Job guard: an idle re-run launches no Spark job, whether the source
  root holds 1 symbol folder or 4.
- Dedup bounds: the quality pass's ``DateTime`` range is the one
  ``dedup_against_table`` would compute itself, and passing it in skips
  that probe without changing the deduped rows.
- Driver round trips: an idle two-symbol poll sends at most 10 py4j
  commands.
- Quoting: column names holding a space, a dot or a backtick pass
  through ``normalize`` and ``check_quality`` as the ``F``-tree forms
  would compute them, and a folder name holding a space and a quote
  ingests like any other.
- Ledger growth: a ledger past its file cap is compacted after the next
  accepting run, and change detection answers as before.
- Dedup failure: a committed-key scan that raises lets every row pass
  and logs a warning naming the table.
- Listing: the driver's listing and md5 of a tree of awkward names
  equal the distributed binaryFile scan's (``file_checksums``).
- Tombstones: a ledger row removed by a merge-on-read DELETE makes its
  file new again.
"""

from __future__ import annotations

import datetime as dt
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

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
    """Change detection runs on the driver: an idle re-run over 1 symbol
    folder or 4 launches no Spark job. The audit row is written by the
    driver."""
    idle_jobs = {}
    for n_folders in (1, 4):
        src = tmp_path / f"src{n_folders}"
        for i in range(n_folders):
            _ticks(src / f"SYM{i}" / "tick_0000.parquet", 120, start=i * 1000)
        pipeline = IngestPipeline(spark, str(tmp_path / f"wh{n_folders}"))
        assert pipeline.run(str(src)).files_processed == n_folders
        s, idle_jobs[n_folders] = _jobs(spark, lambda: pipeline.run(str(src)))
        assert _counts(s) == (0, 0, n_folders, 0, 0)
    assert idle_jobs == {1: 0, 4: 0}, idle_jobs


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


def test_idle_poll_round_trips(spark, tmp_path, monkeypatch):
    """An idle two-symbol poll launches no Spark job and sends at most 10
    py4j commands, GC detaches excluded (change detection as a Spark
    query sent up to 200, and its ``F``-tree form about 410)."""
    src = tmp_path / "src"
    for i, sym in enumerate(("EURUSD", "USDJPY")):
        _ticks(src / sym / "tick_0000.parquet", start=1000 * i)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    pipeline.run(str(src))

    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):  # a GC detach
            sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    s, jobs = _jobs(spark, lambda: pipeline.run(str(src)))
    monkeypatch.undo()
    assert _counts(s) == (0, 0, 2, 0, 0)
    assert jobs == 0
    assert len(sent) <= 10, len(sent)


def _f_form_normalize(df):
    """``normalize`` as a tree of ``F`` calls over plain names."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, FloatType):
            c = c.cast("double")
        elif isinstance(f.dataType, TimestampType):
            c = c.cast("timestamp")
        cols.append(c.alias(f.name))
    return df.select(*cols)


def _f_form_quality(df, positive, dt_col):
    """``check_quality``'s issues and metrics from its aggregate built as
    a tree of ``F`` calls. ``F.col`` cannot name a column holding a
    backtick, so the aggregate runs over positional stand-in names and
    its values are read back under the real ones."""
    names = df.columns
    plain = df.toDF(*[f"c{i}" for i in range(len(names))])
    alias = dict(zip(names, plain.columns))
    aggs = [F.count(F.lit(1)), F.min(alias[dt_col]), F.max(alias[dt_col])]
    aggs += [F.count(F.lit(1)) - F.count(F.col(alias[c])) for c in names]
    aggs += [F.min(F.col(alias[c])) for c in positive]
    n, lo, hi, *rest = plain.agg(*aggs).collect()[0]
    nulls, mins = rest[: len(names)], rest[len(names) :]
    issues = []
    metrics = {"rows": n, f"min_{dt_col}": lo, f"max_{dt_col}": hi}
    if n < 100:
        issues.append(f"too few rows: {n} < 100")
    if n > 0:
        for c, k in zip(names, nulls):
            metrics[f"null_pct_{c}"] = k / n
            if k / n > 0.05:
                issues.append(f"null ratio {k / n:.3f} > 0.05 in {c}")
        if nulls[names.index(dt_col)] == n:
            issues.append(f"{dt_col} entirely null")
        for c, mn in zip(positive, mins):
            metrics[f"min_{c}"] = mn
            if mn is not None and mn <= 0:
                issues.append(f"non-positive values in {c}: min={mn}")
    return issues, metrics


def test_quoted_column_names_match_f_form(spark):
    """Column names with a space, a dot and a backtick: ``normalize``
    keeps each one as the single column it names and casts it as the
    ``F`` form does, and ``check_quality`` reports the ``F`` form's issues
    and metrics: a null ratio over 5% in ``ask px``, a zero in
    ``bid`px``."""
    n = 200
    schema = StructType(
        [
            StructField("date time", TimestampType()),
            StructField("bid`px", FloatType()),
            StructField("ask px", DoubleType()),
            StructField("a.b", LongType()),
        ]
    )
    rows = [
        (BASE + dt.timedelta(seconds=i), i / n, None if i < 11 else 1.0 + i / n, i)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, schema)
    names = df.columns
    assert names == ["date time", "bid`px", "ask px", "a.b"]

    out = normalize(df)
    stand_in = [f"c{i}" for i in range(len(names))]
    want = _f_form_normalize(df.toDF(*stand_in)).toDF(*names)
    assert out.schema == want.schema
    assert [f.dataType.simpleString() for f in out.schema] == [
        "timestamp", "double", "double", "bigint",
    ]
    assert sorted(out.collect()) == sorted(want.collect())

    required = ("date time", "bid`px", "ask px")
    positive = ("bid`px", "ask px", "a.b")
    report = check_quality(
        out, required_cols=required, positive_cols=positive, datetime_col="date time"
    )
    issues, metrics = _f_form_quality(out, positive, "date time")
    assert report.issues == issues
    assert report.metrics == metrics
    assert issues == [
        "null ratio 0.055 > 0.05 in ask px",
        "non-positive values in bid`px: min=0.0",
        "non-positive values in a.b: min=0",
    ]
    assert not report.ok


def test_folder_name_with_space_and_quote(spark, tmp_path):
    """A symbol folder named ``EUR USD's`` ingests, skips and re-ingests
    exactly like a plain one beside it."""
    src = tmp_path / "src"
    _ticks(src / "EUR USD's" / "tick 0's.parquet", 150)
    _ticks(src / "GBPUSD" / "tick_0000.parquet", 120, start=1000)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))

    assert _counts(pipeline.run(str(src))) == (2, 2, 0, 0, 270)
    assert _rows(pipeline, "gold.eur usd's") == 150
    assert _rows(pipeline, "gold.gbpusd") == 120
    assert _counts(pipeline.run(str(src))) == (0, 0, 2, 0, 0)

    _ticks(src / "EUR USD's" / "tick 1's.parquet", 150, start=100)
    assert _counts(pipeline.run(str(src))) == (1, 1, 2, 0, 100)
    assert _rows(pipeline, "gold.eur usd's") == 250
    assert _rows(pipeline, "gold.gbpusd") == 120
    assert _rows(pipeline, "ops.ingest_ledger") == 3


def test_ledger_compacts_past_cap(spark, tmp_path, monkeypatch):
    """A ledger past ``LEDGER_MAX_FILES`` data files is compacted after
    the next accepting run's ledger write, back under the cap, and
    change detection returns the same skips and new pairs after the
    compaction as just before it. The pre-filled rows hold superseded
    checksums of a listed file and rows of files no longer listed, and
    a rejected file stays new."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark import maintenance
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.ingest import (
        LEDGER_MAX_FILES,
        file_checksum,
    )

    src = tmp_path / "src"
    _ticks(src / "EURUSD" / "a.parquet", 150)
    _ticks(src / "GBPUSD" / "few.parquet", 10)  # rejected: too few rows
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    assert _counts(pipeline.run(str(src))) == (2, 1, 0, 1, 150)
    a = str(src / "EURUSD" / "a.parquet")
    old = dt.datetime(2020, 1, 1)
    for i in range(LEDGER_MAX_FILES):
        rows = [(f"/gone/f{i}.parquet", f"{i:032x}", old)]
        if i % 8 == 0:
            rows.append((a, f"stale{i}", old + dt.timedelta(days=i)))
        pipeline._ledger.append_rows(rows)

    def ledger_files():
        return len(pipeline._ledger.snapshot().data_entries)

    assert ledger_files() == LEDGER_MAX_FILES + 1

    symbols = sorted(p for p in src.iterdir() if p.is_dir())
    seen = []
    compact = maintenance.compact

    def spying(table, *args, **kwargs):
        detected = pipeline._detect_changes(symbols)
        seen.append((ledger_files(), detected, pipeline.ingested()))
        return compact(table, *args, **kwargs)

    monkeypatch.setattr(maintenance, "compact", spying)
    _ticks(src / "EURUSD" / "b.parquet", 150, start=100)
    assert _counts(pipeline.run(str(src))) == (2, 1, 1, 1, 100)

    [(files_before, changes, latest)] = seen
    assert files_before == LEDGER_MAX_FILES + 2
    assert ledger_files() <= LEDGER_MAX_FILES
    few = str(src / "GBPUSD" / "few.parquet")
    assert changes == (2, {1: [(few, file_checksum(few))]})
    assert pipeline._detect_changes(symbols) == changes
    assert pipeline.ingested() == latest
    prefilled = LEDGER_MAX_FILES + LEDGER_MAX_FILES // 8
    assert _rows(pipeline, "ops.ingest_ledger") == 2 + prefilled


def test_dedup_scan_failure_is_logged(spark, tmp_path, monkeypatch, caplog):
    """A committed-key scan that raises degrades to no dedup, as the
    reference does, and logs a warning that names the table and carries
    the exception."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators import dedup
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
        LakehouseTable,
    )

    src = tmp_path / "src"
    _ticks(src / "EURUSD" / "a.parquet", 150)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    pipeline.run(str(src))
    table = pipeline.catalog.load_table("gold.eurusd")

    def broken(self, *args, **kwargs):
        raise OSError("key scan failed")

    monkeypatch.setattr(LakehouseTable, "scan", broken)
    df = normalize(spark.read.parquet(str(src / "EURUSD" / "a.parquet")))
    with caplog.at_level("WARNING", logger=dedup.__name__):
        out = dedup_against_table(df, table)
    assert out is df
    [rec] = [r for r in caplog.records if r.name == dedup.__name__]
    assert rec.levelname == "WARNING"
    assert table.location in rec.getMessage()
    assert isinstance(rec.exc_info[1], OSError)


def test_driver_listing_equals_spark(spark, tmp_path):
    """Change detection's driver listing and md5 give exactly the
    ``(path, checksum)`` set of the distributed binaryFile scan over one
    tree of hidden, exempt, partition-like, in-flight, wrongly cased,
    empty, symlinked and oddly named files and directories."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.sources.files import (
        file_checksums,
    )

    root = tmp_path / "SYM"
    names = [
        "_d/x.parquet",
        ".d/x.parquet",
        "_k=1/x.parquet",
        "k=1/x.parquet",
        "_metadata/x.parquet",
        "_x.parquet",
        ".x.parquet",
        "_metadata.parquet",
        "_k=2.parquet",
        "x.parquet._COPYING_",
        "X.PARQUET",
        "a.parquet.bak",
        "n/m/o/deep.parquet",
        "sp ace.parquet",
        "qu'ote.parquet",
        "br[ack]et.parquet",
        "pc%20t.parquet",
        "n\u00f6.parquet",
        "a.parquet",
    ]
    for name in names:
        f = root / name
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_bytes(name.encode())
    (root / "zero.parquet").write_bytes(b"")
    (root / "empty").mkdir()
    outside = tmp_path / "outside"
    _ticks(outside / "linked.parquet", 120)
    (root / "ln_dir").symlink_to(outside, target_is_directory=True)
    (root / "ln_file.parquet").symlink_to(outside / "linked.parquet")

    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    skipped, changes = pipeline._detect_changes([root])
    want = {
        (r["path"], r["checksum"])
        for r in file_checksums(spark, str(root)).collect()
    }
    assert skipped == 0 and list(changes) == [0]
    assert set(changes[0]) == want
    assert len(want) == 13
    kept = {p[len(str(root)) + 1 :] for p, _ in want}
    assert {"_k=1/x.parquet", "_metadata/x.parquet", "_k=2.parquet"} <= kept
    assert "ln_dir/linked.parquet" in kept and "ln_file.parquet" in kept


def test_ledger_tombstone_reingests(spark, tmp_path):
    """A merge-on-read DELETE of one ledger row leaves it pending as a
    tombstone; change detection applies it, so the next run re-ingests
    that file (its rows dedup to nothing), and the driver's ledger read
    agrees with ``ingested()`` before the delete, while it is pending,
    and after the re-ingest."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import delete_where

    src = tmp_path / "src"
    _ticks(src / "EURUSD" / "a.parquet", 150)
    _ticks(src / "EURUSD" / "b.parquet", 150, start=150)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    assert _counts(pipeline.run(str(src))) == (1, 2, 0, 0, 300)
    paths = sorted(str(p) for p in (src / "EURUSD").iterdir())

    def driver_read_agrees():
        latest = pipeline.ingested()
        assert pipeline._ledger_checksums(paths) == {
            p: latest[p] for p in paths if p in latest
        }
        return latest

    # no tombstone yet: the pyarrow read of the ledger files
    assert not pipeline._ledger.snapshot().delete_entries
    assert sorted(driver_read_agrees()) == paths

    a = str(src / "EURUSD" / "a.parquet")
    delete_where(
        pipeline._ledger,
        F.col("path") == a,
        mode="merge-on-read",
        equality_cols=["path"],
    )
    assert pipeline._ledger.snapshot().delete_entries
    assert a not in driver_read_agrees()
    assert _counts(pipeline.run(str(src))) == (1, 1, 1, 0, 0)
    assert _rows(pipeline, "gold.eurusd") == 300
    assert a in driver_read_agrees()
    assert _counts(pipeline.run(str(src))) == (0, 0, 2, 0, 0)
