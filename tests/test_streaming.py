"""Streaming ingest (ST1-ST5): Structured Streaming file source with
foreachBatch into the lakehouse table, plus reference-parity watcher."""

from __future__ import annotations

import datetime as dt
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from apache_iceberg_pyiceberg_local_data_lakehouse_spark.ingest import IngestPipeline
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.watcher import (
    FolderWatcher,
    Scheduler,
    stream_symbol,
)

from pyspark.sql.types import (
    DoubleType,
    StructField,
    StructType,
    TimestampType,
)

TICK_SCHEMA = StructType(
    [
        StructField("DateTime", TimestampType()),
        StructField("Bid", DoubleType()),
        StructField("Ask", DoubleType()),
    ]
)


def tick_file(path, n=150, start=dt.datetime(2024, 3, 1)):
    ts = [start + dt.timedelta(seconds=i) for i in range(n)]
    tab = pa.table(
        {
            "DateTime": pa.array(ts, type=pa.timestamp("us")),
            "Bid": pa.array(np.linspace(1.1, 1.2, n)),
            "Ask": pa.array(np.linspace(1.2, 1.3, n)),
        }
    )
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(tab, path)


def test_streaming_ingest_available_now(spark, tmp_path):
    """File-source stream drains existing files exactly once into the
    table; a second availableNow run adds nothing (checkpoint = ledger)."""
    src = tmp_path / "Training Batch" / "EURUSD"
    tick_file(src / "a.parquet", n=150)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))

    q = stream_symbol(
        pipeline,
        str(src),
        TICK_SCHEMA,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    t = pipeline.catalog.load_table("gold.eurusd")
    assert t.to_df().count() == 150

    # restart the stream with the same checkpoint: nothing re-ingested
    q2 = stream_symbol(
        pipeline,
        str(src),
        TICK_SCHEMA,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q2.awaitTermination(120)
    assert pipeline.catalog.load_table("gold.eurusd").to_df().count() == 150


def test_streaming_picks_up_new_files_and_dedups(spark, tmp_path):
    """New file with 50% key overlap: only new keys append (J1 inside
    foreachBatch)."""
    src = tmp_path / "Training Batch" / "EURUSD"
    tick_file(src / "a.parquet", n=100)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    q = stream_symbol(
        pipeline, str(src), TICK_SCHEMA, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    tick_file(
        src / "b.parquet", n=100, start=dt.datetime(2024, 3, 1) + dt.timedelta(seconds=50)
    )
    q2 = stream_symbol(
        pipeline, str(src), TICK_SCHEMA, str(tmp_path / "ckpt"), available_now=True
    )
    q2.awaitTermination(120)
    assert pipeline.catalog.load_table("gold.eurusd").to_df().count() == 150


def test_streaming_qc_rejects_bad_batch(spark, tmp_path):
    """A below-threshold file fails QC inside foreachBatch: no commit."""
    src = tmp_path / "Training Batch" / "EURUSD"
    tick_file(src / "small.parquet", n=50)  # < MIN_ROWS_THRESHOLD
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    q = stream_symbol(
        pipeline, str(src), TICK_SCHEMA, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    assert not pipeline.catalog.table_exists("gold.eurusd")


def test_folder_watcher_mtime_diff(tmp_path):
    src = tmp_path / "src"
    tick_file(src / "a.parquet", n=10)
    w = FolderWatcher(str(src))
    assert not w.has_changes()  # baseline snapshot
    tick_file(src / "b.parquet", n=10)
    assert w.has_changes()
    assert not w.has_changes()  # snapshot updated


def test_watcher_error_backoff_keeps_loop_alive(tmp_path):
    """ST5: a pipeline failure must back off and keep watching - the next
    file arrival still triggers a (now successful) run, and the failed
    cycle never marks the scheduler as ran."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.watcher import (
        run_production,
    )

    src = tmp_path / "src"
    src.mkdir()

    class FlakyPipeline:
        def __init__(self):
            self.calls = 0

        def run(self, source_root):
            self.calls += 1
            if self.calls == 1:
                raise RuntimeError("transient ingest failure")

    fake = FlakyPipeline()
    stop, threads = run_production(
        fake,
        str(src),
        watch_interval=0,
        max_cycles=2000,
        error_backoff=0,
    )
    try:
        deadline = time.time() + 10
        tick_file(src / "a.parquet", n=10)  # arrival -> failing run
        while fake.calls < 1 and time.time() < deadline:
            time.sleep(0.02)
        assert fake.calls >= 1  # first change seen, run raised

        tick_file(src / "b.parquet", n=10)  # arrival after the failure
        while fake.calls < 2 and time.time() < deadline:
            time.sleep(0.02)
        assert fake.calls >= 2  # loop survived and ran again
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)


def test_scheduler_quirk_never_fires_until_seeded():
    s = Scheduler(hour_utc=dt.datetime.now(dt.timezone.utc).hour)
    assert not s.should_run()  # last_run None -> False (reference :71-72)
    s.last_run = time.time() - 90000  # >24h ago
    assert s.should_run()
    s.mark_ran()
    assert not s.should_run()


def test_streaming_tumbling_window_with_watermark(spark, tmp_path):
    """X6 streaming form: watermarked tumbling aggregation over a file
    stream finalizes the same counts the batch query computes."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, DoubleType

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.windows import (
        tumbling_counts,
    )

    src = tmp_path / "events"
    src.mkdir()
    base = dt.datetime(2024, 1, 1)
    ts = [base + dt.timedelta(minutes=7 * i) for i in range(40)]

    def write_chunk(name, chunk):
        tab = pa.table(
            {
                "ts": pa.array([t for t, _ in chunk], type=pa.timestamp("us")),
                "value": pa.array([v for _, v in chunk]),
            }
        )
        pq.write_table(tab, src / name)

    rows = [(t, float(i)) for i, t in enumerate(ts)]
    # two files with increasing mtime -> two micro-batches (append-mode
    # windows only emit once a LATER batch advances the watermark)
    write_chunk("a.parquet", rows[:30])
    time.sleep(1.1)
    write_chunk("b.parquet", rows[30:])

    schema = StructType(
        [StructField("ts", TimestampType()), StructField("value", DoubleType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = tumbling_counts(stream, window_size="1 hour", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["n_events"])
        for r in spark.sql("select * from tumbling_out").collect()
    }
    batch = tumbling_counts(
        spark.createDataFrame(rows, schema),
        window_size="1 hour",
        watermark="10 minutes",
    )
    expect = {(r["window_start"], r["n_events"]) for r in batch.collect()}
    # every emitted window matches batch exactly; only windows beyond the
    # final watermark may be missing
    assert got <= expect
    assert len(got) >= len(expect) - 2


def test_streaming_session_window(spark, tmp_path):
    """Native session_window under a file stream."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, DoubleType

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.windows import (
        session_aggregate,
    )

    src = tmp_path / "events"
    src.mkdir()
    base = dt.datetime(2024, 1, 1)

    def write_rows(name, rows):
        tab = pa.table(
            {
                "ts": pa.array([r[0] for r in rows], type=pa.timestamp("us")),
                "user_id": pa.array([r[1] for r in rows], type=pa.int64()),
                "value": pa.array([1.0] * len(rows)),
            }
        )
        pq.write_table(tab, src / name)

    # burst now, burst 3h later - in two files so the second micro-batch
    # advances the watermark past the first sessions
    first = [(base + dt.timedelta(minutes=i), u) for u in (1, 2) for i in range(3)]
    second = [
        (base + dt.timedelta(hours=3, minutes=i), u) for u in (1, 2) for i in range(2)
    ]
    write_rows("a.parquet", first)
    time.sleep(1.1)
    write_rows("b.parquet", second)
    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = session_aggregate(stream, gap="30 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("session_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from session_out").collect()
    # 2 users x >=1 finalized session each (last session may stay open)
    by_user = {}
    for r in got:
        by_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert set(by_user) == {1, 2}
    for u, counts in by_user.items():
        assert 3 in counts  # the first burst finalized with 3 events


@pytest.mark.slow
def test_stateful_streaming_dedup_first_seen(spark, tmp_path):
    """applyInPandasWithState: keys emit on first appearance only, across
    micro-batches (state survives between batches)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, DoubleType

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.stateful import (
        streaming_dedup_first_seen,
    )

    src = tmp_path / "stream"
    src.mkdir()

    def write(name, keys):
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(keys, type=pa.int64()),
                    "value": pa.array([1.0] * len(keys)),
                }
            ),
            src / name,
        )

    write("a.parquet", [1, 1, 2, 3])
    time.sleep(1.1)
    write("b.parquet", [2, 3, 4])  # only 4 is new

    schema = StructType(
        [StructField("k", LongType()), StructField("value", DoubleType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_dedup_first_seen(stream, "k")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_state_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from dedup_state_out").collect()
    emitted = sorted(r["key"] for r in rows)
    assert emitted == [1, 2, 3, 4]  # each key exactly once across batches


def test_stateful_running_user_stats(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, DoubleType

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.stateful import (
        running_user_stats,
    )

    src = tmp_path / "stream"
    src.mkdir()

    def write(name, rows):
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([r[0] for r in rows], type=pa.int64()),
                    "value": pa.array([r[1] for r in rows]),
                }
            ),
            src / name,
        )

    write("a.parquet", [(1, 10.0), (1, 5.0), (2, 1.0)])
    time.sleep(1.1)
    write("b.parquet", [(1, 2.5), (2, 1.5)])

    schema = StructType(
        [StructField("user_id", LongType()), StructField("value", DoubleType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = running_user_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("stats_state_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from stats_state_out").collect()
    # last emission per user carries the running totals
    latest = {}
    for r in rows:
        latest[r["user_id"]] = (r["n_events"], r["total"])
    assert latest[1] == (3, 1750)  # 10+5+2.5 in cents
    assert latest[2] == (2, 250)


def test_stream_warehouse_multi_symbol(spark, tmp_path):
    """One independent stream per symbol folder; both tables land."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.watcher import (
        stream_warehouse,
    )

    root = tmp_path / "Training Batch"
    tick_file(root / "EURUSD" / "a.parquet", n=120)
    tick_file(root / "GBPJPY" / "b.parquet", n=150)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    queries = stream_warehouse(
        pipeline, str(root), TICK_SCHEMA, str(tmp_path / "ckpt"), available_now=True
    )
    assert set(queries) == {"eurusd", "gbpjpy"}
    for q in queries.values():
        q.awaitTermination(120)
    assert pipeline.catalog.load_table("gold.eurusd").to_df().count() == 120
    assert pipeline.catalog.load_table("gold.gbpjpy").to_df().count() == 150


def test_streaming_ingest_races_batch_appends(spark, tmp_path):
    """Streaming foreachBatch commits racing DIRECT batch appends on the
    same table (the streaming twin of
    test_hazards.test_compactor_racing_appenders_loses_nothing):
    optimistic rebase-and-retry must preserve every row from both
    writers, and the checkpoint must preserve exactly-once for the
    streamed files."""
    import threading

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.functions.normalize import (
        normalize,
    )

    src = tmp_path / "Training Batch" / "EURUSD"
    tick_file(src / "a.parquet", n=150)
    pipeline = IngestPipeline(spark, str(tmp_path / "wh"))
    q = stream_symbol(
        pipeline, str(src), TICK_SCHEMA, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    table = pipeline.catalog.load_table("gold.eurusd")
    assert table.to_df().count() == 150

    # live stream (1 s trigger) + 4 concurrent direct appenders with
    # disjoint key ranges (years 2030-2033 vs the stream's 2024 days)
    q2 = stream_symbol(
        pipeline, str(src), TICK_SCHEMA, str(tmp_path / "ckpt"), trigger_secs=1
    )
    errors: list[Exception] = []

    def appender(year: int):
        try:
            rows = [
                (dt.datetime(year, 1, 1) + dt.timedelta(seconds=i), 2.0, 2.1)
                for i in range(150)
            ]
            df = normalize(spark.createDataFrame(rows, TICK_SCHEMA))
            pipeline.catalog.load_table("gold.eurusd").append(df)
        except Exception as e:  # surfaced below; a bare thread would hide it
            errors.append(e)

    threads = [
        threading.Thread(target=appender, args=(2030 + i,)) for i in range(4)
    ]
    for i, t in enumerate(threads):
        t.start()
        if i < 2:  # drop new stream files while appenders run
            tick_file(
                src / f"live{i}.parquet",
                n=150,
                start=dt.datetime(2024, 3, 2 + i),
            )
    for t in threads:
        t.join(timeout=120)
    time.sleep(3)  # let the live trigger pick up the dropped files
    q2.stop()
    q2.awaitTermination(60)
    # drain anything the live stream missed before it was stopped
    q3 = stream_symbol(
        pipeline, str(src), TICK_SCHEMA, str(tmp_path / "ckpt"), available_now=True
    )
    q3.awaitTermination(120)

    assert errors == []
    final = pipeline.catalog.load_table("gold.eurusd").to_df()
    # 3 streamed files x 150 + 4 appended batches x 150, nothing lost
    assert final.count() == 3 * 150 + 4 * 150
    from pyspark.sql import functions as F

    per_year = {
        r["y"]: r["n"]
        for r in final.groupBy(F.year("DateTime").alias("y"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_year == {2024: 450, 2030: 150, 2031: 150, 2032: 150, 2033: 150}


def test_table_tail_consumes_append_diffs(spark, tmp_path):
    """stream_table_tail delivers each append exactly once (as an
    incremental diff, never a re-scan), skips content-preserving
    compactions, and reports resets when a delete lands in range."""
    import threading

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import delete_where
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import compact
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.watcher import (
        stream_table_tail,
    )
    from pyspark.sql import functions as F

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("gold.tail", TICK_SCHEMA, [])

    got = []
    resets = []
    seen = threading.Event()

    def process(df, from_v, to_v):
        got.append((from_v, to_v, df.count()))
        seen.set()

    def mk(year, n):
        return spark.createDataFrame(
            [(dt.datetime(year, 1, 1) + dt.timedelta(seconds=i), 1.1, 1.2)
             for i in range(n)],
            TICK_SCHEMA,
        )

    stop, thread, cursor = stream_table_tail(
        t, process, poll_secs=1, on_reset=lambda f, to, r: resets.append(r)
    )
    try:
        t.append(mk(2020, 30).coalesce(1))
        t.append(mk(2021, 40).coalesce(1))
        deadline = time.time() + 60
        while sum(n for _, _, n in got) < 70 and time.time() < deadline:
            time.sleep(0.5)
        assert sum(n for _, _, n in got) == 70  # both appends, exactly once

        # a compaction alone must deliver nothing new
        got_before = list(got)
        assert compact(t, target_file_bytes=64 * 1024 * 1024) is not None
        time.sleep(2.5)
        assert sum(n for _, _, n in got) == sum(n for _, _, n in got_before)
        assert cursor() == t.current_version()  # cursor still advances

        # delete in range -> reset notification, no spurious batch
        seen.clear()
        delete_where(t, F.year("DateTime") == 2020)
        deadline = time.time() + 60
        while not resets and time.time() < deadline:
            time.sleep(0.5)
        assert resets and "append-only" in resets[0]
        assert sum(n for _, _, n in got) == 70
    finally:
        stop.set()
        thread.join(timeout=10)


def test_epoch_sink_exactly_once_stream(spark, tmp_path):
    """write_stream_to_table drains a file source into a lakehouse table;
    re-running with the same checkpoint appends nothing; a new file
    appends only its own rows."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        write_stream_to_table,
    )

    src = tmp_path / "stream_src"
    tick_file(src / "a.parquet", n=100)
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    t = cat.create_table("gold.sunk", TICK_SCHEMA, [])
    ckpt = str(tmp_path / "ckpt")

    stream = spark.readStream.schema(TICK_SCHEMA).parquet(str(src))
    write_stream_to_table(
        stream, t, ckpt, query_id="sink-test", available_now=True
    ).awaitTermination(120)
    assert t.to_df().count() == 100

    # drained checkpoint: nothing new to commit
    stream = spark.readStream.schema(TICK_SCHEMA).parquet(str(src))
    write_stream_to_table(
        stream, t, ckpt, query_id="sink-test", available_now=True
    ).awaitTermination(120)
    assert t.to_df().count() == 100

    tick_file(src / "b.parquet", n=30, start=dt.datetime(2024, 4, 1))
    stream = spark.readStream.schema(TICK_SCHEMA).parquet(str(src))
    write_stream_to_table(
        stream, t, ckpt, query_id="sink-test", available_now=True
    ).awaitTermination(120)
    assert t.to_df().count() == 130
    # every streaming commit carries its epoch stamp
    stamped = [
        s.summary
        for s in t.snapshots()
        if s.summary.get("streaming-query-id") == "sink-test"
    ]
    assert len(stamped) == 2


def test_epoch_sink_replay_is_idempotent(spark, tmp_path):
    """Direct replay of the same epoch (what Spark does after a crash
    between table commit and checkpoint commit) must not double-append —
    even though the checkpoint never recorded the epoch."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        EpochCommitSink,
    )
    from test_table_format import tick_df

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    t = cat.create_table("gold.replay", TICK_SCHEMA, [])
    sink = EpochCommitSink(t, query_id="q1")

    batch = tick_df(spark, n=25)
    sink(batch, 0)
    assert t.to_df().count() == 25
    sink(batch, 0)  # replayed epoch: skipped
    assert t.to_df().count() == 25
    assert t.current_version() == 1
    sink(batch, 1)  # genuinely new epoch
    assert t.to_df().count() == 50
    # a different query's epoch 0 is independent
    EpochCommitSink(t, query_id="q2")(tick_df(spark, n=5), 0)
    assert t.to_df().count() == 55


def test_epoch_sink_transform_and_empty_batches(spark, tmp_path):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        EpochCommitSink,
    )
    from pyspark.sql import functions as F
    from test_table_format import tick_df

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    t = cat.create_table("gold.tf", TICK_SCHEMA, [])
    sink = EpochCommitSink(
        t, query_id="q", transform=lambda df: df.filter(F.col("Bid") > 1.105)
    )
    sink(tick_df(spark, n=10), 0)
    assert t.to_df().count() == 4  # bids 1.106..1.109
    v = t.current_version()
    sink(tick_df(spark, n=3), 1)  # all filtered out -> no empty commit
    assert t.current_version() == v


def test_stream_table_changes_survives_mor_delete(spark, tmp_path):
    """The changelog tail keeps consuming across merge-on-read DML where
    the append-diff tail must reset."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        delete_where,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.watcher import (
        stream_table_changes,
    )
    from pyspark.sql import functions as F
    from test_table_format import tick_df

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    t = cat.create_table("gold.cdc", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=6))  # v1 (before the tail starts)

    batches = []
    resets = []
    stop, thread, cursor = stream_table_changes(
        t,
        lambda df, a, b: batches.append(
            (a, b, df.groupBy("_change_type").count().collect())
        ),
        poll_secs=1,
        on_reset=lambda a, b, r: resets.append(r),
    )
    try:
        t.append(tick_df(spark, n=4, start="2024-02-01 00:00:00"))  # v2
        delete_where(
            t, F.col("Bid") < 1.102, mode="merge-on-read",
            equality_cols=["DateTime"],
        )  # v3: MoR delete of 2 rows per batch start... (Bid 1.100,1.101)
        deadline = time.time() + 30
        while cursor() < t.current_version() and time.time() < deadline:
            time.sleep(0.5)
    finally:
        stop.set()
        thread.join(timeout=10)
    assert not resets, f"changelog tail reset unexpectedly: {resets}"
    counts = {}
    for _a, _b, rows in batches:
        for r in rows:
            counts[r["_change_type"]] = counts.get(r["_change_type"], 0) + r["count"]
    assert counts.get("insert", 0) == 4
    assert counts.get("delete", 0) == 4  # 2 matched rows in each batch


def test_windowed_aggregate_streams_into_lakehouse(spark, tmp_path):
    """Composition: watermarked tumbling window aggregation ->
    exactly-once epoch sink -> lakehouse table. The full streaming
    pipeline a metrics rollup runs in production."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        write_stream_to_table,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.windows import (
        tumbling_counts,
    )
    from pyspark.sql.types import LongType, StructField

    src = tmp_path / "events_src"
    src.mkdir()
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    schema = StructType(
        [StructField("ts", TimestampType()), StructField("value", DoubleType())]
    )

    def write_events(name, minutes):
        tab = pa.table(
            {
                "ts": pa.array(
                    [base + dt.timedelta(minutes=m) for m in minutes],
                    type=pa.timestamp("us"),
                ),
                "value": pa.array([1.0] * len(minutes)),
            }
        )
        pq.write_table(tab, src / name)

    # batch 1: events in windows 00 and 01; batch 2 advances the
    # watermark so both windows close (append mode emits on advance)
    write_events("a.parquet", [1, 2, 61])
    write_events("b.parquet", [200])

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    agg_schema = StructType(
        [
            StructField("window_start", TimestampType()),
            StructField("window_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
        ]
    )
    t = cat.create_table("gold.rollup", agg_schema, [])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = tumbling_counts(
        stream, ts_col="ts", window_size="1 hour", watermark="30 minutes"
    )
    q = write_stream_to_table(
        agg, t, str(tmp_path / "ckpt"), query_id="rollup", available_now=True
    )
    q.awaitTermination(120)
    rows = {
        r["window_start"].minute + r["window_start"].hour * 60: r["n_events"]
        for r in t.to_df().collect()
    }
    assert rows.get(0) == 2  # window 00:00 holds minutes 1,2
    assert rows.get(60) == 1  # window 01:00 holds minute 61


def test_upsert_sink_cdc_apply(spark, tmp_path):
    """UpsertSink applies a changelog: latest version per key wins,
    intra-batch duplicates collapse by the order column, and a replayed
    epoch is skipped even though MERGE is not naturally idempotent."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        UpsertSink,
    )

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    schema = "k long, v string, seq long"
    t = cat.create_table("gold.cdc", spark.createDataFrame([], schema).schema, [])
    sink = UpsertSink(t, query_id="cdc", key="k", dedup_order_col="seq")

    # epoch 0: k=1 twice in one batch (seq 1 then 2) + k=2
    b0 = spark.createDataFrame([(1, "a1", 1), (1, "a2", 2), (2, "b1", 1)], schema)
    sink(b0, 0)
    rows = {r["k"]: r["v"] for r in t.to_df().collect()}
    assert rows == {1: "a2", 2: "b1"}  # intra-batch last-writer-wins

    # epoch 1: update k=2, insert k=3
    b1 = spark.createDataFrame([(2, "b2", 5), (3, "c1", 1)], schema)
    sink(b1, 1)
    rows = {r["k"]: r["v"] for r in t.to_df().collect()}
    assert rows == {1: "a2", 2: "b2", 3: "c1"}

    # crash replay: a FRESH sink (recovers committed epochs from the
    # snapshot log) must skip epoch 1
    v = t.current_version()
    replay = UpsertSink(t, query_id="cdc", key="k", dedup_order_col="seq")
    replay(b1, 1)
    assert t.current_version() == v
    rows = {r["k"]: r["v"] for r in t.to_df().collect()}
    assert rows == {1: "a2", 2: "b2", 3: "c1"}

    # a different query id is independent and does merge
    UpsertSink(t, query_id="other", key="k")(
        spark.createDataFrame([(3, "c9", 9)], schema), 1
    )
    assert {r["v"] for r in t.to_df().filter("k = 3").collect()} == {"c9"}


def test_upsert_stream_end_to_end(spark, tmp_path):
    """availableNow file stream -> UpsertSink: the table converges to
    the latest row per key across micro-batches and a re-run with a
    drained checkpoint commits nothing."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        upsert_stream_to_table,
    )

    schema = "k long, v string, seq long"
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    t = cat.create_table(
        "gold.upstream", spark.createDataFrame([], schema).schema, []
    )

    spark.createDataFrame(
        [(1, "a1", 1), (2, "b1", 1)], schema
    ).coalesce(1).write.parquet(str(src / "f0"))
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    upsert_stream_to_table(
        stream, t, ckpt, query_id="up1", key="k",
        dedup_order_col="seq", available_now=True,
    ).awaitTermination(120)
    assert {r["k"]: r["v"] for r in t.to_df().collect()} == {1: "a1", 2: "b1"}

    spark.createDataFrame(
        [(2, "b2", 7), (3, "c1", 1)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    upsert_stream_to_table(
        stream, t, ckpt, query_id="up1", key="k",
        dedup_order_col="seq", available_now=True,
    ).awaitTermination(120)
    assert {r["k"]: r["v"] for r in t.to_df().collect()} == {
        1: "a1", 2: "b2", 3: "c1",
    }

    v = t.current_version()
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    upsert_stream_to_table(
        stream, t, ckpt, query_id="up1", key="k",
        dedup_order_col="seq", available_now=True,
    ).awaitTermination(120)
    assert t.current_version() == v  # drained: no empty-merge commits


def test_upsert_sink_tied_order_resolves_deterministically(spark, tmp_path):
    """Two versions of one key with the SAME order value: the tiebreak
    over the remaining columns picks one winner, and exactly one row
    per key commits."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        UpsertSink,
    )

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    schema = "k long, v string, seq long"
    t = cat.create_table("gold.tie", spark.createDataFrame([], schema).schema, [])
    sink = UpsertSink(t, query_id="tie", key="k", dedup_order_col="seq")
    b = spark.createDataFrame([(1, "a", 5), (1, "b", 5)], schema)
    sink(b, 0)
    rows = t.to_df().collect()
    assert len(rows) == 1
    assert rows[0]["v"] == "a"  # ascending tiebreak on the rest columns


def test_stream_table_changes_with_images(spark, tmp_path):
    """image_key: the changelog tail streams Delta-CDF pre/post images -
    a MoR UPDATE arrives as update_preimage/update_postimage pairs."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        update_where,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.watcher import (
        stream_table_changes,
    )
    from pyspark.sql import functions as F

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    df = spark.range(6).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("s")
    )
    t = cat.create_table("gold.cdcimg", df.schema)
    t.append(df)  # before the tail starts

    batches = []
    stop, thread, cursor = stream_table_changes(
        t,
        lambda d, a, b: batches.append(
            sorted(
                (r["_change_type"], r["k"], r["s"]) for r in d.collect()
            )
        ),
        poll_secs=1,
        image_key="k",
    )
    try:
        update_where(
            t, F.col("k") < 2, {"s": F.lit("upd")}, mode="merge-on-read"
        )
        deadline = time.time() + 60
        while not batches and time.time() < deadline:
            time.sleep(0.5)
        assert batches, "changelog tail never delivered the update batch"
        got = batches[0]
        assert got == [
            ("update_postimage", 0, "upd"),
            ("update_postimage", 1, "upd"),
            ("update_preimage", 0, "v0"),
            ("update_preimage", 1, "v1"),
        ]
    finally:
        stop.set()
        thread.join(timeout=30)


def test_streaming_anomalies_state_across_batches(spark, tmp_path):
    """The trailing window carries ACROSS micro-batches: a spike in
    batch 2 is judged against the baseline accumulated in batch 1, and
    the flagged rows equal the batch operator's on the same data."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import DoubleType, LongType, TimestampType

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.timeseries import (
        rolling_zscore,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.stateful import (
        streaming_anomalies,
    )

    src = tmp_path / "astream"
    src.mkdir()
    base = dt.datetime(2024, 1, 1)

    def write(name, rows):
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([r[0] for r in rows], type=pa.int64()),
                    "ts": pa.array(
                        [base + dt.timedelta(minutes=r[1]) for r in rows],
                        type=pa.timestamp("us"),
                    ),
                    "value": pa.array([float(r[2]) for r in rows]),
                }
            ),
            src / name,
        )

    b1 = [(7, i, 10.0 + (i % 3)) for i in range(10)]  # noisy baseline
    b2 = [(7, 10, 11.0), (7, 11, 99.0), (7, 12, 10.0)]  # spike mid-batch-2
    write("a.parquet", b1)
    time.sleep(1.1)
    write("b.parquet", b2)

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_anomalies(stream)
        .writeStream.format("memory")
        .queryName("anom_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ackpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from anom_out").collect()
    assert [r["qvalue"] for r in got] == [99_000_000]  # only the spike

    # batch replay of the same data flags the same row
    batch = spark.read.parquet(str(src))
    flagged = (
        rolling_zscore(
            batch, "value", "ts", ["user_id"], window=20, min_periods=5
        )
        .filter("is_anomaly")
        .collect()
    )
    assert [r["value"] for r in flagged] == [99.0]


def test_streaming_ohlc_matches_batch(spark, tmp_path):
    """Candles computed over a file stream equal ohlc_bars over the
    same ticks read as a batch - open/close tie-breaks included - and
    on-time bars finalize exactly once in append mode."""
    from pyspark.sql import functions as F

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.timeseries import (
        ohlc_bars,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.windows import (
        streaming_ohlc,
    )

    src = tmp_path / "ticks"
    src.mkdir()
    rows1 = [
        (1, "2024-01-01 00:00:05", "A", 10.0),
        (2, "2024-01-01 00:00:05", "A", 11.0),  # ts tie: id breaks it
        (3, "2024-01-01 00:00:40", "A", 9.0),
        (4, "2024-01-01 00:00:20", "B", None),  # NULL price tick
        (5, "2024-01-01 00:00:30", "B", 100.0),
    ]
    rows2 = [
        (6, "2024-01-01 00:01:10", "A", 12.0),
        # late-but-in-watermark tick for the same (A, :00) bar would
        # violate append finalization; instead advance time far enough
        # to close the first bars
        (7, "2024-01-01 00:10:00", "A", 13.0),
        (8, "2024-01-01 00:10:00", "B", 101.0),
    ]
    schema = "event_id long, ts string, sym string, price double"

    def write(batch, name):
        spark.createDataFrame(batch, schema).withColumn(
            "ts", F.to_timestamp("ts")
        ).coalesce(1).write.mode("overwrite").parquet(
            str(src / name)
        )

    write(rows1, "b1")
    out_dir = tmp_path / "out"
    chk = tmp_path / "chk"
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, sym string, price double"
        ).option("pathGlobFilter", "*.parquet")
        .parquet(str(src) + "/*")
    )
    candles = streaming_ohlc(
        stream, "ts", "price", "1 minute",
        watermark="1 minute", keys=["sym"], tiebreak_col="event_id",
    )
    q = (
        candles.writeStream.outputMode("append")
        .option("checkpointLocation", str(chk))
        .format("parquet")
        .option("path", str(out_dir))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    write(rows2, "b2")
    q2 = (
        candles.writeStream.outputMode("append")
        .option("checkpointLocation", str(chk))
        .format("parquet")
        .option("path", str(out_dir))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)

    got = spark.read.parquet(str(out_dir))
    # finalized bars (the watermark passed them) match the batch twin
    all_ticks = spark.createDataFrame(rows1 + rows2, schema).withColumn(
        "ts", F.to_timestamp("ts")
    )
    batch = ohlc_bars(
        all_ticks, "ts", "price", "1 minute",
        group_cols=["sym"], tiebreak_col="event_id",
    )
    done = {
        (r["sym"], str(r["bucket"])): (
            r["open"], r["high"], r["low"], r["close"], r["n_ticks"]
        )
        for r in got.collect()
    }
    expect = {
        (r["sym"], str(r["bucket"])): (
            r["open"], r["high"], r["low"], r["close"], r["n_ticks"]
        )
        for r in batch.collect()
    }
    # every emitted bar is exactly its batch twin (incl. the tie-broken
    # open 10.0 and the NULL-price-excluded B bar), emitted once
    assert done
    for k, v in done.items():
        assert expect[k] == v, k
    assert ("A", "2024-01-01 00:00:00") in done
    assert done[("A", "2024-01-01 00:00:00")][0] == 10.0
    assert done[("B", "2024-01-01 00:00:00")] == (
        100.0, 100.0, 100.0, 100.0, 2
    )


def test_watch_materialized_view_keeps_mv_fresh(spark, tmp_path):
    """The MV watcher daemon picks up base appends AND base DML (the
    signed CDC tier) without any full recompute, and stops cleanly."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.watcher import (
        watch_materialized_view,
    )

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("g")
    df = spark.createDataFrame(
        [("a", 1), ("b", 10)], "cat string, v long"
    )
    t = cat.create_table("g.base", df.schema)
    t.append(df)
    mv = cat.create_materialized_view(
        "g.watched",
        "SELECT cat, COUNT(*) AS n, SUM(v) AS s FROM g_base GROUP BY cat",
    )
    ops = []
    stop, thread = watch_materialized_view(
        cat, "g.watched", poll_secs=1,
        on_refresh=lambda s: ops.append(s.operation),
    )
    try:
        t.append(
            spark.createDataFrame([("a", 5)], "cat string, v long")
        )
        deadline = time.time() + 60
        while time.time() < deadline:
            got = {r["cat"]: r["s"] for r in mv.to_df().collect()}
            if got.get("a") == 6:
                break
            time.sleep(0.5)
        assert got["a"] == 6
        cat.sql("DELETE FROM g.base WHERE cat = 'b'")
        deadline = time.time() + 60
        while time.time() < deadline:
            cats = {r["cat"] for r in mv.to_df().collect()}
            if cats == {"a"}:
                break
            time.sleep(0.5)
        assert cats == {"a"}  # the CDC tier dropped the emptied group
        assert set(ops) <= {"merge"}  # never a full rewrite
    finally:
        stop.set()
        thread.join(timeout=30)
    assert not thread.is_alive()


def test_streaming_gaps_cross_batch(spark, tmp_path):
    """A silence SPANNING the micro-batch boundary is the case a
    per-batch lag window cannot see: the key's last event time carries
    as state, the gap emits when the silence-ending event arrives, and
    a batch replay through detect_gaps yields the same gap set."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, TimestampType

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.timeseries import (
        detect_gaps,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.stateful import (
        streaming_gaps,
    )

    src = tmp_path / "gstream"
    src.mkdir()
    base = dt.datetime(2024, 1, 1)

    def write(name, rows):
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array(
                        [r[0] for r in rows], type=pa.int64()
                    ),
                    "ts": pa.array(
                        [base + dt.timedelta(hours=r[1]) for r in rows],
                        type=pa.timestamp("us"),
                    ),
                }
            ),
            src / name,
        )

    # user 1: in-batch 8h gap in batch 1, then 30h silence ACROSS the
    # boundary; user 2: steady, no gaps
    write("a.parquet", [(1, 0), (1, 1), (1, 9), (2, 0), (2, 2)])
    time.sleep(1.1)
    write("b.parquet", [(1, 39), (1, 40), (2, 5)])

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_gaps(stream, min_gap="6 hours")
        .writeStream.format("memory")
        .queryName("gap_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "gckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["key"], r["gap_start_us"], r["gap_end_us"], r["gap_us"])
        for r in spark.sql("select * from gap_out").collect()
    }

    batch = spark.read.schema(schema).parquet(str(src))
    replay = {
        (
            r["user_id"],
            int(r["gap_start"].timestamp() * 1_000_000),
            int(r["gap_end"].timestamp() * 1_000_000),
            r["gap_us"],
        )
        for r in detect_gaps(
            batch, "ts", "6 hours", group_cols=["user_id"]
        ).collect()
    }
    assert got == replay
    assert len(got) == 2  # the 8h in-batch gap + the 30h cross-batch one
    assert {g[3] for g in got} == {
        8 * 3600 * 1_000_000,
        30 * 3600 * 1_000_000,
    }


def test_streaming_heavy_hitters_misra_gries(spark, tmp_path):
    """Bounded-state frequent items: at most k counters per group
    carried across micro-batches. The Misra-Gries guarantee must hold
    over the WHOLE stream: every item with true frequency > n/(k+1)
    appears in the last emission, and kept counters undercount by at
    most n/(k+1) - checked against exact batch counts over both
    files."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from collections import Counter

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.stateful import (
        streaming_heavy_hitters,
    )

    from pyspark.sql.types import LongType, StringType

    src = tmp_path / "hhstream"
    src.mkdir()
    k = 4

    def write(name, rows):
        pq.write_table(
            pa.table(
                {
                    "g": pa.array([r[0] for r in rows], type=pa.int64()),
                    "item": pa.array([r[1] for r in rows]),
                }
            ),
            src / name,
        )

    # group 1: 'hot' dominates across BOTH batches (the cross-batch
    # case a per-batch count can't see); noise items churn the
    # counters. group 2: uniform - nothing need survive, but whatever
    # does must respect the undercount bound.
    b1 = [(1, "hot")] * 30 + [(1, f"n{i}") for i in range(20)] + [
        (2, f"u{i % 6}") for i in range(18)
    ]
    b2 = [(1, "hot")] * 25 + [(1, "warm")] * 22 + [
        (1, f"m{i}") for i in range(15)
    ] + [(2, f"u{i % 6}") for i in range(18)]
    write("a.parquet", b1)
    time.sleep(1.1)
    write("b.parquet", b2)

    schema = StructType(
        [
            StructField("g", LongType()),
            StructField("item", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_heavy_hitters(stream, "g", "item", k=k)
        .writeStream.format("memory")
        .queryName("hh_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "hhckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from hh_out").collect()
    # the last emission per group = rows at its max n_processed
    last = {}
    for r in rows:
        cur = last.setdefault(r["g"], {})
        if r["n_processed"] >= max(
            (x["n_processed"] for x in rows if x["g"] == r["g"])
        ):
            cur[r["item"]] = r["mg_count"]
    truth = {1: Counter(), 2: Counter()}
    for g, it in b1 + b2:
        truth[g][it] += 1
    for g in (1, 2):
        n = sum(truth[g].values())
        bound = n / (k + 1)
        summary = {
            it: c
            for it, c in last[g].items()
        }
        # guarantee 1: every true heavy hitter survives
        for it, c in truth[g].items():
            if c > bound:
                assert it in summary, (g, it, c, bound, summary)
        # guarantee 2: undercount bounded; never overcount
        for it, c in summary.items():
            assert c <= truth[g][it]
            assert truth[g][it] - c <= bound
        # state bound: at most k counters ever
        assert len(summary) <= k
    # group 1's dominators must be exactly the survivors' top
    assert "hot" in last[1]


def test_watch_mv_transient_value_error_backs_off(spark, tmp_path):
    """ADVICE r9: a ValueError raised transiently inside a refresh must
    NOT permanently stop the MV watcher while the MV still exists; the
    daemon backs off (bounded strikes) and recovers."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.watcher import (
        watch_materialized_view,
    )

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("g")
    df = spark.createDataFrame([("a", 1)], "cat string, v long")
    t = cat.create_table("g.base9", df.schema)
    t.append(df)
    mv = cat.create_materialized_view(
        "g.w9",
        "SELECT cat, COUNT(*) AS n FROM g_base9 GROUP BY cat",
    )
    real = cat.refresh_materialized_view
    fails = {"left": 2}

    def flaky(ident):
        if fails["left"] > 0:
            fails["left"] -= 1
            raise ValueError("transient DDL race (synthetic)")
        return real(ident)

    cat.refresh_materialized_view = flaky
    stop, thread = watch_materialized_view(
        cat, "g.w9", poll_secs=1, error_backoff=1
    )
    try:
        t.append(spark.createDataFrame([("a", 5)], "cat string, v long"))
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline:
            got = {r["cat"]: r["n"] for r in mv.to_df().collect()}
            if got.get("a") == 2:
                break
            time.sleep(0.5)
        assert got.get("a") == 2  # recovered after transient failures
        assert thread.is_alive()  # loop survived the ValueErrors
    finally:
        cat.refresh_materialized_view = real
        stop.set()
        thread.join(timeout=30)


def test_watch_mv_probe_failure_is_transient(spark, tmp_path):
    """r9 review: when the permanence PROBE itself fails transiently
    (load_table raising mid-refresh during a ValueError strike), the
    watcher must back off, not stop - only a provably-gone MV is
    permanent."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.watcher import (
        watch_materialized_view,
    )

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("g")
    df = spark.createDataFrame([("a", 1)], "cat string, v long")
    t = cat.create_table("g.base10", df.schema)
    t.append(df)
    mv = cat.create_materialized_view(
        "g.w10",
        "SELECT cat, COUNT(*) AS n FROM g_base10 GROUP BY cat",
    )
    real_refresh = cat.refresh_materialized_view
    real_load = cat.load_table
    fails = {"left": 1}

    def flaky_refresh(ident):
        if fails["left"] > 0:
            fails["left"] -= 1
            raise ValueError("transient race (synthetic)")
        return real_refresh(ident)

    def flaky_load(ident):
        if fails["left"] > 0 or ident != "g.w10":
            return real_load(ident)
        if not fails.get("probe_done"):
            # first probe after the strike: simulate an IO blip
            fails["probe_done"] = True
            raise RuntimeError("metadata read racing a writer (synthetic)")
        return real_load(ident)

    cat.refresh_materialized_view = flaky_refresh
    cat.load_table = flaky_load
    stop, thread = watch_materialized_view(
        cat, "g.w10", poll_secs=1, error_backoff=1
    )
    try:
        t.append(spark.createDataFrame([("a", 5)], "cat string, v long"))
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline:
            got = {r["cat"]: r["n"] for r in mv.to_df().collect()}
            if got.get("a") == 2:
                break
            time.sleep(0.5)
        assert got.get("a") == 2  # recovered despite the probe failure
        assert thread.is_alive()
    finally:
        cat.refresh_materialized_view = real_refresh
        cat.load_table = real_load
        stop.set()
        thread.join(timeout=30)
        stop.set()
        thread.join(30)


def test_watch_mv_dropped_mv_stops_loudly(spark, tmp_path):
    """A genuinely-permanent ValueError (the table is no longer an MV)
    still stops the daemon instead of backing off forever."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.watcher import (
        watch_materialized_view,
    )

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("g")
    df = spark.createDataFrame([("a", 1)], "cat string, v long")
    t = cat.create_table("g.base10", df.schema)
    t.append(df)
    cat.create_materialized_view(
        "g.w10",
        "SELECT cat, COUNT(*) AS n FROM g_base10 GROUP BY cat",
    )
    stop, thread = watch_materialized_view(
        cat, "g.w10", poll_secs=1, error_backoff=1
    )
    try:
        mvt = cat.load_table("g.w10")
        props = mvt.properties()
        # strip the MV markers: refresh now raises "not an MV"
        import json as _json
        import os as _os

        kept = {k: v for k, v in props.items() if not k.startswith("mv.")}
        tmp = _os.path.join(mvt.metadata_dir, ".props.tmp9")
        with open(tmp, "w") as f:
            _json.dump(kept, f)
        _os.replace(tmp, mvt._properties_path())
        deadline = time.time() + 60
        while time.time() < deadline and thread.is_alive():
            time.sleep(0.5)
        assert not thread.is_alive()  # stopped loudly, not retrying
    finally:
        stop.set()
        thread.join(30)


def test_watch_mv_drives_join_tier_incrementally(spark, tmp_path):
    """VERDICT r8 #8: the MV watcher daemon drives join-aggregate MVs -
    a fact append under the daemon converges the fact-JOIN-dim view via
    the MERGE path (no full recompute), and an idle base stays
    zero-commit."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.watcher import (
        watch_materialized_view,
    )

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("g")
    f = cat.create_table(
        "g.jf", spark.createDataFrame([], "fk long, v long").schema
    )
    d = cat.create_table(
        "g.jd", spark.createDataFrame([], "k long, seg string").schema
    )
    d.append(
        spark.createDataFrame(
            [(1, "A"), (2, "B")], "k long, seg string"
        )
    )
    f.append(spark.createDataFrame([(1, 10)], "fk long, v long"))
    mv = cat.create_materialized_view(
        "g.jwmv",
        "SELECT seg, COUNT(*) AS n, SUM(v) AS sv FROM g_jf "
        "JOIN g_jd ON g_jf.fk = g_jd.k GROUP BY seg",
    )
    assert mv.properties().get("mv.refresh_mode") == "join_agg"
    ops = []
    stop, thread = watch_materialized_view(
        cat, "g.jwmv", poll_secs=1,
        on_refresh=lambda s: ops.append(s.operation),
    )
    try:
        f.append(
            spark.createDataFrame(
                [(1, 5), (2, 7)], "fk long, v long"
            )
        )
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline:
            got = {r["seg"]: (r["n"], r["sv"]) for r in mv.to_df().collect()}
            if got == {"A": (2, 15), "B": (1, 7)}:
                break
            time.sleep(0.5)
        assert got == {"A": (2, 15), "B": (1, 7)}
        # the daemon's refreshes were all incremental merges
        assert ops and set(ops) == {"merge"}
        v = cat.load_table("g.jwmv").current_version()
        time.sleep(3)  # idle base: zero further commits
        assert cat.load_table("g.jwmv").current_version() == v
        # r9: a dim UPDATE under the daemon converges via the CDC tier
        # (signed dim changelog joined to the pinned fact) - still
        # merge-only, never a full recompute
        cat.sql("UPDATE g.jd SET seg = 'C' WHERE k = 2")
        deadline = time.time() + 60
        while time.time() < deadline:
            got = {r["seg"]: (r["n"], r["sv"]) for r in mv.to_df().collect()}
            if got == {"A": (2, 15), "C": (1, 7)}:
                break
            time.sleep(0.5)
        assert got == {"A": (2, 15), "C": (1, 7)}
        assert ops and set(ops) == {"merge"}
    finally:
        stop.set()
        thread.join(30)


def test_watch_mv_drives_sketch_and_recompute_tiers(spark, tmp_path):
    """r11: the MV watcher daemon drives the sketch tiers - an append
    under the daemon converges an APPROX_COUNT_DISTINCT + MIN star MV
    by HLL union merge, and a fact DELETE converges via the
    touched-group recompute (still a merge commit), never a full
    rebuild."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.watcher import (
        watch_materialized_view,
    )

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("g")
    f = cat.create_table(
        "g.sf", spark.createDataFrame([], "fk long, u string, v long").schema
    )
    d = cat.create_table(
        "g.sd", spark.createDataFrame([], "k long, seg string").schema
    )
    d.append(
        spark.createDataFrame([(1, "A"), (2, "B")], "k long, seg string")
    )
    f.append(
        spark.createDataFrame(
            [(1, "x", 10), (2, "y", 7)], "fk long, u string, v long"
        )
    )
    mv = cat.create_materialized_view(
        "g.swmv",
        "SELECT seg, MIN(v) AS lo, APPROX_COUNT_DISTINCT(u) AS du "
        "FROM g_sf JOIN g_sd ON g_sf.fk = g_sd.k GROUP BY seg",
    )
    assert mv.properties().get("mv.refresh_mode") == "join_agg"
    ops = []
    stop, thread = watch_materialized_view(
        cat, "g.swmv", poll_secs=1,
        on_refresh=lambda s: ops.append(
            (s.operation, (s.summary or {}).get("group_recompute"))
        ),
    )
    try:
        f.append(
            spark.createDataFrame(
                [(1, "z", 5)], "fk long, u string, v long"
            )
        )
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline:
            got = {r["seg"]: (r["lo"], r["du"]) for r in mv.to_df().collect()}
            # wait for the CALLBACK too: the data converges at the
            # commit, before the watcher thread reaches on_refresh
            if got == {"A": (5, 2), "B": (7, 1)} and ops:
                break
            time.sleep(0.5)
        assert got == {"A": (5, 2), "B": (7, 1)}
        assert ops and ops[0] == ("merge", None)  # sketch union merge
        # fact DELETE: the daemon converges via touched-group recompute
        cat.sql("DELETE FROM g.sf WHERE v = 5")
        deadline = time.time() + 60
        while time.time() < deadline:
            got = {r["seg"]: (r["lo"], r["du"]) for r in mv.to_df().collect()}
            if got == {"A": (10, 1), "B": (7, 1)} and (
                "merge",
                True,
            ) in ops:
                break
            time.sleep(0.5)
        assert got == {"A": (10, 1), "B": (7, 1)}
        assert ("merge", True) in ops  # the recompute tier fired
        assert all(op == "merge" for op, _ in ops)  # never a rebuild
    finally:
        stop.set()
        thread.join(30)


def test_scd2_sink_streaming_history(spark, tmp_path):
    """Scd2Sink: a CDC stream lands as full SCD2 history, one MERGE
    commit per epoch; a fresh-sink replay of a committed epoch is
    skipped BEFORE the out-of-order gate would reject it."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        scd2_target_schema,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        Scd2Sink,
    )

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    ch_schema = "k long, s string, _change_type string, _change_version long"
    b0 = spark.createDataFrame(
        [(1, "a1", "insert", 1), (2, "b1", "insert", 1)], ch_schema
    )
    dim = cat.create_table("gold.sdim", scd2_target_schema(b0))
    sink = Scd2Sink(dim, query_id="scd", key="k")
    sink(b0, 0)
    # epoch 1: update k=1, delete k=2 - versions open/close
    b1 = spark.createDataFrame(
        [(1, "a2", "update_postimage", 2), (2, None, "delete", 2)],
        ch_schema,
    )
    sink(b1, 1)

    def rows():
        return {
            (r["k"], r["s"], r["__start_at"], r["__end_at"], r["__is_current"])
            for r in dim.to_df().collect()
        }

    want = {
        (1, "a1", 1, 2, False),
        (1, "a2", 2, None, True),
        (2, "b1", 1, 2, False),
    }
    assert rows() == want
    # crash replay with a FRESH sink: epoch 1 must be skipped (a
    # re-apply would otherwise raise out-of-order - sequences now
    # trail the stored history)
    v = dim.current_version()
    replay = Scd2Sink(dim, query_id="scd", key="k")
    replay(b1, 1)
    assert dim.current_version() == v and rows() == want


def test_scd2_stream_end_to_end(spark, tmp_path):
    """availableNow file stream -> Scd2Sink: micro-batches of CDC files
    land as SCD2 history; a drained-checkpoint re-run commits nothing."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        scd2_target_schema,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        scd2_stream_to_table,
    )

    ch_schema = "k long, s string, _change_type string, _change_version long"
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, "a1", "insert", 1), (2, "b1", "insert", 1)], ch_schema
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f0"))
    spark.createDataFrame(
        [(1, "a2", "update_postimage", 2)], ch_schema
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    probe = spark.createDataFrame([], ch_schema)
    dim = cat.create_table("gold.sdim2e", scd2_target_schema(probe))
    stream = (
        spark.readStream.schema(probe.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = scd2_stream_to_table(
        stream, dim, ckpt, query_id="scd2e", key="k", available_now=True
    )
    q.awaitTermination(120)
    got = {
        (r["k"], r["s"], r["__start_at"], r["__end_at"], r["__is_current"])
        for r in dim.to_df().collect()
    }
    assert got == {
        (1, "a1", 1, 2, False),
        (1, "a2", 2, None, True),
        (2, "b1", 1, None, True),
    }
    v = dim.current_version()
    q2 = scd2_stream_to_table(
        stream, dim, ckpt, query_id="scd2e", key="k", available_now=True
    )
    q2.awaitTermination(120)
    assert dim.current_version() == v  # drained checkpoint: no commits


def test_streaming_identity_exactly_once(spark, tmp_path):
    """VERDICT r9 #5: an availableNow stream into an IDENTITY table
    allocates unique ids; a checkpoint-loss replay (fresh checkpoint,
    same query id) skips via the epoch stamp and assigns NO duplicate
    ids; a direct crash-replay of an epoch that reserved but never
    committed REUSES its recorded range (deterministic values, no
    extra gap)."""
    from pyspark.sql.types import LongType, StringType, StructField
    from pyspark.sql.types import StructType as _ST

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        EpochCommitSink,
        write_stream_to_table,
    )

    schema = _ST([StructField("v", StringType())])
    src = tmp_path / "id_src"
    src.mkdir()
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    _pq.write_table(
        _pa.table({"v": [f"r{i}" for i in range(40)]}),
        src / "a.parquet",
    )
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    t = cat.create_table(
        "gold.sid",
        _ST(
            [
                StructField("rid", LongType()),
                StructField("v", StringType()),
            ]
        ),
        [],
    )
    t.set_identity_column("rid", start=1, step=1)
    stream = spark.readStream.schema(schema).parquet(str(src))
    write_stream_to_table(
        stream,
        t,
        str(tmp_path / "ck1"),
        query_id="idq",
        available_now=True,
    ).awaitTermination(120)
    ids1 = sorted(r["rid"] for r in t.to_df().collect())
    assert ids1 == list(range(1, 41))
    # checkpoint loss: fresh checkpoint replays epoch 0 - the epoch
    # stamp skips the append, so no duplicate ids and no gap burn
    stream = spark.readStream.schema(schema).parquet(str(src))
    write_stream_to_table(
        stream,
        t,
        str(tmp_path / "ck2"),
        query_id="idq",
        available_now=True,
    ).awaitTermination(120)
    ids2 = sorted(r["rid"] for r in t.to_df().collect())
    assert ids2 == ids1
    # crash between reservation and commit: the retry of the SAME
    # epoch reuses the recorded range - deterministic values
    batch = spark.createDataFrame([("x",), ("y",)], "v string")
    sink = EpochCommitSink(t, "idq2")
    base1 = t._reserve_identity_epoch("idq2:5", 2)
    sink(batch, 5)  # the "retry" allocates from the SAME bases
    got = {
        r["rid"]
        for r in t.to_df().filter("v IN ('x','y')").collect()
    }
    assert got == {base1["rid"] + 1, base1["rid"] + 2}
    # and nothing collided with the earlier 40
    allv = [r["rid"] for r in t.to_df().collect()]
    assert len(allv) == len(set(allv)) == 42


@pytest.mark.slow
def test_streaming_quality_curation_exactly_once(spark, tmp_path):
    """r11 (VERDICT r10 #8): the quality-classifier curation streaming
    twin - an availableNow document stream scores + filters inside
    foreachBatch and appends survivors exactly-once; the kept set
    equals the batch quality_filter over the same input (one operator
    path, plan-literal model), and a fresh-checkpoint replay with the
    same query id appends nothing."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
    )
    from pyspark.sql.types import StructType as _ST

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators.quality_classifier import (
        quality_classifier_fit,
        quality_filter,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        curate_stream_to_table,
    )

    # corpus: "good" docs share reference-like vocabulary
    good = [f"the quick brown fox jumps over dog {i}" for i in range(30)]
    bad = [f"zz{i} qq{i} xx{i} ww{i} vv{i}" for i in range(30)]
    docs = {
        "doc_id": list(range(60)),
        "text": good + bad,
        "label": [1] * 30 + [0] * 30,
    }
    fit_df = spark.createDataFrame(
        list(zip(docs["doc_id"], docs["text"], docs["label"])),
        "doc_id long, text string, label int",
    )
    model = quality_classifier_fit(fit_df, "label", sample=60)

    src = tmp_path / "cur_src"
    src.mkdir()
    _pq.write_table(
        _pa.table({"doc_id": docs["doc_id"], "text": docs["text"]}),
        src / "a.parquet",
    )
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    t = cat.create_table(
        "gold.curated",
        _ST(
            [
                StructField("doc_id", LongType()),
                StructField("text", StringType()),
                StructField("quality_score", DoubleType()),
            ]
        ),
    )
    schema = _ST(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = spark.readStream.schema(schema).parquet(str(src))
    curate_stream_to_table(
        stream,
        t,
        str(tmp_path / "ck1"),
        query_id="curq",
        model=model,
        threshold=0.0,
    ).awaitTermination(120)
    kept = {
        r["doc_id"]: r["quality_score"] for r in t.to_df().collect()
    }
    # twin equality: the streamed survivors == the batch filter
    batch = {
        r["doc_id"]: r["quality_score"]
        for r in quality_filter(
            fit_df.select("doc_id", "text"), model, threshold=0.0
        ).collect()
    }
    assert kept == batch
    # the model separates: most good docs kept, most bad dropped
    assert sum(1 for d in kept if d < 30) > 20
    assert sum(1 for d in kept if d >= 30) < 10
    # fresh-checkpoint replay with the SAME query id: epoch stamp skips
    stream = spark.readStream.schema(schema).parquet(str(src))
    curate_stream_to_table(
        stream,
        t,
        str(tmp_path / "ck2"),
        query_id="curq",
        model=model,
        threshold=0.0,
    ).awaitTermination(120)
    assert t.to_df().count() == len(kept)


def _neardedup_tables(spark, tmp_path):
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
    )
    from pyspark.sql.types import StructType as _ST

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.dedup_sink import (
        signature_sidecar_spec,
    )

    cat = LakehouseCatalog(spark, str(tmp_path / "ndwh"))
    cat.create_namespace("gold")
    t = cat.create_table(
        "gold.nd_docs",
        _ST(
            [
                StructField("doc_id", LongType()),
                StructField("text", StringType()),
            ]
        ),
    )
    sig = cat.create_table(
        "gold.nd_sigs",
        _ST(
            [
                StructField("doc_id", LongType()),
                StructField("band", IntegerType()),
                StructField("bkt", IntegerType()),
            ]
        ),
        signature_sidecar_spec(8),
    )
    return cat, t, sig


@pytest.mark.slow
def test_streaming_near_dedup_curation_exactly_once(spark, tmp_path):
    """r11: the streaming near-dedup curation sink - each availableNow
    batch is MinHash-filtered against the accumulated corpus through
    the banded signature sidecar, plus greedy intra-batch dedup; a
    later batch's near-dup of an EARLIER batch's doc drops without
    ever re-reading the corpus text wholesale, and a fresh-checkpoint
    replay with the same query id appends nothing."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql.types import LongType, StringType, StructField
    from pyspark.sql.types import StructType as _ST

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.dedup_sink import (
        write_dedup_stream_to_table,
    )

    base = [
        f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i} "
        f"eta{i} theta{i} iota{i} kappa{i}"
        for i in range(10)
    ]
    src = tmp_path / "nd_src"
    src.mkdir()
    _pq.write_table(
        _pa.table({"doc_id": list(range(10)), "text": base}),
        src / "a.parquet",
    )
    cat, t, sig = _neardedup_tables(spark, tmp_path)
    schema = _ST(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )

    def run(ck):
        stream = spark.readStream.schema(schema).parquet(str(src))
        write_dedup_stream_to_table(
            stream,
            t,
            sig,
            str(tmp_path / ck),
            query_id="ndq",
            text_col="text",
            id_col="doc_id",
            threshold=0.8,
            available_now=True,
        ).awaitTermination(180)

    run("ndck")
    assert {r["doc_id"] for r in t.to_df().collect()} == set(range(10))
    # sidecar holds band rows for every survivor
    assert {r["doc_id"] for r in sig.to_df().collect()} == set(range(10))

    # batch 2: 10 near-dups doc 0 (9/11 overlap), 11 is fresh, 12 is
    # an exact copy of doc 1, 13/14 are intra-batch near-dups
    fresh = "omega nu xi omicron pi rho sigma tau upsilon phi"
    pair = "lambda1 mu1 nu1 xi1 omicron1 pi1 rho1 sigma1 tau1 upsilon1"
    _pq.write_table(
        _pa.table(
            {
                "doc_id": [10, 11, 12, 13, 14],
                "text": [
                    base[0] + " extra1",
                    fresh,
                    base[1],
                    pair,
                    pair + " tail1",
                ],
            }
        ),
        src / "b.parquet",
    )
    run("ndck")  # same checkpoint: only the new file forms the batch
    got = {r["doc_id"] for r in t.to_df().collect()}
    assert got == set(range(10)) | {11, 13}
    assert {r["doc_id"] for r in sig.to_df().collect()} == got
    # fresh-checkpoint replay with the SAME query id: epoch skip on
    # BOTH tables (capture the sidecar count BEFORE the replay -
    # review r11 caught a self-comparing assert here)
    n_sigs = sig.to_df().count()
    run("ndck2")
    assert t.to_df().count() == len(got)
    assert sig.to_df().count() == n_sigs


@pytest.mark.slow
def test_near_dedup_sink_two_table_replay(spark, tmp_path):
    """r11: the two-table exactly-once argument - a crash BETWEEN the
    main append and the sidecar append replays into completing only
    the sidecar, with byte-identical survivors (the corpus probe
    excludes the batch's own ids, so the half-committed state cannot
    change the dedup decision)."""
    import pytest as _pytest

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.dedup_sink import (
        NearDedupSink,
    )

    cat, t, sig = _neardedup_tables(spark, tmp_path)
    seed_batch = spark.createDataFrame(
        [
            (0, "one two three four five six seven eight nine ten"),
            (1, "red orange yellow green blue indigo violet pink gray black"),
        ],
        "doc_id long, text string",
    )
    sink = NearDedupSink(
        t, sig, "ndq2", "text", "doc_id", threshold=0.8
    )
    sink(seed_batch, 0)
    assert t.to_df().count() == 2 and sig.to_df().count() > 0
    # replaying the SAME epoch is a no-op on both tables
    tv, sv = t.current_version(), sig.current_version()
    sink(seed_batch, 0)
    assert (t.current_version(), sig.current_version()) == (tv, sv)

    # epoch 1: doc 2 near-dups doc 0; doc 3 is fresh. Crash AFTER the
    # main append, BEFORE the sidecar append.
    batch1 = spark.createDataFrame(
        [
            (2, "one two three four five six seven eight nine ten eleven1"),
            (3, "cat dog bird fish horse cow sheep goat pig duck"),
        ],
        "doc_id long, text string",
    )
    crashing = NearDedupSink(
        t, sig, "ndq2", "text", "doc_id", threshold=0.8
    )
    real_append = sig.append
    sig.append = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("crash before sidecar append")
    )
    with _pytest.raises(RuntimeError, match="crash"):
        crashing(batch1, 1)
    sig.append = real_append
    # main holds the survivors (0,1,3 kept; 2 dropped), sidecar lags
    assert {r["doc_id"] for r in t.to_df().collect()} == {0, 1, 3}
    assert {r["doc_id"] for r in sig.to_df().collect()} == {0, 1}
    # a FRESH sink (post-crash restart) replays epoch 1: the main
    # append skips, the sidecar completes, the decision is unchanged
    # even though the main table already contains the batch's docs
    replay = NearDedupSink(
        t, sig, "ndq2", "text", "doc_id", threshold=0.8
    )
    replay(batch1, 1)
    assert {r["doc_id"] for r in t.to_df().collect()} == {0, 1, 3}
    assert {r["doc_id"] for r in sig.to_df().collect()} == {0, 1, 3}
    # and the sidecar rows for doc 3 band-match a recompute
    assert (
        sig.to_df().filter("doc_id = 3").count() > 0
    )


@pytest.mark.slow
def test_near_dedup_append_batch_twin(spark, tmp_path):
    """r11: the batch twin shares the sink's sidecar probe - batch and
    streaming ingestion keep ONE dedup semantics and one sidecar, so a
    batch-curated doc blocks a later near-dup in either door."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.dedup_sink import (
        NearDedupSink,
        near_dedup_append,
    )

    cat, t, sig = _neardedup_tables(spark, tmp_path)
    out = near_dedup_append(
        t,
        sig,
        spark.createDataFrame(
            [
                (0, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
                (1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11x"),  # intra dup
                (2, "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10"),
            ],
            "doc_id long, text string",
        ),
        "text",
        "doc_id",
        threshold=0.8,
    )
    assert out == {"appended": 2, "dropped": 1}
    assert {r["doc_id"] for r in t.to_df().collect()} == {0, 2}
    # the STREAMING door sees the batch-curated corpus
    sink = NearDedupSink(t, sig, "bq", "text", "doc_id", threshold=0.8)
    sink(
        spark.createDataFrame(
            [(10, "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10 k11x"), (11, "z1 z2 z3 z4 z5")],
            "doc_id long, text string",
        ),
        0,
    )
    assert {r["doc_id"] for r in t.to_df().collect()} == {0, 2, 11}


@pytest.mark.slow
def test_near_dedup_sidecar_auto_maintenance(spark, tmp_path):
    """r12 (VERDICT r11 #3): the sidecar grows one SMALL band-rows file
    per (epoch x touched bucket partition) and nothing compacted it.
    ``maintain_every=N`` wires ``auto_maintain`` into the sink. After K
    epochs against a never-maintained twin corpus fed identical
    batches: (a) the maintained sidecar holds FEWER live data files;
    (b) the next batch's survivors are byte-identical on both corpora
    (compaction is content-preserving - no dedup decision moves);
    (c) the ``bkt`` probe's manifest pruning still drops files after
    compaction (the q67-style keep-filter assertion)."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
    )
    from pyspark.sql.types import StructType as _ST

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.dedup_sink import (
        NearDedupSink,
        signature_sidecar_spec,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
        _range_keep,
        compute_bucket,
    )

    cat = LakehouseCatalog(spark, str(tmp_path / "sidecar_wh"))
    cat.create_namespace("gold")
    doc_schema = _ST(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    sig_schema = _ST(
        [
            StructField("doc_id", LongType()),
            StructField("band", IntegerType()),
            StructField("bkt", IntegerType()),
        ]
    )

    def mk(prefix):
        t = cat.create_table(f"gold.{prefix}_docs", doc_schema)
        s = cat.create_table(
            f"gold.{prefix}_sigs", sig_schema, signature_sidecar_spec(8)
        )
        return t, s

    t_m, sig_m = mk("maint")  # maintained every 4 epochs
    t_u, sig_u = mk("plain")  # never maintained
    # fire compaction as soon as 2 small files share the table
    sig_m.set_properties(**{"maintenance.min-small-files": 2})

    maintained = NearDedupSink(
        t_m, sig_m, "sq", "text", "doc_id", threshold=0.8,
        maintain_every=4,
    )
    plain = NearDedupSink(
        t_u, sig_u, "sq", "text", "doc_id", threshold=0.8
    )

    def batch(epoch):
        rows = [
            (
                epoch * 10 + i,
                " ".join(f"e{epoch}d{i}w{k}" for k in range(10)),
            )
            for i in range(3)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    for e in range(4):  # epoch 3 commits, then auto_maintain fires
        b = batch(e)
        maintained(b, e)
        plain(b, e)

    # (a) compaction ran and shrank the live file count; content equal
    files_m = len(sig_m.snapshot().data_entries)
    files_u = len(sig_u.snapshot().data_entries)
    assert files_m < files_u, (files_m, files_u)
    key = lambda r: (r["doc_id"], r["band"], r["bkt"])  # noqa: E731
    assert sorted(map(key, sig_m.to_df().collect())) == sorted(
        map(key, sig_u.to_df().collect())
    )

    # (b) the NEXT batch decides identically on both corpora: doc 100
    # near-dups epoch-0 doc 0 (10/11 token overlap), doc 101 is fresh
    dup_text = (
        " ".join(f"e0d0w{k}" for k in range(10)) + " extra_tail"
    )
    nxt = spark.createDataFrame(
        [(100, dup_text), (101, "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10")],
        "doc_id long, text string",
    )
    maintained(nxt, 4)
    plain(nxt, 4)
    main_ids = {r["doc_id"] for r in t_m.to_df().collect()}
    assert main_ids == {r["doc_id"] for r in t_u.to_df().collect()}
    assert 100 not in main_ids and 101 in main_ids
    assert sorted(map(key, sig_m.to_df().collect())) == sorted(
        map(key, sig_u.to_df().collect())
    )

    # (c) the bkt probe still prunes on the compacted sidecar
    snap = sig_m.snapshot()
    part = next(p for p in snap.partition_spec if p.source == "bkt")
    probe = sig_m.to_df().select("bkt").first()["bkt"]
    keep = _range_keep(
        "bkt", probe, probe, part, compute_bucket(sig_m, part, probe)
    )
    kept = [e for e in snap.data_entries if keep(e)]
    assert 0 < len(kept) < len(snap.data_entries), (
        len(kept),
        len(snap.data_entries),
    )
    # and the pruned scan equals the full-scan filter
    got = {
        key(r)
        for r in sig_m.scan_where_in("bkt", [probe]).collect()
    }
    want = {
        key(r)
        for r in sig_m.to_df().filter(f"bkt = {int(probe)}").collect()
    }
    assert got == want and got


def test_streaming_sketch_mv_converges_under_live_stream(spark, tmp_path):
    """r12 (VERDICT r11 #7): the sketch-MV streaming twin END TO END -
    an exactly-once stream (EpochCommitSink) lands micro-batches into
    the base table WHILE the MV watcher daemon refreshes an
    APPROX_COUNT_DISTINCT MV. Every refresh must be a sketch-union
    MERGE (never a rebuild), and the converged estimates must equal a
    from-scratch batch rebuild of the same store query - the
    one-estimator invariant surviving the streaming path."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql.types import LongType, StringType, StructField
    from pyspark.sql.types import StructType as _ST

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        write_stream_to_table,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.watcher import (
        watch_materialized_view,
    )

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("g")
    schema = _ST(
        [StructField("k", StringType()), StructField("u", LongType())]
    )
    base = cat.create_table("g.ev", schema)
    base.append(
        spark.createDataFrame([("a", 1), ("b", 100)], "k string, u long")
    )
    mv = cat.create_materialized_view(
        "g.ev_mv",
        "SELECT k, COUNT(*) AS n, APPROX_COUNT_DISTINCT(u) AS du "
        "FROM g_ev GROUP BY k",
    )
    assert "__mv_hll_du" in {f.name for f in mv.schema.fields}

    src = tmp_path / "stream_src"
    src.mkdir()

    def push(name, ks, us):
        _pq.write_table(_pa.table({"k": ks, "u": us}), src / name)

    def run_stream(ck="ck"):
        stream = spark.readStream.schema(schema).parquet(str(src))
        write_stream_to_table(
            stream,
            base,
            str(tmp_path / ck),
            query_id="sq",
            available_now=True,
        ).awaitTermination(180)

    ops = []
    stop, thread = watch_materialized_view(
        cat, "g.ev_mv", poll_secs=1,
        on_refresh=lambda s: ops.append(s.operation),
    )
    try:
        # wave 1: two files -> micro-batch(es) land while the daemon
        # polls; duplicate u values across waves exercise the union
        push("w1.parquet", ["a", "a", "b"], [1, 2, 3])
        run_stream()
        # wave 2: same checkpoint consumes only the new file
        push("w2.parquet", ["a", "b", "c"], [2, 3, 4])
        run_stream()

        # seed (a,1)(b,100) + wave1 (a,1)(a,2)(b,3) + wave2 (a,2)(b,3)
        # (c,4): a = 4 rows over {1,2}, b = 3 rows over {100,3}
        want = {"a": (4, 2), "b": (3, 2), "c": (1, 1)}
        deadline = time.time() + 90
        got = {}
        while time.time() < deadline:
            got = {
                r["k"]: (r["n"], r["du"]) for r in mv.to_df().collect()
            }
            if got == want and len(ops) >= 1:
                break
            time.sleep(0.5)
        assert got == want, (got, ops)
        assert ops and all(op == "merge" for op in ops)  # union only
    finally:
        stop.set()
        thread.join(30)

    # exactly-once under the daemon: a fresh-checkpoint replay of the
    # same source appends nothing, so the MV stays converged
    run_stream("ck2")
    assert cat.refresh_materialized_view("g.ev_mv") is None

    # the converged estimates equal a from-scratch batch rebuild of
    # the SAME store query (one estimator on every path)
    rebuilt = cat.create_materialized_view(
        "g.ev_mv2",
        "SELECT k, COUNT(*) AS n, APPROX_COUNT_DISTINCT(u) AS du "
        "FROM g_ev GROUP BY k",
    )
    key = lambda r: (r["k"], r["n"], r["du"])  # noqa: E731
    assert sorted(map(key, mv.to_df().select("k", "n", "du").collect())) == sorted(
        map(key, rebuilt.to_df().select("k", "n", "du").collect())
    )


@pytest.mark.slow
def test_epoch_sink_maintain_every_holds_retention_ttl(spark, tmp_path):
    """r13 (VERDICT r12 #6): the streaming twin of declarative row
    retention. With ``maintain_every=2`` and a retention policy armed
    in table properties, a continuously-ingesting table ages expired
    rows out every 2nd epoch - no external scheduler - and epoch
    replay determinism survives the interleaved maintenance commits
    (a fresh sink instance still skips replayed epochs from the
    snapshot log)."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        EpochCommitSink,
    )

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    schema = "k long, ts timestamp"

    def batch(epoch: int):
        # 2 expired (January) + 3 live (March) rows per epoch
        return spark.createDataFrame(
            [(epoch * 10 + i, f"2024-01-0{i + 1} 00:00:00") for i in range(2)]
            + [
                (epoch * 10 + 5 + i, f"2024-03-0{i + 1} 00:00:00")
                for i in range(3)
            ],
            "k long, ts string",
        ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts")

    t = cat.create_table("gold.ttl", batch(0).schema)
    t.set_properties(**{
        "retention.column": "ts",
        "retention.cutoff": "TIMESTAMP '2024-02-01 00:00:00'",
        "retention.sql-mode": "merge-on-read",
    })
    # review r13: 0 would fire maintenance on EVERY epoch, not "off"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="maintain_every"):
        EpochCommitSink(t, query_id="bad", maintain_every=0)
    sink = EpochCommitSink(t, query_id="ttl_q", maintain_every=2)
    sink(batch(0), 0)
    # not due yet: epoch 0's expired rows are still readable
    assert t.to_df().count() == 5
    sink(batch(1), 1)
    # maintenance fired after the 2nd commit: all January rows aged out
    assert t.to_df().count() == 6
    assert t.to_df().filter("ts < TIMESTAMP '2024-02-01'").count() == 0
    sink(batch(2), 2)
    # between passes the stream is NOT blocked on retention
    assert t.to_df().count() == 11
    sink(batch(3), 3)  # 4th commit: due again
    assert t.to_df().count() == 12
    assert t.to_df().filter("ts < TIMESTAMP '2024-02-01'").count() == 0
    # replay determinism survives the interleaved maintenance commits:
    # same sink and a FRESH sink (restart) both skip committed epochs
    v = t.current_version()
    sink(batch(0), 0)
    assert t.current_version() == v and t.to_df().count() == 12
    fresh = EpochCommitSink(t, query_id="ttl_q", maintain_every=2)
    fresh(batch(3), 3)
    assert t.current_version() == v and t.to_df().count() == 12
    # a genuinely new epoch through the fresh sink still lands; the
    # maintain counter is per sink INSTANCE, so the restart's first
    # commit is not yet due and epoch 4's expired rows linger...
    fresh(batch(4), 4)
    assert t.to_df().count() == 17
    # ...until the restart's second commit pays the TTL debt down
    fresh(batch(5), 5)
    assert t.to_df().count() == 18
    assert t.to_df().filter("ts < TIMESTAMP '2024-02-01'").count() == 0


def test_epoch_watermark_survives_expired_stamps(spark, tmp_path):
    """review r13: snapshot expiry (which maintain_every itself can
    trigger) may prune an OLD epoch's stamped summary - 'stamp absent'
    alone must not let a fresh-checkpoint replay re-append that epoch.
    The high-watermark guard skips any epoch at-or-below the newest
    committed one."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (
        expire_snapshots,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        EpochCommitSink,
    )
    from test_table_format import TICK_SCHEMA, tick_df

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    t = cat.create_table("gold.wm", TICK_SCHEMA, [])
    sink = EpochCommitSink(t, query_id="wm_q")
    for e in range(4):
        sink(tick_df(spark, n=5, start=f"2024-0{e + 1}-01 00:00:00"), e)
    assert t.to_df().count() == 20
    # expiry prunes the EARLY epochs' stamped snapshots
    expire_snapshots(
        t, older_than_ms=10**18, retain_last=2, orphan_grace_secs=0.0
    )
    fresh = EpochCommitSink(t, query_id="wm_q")
    remaining = fresh.committed_epochs()
    assert 0 not in remaining  # the stamp really is gone...
    fresh(tick_df(spark, n=5), 0)  # ...yet the replay must not land
    assert t.to_df().count() == 20
    # a genuinely NEW epoch (above the watermark) still lands
    fresh(tick_df(spark, n=5, start="2024-06-01 00:00:00"), 4)
    assert t.to_df().count() == 25


def test_epoch_watermark_survives_all_stamps_pruned(spark, tmp_path):
    """review r13 (second pass): the watermark persists in a per-table
    sidecar file, so the replay guard holds even when expiry pruned
    EVERY stamped snapshot - the stamp-set max alone would fail open
    and re-append the whole stream."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (
        expire_snapshots,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        EpochCommitSink,
    )
    from test_table_format import TICK_SCHEMA, tick_df

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    t = cat.create_table("gold.wm2", TICK_SCHEMA, [])
    sink = EpochCommitSink(t, query_id="wm2_q")
    for e in range(3):
        sink(tick_df(spark, n=4, start=f"2024-0{e + 1}-01 00:00:00"), e)
    assert t.to_df().count() == 12
    # two non-epoch commits push every STAMPED snapshot past the
    # retain floor, then expiry prunes them all
    t.append(tick_df(spark, n=1, start="2024-05-01 00:00:00"))
    t.append(tick_df(spark, n=1, start="2024-05-02 00:00:00"))
    expire_snapshots(
        t, older_than_ms=10**18, retain_last=2, orphan_grace_secs=0.0
    )
    fresh = EpochCommitSink(t, query_id="wm2_q")
    assert fresh.committed_epochs() == set()  # every stamp is gone
    for e in range(3):  # fresh-checkpoint full replay
        fresh(tick_df(spark, n=4, start=f"2024-0{e + 1}-01 00:00:00"), e)
    assert t.to_df().count() == 14  # nothing re-appended
    fresh(tick_df(spark, n=4, start="2024-06-01 00:00:00"), 3)
    assert t.to_df().count() == 18  # a new epoch still lands


def test_watermarks_are_per_query_no_lost_update(spark, tmp_path):
    """VERDICT r13 #3 / ADVICE r13: the r13 layout kept every query's
    watermark in ONE shared JSON whose read-modify-write let two
    concurrent streams into one table lose each other's entry
    (last-rename-wins). r14 gives each query_id its own sidecar file -
    interleave two sinks, then prove BOTH watermarks survived by
    pruning every stamp and replaying each query from a fresh
    checkpoint."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (
        expire_snapshots,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        EpochCommitSink,
        _read_watermark,
    )
    from test_table_format import TICK_SCHEMA, tick_df

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    t = cat.create_table("gold.wm3", TICK_SCHEMA, [])
    a = EpochCommitSink(t, query_id="stream_a")
    b = EpochCommitSink(t, query_id="stream_b")
    # interleaved epochs from two queries into one table: under the
    # shared-doc layout each write rewrote the whole doc from a stale
    # read, so this ordering could drop the other query's entry
    a(tick_df(spark, n=3, start="2024-01-01 00:00:00"), 0)
    b(tick_df(spark, n=3, start="2024-02-01 00:00:00"), 0)
    a(tick_df(spark, n=3, start="2024-03-01 00:00:00"), 1)
    b(tick_df(spark, n=3, start="2024-04-01 00:00:00"), 1)
    b(tick_df(spark, n=3, start="2024-05-01 00:00:00"), 2)
    assert t.to_df().count() == 15
    assert _read_watermark(t, "stream_a") == 1
    assert _read_watermark(t, "stream_b") == 2
    # prune EVERY stamped snapshot so only the sidecars guard replays
    t.append(tick_df(spark, n=1, start="2024-06-01 00:00:00"))
    t.append(tick_df(spark, n=1, start="2024-06-02 00:00:00"))
    expire_snapshots(
        t, older_than_ms=10**18, retain_last=2, orphan_grace_secs=0.0
    )
    expected = 17
    for qid, hi in (("stream_a", 1), ("stream_b", 2)):
        fresh = EpochCommitSink(t, query_id=qid)
        assert fresh.committed_epochs() == set()
        for e in range(hi + 1):  # fresh-checkpoint full replay: no-op
            fresh(tick_df(spark, n=3, start="2024-07-01 00:00:00"), e)
        assert t.to_df().count() == expected
        # the next genuinely-new epoch still lands
        fresh(tick_df(spark, n=2, start="2024-08-01 00:00:00"), hi + 1)
        expected += 2
        assert t.to_df().count() == expected
    assert t.to_df().count() == 21


def test_reset_watermark_clears_only_its_query(spark, tmp_path):
    """reset_watermark removes exactly one query's sidecar; while that
    query's epoch stamps remain in the snapshot log a low epoch id is
    still skipped, and once expiry prunes them the reset frees it."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        EpochCommitSink,
        _advance_watermark,
        _read_watermark,
        reset_watermark,
    )
    from test_table_format import TICK_SCHEMA, tick_df

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    t = cat.create_table("gold.wm4", TICK_SCHEMA, [])
    sink = EpochCommitSink(t, query_id="old_q")
    sink(tick_df(spark, n=3), 6)
    assert t.to_df().count() == 3
    assert _read_watermark(t, "old_q") == 6
    _advance_watermark(t, "other_q", 9)
    reset_watermark(t, "old_q")
    assert _read_watermark(t, "old_q") == -1
    assert _read_watermark(t, "other_q") == 9
    fresh = EpochCommitSink(t, query_id="old_q")
    # epoch 6's stamp is still in the snapshot log: both the stamp
    # guard and the stamp-derived watermark still hold, so a low NEW
    # epoch id stays skipped (reset_watermark documents this - while
    # stamps remain, a recreated checkpoint needs a new query_id)
    fresh(tick_df(spark, n=3), 6)
    fresh(tick_df(spark, n=2), 1)
    assert t.to_df().count() == 3
    # once expiry prunes the stamps, the reset actually frees the ids
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (  # noqa: E501
        expire_snapshots,
    )

    t.append(tick_df(spark, n=1, start="2024-09-01 00:00:00"))
    t.append(tick_df(spark, n=1, start="2024-09-02 00:00:00"))
    expire_snapshots(
        t, older_than_ms=10**18, retain_last=2, orphan_grace_secs=0.0
    )
    reset_watermark(t, "old_q")
    fresh2 = EpochCommitSink(t, query_id="old_q")
    fresh2(tick_df(spark, n=2), 1)  # recreated checkpoint, new rows
    assert t.to_df().count() == 7
