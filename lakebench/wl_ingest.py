"""``ingest``: the reference's own job, run each time tick files arrive.

Two symbol folders (one float64, one float32) each receive one file
per round, overlapping the previous file by half. Rounds come in cycles
of two: the second round runs write-audit-publish, and in it one symbol
receives a file that fails the quality gate instead of its tick file
(the operator then moves it out of the source tree). Each round times
three kinds of call:

- ``ingest_run``: ``IngestPipeline.run`` over the new arrivals;
- ``ingest_poll``: the scheduler's idle poll, a ``run`` that finds
  nothing new;
- ``stream_batch``: an ``available_now`` micro-batch over a third symbol
  that receives one file per round.

The time is fixed per-job and per-commit cost in ingest, sources.files,
functions, operators.dedup, table and streaming; no MV, DML or query
code runs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from lakebench.common import Run, live_bytes, timed_setups
from lakebench.gen import TickFeed

SYMBOLS = ("EURUSD", "USDJPY")
STREAM_SYMBOL = "EURCHF"
HALF = 5_000  # new ticks per file; a file holds 2 * HALF
CYCLE = 2  # rounds: plain, then write-audit-publish with one bad file


class Ingest:
    name = "ingest"
    cycle = CYCLE

    def __init__(self, run: Run):
        self.run = run
        self.feeds = {
            s: TickFeed(run.seed, s, i, HALF, float32=(i % 2 == 1))
            for i, s in enumerate(SYMBOLS)
        }
        self.stream_feed = TickFeed(run.seed, STREAM_SYMBOL, 9, HALF, float32=False)
        self.rng = np.random.default_rng([run.seed, 3])
        self.src = run.path("ticks")
        self.stream_src = run.path("stream_ticks", STREAM_SYMBOL)
        self.quarantine = run.path("quarantine")
        self.accepted = {s: 0 for s in SYMBOLS}  # files accepted per symbol
        self.stream_files = 0
        self.ledgered = 0

    def setup(self) -> None:
        """Each set-up opens a fresh warehouse and loads the first file of
        every symbol; the kept warehouse then runs the first stream batch,
        untimed."""
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.ingest import (
            IngestPipeline,
        )

        for s, feed in self.feeds.items():
            self._arrive(os.path.join(self.src, s), 0, feed.table(0))
        self._arrive(self.stream_src, 0, self.stream_feed.table(0))
        os.makedirs(self.quarantine, exist_ok=True)

        def build(wh):
            pipeline = IngestPipeline(self.run.spark, wh)
            pipeline.run(self.src)
            return pipeline

        self.pipeline = timed_setups(self.run, 3, build)
        self.checkpoint = self.run.path("stream_checkpoint")
        self._stream(self.pipeline, self.checkpoint)
        self.run.open_warehouse(self.pipeline.catalog.warehouse)
        self.run.input_bytes = 0  # write_amp counts the loop's inputs only
        self.accepted = {s: 1 for s in SYMBOLS}
        self.stream_files = 1
        self.ledgered = len(SYMBOLS)

    def _stream(self, pipeline, checkpoint: str) -> None:
        """One ``available_now`` stream batch over the stream symbol."""
        from pyspark.sql.types import DoubleType, StructField, StructType, TimestampType

        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.watcher import (
            stream_symbol,
        )

        schema = StructType(
            [
                StructField("DateTime", TimestampType()),
                StructField("Bid", DoubleType()),
                StructField("Ask", DoubleType()),
            ]
        )
        q = stream_symbol(pipeline, self.stream_src, schema, checkpoint, available_now=True)
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError("stream batch did not finish in 120 s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        ex = self.run.extra
        for p in q.recentProgress:
            if p.numInputRows:
                ex["stream_batches"] = ex.get("stream_batches", 0) + 1
                ex["stream_batch_ms"] = ex.get("stream_batch_ms", 0) + p.durationMs.get(
                    "triggerExecution", 0
                )

    def _arrive(self, directory: str, k: int, table, prefix: str = "tick") -> str:
        """Drop tick file ``k`` into ``directory``; returns its path."""
        os.makedirs(directory, exist_ok=True)
        path = os.path.join(directory, f"{prefix}_{k:04d}.parquet")
        pq.write_table(table, path)
        if prefix == "tick":
            self.run.input_bytes += os.path.getsize(path)
        return path

    def round(self, r: int) -> None:
        run = self.run
        bad = (
            SYMBOLS[int(self.rng.integers(0, len(SYMBOLS)))]
            if r % CYCLE == 1
            else None
        )
        bad_path = None
        exp_rows = 0
        for s in SYMBOLS:
            feed = self.feeds[s]
            if s == bad:
                bad_path = self._arrive(
                    os.path.join(self.src, s), r, feed.bad_table(r), prefix="bad"
                )
                continue
            self._arrive(os.path.join(self.src, s), self.accepted[s], feed.table(self.accepted[s]))
            exp_rows += HALF
        summary = run.call(
            "ingest_run",
            self.pipeline.run,
            self.src,
            write_audit_publish=(r % CYCLE == 1),
        )
        n_new = len(SYMBOLS) - (1 if bad else 0)
        run.verify(
            (
                summary.files_processed,
                summary.files_skipped,
                summary.files_rejected,
                summary.rows_appended,
            )
            == (n_new, self.ledgered, 1 if bad else 0, exp_rows),
            f"round {r} ingest summary {summary}",
        )
        for s in SYMBOLS:
            if s != bad:
                self.accepted[s] += 1
        self.ledgered += n_new
        ex = run.extra
        ex["files_new"] = ex.get("files_new", 0) + len(SYMBOLS)
        ex["files_skipped"] = ex.get("files_skipped", 0) + summary.files_skipped
        ex["rows_read"] = ex.get("rows_read", 0) + n_new * 2 * HALF
        ex["rows_appended"] = ex.get("rows_appended", 0) + summary.rows_appended
        if bad_path:
            shutil.move(bad_path, os.path.join(self.quarantine, os.path.basename(bad_path)))

        poll = run.call("ingest_poll", self.pipeline.run, self.src)
        run.verify(
            (poll.files_processed, poll.files_skipped, poll.files_rejected, poll.rows_appended)
            == (0, self.ledgered, 0, 0),
            f"round {r} poll summary {poll}",
        )
        ex["files_skipped"] += poll.files_skipped

        self._arrive(self.stream_src, self.stream_files, self.stream_feed.table(self.stream_files))
        self.stream_files += 1
        run.call("stream_batch", self._stream, self.pipeline, self.checkpoint)

    def finish(self) -> None:
        """Untimed end-state checks, then the byte ratios."""
        run = self.run
        cat = self.pipeline.catalog
        for s, n_files in list(self.accepted.items()) + [
            (STREAM_SYMBOL, self.stream_files)
        ]:
            if n_files == 0:
                continue
            n = cat.load_table(f"gold.{s.lower()}").to_df().count()
            run.final_check(n == (n_files + 1) * HALF, f"gold.{s.lower()} has {n} rows")
        run.extra["live_bytes"] = live_bytes(cat)

    def main_op(self) -> str:
        return "ingest_run"

    def short_op(self) -> str:
        return "ingest_poll"
