"""The ingest pipeline: the reference's ``run_pipeline`` re-expressed as
Spark jobs over the snapshot table format.

Reference dataflow (``/root/reference/lakehouse_pipeline.py:289-424``,
mapped step-by-step in SURVEY.md §3):

  for each symbol folder under the source root:          (:322-331)
    for each parquet file under it (recursive):          (:343)
      skip if md5(file) already in the ingest ledger     (:350-357)
      read -> normalize -> quality-check                 (:361-370)
      create table if absent (years(DateTime) partition) (:372-384)
      dedup against committed keys -> append             (:386-394)
      record ledger entry                                (:391,398)
    expire old snapshots (7 days, keep 2)                (:401-405)
  persist ledger; append audit entry                     (:411-417)

Engine changes for scale (SURVEY.md §7):
- change detection runs on the driver, as the reference's does, and
  launches no Spark job: each symbol folder is listed by the rules of
  Spark's binaryFile scan (``sources.files.list_parquet_files``), the
  listed files are md5-hashed on a thread pool of width
  ``defaultParallelism`` (hashlib releases the GIL), and the ledger's
  data files are read with pyarrow, batch by batch, keeping only the
  rows of listed paths. Driver memory is O(listed files) plus one
  batch, as Spark's own file index would hold. An idle poll costs 0
  Spark jobs for 1 folder or 100: on small polls the fixed cost of
  launching a job, not the bytes hashed, sets the latency. One path
  serves both modes; only the grouping into batches differs.
- the projections and aggregates on the driver's hot path (normalize,
  the quality gate, the write-audit-publish row gate) are SQL text with
  backticked identifiers, not trees of ``F`` calls: each ``F`` call is a
  py4j round trip or several.
- the per-file loop becomes a per-symbol *batch*: all new files of a
  symbol are read as ONE DataFrame (Spark's multi-file parquet reader),
  so normalize/QC/dedup/append are one distributed job each, not O(files)
  driver roundtrips. The quality gate's numbers (rows, NULL counts,
  price minimums, the ``DateTime`` range) come from the Parquet footers
  of the batch's files, read on the driver as the reference reads its
  PyArrow table; the aggregate pass runs only when the footers cannot
  give its exact answer (``functions.quality``). The same numbers give
  the dedup key bounds. The schema Spark inferred for a footer shape is
  remembered per pipeline, so a repeated shape skips the inference job.
  The deduped batch is staged once and published metadata-only in both
  modes (default and write-audit-publish), so its anti-join runs once.
  A plain run then costs 3 jobs per table (the dedup and the
  distributed write). Per-file QC parity mode
  (``per_file=True``) keeps the reference's file-granular accept/reject
  semantics for tests.
- the per-table batches of one run overlap: each table's folders go to
  one worker of a thread pool, at most ``defaultParallelism`` at a
  time. A batch spends most of its time waiting on JVM planning and job
  launch, not on executor work, so two tables no longer queue behind
  each other. Folders that name the same table (``EURUSD/`` and
  ``eurusd/``) stay serial inside one worker, or both batches would
  dedup against the same committed keys. Results merge on the calling
  thread in folder order, so the summary reads as a serial run's.
- ledger + audit log live in lakehouse tables (``ops`` namespace), not
  JSON read-modify-write files (S10/S11 - a JSON array rewrite per run
  is not 100 TB-safe and cannot be written concurrently). Their rows
  are already on the driver, so the driver writes them
  (``LakehouseTable.append_rows``): no Spark job per bookkeeping row.
  Each accepting run adds one ledger file; past ``LEDGER_MAX_FILES`` the
  ledger is compacted, so a poll reads a bounded number of them.
"""

from __future__ import annotations

import hashlib
import logging
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.util import inheritable_thread_target

from . import maintenance
from .catalog import LakehouseCatalog
from .functions.normalize import normalize
from .functions.quality import MIN_ROWS_THRESHOLD, batch_stats, check_quality
from .operators.dedup import dedup_against_table
from .maintenance import expire_snapshots
from .sources.files import (
    READ_SCHEMA_CONFS,
    list_parquet_files,
    parquet_footers,
    read_schema_key,
)
from .table import PartitionField

_log = logging.getLogger(__name__)

NAMESPACE = "gold"  # lakehouse_pipeline.py:69
OPS_NAMESPACE = "ops"
# every run that accepts files adds one ledger data file, and change
# detection reads them all on every poll: past this many the ledger is
# compacted
LEDGER_MAX_FILES = 64

LEDGER_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("checksum", StringType()),
        StructField("ingested_at", TimestampType()),
    ]
)

AUDIT_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("started_at", TimestampType()),
        StructField("duration_secs", DoubleType()),
        StructField("tables_processed", LongType()),
        StructField("files_processed", LongType()),
        StructField("files_skipped", LongType()),
        StructField("files_rejected", LongType()),
        StructField("rows_appended", LongType()),
        StructField("quality_issues", StringType()),
    ]
)


def file_checksum(path: str | Path, chunk: int = 8192) -> str:
    """Streaming MD5 (reference ``file_checksum``,
    ``lakehouse_pipeline.py:122-128``)."""
    md5 = hashlib.md5()
    with open(path, "rb") as f:
        while True:
            data = f.read(chunk)
            if not data:
                break
            md5.update(data)
    return md5.hexdigest()


@dataclass
class RunSummary:
    run_id: str
    tables_processed: int = 0
    files_processed: int = 0
    files_skipped: int = 0
    files_rejected: int = 0
    rows_appended: int = 0
    quality_issues: list[str] = field(default_factory=list)
    duration_secs: float = 0.0


class IngestPipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        namespace: str = NAMESPACE,
        expire_older_than_days: float = 7.0,
        retain_last: int = 2,
    ):
        self.spark = spark
        self.catalog = LakehouseCatalog(spark, warehouse)
        self.namespace = namespace
        self.expire_older_than_days = expire_older_than_days
        self.retain_last = retain_last
        self.catalog.create_namespace(namespace)
        self.catalog.create_namespace(OPS_NAMESPACE)
        self._ledger = self.catalog.ensure_table(
            f"{OPS_NAMESPACE}.ingest_ledger", LEDGER_SCHEMA
        )
        self._audit = self.catalog.ensure_table(
            f"{OPS_NAMESPACE}.audit_runs", AUDIT_SCHEMA
        )
        # read-schema key -> the schema Spark inferred for it; shared by
        # the run's table workers
        self._read_schemas: dict[tuple, StructType] = {}
        self._read_schemas_lock = threading.Lock()
        # the width of the hashing and per-table pools
        self._width = spark.sparkContext.defaultParallelism

    # -- ledger (ST2 exactly-once per file content) --------------------------

    def ledger_latest(self):
        """Current (path, checksum) ledger state as a DataFrame: latest
        entry per path wins."""
        return (
            self._ledger.to_df()
            .groupBy("path")
            .agg(F.expr("max_by(checksum, ingested_at) AS checksum"))
        )

    def ingested(self) -> dict[str, str]:
        """The whole ledger as a driver dict, read through Spark so
        merge-on-read tombstones apply. Change detection reads only the
        listed paths' rows (``_ledger_checksums``) and falls back to this
        only while the ledger holds pending deletes."""
        return {
            r["path"]: r["checksum"] for r in self.ledger_latest().collect()
        }

    def _record_ledger(self, entries: list[tuple[str, str]]) -> None:
        """Append the accepted files' ledger rows. Once the ledger holds
        more than ``LEDGER_MAX_FILES`` data files it is compacted and its
        old snapshots expired, so a poll's change detection opens a
        bounded number of ledger files. The rows are committed by then,
        so a failed compaction is reported, not raised."""
        if not entries:
            return
        now = datetime.now(tz=timezone.utc).replace(tzinfo=None)
        snap = self._ledger.append_rows([(p, c, now) for p, c in entries])
        if len(snap.data_entries) > LEDGER_MAX_FILES:
            try:
                maintenance.compact(self._ledger)
                self._expire(self._ledger)
            except Exception:
                _log.warning("ledger compaction failed", exc_info=True)

    def _expire(self, table) -> None:
        """M2 snapshot expiry (:401-405) under this pipeline's policy."""
        expire_snapshots(
            table,
            older_than_ms=int(
                (time.time() - self.expire_older_than_days * 86400) * 1000
            ),
            retain_last=self.retain_last,
        )

    # -- pipeline ------------------------------------------------------------

    def run(
        self,
        source_root: str,
        per_file: bool = False,
        write_audit_publish: bool = False,
    ) -> RunSummary:
        """One pipeline run over ``source_root`` (reference entry point 1,
        ``lakehouse_scheduler.py --now``).

        Both modes find new files the same way, on the driver, with no
        Spark job (``_detect_changes``: list, md5, look up the ledger, as
        the reference does at ``lakehouse_pipeline.py:343-357``); the new
        files' checksums are reused for the ledger write. The files are
        read and hashed by the driver, not by executors: this method
        already walks ``source_root`` with ``pathlib``, so the driver must
        see it, and on small polls launching a job costs more than the
        hashing. An idle poll launches no Spark job and writes its audit
        row on the driver.
        ``per_file=False`` (default): batch all new files per symbol into
        one DataFrame - the scale path.
        ``per_file=True``: reference-parity mode - QC accepts/rejects each
        file independently (a bad file doesn't poison its siblings).
        ``write_audit_publish=True``: stage each batch invisibly, audit
        the staged bytes, publish metadata-only or abort (see
        ``ingest_batch``).

        New files are found on the calling thread. Then each table's
        folders run on a thread pool of width ``min(tables with work,
        defaultParallelism)``, one worker per table, with the caller's
        job group, job tags and session tags. The counters and
        ``quality_issues`` merge in sorted folder order, as a serial run
        orders them, and the ledger and audit rows are written once
        after the pool. If a table fails, every worker still finishes;
        then the first failing table in folder order re-raises and no
        ledger or audit row is written. Tables that did commit dedup
        their batch to 0 rows on the re-run.
        """
        t0 = time.time()
        summary = RunSummary(run_id=time.strftime("%Y%m%d_%H%M%S"))
        root = Path(source_root)
        if not root.is_dir():
            summary.duration_secs = time.time() - t0
            return summary

        symbols = sorted(p for p in root.iterdir() if p.is_dir())
        summary.files_skipped, changes = self._detect_changes(symbols)
        # folders with new files, grouped by the table they feed:
        # EURUSD/ and eurusd/ both map to gold.eurusd and must not race
        work: dict[str, list[tuple[int, list[tuple[str, str]]]]] = {}
        for i, new_entries in sorted(changes.items()):
            summary.tables_processed += 1
            table_id = f"{self.namespace}.{symbols[i].name.lower()}"  # :330-331
            work.setdefault(table_id, []).append((i, new_entries))

        # one worker per table; each task gets its own clone of the
        # caller's job group, job tags and session tags
        width = min(len(work), self._width) or 1
        with ThreadPoolExecutor(max_workers=width) as pool:
            futures = [
                pool.submit(
                    inheritable_thread_target(self.spark)(self._ingest_table),
                    table_id,
                    folders,
                    per_file,
                    write_audit_publish,
                )
                for table_id, folders in work.items()
            ]
        # every worker has finished; merge in folder order, so the first
        # failing table in that order raises before any ledger row lands
        ledger_updates: list[tuple[str, str]] = []
        results = [r for f in futures for r in f.result()]
        for _, part, done in sorted(results, key=lambda r: r[0]):
            summary.files_processed += part.files_processed
            summary.files_rejected += part.files_rejected
            summary.rows_appended += part.rows_appended
            summary.quality_issues.extend(part.quality_issues)
            ledger_updates.extend(done)

        self._record_ledger(ledger_updates)
        summary.duration_secs = time.time() - t0
        self._append_audit(summary)
        return summary

    def _detect_changes(
        self, symbols: list[Path]
    ) -> tuple[int, dict[int, list[tuple[str, str]]]]:
        """Change detection for every symbol folder, on the driver, with
        no Spark job. Each folder is listed as Spark's binaryFile scan
        lists it (``list_parquet_files``), every listed file is hashed
        with ``file_checksum`` on a pool of ``defaultParallelism``
        threads, and a file is skipped when its checksum equals the
        latest ledger checksum of its path (``_ledger_checksums``).

        Returns ``(files skipped, {folder index in symbols: new (path,
        checksum) pairs, sorted})``; a folder with nothing new is absent.
        Driver memory is O(listed files): the listing, the checksums and
        the listed paths' latest ledger entries."""
        folder_of = {
            path: i
            for i, d in enumerate(symbols)
            for path in list_parquet_files(str(d))
        }
        if not folder_of:
            return 0, {}
        paths = sorted(folder_of)
        width = min(len(paths), self._width)
        with ThreadPoolExecutor(max_workers=width) as pool:
            checksums = list(pool.map(file_checksum, paths))
        seen = self._ledger_checksums(paths)
        skipped = 0
        changes: dict[int, list[tuple[str, str]]] = {}
        for path, checksum in zip(paths, checksums):
            if seen.get(path) == checksum:
                skipped += 1
            else:
                changes.setdefault(folder_of[path], []).append((path, checksum))
        return skipped, changes

    def _ledger_checksums(self, paths: list[str]) -> dict[str, str]:
        """The latest ledger checksum of each of ``paths`` that has one:
        the entry with the greatest ``ingested_at`` wins, as
        ``max_by(checksum, ingested_at)`` picks it. The current
        snapshot's ledger files are read with pyarrow, one record batch
        at a time, each cut to the rows of ``paths`` by ``is_in``. A
        ledger with merge-on-read tombstones is read through Spark
        (``ingested``), which applies them."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        snap = self._ledger.snapshot()
        if snap.delete_entries:
            ledger = self.ingested()
            return {p: ledger[p] for p in paths if p in ledger}
        wanted = pa.array(paths, pa.string())
        latest: dict[str, tuple[int, str]] = {}
        for e in snap.data_entries:
            f = pq.ParquetFile(os.path.join(self._ledger.location, e["path"]))
            for b in f.iter_batches(columns=["path", "checksum", "ingested_at"]):
                b = b.filter(pc.is_in(b.column("path"), value_set=wanted))
                if not b.num_rows:
                    continue
                at = b.column("ingested_at")
                # microseconds since the epoch, whatever unit the writer
                # chose (a Spark INT96 file reads back in nanoseconds)
                at = at.cast(pa.timestamp("us", at.type.tz), safe=False)
                for path, checksum, t in zip(
                    b.column("path").to_pylist(),
                    b.column("checksum").to_pylist(),
                    at.cast(pa.int64()).to_pylist(),
                ):
                    if t is not None and (path not in latest or t > latest[path][0]):
                        latest[path] = (t, checksum)
        return {path: checksum for path, (_, checksum) in latest.items()}

    def ingest_batch(
        self,
        table_id: str,
        raw: DataFrame,
        write_audit_publish: bool = False,
        footers: list | None = None,
    ) -> tuple[int | None, list[str]]:
        """normalize -> QC -> ensure table -> dedup -> stage -> publish
        for one batch DataFrame; ``_ingest_files`` and the streaming
        micro-batches both run it. Returns ``(rows appended, [])``, or
        ``(None, issues)`` if the batch was rejected, in which case
        nothing is committed.

        Both modes dedup and write the batch ONCE: the deduped batch is
        staged (hash-distributed by partition, so O(partitions) files),
        its row count is read from the staged files' footers, and it is
        published with a metadata-only commit - or aborted when it holds
        no rows (the reference's empty-append short-circuit, :388-392),
        leaving no snapshot and no files. The default path gates the
        in-flight DataFrame before the write, and the gate's numbers
        also give the dedup key bounds, so ``dedup_against_table`` runs
        no probe of its own. ``write_audit_publish=True`` (Iceberg's WAP
        pattern) gates only the incoming row count before the write and
        audits exactly the staged bytes that would become visible, so a
        nondeterministic transform between QC and write cannot bypass
        it.

        ``footers`` are the Parquet footers of the files ``raw`` reads
        (``_ingest_files`` passes them). Given, the incoming gate and
        the key bounds come from them, and the WAP audit reads the
        staged files' own footers: no Spark job, unless a footer cannot
        give the aggregate's exact answer. Without them (streaming
        micro-batches) each gate is one aggregate pass of 2 jobs. From
        files, with a remembered read schema, a batch costs 3 jobs in
        either mode: the dedup and the distributed write."""
        df = normalize(raw)  # S1 + F1/F2
        has_key = "DateTime" in df.columns
        spec = (
            [PartitionField(source="DateTime", transform="years", name="DateTime_year")]
            if has_key
            else []
        )  # M3 (:373-382)

        if write_audit_publish:
            # min-rows gates the INCOMING batch (reference semantics,
            # lakehouse_pipeline.py:137) - dedup may legitimately shrink
            # a re-ingested batch to zero - so this rejects before any
            # write. It needs the row count and the key range only.
            stats = batch_stats(df, footers, positive_cols=())
            if stats.rows < MIN_ROWS_THRESHOLD:
                return None, ["too few rows"]
            bounds = (stats.lo, stats.hi)
        else:
            report = check_quality(df, footers=footers)  # P6/P7, A1/A2/A4/A5
            if not report.ok:
                return None, report.issues
            m = report.metrics
            bounds = (m["min_DateTime"], m["max_DateTime"])
        table = self.catalog.ensure_table(table_id, df.schema, spec)  # S8
        clean = dedup_against_table(
            df, table, key="DateTime", bounds=bounds if has_key else None
        )  # J1
        staged = table.stage_append(clean, optimize_write=True)  # S5
        entries = table.staged_entries(staged)
        if write_audit_publish:
            # the staged files' own footers: exactly the bytes a publish
            # would make visible
            staged_footers = parquet_footers(
                [os.path.join(table.location, e["path"]) for e in entries]
            )
            report = check_quality(
                table.staged_scan(staged), min_rows=0, footers=staged_footers
            )
            if not report.ok:
                table.abort_staged(staged)
                return None, report.issues
        n = sum(e["rows"] for e in entries)
        if n > 0:
            table.publish_staged(staged)
        else:
            table.abort_staged(staged)
        return n, []

    def _ingest_table(
        self,
        table_id: str,
        folders: list[tuple[int, list[tuple[str, str]]]],
        per_file: bool,
        wap: bool,
    ) -> list[tuple[int, RunSummary, list[tuple[str, str]]]]:
        """One table's share of a run: each ``(folder index, new
        entries)`` in order, as one batch or (``per_file``) one batch per
        file, then snapshot expiry. Returns ``(folder index, its counts,
        its accepted ledger entries)`` per folder."""
        out = []
        for i, entries in folders:
            part = RunSummary(run_id="")
            done: list[tuple[str, str]] = []
            for group in [[e] for e in entries] if per_file else [entries]:
                if self._ingest_files(table_id, [p for p, _ in group], part, wap):
                    done.extend(group)
            out.append((i, part, done))

        # snapshot expiry per table; the batches are committed, so a
        # failed expiry is reported, not raised
        try:
            self._expire(self.catalog.load_table(table_id))
        except Exception:
            _log.warning("snapshot expiry of %s failed", table_id, exc_info=True)
        return out

    def _ingest_files(
        self, table_id: str, paths: list[str], summary: RunSummary, wap: bool
    ) -> bool:
        """``ingest_batch`` over ``paths`` read as one DataFrame, counted
        into ``summary``, its gate fed from the files' footers. Returns
        whether the batch was accepted."""
        footers = parquet_footers(paths)
        n, issues = self.ingest_batch(
            table_id, self._read_parquet(paths, footers), wap, footers=footers
        )
        if n is None:
            summary.files_rejected += len(paths)
            summary.quality_issues.extend(
                f"{table_id}:{os.path.basename(paths[0])}: {i}" for i in issues
            )
            return False
        summary.files_processed += len(paths)
        summary.rows_appended += n
        return True

    def _read_parquet(self, paths: list[str], footers: list | None) -> DataFrame:
        """``spark.read.parquet(*paths)``, without Spark's schema-inference
        job when this pipeline has seen the batch's read-schema key
        before. The key is every footer's ``read_schema_key`` (all must
        agree) and the values of ``READ_SCHEMA_CONFS``. It is exact:
        with ``mergeSchema`` off Spark infers from one file's footer
        under those confs, and with it on, from identical footers."""
        key = None
        if footers:
            keys = {read_schema_key(f) for f in footers}
            if len(keys) == 1:
                confs = tuple(self.spark.conf.get(k) for k in READ_SCHEMA_CONFS)
                key = (*keys.pop(), confs)
        with self._read_schemas_lock:
            schema = self._read_schemas.get(key)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(*paths)
        df = self.spark.read.parquet(*paths)
        if key is not None:
            with self._read_schemas_lock:
                self._read_schemas[key] = df.schema
        return df

    def _append_audit(self, s: RunSummary) -> None:
        """S10 audit entry - a table append, not a JSON rewrite."""
        now = datetime.now(tz=timezone.utc).replace(tzinfo=None)
        self._audit.append_rows(
            [
                (
                    s.run_id,
                    now,
                    float(s.duration_secs),
                    s.tables_processed,
                    s.files_processed,
                    s.files_skipped,
                    s.files_rejected,
                    s.rows_appended,
                    "; ".join(s.quality_issues) or None,
                )
            ]
        )
