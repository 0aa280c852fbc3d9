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
- change detection is ONE query per run, not a check per folder: every
  symbol folder's binaryFile md5 frame is unioned, left-joined once
  against the latest ledger entries, and grouped by folder, so one
  collect returns each folder's skip count and its new (path, checksum)
  pairs. An idle poll costs the same few Spark jobs for 1 folder or 100.
- the per-file loop becomes a per-symbol *batch*: all new files of a
  symbol are read as ONE DataFrame (Spark's multi-file parquet reader),
  so normalize/QC/dedup/append are one distributed job each, not O(files)
  driver roundtrips. One aggregate pass over the batch feeds both the
  quality gate and the dedup key bounds. Per-file QC parity mode
  (``per_file=True``) keeps the reference's file-granular accept/reject
  semantics for tests.
- ledger + audit log live in lakehouse tables (``ops`` namespace), not
  JSON read-modify-write files (S10/S11 - a JSON array rewrite per run
  is not 100 TB-safe and cannot be written concurrently).
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .catalog import LakehouseCatalog
from .functions.normalize import normalize
from .functions.quality import MIN_ROWS_THRESHOLD, check_quality
from .operators.dedup import dedup_against_table
from .maintenance import expire_snapshots
from .table import PartitionField

NAMESPACE = "gold"  # lakehouse_pipeline.py:69
OPS_NAMESPACE = "ops"

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

    # -- ledger (ST2 exactly-once per file content) --------------------------

    def ledger_latest(self):
        """Current (path, checksum) ledger state as a DataFrame: latest
        entry per path wins. Stays distributed - the scale path joins
        against this instead of collecting it."""
        df = self._ledger.to_df()
        w = Window.partitionBy("path").orderBy(F.desc("ingested_at"))
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("path", "checksum")
        )

    def ingested(self) -> dict[str, str]:
        """Ledger as a driver dict - reference-parity helper for the
        ``per_file`` mode and tests; the batch path never materializes
        this (millions of files would not fit a driver dict)."""
        return {
            r["path"]: r["checksum"] for r in self.ledger_latest().collect()
        }

    def _record_ledger(self, entries: list[tuple[str, str]]) -> None:
        if not entries:
            return
        now = datetime.now(tz=timezone.utc).replace(tzinfo=None)
        df = self.spark.createDataFrame(
            [(p, c, now) for p, c in entries], LEDGER_SCHEMA
        )
        self._ledger.append(df)

    # -- pipeline ------------------------------------------------------------

    def run(
        self,
        source_root: str,
        per_file: bool = False,
        write_audit_publish: bool = False,
    ) -> RunSummary:
        """One pipeline run over ``source_root`` (reference entry point 1,
        ``lakehouse_scheduler.py --now``).

        ``per_file=False`` (default): batch all new files per symbol into
        one DataFrame - the scale path. Change detection is one query per
        run over every symbol folder (``_detect_changes``: binaryFile + md5
        left-joined once against the ledger table); only the NEW files'
        (path, checksum) pairs reach the driver, and their checksums are
        reused for the ledger write - no per-file driver hashing anywhere.
        ``per_file=True``: reference-parity mode - QC accepts/rejects each
        file independently (a bad file doesn't poison its siblings) and
        the md5 runs file-by-file on the driver exactly like the
        reference (``lakehouse_pipeline.py:350-357``).
        ``write_audit_publish=True``: stage each batch invisibly, audit
        the staged bytes, publish metadata-only or abort (see
        ``ingest_batch``).
        """
        t0 = time.time()
        summary = RunSummary(run_id=time.strftime("%Y%m%d_%H%M%S"))
        root = Path(source_root)
        if not root.is_dir():
            summary.duration_secs = time.time() - t0
            return summary

        symbols = sorted(p for p in root.iterdir() if p.is_dir())
        ledger = self.ingested() if per_file else None
        changes = {} if per_file or not symbols else self._detect_changes(symbols)
        ledger_updates: list[tuple[str, str]] = []

        for symbol_dir in symbols:
            table_id = f"{self.namespace}.{symbol_dir.name.lower()}"  # :330-331
            if per_file:
                files = sorted(symbol_dir.rglob("*.parquet"))  # :343 (S2)
                new_entries: list[tuple[str, str]] = []
                for pfile in files:
                    path = os.path.abspath(str(pfile))
                    checksum = file_checksum(pfile)
                    if ledger.get(path) == checksum:  # :352-357
                        summary.files_skipped += 1
                        continue
                    new_entries.append((path, checksum))
            else:
                skipped, new_entries = changes.get(symbol_dir.name, (0, []))
                summary.files_skipped += skipped
            if not new_entries:
                continue
            summary.tables_processed += 1

            for group in [[e] for e in new_entries] if per_file else [new_entries]:
                paths = [p for p, _ in group]
                if self._ingest_files(table_id, paths, summary, write_audit_publish):
                    ledger_updates.extend(group)

            # M2 snapshot expiry per table (:401-405)
            try:
                table = self.catalog.load_table(table_id)
                expire_snapshots(
                    table,
                    older_than_ms=int(
                        (time.time() - self.expire_older_than_days * 86400) * 1000
                    ),
                    retain_last=self.retain_last,
                )
            except Exception:
                pass

        self._record_ledger(ledger_updates)
        summary.duration_secs = time.time() - t0
        self._append_audit(summary)
        return summary

    def _detect_changes(
        self, symbols: list[Path]
    ) -> dict[str, tuple[int, list[tuple[str, str]]]]:
        """Change detection for every symbol folder as ONE query: each
        folder's md5 frame (listed exactly as a single-folder scan lists
        it) is tagged with its folder name, the frames are unioned, and
        the union is left-joined once against the latest ledger entries.
        One grouped collect returns ``{folder: (skipped, new entries)}``
        with the new (path, checksum) pairs sorted; a folder with no
        files is absent (read it as ``(0, [])``). Driver memory is
        bounded by the NEW-file count: skips are counted in the
        aggregate, and only unseen pairs are collected (they must reach
        the driver anyway for the ledger write)."""
        from .sources.files import file_checksums

        checks = reduce(
            DataFrame.unionByName,
            (
                file_checksums(self.spark, str(d)).select(
                    F.lit(d.name).alias("folder"), "path", "checksum"
                )
                for d in symbols
            ),
        )
        seen = self.ledger_latest().withColumn("__seen", F.lit(1))
        unseen = F.when(F.col("__seen").isNull(), F.struct("path", "checksum"))
        rows = (
            checks.join(seen, on=["path", "checksum"], how="left")
            .groupBy("folder")
            .agg(
                F.count("__seen").alias("skipped"),
                F.collect_list(unseen).alias("new"),  # drops the seen NULLs
            )
            .collect()
        )
        return {r["folder"]: (r["skipped"], sorted(map(tuple, r["new"]))) for r in rows}

    def ingest_batch(
        self, table_id: str, raw: DataFrame, write_audit_publish: bool = False
    ) -> tuple[int | None, list[str]]:
        """normalize -> QC -> ensure table -> dedup -> append for one batch
        DataFrame; ``_ingest_files`` and the streaming micro-batches both
        run it. Returns ``(rows appended, [])``, or ``(None, issues)`` if
        the batch was rejected, in which case nothing is committed.

        One aggregate pass over the batch serves both the gate and the
        dedup key bounds, so ``dedup_against_table`` runs no probe of its
        own. ``write_audit_publish=True`` inverts the QC/write order
        (Iceberg's WAP pattern): the deduped batch is STAGED first
        (written once, invisible), the quality audit runs over exactly the
        bytes that would become visible, and the batch is then published
        with a metadata-only commit - or aborted, leaving no snapshot and
        no files. The default path audits the in-flight DataFrame and only
        then writes; both end with one data write, but WAP's audit can't
        be bypassed by a nondeterministic transform between QC and write."""
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
            # a re-ingested batch to zero - so this rejects before any write
            key_range = [F.min("DateTime"), F.max("DateTime")] if has_key else []
            n, *bounds = df.agg(F.count(F.lit(1)), *key_range).collect()[0]
            if n < MIN_ROWS_THRESHOLD:
                return None, ["too few rows"]
            table = self.catalog.ensure_table(table_id, df.schema, spec)
            clean = dedup_against_table(
                df, table, key="DateTime", bounds=tuple(bounds) if has_key else None
            )  # J1
            staged = table.stage_append(clean)
            report = check_quality(table.staged_scan(staged), min_rows=0)
            if not report.ok:
                table.abort_staged(staged)
                return None, report.issues
            n = sum(e["rows"] for e in table.staged_entries(staged))
            if n > 0:
                table.publish_staged(staged)
            else:
                table.abort_staged(staged)  # empty-append short-circuit
            return n, []

        report = check_quality(df)  # P6/P7, A1/A2/A4/A5
        if not report.ok:
            return None, report.issues
        table = self.catalog.ensure_table(table_id, df.schema, spec)  # S8
        m = report.metrics
        clean = dedup_against_table(
            df, table, key="DateTime", bounds=(m["min_DateTime"], m["max_DateTime"])
        )  # J1
        n = clean.count()
        if n > 0:  # empty-append short-circuit (:388-392)
            # hash-distributed write: O(partitions) files per append
            table.append(clean, optimize_write=True)  # S5
        return n, []

    def _ingest_files(
        self, table_id: str, paths: list[str], summary: RunSummary, wap: bool
    ) -> bool:
        """``ingest_batch`` over ``paths`` read as one DataFrame, counted
        into ``summary``. Returns whether the batch was accepted."""
        n, issues = self.ingest_batch(table_id, self.spark.read.parquet(*paths), wap)
        if n is None:
            summary.files_rejected += len(paths)
            summary.quality_issues.extend(
                f"{table_id}:{os.path.basename(paths[0])}: {i}" for i in issues
            )
            return False
        summary.files_processed += len(paths)
        summary.rows_appended += n
        return True

    def _append_audit(self, s: RunSummary) -> None:
        """S10 audit entry - a table append, not a JSON rewrite."""
        now = datetime.now(tz=timezone.utc).replace(tzinfo=None)
        df = self.spark.createDataFrame(
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
            ],
            AUDIT_SCHEMA,
        )
        self._audit.append(df)
