"""The traced run: spans around each layer's public entry points, and
the per-layer metrics computed from them.

Layer names are the package's module names. Times and counts are per
round (total over the loop / rounds) unless the name says otherwise;
``*_jobs`` metrics are per call of the operation they name and count
every job inside it; ratios are over the whole loop.
"""

from __future__ import annotations

import os
import statistics

from lakebench.headline import HEADLINE
from lakebench.trace import Tracer, self_times

CALLS = (
    "ingest_run",
    "ingest_poll",
    "stream_batch",
    "query_pass",
    "dim_update",
    "mv_refresh",
    "merge",
    "scd2",
    "txn_commit",
    "read_after_write",
    "maintain",
)
SELFCHECK = ("mv_cdc_1dim_jobs", "mv_cdc_2dim_jobs", "scd2_jobs", "merge_jobs")


def _parquet_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


class Layers:
    """Installs the spans on a run and turns them into metrics."""

    def __init__(self, run):
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark import (
            catalog,
            dml,
            ingest,
            maintenance,
            table,
            transactions,
        )
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.functions import (
            normalize,
            quality,
        )
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.operators import dedup
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.sources import files
        from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming import watcher

        self.run = run
        self.cores = run.spark.sparkContext.defaultParallelism
        self.tracer = tr = Tracer(run.spark, run.warehouse)
        run.tracer = tr
        self.scan_files = [0, 0]  # kept, total
        self.bytes_hashed = 0
        tr.count_fs_calls()
        tr.wrap(ingest.IngestPipeline, "run", "ingest")
        for owner in (quality, ingest):
            tr.wrap(owner, "check_quality", "functions.quality")
        for owner in (normalize, ingest):
            tr.wrap(owner, "normalize", "functions.normalize")
        for owner in (dedup, ingest):
            tr.wrap(owner, "dedup_against_table", "operators.dedup")
        for owner in (maintenance, ingest):
            tr.wrap(owner, "expire_snapshots", "maintenance.expire")
        tr.wrap(maintenance, "compact", "maintenance.compact")
        tr.wrap(watcher, "stream_symbol", "streaming.start")
        tr.wrap(table.LakehouseTable, "append", "table.append")
        tr.wrap(catalog.LakehouseCatalog, "refresh_materialized_view", "catalog.mv_refresh")
        tr.wrap(catalog.LakehouseCatalog, "sql", "catalog.sql")
        tr.wrap(dml, "merge_into", "dml.merge")
        tr.wrap(dml, "apply_changes_scd2", "dml.scd2")
        tr.wrap(transactions.MultiTableTransaction, "append", "transactions.stage")
        tr.wrap(transactions.MultiTableTransaction, "commit", "transactions.commit")

        original_checksums = files.file_checksums

        def file_checksums(spark, path, *args, **kwargs):
            self.bytes_hashed += _parquet_bytes(path)
            return original_checksums(spark, path, *args, **kwargs)

        files.file_checksums = file_checksums
        tr._patches.append((files, "file_checksums", original_checksums))
        tr.wrap(files, "file_checksums", "sources.files.checksum")

        original_scan = table.LakehouseTable.scan

        def scan(tbl, selected_fields=None, snapshot=None, file_filter=None):
            entries = (snapshot or tbl.snapshot()).data_entries
            kept = [e for e in entries if file_filter(e)] if file_filter else entries
            self.scan_files[0] += len(kept)
            self.scan_files[1] += len(entries)
            return original_scan(tbl, selected_fields, snapshot, file_filter)

        table.LakehouseTable.scan = scan
        tr._patches.append((table.LakehouseTable, "scan", original_scan))
        tr.wrap(table.LakehouseTable, "scan", "table.scan_plan")

    def finish(self, n_rounds: int, loop_s: float) -> None:
        """Remove the wrappers; later spans see only their own jobs."""
        self.tracer.uninstall()
        self.n_rounds = max(n_rounds, 1)
        self.loop_s = loop_s
        self.overhead_s = self.tracer.overhead_s()

    # -- metrics -------------------------------------------------------------

    def metrics(self) -> dict:
        run, tr, R = self.run, self.tracer, self.n_rounds
        spans = tr.spans
        selfs = self_times(spans)
        kids: dict[int, list] = {}
        for s in spans:
            kids.setdefault(s.parent, []).append(s)

        def subtree(s):
            out, todo = [], [s]
            while todo:
                x = todo.pop()
                out.append(x)
                todo.extend(kids.get(x.id, []))
            return out

        def named(prefix):
            return [s for s in spans if s.name == prefix or s.name.startswith(prefix + ".")]

        def self_s(name):
            return sum(selfs[s.id] for s in spans if s.name == name) / R

        def jobs(ss):
            return sum(len(x.jobs) for s in ss for x in subtree(s))

        def stage(ss, key):
            return sum(x.stages.get(key, 0) for s in ss for x in subtree(s))

        def count(ss, key):
            return sum(s.counts.get(key, 0) for s in ss)

        def per_call_jobs(kind):
            ss = [s for s in spans if s.name == f"call.{kind}"]
            return jobs(ss) / len(ss) if ss else 0.0

        def ratio(a, b):
            return a / b if b else 0.0

        calls = [s for s in spans if s.name.startswith("call.")]
        ex = run.extra
        m: dict[str, tuple[float, str]] = {}
        m["ingest.self_s"] = (self_s("ingest"), "s")
        m["ingest.files_new"] = (ex.get("files_new", 0) / R, "count")
        m["ingest.files_skipped"] = (ex.get("files_skipped", 0) / R, "count")
        m["ingest.dedup_yield"] = (ratio(ex.get("rows_appended", 0), ex.get("rows_read", 0)), "ratio")
        m["ingest.ledger_hit_ratio"] = (
            ratio(ex.get("files_skipped", 0), ex.get("files_skipped", 0) + ex.get("files_new", 0)),
            "ratio",
        )
        m["sources.files.checksum_s"] = (self_s("sources.files.checksum"), "s")
        m["sources.files.bytes_hashed"] = (self.bytes_hashed / R, "bytes")
        quality = named("functions.quality")
        m["functions.quality_s"] = (self_s("functions.quality"), "s")
        m["functions.quality_jobs"] = (jobs(quality) / R, "count")
        dd = named("operators.dedup")
        m["operators.dedup.s"] = (self_s("operators.dedup"), "s")
        m["operators.dedup.jobs"] = (jobs(dd) / R, "count")
        m["operators.dedup.shuffle_bytes"] = (stage(dd, "shuffle_write_bytes") / R, "bytes")
        m["streaming.start_s"] = (self_s("streaming.start"), "s")
        m["streaming.batches"] = (ex.get("stream_batches", 0) / R, "count")
        m["streaming.batch_s"] = (
            ratio(ex.get("stream_batch_ms", 0) / 1000, ex.get("stream_batches", 0)),
            "s",
        )
        # per traced pass of the headline queries, not per round
        qs = [s for s in spans if s.name.startswith("queries.") and s.name != "queries.pass"]
        P = sum(1 for s in spans if s.name == "queries.pass") or 1
        for name in HEADLINE:
            m[f"queries.{name}_s"] = (
                sum(s.duration - s.overhead for s in qs if s.name == f"queries.{name}") / P,
                "s",
            )
        m["queries.plan_s"] = (count(qs, "plan_ms") / 1000 / P, "s")
        m["queries.shuffle_write_bytes"] = (stage(qs, "shuffle_write_bytes") / P, "bytes")
        m["queries.executor_cpu_s"] = (stage(qs, "executor_cpu_ns") / 1e9 / P, "s")
        m["table.append_s"] = (self_s("table.append"), "s")
        m["table.scan_plan_s"] = (self_s("table.scan_plan"), "s")
        m["table.files_kept_ratio"] = (ratio(*self.scan_files), "ratio")
        m["table.commits"] = (count(calls, "commits") / R, "count")
        m["table.metadata_bytes"] = (count(calls, "metadata_bytes_written") / R, "bytes")
        m["table.data_bytes"] = (count(calls, "data_bytes_written") / R, "bytes")
        m["table.data_files"] = (count(calls, "data_files_written") / R, "count")
        m["table.fsyncs"] = (count(calls, "fsyncs") / R, "count")
        m["table.renames"] = (count(calls, "renames") / R, "count")
        refresh = [s for s in spans if s.name == "call.mv_refresh"]
        m["catalog.mv_refresh_jobs"] = (per_call_jobs("mv_refresh"), "count")
        m["catalog.mv_refresh_cdc_ratio"] = (
            ratio(ex.get("cdc_refreshes", 0), len(refresh)),
            "ratio",
        )
        m["catalog.mv_refresh_shuffle_bytes"] = (
            stage(refresh, "shuffle_write_bytes") / R,
            "bytes",
        )
        m["catalog.sql_s"] = (self_s("catalog.sql"), "s")
        m["dml.merge_jobs"] = (per_call_jobs("merge"), "count")
        m["dml.scd2_jobs"] = (per_call_jobs("scd2"), "count")
        m["dml.merge_rows_written_ratio"] = (
            ratio(ex.get("merge_rows_written", 0), ex.get("merge_source_rows", 0)),
            "ratio",
        )
        m["transactions.stage_s"] = (self_s("transactions.stage"), "s")
        m["transactions.commit_s"] = (self_s("transactions.commit"), "s")
        maint = [s for s in spans if s.name == "call.maintain"]
        m["maintenance.compact_s"] = (self_s("maintenance.compact"), "s")
        m["maintenance.expire_s"] = (self_s("maintenance.expire"), "s")
        m["maintenance.bytes_rewritten"] = (count(maint, "data_bytes_written") / R, "bytes")
        m["maintenance.files_deleted"] = (count(maint, "files_deleted") / R, "count")
        wall = sum(s.duration for s in calls)
        run_s = stage(calls, "executor_run_ms") / 1000
        m["spark.jobs"] = (jobs(calls) / R, "count")
        m["spark.tasks"] = (stage(calls, "tasks") / R, "count")
        m["spark.executor_run_s"] = (run_s / R, "s")
        m["spark.executor_cpu_s"] = (stage(calls, "executor_cpu_ns") / 1e9 / R, "s")
        m["spark.shuffle_write_bytes"] = (stage(calls, "shuffle_write_bytes") / R, "bytes")
        m["spark.spill_bytes"] = (stage(calls, "spill_bytes") / R, "bytes")
        m["spark.core_utilization"] = (ratio(run_s, wall * self.cores), "ratio")
        m["trace.overhead_ratio"] = (
            ratio(self.loop_s, self.loop_s - self.overhead_s),
            "ratio",
        )
        for kind in CALLS:
            m[f"call.{kind}_s"] = (statistics.median(run.calls.get(kind) or [0.0]), "s")
        for name in SELFCHECK:
            m[f"selfcheck.{name}"] = (ex.get(f"selfcheck.{name}", 0), "count")
        return m
