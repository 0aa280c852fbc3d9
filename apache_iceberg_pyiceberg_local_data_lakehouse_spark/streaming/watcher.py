"""Incremental ingest: the reference's scheduler re-expressed on
Structured Streaming (SURVEY.md §2.7 ST1-ST6).

Reference (``/root/reference/lakehouse_scheduler.py``):
- ST1 folder watcher: 30 s mtime-poll loop (``:25,34-58,93-113``)
- ST2 exactly-once per file via md5 ledger (``lakehouse_pipeline.py:350-357``)
- ST3 daily 02:00 UTC scheduled run (``:26-27,64-78,116-135``)
- ST4 single-flight lock (``:149,156-174``)
- ST5 error backoff (``:111-113,133-135``)
- ST6 CLI modes --now/--watch/--schedule/all (``:194-211``)

Spark mapping: the file *source* is both the trigger and the ledger -
``readStream`` discovers new files, the checkpoint guarantees
exactly-once per path, and ``foreachBatch`` runs the SAME batch ingest
(normalize -> QC -> dedup -> append) per micro-batch. State lives in the
table + checkpoint, never in executor memory, so a restart needs no
recovery and late data appends whenever it arrives (the reference's
storage-is-state design, kept deliberately - SURVEY.md §2.7).

The mtime-diff ``FolderWatcher`` is also provided for exact reference
parity (Spark's file source ignores *modified* files; the md5-ledger
pipeline run it triggers handles content changes - the reference's own
two-level design: cheap trigger, exact ledger).
"""

from __future__ import annotations

import threading
import time
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from ..ingest import IngestPipeline

WATCH_INTERVAL_SECS = 30  # lakehouse_scheduler.py:25
SCHEDULE_HOUR_UTC = 2  # lakehouse_scheduler.py:26-27


# ---------------------------------------------------------------------------
# ST1 (Structured Streaming form): per-symbol streaming ingest
# ---------------------------------------------------------------------------


def stream_symbol(
    pipeline: IngestPipeline,
    symbol_dir: str,
    schema: StructType,
    checkpoint_dir: str,
    trigger_secs: int = WATCH_INTERVAL_SECS,
    available_now: bool = False,
):
    """Streaming ingest of one symbol folder into its gold table.

    ``readStream`` + checkpoint = ST1 trigger + ST2 per-path exactly-once,
    natively. Each micro-batch runs ``IngestPipeline.ingest_batch``, so
    batch and streaming share one code path (and one set of tests); a
    rejected or empty batch fails its quality gate and never commits.
    Returns the StreamingQuery handle."""
    spark = pipeline.spark
    symbol = Path(symbol_dir).name.lower()
    table_id = f"{pipeline.namespace}.{symbol}"

    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 64)
        .parquet(symbol_dir)
    )

    writer = (
        stream.writeStream.foreachBatch(
            lambda batch_df, _batch_id: pipeline.ingest_batch(table_id, batch_df)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
    return writer.start()


# ---------------------------------------------------------------------------
# ST1 (reference-parity form): mtime-diff poll watcher
# ---------------------------------------------------------------------------


class FolderWatcher:
    """mtime-snapshot diff over ``**/*.parquet``
    (reference ``FolderWatcher``, ``lakehouse_scheduler.py:34-58``)."""

    def __init__(self, root: str):
        self.root = Path(root)
        self._snapshot = self._take()

    def _take(self) -> dict[str, float]:
        if not self.root.is_dir():
            return {}
        return {
            str(p): p.stat().st_mtime for p in self.root.rglob("*.parquet")
        }

    def has_changes(self) -> bool:
        cur = self._take()
        changed = cur != self._snapshot
        self._snapshot = cur
        return changed


class Scheduler:
    """Daily >=24h + fixed-hour gate (reference ``Scheduler``,
    ``lakehouse_scheduler.py:64-78``). Reference quirk preserved:
    ``last_run is None`` -> not due, so schedule-only mode never fires
    until something marks a run (``:71-72``; SURVEY.md ST3)."""

    def __init__(self, hour_utc: int = SCHEDULE_HOUR_UTC):
        self.hour_utc = hour_utc
        self.last_run: float | None = None

    def should_run(self) -> bool:
        if self.last_run is None:
            return False
        now = datetime.now(tz=timezone.utc)
        return (time.time() - self.last_run) >= 86400 and now.hour == self.hour_utc

    def mark_ran(self) -> None:
        self.last_run = time.time()


def run_production(
    pipeline: IngestPipeline,
    source_root: str,
    watch_interval: int = WATCH_INTERVAL_SECS,
    schedule_hour_utc: int = SCHEDULE_HOUR_UTC,
    max_cycles: int | None = None,
    error_backoff: int = 60,
):
    """Production mode: watcher + scheduler threads serialized by one lock
    (reference ``mode_all``, ``lakehouse_scheduler.py:138-188``).
    ``max_cycles`` bounds the loops for tests; None = run forever."""
    watcher = FolderWatcher(source_root)
    scheduler = Scheduler(schedule_hour_utc)
    lock = threading.Lock()
    stop = threading.Event()

    def watch_loop():
        cycles = 0
        while not stop.is_set():
            try:
                if watcher.has_changes():
                    with lock:  # ST4 single-flight
                        pipeline.run(source_root)
                        scheduler.mark_ran()
            except Exception:
                time.sleep(error_backoff)  # ST5
            cycles += 1
            if max_cycles and cycles >= max_cycles:
                return
            stop.wait(watch_interval)

    def schedule_loop():
        cycles = 0
        while not stop.is_set():
            try:
                if scheduler.should_run():
                    with lock:
                        pipeline.run(source_root)
                        scheduler.mark_ran()
            except Exception:
                time.sleep(error_backoff * 5)
            cycles += 1
            if max_cycles and cycles >= max_cycles:
                return
            stop.wait(60)

    threads = [
        threading.Thread(target=watch_loop, name="watcher", daemon=True),
        threading.Thread(target=schedule_loop, name="scheduler", daemon=True),
    ]
    for t in threads:
        t.start()
    return stop, threads


def stream_warehouse(
    pipeline: IngestPipeline,
    source_root: str,
    schema: StructType,
    checkpoint_root: str,
    trigger_secs: int = WATCH_INTERVAL_SECS,
    available_now: bool = False,
) -> dict[str, object]:
    """Start one streaming ingest per symbol folder (S3 layout: every
    first-level subdir is a table). Returns {symbol: StreamingQuery}.

    Each symbol gets its own checkpoint + sink table, so symbols progress
    independently (one slow/corrupt feed can't stall the rest) and
    Iceberg-style optimistic commits make the concurrent appends safe."""
    from pathlib import Path

    queries = {}
    for sym_dir in sorted(Path(source_root).iterdir()):
        if not sym_dir.is_dir():
            continue
        symbol = sym_dir.name.lower()
        queries[symbol] = stream_symbol(
            pipeline,
            str(sym_dir),
            schema,
            f"{checkpoint_root}/{symbol}",
            trigger_secs=trigger_secs,
            available_now=available_now,
        )
    return queries


def _tail_loop(
    table,
    process,
    scan_fn,
    thread_name: str,
    from_version: int | None,
    poll_secs: int,
    on_reset,
    error_backoff: int,
):
    """Shared polling loop for the table tails: every poll, scan the
    diff since the cursor and hand it to ``process(df, from_v, to_v)``.

    Only the SCAN runs inside the ValueError guard — ``on_reset`` means
    "the diff itself is unreadable" (consumer fell behind expiry, or the
    range cannot be expressed). A ValueError raised by the user callback
    must propagate to the generic backoff path, NOT advance the cursor:
    misclassifying it would silently drop the batch."""
    import threading as _threading

    stop = _threading.Event()
    state = {"v": table.current_version() if from_version is None else from_version}

    def loop():
        while not stop.is_set():
            try:
                cur = table.current_version()
                if cur > state["v"]:
                    df = None
                    try:
                        df = scan_fn(state["v"], cur)
                    except ValueError as e:
                        if on_reset is not None:
                            on_reset(state["v"], cur, str(e))
                    if df is not None:
                        process(df, state["v"], cur)
                    state["v"] = cur
            except Exception:
                stop.wait(error_backoff)  # same ST5 discipline as ingest
            stop.wait(poll_secs)

    t = _threading.Thread(target=loop, name=thread_name, daemon=True)
    t.start()
    return stop, t, lambda: state["v"]


def stream_table_tail(
    table,
    process,
    from_version: int | None = None,
    poll_secs: int = WATCH_INTERVAL_SECS,
    on_reset=None,
    error_backoff: int = 60,
):
    """Tail a lakehouse table: every poll, read the append-diff since the
    last processed version via ``scan_incremental`` and hand it to
    ``process(df, from_version, to_version)`` - the downstream half of
    the CDC story (``scan_incremental`` is the batch API; this wraps it
    in the same daemon-thread/foreachBatch discipline as the ingest
    watcher). O(new data) per poll, never a full re-scan.

    If the diff becomes unreadable (a delete/merge snapshot landed in
    range, or the consumer fell behind snapshot expiry),
    ``on_reset(from_v, to_v, reason)`` is called and the cursor jumps to
    the current version - the consumer decides whether to full-rescan.
    Returns ``(stop_event, thread, cursor)``; ``cursor()`` reports the
    last processed version (for checkpointing)."""
    return _tail_loop(
        table,
        process,
        lambda a, b: table.scan_incremental(a, to_version=b),
        "table-tail",
        from_version,
        poll_secs,
        on_reset,
        error_backoff,
    )


def stream_table_changes(
    table,
    process,
    from_version: int | None = None,
    poll_secs: int = WATCH_INTERVAL_SECS,
    on_reset=None,
    error_backoff: int = 60,
    image_key=None,
):
    """Tail a table's CHANGELOG: every poll, hand the insert/delete row
    stream since the last processed version (``scan_changelog``, with
    ``_change_type``/``_change_version`` columns) to
    ``process(df, from_version, to_version)``.

    The CDC consumer for tables that MUTATE: unlike
    ``stream_table_tail`` (append-diff; refuses delete/merge ranges),
    this survives merge-on-read DML, copy-on-write rewrites, and
    restores — a restore emits retraction events for the rolled-back
    rows, exactly what a downstream materialization needs to stay
    consistent. ``on_reset`` fires only when the diff itself is
    unreadable (the consumer fell behind snapshot expiry). Same
    daemon-thread / cursor discipline as ``stream_table_tail``.

    ``image_key``: when set (a business-key column or list), each poll
    streams Delta-CDF-style pre/post images instead
    (``scan_changelog_with_images``): a key deleted and inserted by one
    snapshot arrives as update_preimage/update_postimage."""
    scan = (
        (lambda a, b: table.scan_changelog_with_images(
            a, to_version=b, key=image_key))
        if image_key is not None
        else (lambda a, b: table.scan_changelog(a, to_version=b))
    )
    return _tail_loop(
        table,
        process,
        scan,
        "table-changes",
        from_version,
        poll_secs,
        on_reset,
        error_backoff,
    )


def watch_materialized_view(
    catalog,
    identifier: str,
    poll_secs: int = WATCH_INTERVAL_SECS,
    error_backoff: int = 60,
    on_refresh=None,
):
    """Continuously-maintained MV: a daemon polls the view's base table
    and runs ``refresh_materialized_view`` whenever it moved - the
    refresh itself picks the cheapest proven-exact tier (incremental
    append diff, partial-aggregate merge, signed CDC merge, or full),
    and an up-to-date base is a zero-commit no-op, so the idle loop
    costs one version read per poll. Same daemon-thread/backoff
    discipline as the ingest watcher (ST1/ST5); state lives in the MV
    table + its ``mv.base_version`` property, so a restart needs no
    recovery. ``on_refresh(snapshot)`` fires after each non-no-op
    refresh (its own exceptions propagate to the caller's thread
    policy, never misattributed as refresh failures). Returns
    ``(stop_event, thread)``.

    Only MVs with a recorded incremental base qualify: a join/window
    MV has no no-op fast path, so a per-poll loop would commit a full
    recompute every 30 s forever on an idle base - schedule those
    explicitly instead. Permanent failures (the MV or its base
    dropped) STOP the loop loudly rather than backing off forever."""
    import logging

    from ..catalog import NoSuchTableError as _NoSuchTableError

    log = logging.getLogger(__name__)
    props = catalog.load_table(identifier).properties()
    if "mv.query" not in props:
        raise ValueError(f"{identifier} is not a materialized view")
    if "mv.base_table" not in props:
        raise ValueError(
            f"{identifier} records no incremental base (a join/window/"
            "multi-table MV): a poll loop would full-recompute and "
            "commit on EVERY poll - refresh it on an explicit schedule "
            "instead"
        )
    stop = threading.Event()
    # a ValueError can be transient (a concurrent DDL/property race
    # deep inside a refresh) OR permanent (no longer an MV). Only the
    # provably-permanent kinds stop the loop outright; other
    # ValueErrors back off like any transient error, but with a
    # bounded strike count so a genuinely-stuck MV still stops loudly
    # instead of silently retrying forever.
    max_value_error_strikes = 5

    def _is_permanent(e: Exception) -> bool:
        if isinstance(e, (FileNotFoundError, _NoSuchTableError)):
            return True  # the MV or its base is gone
        if isinstance(e, ValueError):
            try:
                return (
                    "mv.query"
                    not in catalog.load_table(identifier).properties()
                )
            except (FileNotFoundError, _NoSuchTableError):
                return True  # the MV itself is gone
            except Exception:
                # the permanence PROBE failed (metadata read racing a
                # writer, an IO blip): that is itself transient - fall
                # through to backoff; the strike bound still stops a
                # genuinely stuck MV
                return False
        return False

    def loop():
        strikes = 0
        while not stop.is_set():
            try:
                snap = catalog.refresh_materialized_view(identifier)
                strikes = 0
            except Exception as e:
                if isinstance(e, ValueError):
                    strikes += 1
                if _is_permanent(e) or strikes >= max_value_error_strikes:
                    # no amount of retrying fixes this - stop loudly
                    log.error(
                        "mv-watch %s: permanent failure, stopping: %s",
                        identifier,
                        e,
                    )
                    return
                # same keep-alive discipline as the ingest watcher: a
                # transient failure (base mid-commit, executor loss,
                # concurrent DDL race) must not kill the loop
                log.warning(
                    "mv-watch %s: transient refresh failure "
                    "(backing off %ss): %s",
                    identifier,
                    error_backoff,
                    e,
                )
                stop.wait(error_backoff)
                continue
            if snap is not None and on_refresh is not None:
                on_refresh(snap)
            stop.wait(poll_secs)

    thread = threading.Thread(
        target=loop, name=f"mv-watch-{identifier}", daemon=True
    )
    thread.start()
    return stop, thread
