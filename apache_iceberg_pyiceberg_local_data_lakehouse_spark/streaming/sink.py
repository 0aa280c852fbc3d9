"""Structured-Streaming sink into a lakehouse table, exactly-once.

The Iceberg Spark sink's commit protocol, re-expressed for this format:
each micro-batch appends as one snapshot commit stamped with the
``(query-id, epoch-id)`` that produced it. After a crash, Spark replays
the last un-checkpointed epoch into ``foreachBatch`` — the sink then
finds the stamp already committed in the snapshot log and skips, so a
replayed epoch can never double-append. Idempotence lives in the TABLE's
commit history (the system of record), not in the checkpoint, so it
holds even if the checkpoint and the table disagree about how far the
query got (the crash window between table commit and checkpoint commit).

Scale: the dedup check reads only snapshot *summaries* (O(retained
snapshots) driver-side JSON, no data files); the append itself is the
ordinary distributed write path. Snapshot expiry can GC old epochs'
summaries — safe twice over: Spark's checkpoint only ever replays the
LAST epoch, which expiry's retention floor always keeps, and a
fresh-checkpoint full replay is caught by the epoch HIGH-WATERMARK
guard (any epoch at-or-below the newest committed one is a replay —
epoch ids only grow under a stable checkpoint), so even epochs whose
stamps expiry pruned cannot re-append (review r13; matters once
``maintain_every`` lets the sink itself trigger expiry). The watermark
itself persists in a per-QUERY sidecar file (r14 - one writer per file,
so concurrent streams into one table cannot lose each other's entry),
so the guard holds even when expiry pruned EVERY stamp; watermark skips
are logged at warning level, because a recreated checkpoint that
re-batched genuinely new rows into an old epoch id would surface only
there (escape hatch: new query_id, or ``reset_watermark``).
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame

from ..table import LakehouseTable, atomic_write

_QUERY_KEY = "streaming-query-id"
_EPOCH_KEY = "streaming-epoch-id"
# Per-table sidecars persisting each query's max committed epoch OUTSIDE
# the snapshot summaries, so the high-watermark replay guard survives
# even an expiry that pruned EVERY stamped snapshot (review r13).
# ONE FILE PER query_id: a shared JSON's read-modify-write would let two
# concurrent streams into one table lose each other's entry
# (last-rename-wins). A per-query file has a single writer - Spark never
# runs two epochs of one query concurrently - so the atomic tmp+rename
# needs no lock.
_WATERMARK_DIR = "streaming-watermarks"


def _watermark_path(table: LakehouseTable, query_id: str) -> str:
    import hashlib
    import re

    # readable prefix + digest suffix: two query_ids that sanitize to
    # the same prefix still get distinct files
    safe = re.sub(r"[^A-Za-z0-9._-]", "_", query_id)[:64] or "q"
    digest = hashlib.md5(query_id.encode("utf-8")).hexdigest()[:10]
    return os.path.join(
        table.metadata_dir, _WATERMARK_DIR, f"{safe}-{digest}.json"
    )


def _read_watermark(table: LakehouseTable, query_id: str) -> int:
    try:
        with open(_watermark_path(table, query_id)) as f:
            doc = json.load(f)
        if doc.get("query_id") == query_id:
            return int(doc.get("epoch", -1))
    except (OSError, ValueError):
        pass
    return -1


def _advance_watermark(
    table: LakehouseTable, query_id: str, epoch_id: int
) -> None:
    if _read_watermark(table, query_id) >= epoch_id:
        return  # monotonic: epochs only grow under a stable checkpoint
    path = _watermark_path(table, query_id)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    doc = {"query_id": query_id, "epoch": int(epoch_id)}
    atomic_write(path, json.dumps(doc))


def reset_watermark(table: LakehouseTable, query_id: str) -> None:
    """Forget ``query_id``'s persisted epoch watermark - the documented
    escape hatch for the one case the high-watermark guard is wrong: a
    RECREATED checkpoint that batches genuinely new rows into epoch ids
    at-or-below the old maximum (the guard would silently skip them;
    see ``write_stream_to_table``). Removes the per-query sidecar.
    Only call while the query is stopped.

    Note the guard also derives a watermark from RETAINED epoch stamps
    in the snapshot log - resetting the sidecar only unblocks low epoch
    ids once those stamps have been expired. While stamped snapshots
    remain, a recreated checkpoint needs a NEW query_id (its epoch ids
    would collide with stamps carrying different rows anyway)."""
    try:
        os.remove(_watermark_path(table, query_id))
    except OSError:
        pass


class EpochCommitSink:
    """``foreachBatch`` callable that appends each epoch exactly once.

    Use directly (testable without a running stream) or via
    ``write_stream_to_table``. ``transform`` optionally maps each
    micro-batch DataFrame before the append (QC gates, normalization),
    keeping batch and streaming on one operator path.
    """

    def __init__(
        self,
        table: LakehouseTable,
        query_id: str,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        optimize_write: bool = False,
        maintain_every: int | None = None,
    ):
        self.table = table
        self.query_id = query_id
        self.transform = transform
        self.optimize_write = optimize_write
        # run maintenance.auto_maintain on the TARGET table after every
        # N committed epochs (r13, VERDICT r12 #6 - the dedup sidecar's
        # maintain_every pattern on the main table): a continuously-
        # ingesting table then holds its declared row-retention TTL,
        # compacts its small epoch files, and expires old snapshots
        # without an external scheduler. Replay-safe: expiry's retention
        # floor always keeps the last epoch's summary (module
        # docstring), and a replayed epoch skips on its stamp before
        # any retention-deleted rows could matter.
        if maintain_every is not None and maintain_every < 1:
            # 0 would fire a blocking maintenance pass on EVERY epoch
            # of the hot path - a misconfig meant as "off" must say
            # None, not 0 (review r13)
            raise ValueError(
                f"maintain_every must be >= 1 or None, got {maintain_every}"
            )
        self.maintain_every = maintain_every
        self._commits_since_maintain = 0
        # loaded from the snapshot log on first use, then maintained
        # in-memory: the log only needs re-reading after a restart, and
        # a restart builds a fresh sink anyway. Keeps the per-batch
        # driver cost O(1) instead of O(retained snapshots).
        self._committed: set[int] | None = None

    def committed_epochs(self) -> set[int]:
        """Epoch ids this query already committed (from the snapshot log
        on first call; cached and maintained afterwards)."""
        if self._committed is None:
            self._committed = {
                int(s.summary[_EPOCH_KEY])
                for s in self.table.snapshots()
                if s.summary.get(_QUERY_KEY) == self.query_id
                and _EPOCH_KEY in s.summary
            }
        return self._committed

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        """The exactly-once protocol, shared by every sink flavor: skip
        already-committed epochs, transform + prepare the batch, commit
        via the subclass hook, record the epoch. Single-table subclasses
        override ``_prepare`` / ``_commit``, never this method — so a
        protocol fix applies to all of them. The ONE sanctioned
        exception is ``dedup_sink.NearDedupSink``, whose TWO-table
        commit cannot fit the single skip-then-commit shape — protocol
        changes here must be mirrored there."""
        committed = self.committed_epochs()
        if epoch_id in committed:
            return  # checkpoint replay of an epoch the table already holds
        # high-watermark guard (review r13): snapshot EXPIRY may have
        # pruned an old epoch's stamped summary - with maintain_every
        # armed the sink itself eventually triggers that expiry - so
        # "stamp absent" alone cannot prove an epoch at-or-below the
        # newest committed one is new. Epoch ids only grow under a
        # stable checkpoint, and a fresh-checkpoint replay of identical
        # input re-batches the same epochs, so anything <= the
        # watermark is a replay whose re-append would duplicate rows.
        # The watermark is max(retained stamps, the persisted sidecar)
        # - the sidecar survives even an expiry that pruned EVERY
        # stamp. Logged, not silent: if a recreated checkpoint ever
        # re-batched genuinely NEW rows into an old epoch id, this
        # skip is where they would go missing.
        wm = max(
            _read_watermark(self.table, self.query_id),
            max(committed) if committed else -1,
        )
        if epoch_id <= wm:
            import logging

            # WARNING, not info (ADVICE r13): this skip is permanent
            # for the (table, query_id) pair, and a recreated
            # checkpoint that re-batched genuinely NEW rows into low
            # epoch ids would lose them silently but for this line.
            # Escape hatch: a new query_id, or reset_watermark().
            logging.getLogger(__name__).warning(
                "sink %s: skipping epoch %d at-or-below watermark %d "
                "(replay; stamp may have been expired). If this "
                "checkpoint was RECREATED and the epoch carries new "
                "rows, use a new query_id or reset_watermark()",
                self.query_id,
                epoch_id,
                wm,
            )
            return
        if self.transform is not None:
            batch_df = self.transform(batch_df)
        batch_df = self._prepare(batch_df)
        if batch_df.isEmpty():
            return
        self._commit(
            batch_df,
            {_QUERY_KEY: self.query_id, _EPOCH_KEY: int(epoch_id)},
        )
        self.committed_epochs().add(int(epoch_id))
        _advance_watermark(self.table, self.query_id, int(epoch_id))
        self._commits_since_maintain += 1
        if (
            self.maintain_every is not None
            and self._commits_since_maintain >= self.maintain_every
        ):
            self._commits_since_maintain = 0
            self._maintain()

    def _maintain(self) -> dict:
        """Post-epoch maintenance pass (``maintain_every``): retention
        TTL first, then compaction/consolidation/expiry as due - all
        policy-driven from table properties. Failures must never fail
        the stream (the next due epoch retries), but they are LOGGED:
        a persistently failing pass silently regrows exactly the
        small-file/TTL debt this hook exists to pay down."""
        import logging

        from ..maintenance import auto_maintain

        try:
            return auto_maintain(self.table)
        except Exception as exc:  # pragma: no cover - defensive
            logging.getLogger(__name__).warning(
                "post-epoch auto_maintain failed for %s: %r "
                "(stream continues; next due epoch retries)",
                self.table.location,
                exc,
            )
            return {"error": repr(exc)}

    def _prepare(self, batch_df: DataFrame) -> DataFrame:
        """Subclass hook: batch-level rewrites before the commit."""
        return batch_df

    def _commit(self, batch_df: DataFrame, stamp: dict) -> None:
        """Subclass hook: one atomic table commit carrying ``stamp``.

        The identity epoch tag makes identity allocation exactly-once
        too: the first attempt of an epoch reserves (and records) its
        watermark range, a crash-replay of the same epoch reuses that
        range - deterministic values, no duplicates, no gap per replay
        (``table._reserve_identity_epoch``)."""
        self.table.append(
            batch_df,
            optimize_write=self.optimize_write,
            extra_summary=stamp,
            identity_epoch=(
                f"{self.query_id}:{stamp[_EPOCH_KEY]}"
            ),
        )


def write_stream_to_table(
    stream_df: DataFrame,
    table: LakehouseTable,
    checkpoint_dir: str,
    query_id: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    trigger_secs: int | None = None,
    available_now: bool = False,
    optimize_write: bool = False,
    maintain_every: int | None = None,
):
    """Start a streaming query appending ``stream_df`` into ``table``.

    ``query_id`` names the logical query for epoch idempotence — keep it
    stable across restarts (it plays the role of Spark's internal
    queryId, but survives checkpoint re-creation).

    Epoch ids at-or-below the query's persisted high watermark are
    PERMANENTLY skipped (logged at warning level) - that is the replay
    guard working. The one case it is wrong: deleting the checkpoint
    and re-batching genuinely NEW input into low epoch ids. For that,
    start the new stream under a new ``query_id`` (fresh watermark,
    fresh stamps) or call :func:`reset_watermark` on the stopped query.

    ``maintain_every=N`` runs ``auto_maintain`` on the table after
    every N committed epochs - the declared retention TTL, compaction,
    and snapshot expiry keep up with the stream without an external
    scheduler."""
    writer = (
        stream_df.writeStream.foreachBatch(
            EpochCommitSink(
                table,
                query_id,
                transform=transform,
                optimize_write=optimize_write,
                maintain_every=maintain_every,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_secs is not None:
        writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
    return writer.start()


class UpsertSink(EpochCommitSink):
    """``foreachBatch`` callable that MERGEs each epoch exactly once -
    the CDC-apply pattern (Delta's foreachBatch-merge idiom): a stream
    of row versions keyed by a business key lands as upserts, so the
    table holds the latest version of every key instead of an append
    log.

    ``dedup_order_col`` handles multiple versions of one key inside a
    single micro-batch (the normal CDC case): only the row with the
    highest value per key is merged, ties broken by the remaining
    columns (total order, so the winner is deterministic). Without it,
    source keys must be unique per batch (merge_into's contract).

    The prepared batch is ``localCheckpoint``-ed before the merge: the
    merge evaluates its source in several independent actions (bounds
    agg, key distinct, the rewrite), and pinning one materialization
    both removes the re-computation and guarantees every action sees
    the same winner rows.

    Epoch idempotence is inherited: the merge commit carries the
    (query-id, epoch-id) stamp, so a checkpoint replay of an epoch the
    table already holds is skipped, even though a replayed MERGE would
    otherwise be non-idempotent (when_matched='delete', condition
    flips, ...)."""

    def __init__(
        self,
        table: LakehouseTable,
        query_id: str,
        key: str | list,
        when_matched: str = "update",
        dedup_order_col: str | None = None,
        transform: Callable[[DataFrame], DataFrame] | None = None,
    ):
        super().__init__(table, query_id, transform=transform)
        self.key = key
        self.when_matched = when_matched
        self.dedup_order_col = dedup_order_col

    def _prepare(self, batch_df: DataFrame) -> DataFrame:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if self.dedup_order_col is not None:
            keys = [self.key] if isinstance(self.key, str) else list(self.key)
            rest = [
                c
                for c in batch_df.columns
                if c not in keys and c != self.dedup_order_col
            ]
            w = Window.partitionBy(*keys).orderBy(
                F.col(self.dedup_order_col).desc(),
                *[F.col(c) for c in rest],  # total order: ties resolve
            )
            batch_df = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        # one materialization feeds isEmpty + every merge action
        return batch_df.localCheckpoint(eager=True)

    def _commit(self, batch_df: DataFrame, stamp: dict) -> None:
        from ..dml import merge_into

        merge_into(
            self.table,
            batch_df,
            key=self.key,
            when_matched=self.when_matched,
            extra_summary=stamp,
        )


def upsert_stream_to_table(
    stream_df: DataFrame,
    table: LakehouseTable,
    checkpoint_dir: str,
    query_id: str,
    key: str | list,
    when_matched: str = "update",
    dedup_order_col: str | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    trigger_secs: int | None = None,
    available_now: bool = False,
):
    """Start a streaming query UPSERTING ``stream_df`` into ``table``
    by ``key`` - each micro-batch is one exactly-once MERGE commit."""
    writer = (
        stream_df.writeStream.foreachBatch(
            UpsertSink(
                table,
                query_id,
                key=key,
                when_matched=when_matched,
                dedup_order_col=dedup_order_col,
                transform=transform,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_secs is not None:
        writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
    return writer.start()


class Scd2Sink(EpochCommitSink):
    """``foreachBatch`` callable applying each CDC micro-batch STORED
    AS SCD TYPE 2 (:func:`dml.apply_changes_scd2`), exactly once per
    epoch - the streaming twin of the batch SCD2 apply, so a changelog
    stream lands as a full-history dimension instead of a latest-state
    table (:class:`UpsertSink`'s job).

    Epoch idempotence is inherited: the apply's single MERGE commit
    carries the (query-id, epoch-id) stamp, so a checkpoint replay of
    a committed epoch is skipped BEFORE the out-of-order gate would
    (correctly) reject its now-stale sequences. A batch whose events
    are genuinely late (behind the stored history) still fails the
    query loudly - late CDC needs history surgery, not silent drops."""

    def __init__(
        self,
        table: LakehouseTable,
        query_id: str,
        key: str | list,
        sequence_col: str = "_change_version",
        transform: Callable[[DataFrame], DataFrame] | None = None,
    ):
        super().__init__(table, query_id, transform=transform)
        self.key = key
        self.sequence_col = sequence_col

    def _prepare(self, batch_df: DataFrame) -> DataFrame:
        # one materialization feeds isEmpty + the apply's gate counts
        return batch_df.localCheckpoint(eager=True)

    def _commit(self, batch_df: DataFrame, stamp: dict) -> None:
        from ..dml import apply_changes_scd2

        apply_changes_scd2(
            self.table,
            batch_df,
            key=self.key,
            sequence_col=self.sequence_col,
            extra_summary=stamp,
        )


def scd2_stream_to_table(
    stream_df: DataFrame,
    table: LakehouseTable,
    checkpoint_dir: str,
    query_id: str,
    key: str | list,
    sequence_col: str = "_change_version",
    transform: Callable[[DataFrame], DataFrame] | None = None,
    trigger_secs: int | None = None,
    available_now: bool = False,
):
    """Start a streaming query applying a CDC stream into an SCD Type 2
    dimension - each micro-batch is one exactly-once MERGE commit that
    opens/closes version rows."""
    writer = (
        stream_df.writeStream.foreachBatch(
            Scd2Sink(
                table,
                query_id,
                key=key,
                sequence_col=sequence_col,
                transform=transform,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_secs is not None:
        writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
    return writer.start()


def curate_stream_to_table(
    stream_df: DataFrame,
    table: LakehouseTable,
    checkpoint_dir: str,
    query_id: str,
    model: dict,
    text_col: str = "text",
    threshold: float = 0.0,
    pareto_alpha: float | None = None,
    id_col: str = "doc_id",
    trigger_secs: int | None = None,
    available_now: bool = False,
):
    """Streaming twin of quality-classifier curation (r11, VERDICT r10
    #8): score + filter each micro-batch of documents inside
    ``foreachBatch`` and append the survivors exactly-once.

    The ``model`` is the plan-literal dict ``quality_classifier_fit``
    returns, so per-batch scoring stays a zero-shuffle projection and
    the filter semantics are byte-identical to the batch
    ``quality_filter`` - including the Pareto acceptance, whose
    hash-uniform is deterministic in (seed, id), so a checkpoint
    REPLAY of an epoch re-derives the same keep/drop decisions (and
    the epoch stamp skips the re-append anyway). The appended rows
    carry ``quality_score``; the target schema must include it."""
    from ..operators.quality_classifier import quality_filter

    def transform(batch_df: DataFrame) -> DataFrame:
        return quality_filter(
            batch_df,
            model,
            text_col=text_col,
            threshold=threshold,
            pareto_alpha=pareto_alpha,
            id_col=id_col,
        )

    return write_stream_to_table(
        stream_df,
        table,
        checkpoint_dir,
        query_id,
        transform=transform,
        trigger_secs=trigger_secs,
        available_now=available_now,
    )
