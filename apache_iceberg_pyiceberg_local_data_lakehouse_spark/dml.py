"""Copy-on-write DML over the snapshot table format: DELETE, UPDATE-style
MERGE (upsert), and schema evolution.

The reference is append-only; Iceberg (its storage substrate) also
supports row-level mutation via copy-on-write - ``MERGE INTO`` is the
SURVEY-noted alternative form of the J1 dedup
(``SURVEY.md §2.3``: ``MERGE INTO t USING s ON t.DateTime=s.DateTime
WHEN NOT MATCHED THEN INSERT *``). This module provides those semantics
Spark-natively:

- **File pruning before rewrite**: only data files whose manifest
  key-range overlaps the mutation predicate/keys are rewritten; all other
  files carry over to the new snapshot untouched. At 100 TB this is the
  difference between rewriting a partition and rewriting the table.
- **Atomicity**: the rewrite commits as one ``replace`` snapshot;
  concurrent appends conflict-retry exactly like Iceberg's optimistic
  protocol. Old files stay referenced by older snapshots (time travel
  still sees pre-DML data) until expiry GCs them.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .table import LakehouseTable, Snapshot


def _norm_bound(v):
    """Manifest stats store datetimes as naive ISO strings; normalize
    in-flight bounds the same way so comparisons are type-consistent."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def _gt(a, b) -> bool:
    try:
        return a > b
    except TypeError:
        return str(a) > str(b)


def _overlapping_entries(
    snap: Snapshot, key: str, key_min, key_max
) -> tuple[list[dict], list[dict]]:
    """Split a snapshot's DATA manifest into (touched, untouched) by
    overlap of the file's [min,max] stats for ``key`` with
    [key_min, key_max]. Equality-delete entries are never "touched" by a
    rewrite - they carry over and keep applying to files they outrank."""
    key_min, key_max = _norm_bound(key_min), _norm_bound(key_max)
    touched, untouched = [], []
    for e in snap.data_entries:
        stats = e.get("stats", {}).get(key)
        if stats is None:
            touched.append(e)  # no stats -> must assume overlap
            continue
        lo, hi = stats
        if key_max is not None and _gt(lo, key_max):
            untouched.append(e)
        elif key_min is not None and _gt(key_min, hi):
            untouched.append(e)
        else:
            touched.append(e)
    return touched, untouched


def _require_no_external_files(snap: Snapshot, op: str) -> None:
    """Positional merge-on-read DML derives (file, ordinal) identities
    from scan URIs under the table location; adopted external files
    (``add_files``) live outside it, so their identities cannot be
    derived - refuse up front with a actionable message instead of a
    mid-scan raise_error."""
    if any(e["path"].startswith("..") for e in snap.data_entries):
        raise ValueError(
            f"{op} is not supported on tables referencing adopted "
            "external files (add_files); run "
            "maintenance.materialize_external_files first, or use "
            "equality deletes / copy-on-write"
        )


def _prune_matched_files(table, snap, predicate, verb: str) -> list:
    """Locate the data files containing rows matching ``predicate`` -
    the copy-on-write pruning pass shared by UPDATE and REPLACE WHERE.
    The pruned path evaluates the predicate TWICE (file-pruning scan,
    then rewrite) in independent jobs; a non-deterministic predicate
    could pick files under one draw and rewrite rows under another, so
    it is refused. The collected set is bounded by the live file count."""
    from urllib.parse import unquote, urlparse

    probe = table._read_data(snap.data_entries, snap).filter(predicate)
    if not probe._jdf.queryExecution().analyzed().deterministic():
        raise ValueError(
            f"copy-on-write {verb} requires a deterministic predicate "
            "(it is evaluated once to prune files and once to rewrite)"
        )
    matched_uris = [
        r["file_path"]
        for r in table._read_data(snap.data_entries, snap)
        .filter(predicate)
        .select(F.col("_metadata.file_path").alias("file_path"))
        .distinct()
        .collect()
    ]
    matched_files = {
        os.path.relpath(unquote(urlparse(u).path), table.location)
        for u in matched_uris
    }
    touched = [e for e in snap.data_entries if e["path"] in matched_files]
    if len(touched) != len(matched_files):
        raise RuntimeError(
            f"{verb} file pruning could not map every matched scan "
            "URI back to a manifest entry; refusing a partial rewrite. "
            f"unmatched: {sorted(matched_files - {e['path'] for e in touched})[:5]}"
        )
    return touched


def delete_where(
    table: LakehouseTable,
    predicate: Column,
    mode: str = "copy-on-write",
    equality_cols: list[str] | None = None,
    positional: bool = False,
    stage_as: str | None = None,
) -> Snapshot | str:
    """DELETE FROM t WHERE predicate.

    ``mode='copy-on-write'`` (default): read the current snapshot once,
    rewrite surviving rows, commit a replace snapshot - write cost
    O(table), zero read overhead afterwards.

    ``mode='merge-on-read'``: write only the matched rows' key values as
    an equality-delete tombstone file (Iceberg v2 equality deletes) and
    commit O(delete) data + O(1) metadata; every subsequent scan
    anti-joins the tombstones against data files older than the delete
    (sequence-number semantics - re-appended keys survive). The deletes
    are physically removed by ``maintenance.materialize_deletes`` or any
    compaction that rewrites the affected files. At 100 TB this is the
    difference between a seconds-long delete commit (GDPR erasure, bad
    batch retraction) and rewriting the table; the scan-side cost is one
    broadcast anti-join until maintenance catches up.

    ``equality_cols``: key columns identifying deleted rows (required
    for equality merge-on-read; the predicate's matches are projected
    onto them, so they must uniquely identify rows matched by the
    predicate - a non-key column set would delete innocent bystander
    rows sharing the key values).

    ``positional=True`` (merge-on-read only): write POSITION deletes
    instead - (file, row-ordinal) tombstones naming the exact physical
    rows the predicate matched (Iceberg v2 positional deletes). This is
    the missing half of MoR that equality deletes cannot express: a
    DELETE whose predicate ranges over NON-key columns (no column set
    uniquely identifies the doomed rows) deletes exactly the matched
    physical rows and nothing else. Row identity comes from the parquet
    readers' ``_metadata.row_index`` - no writer-side ordinal bookkeeping.
    No sequence-number logic is needed on the scan side: later appends
    get fresh uuid file paths a position tombstone cannot name. The
    commit is ``base_version``-guarded, so a concurrent compaction that
    rewrites the referenced files (invalidating their ordinals) raises
    ``CommitConflict`` instead of resurrecting rows.
    """
    if positional and mode != "merge-on-read":
        raise ValueError(
            "positional=True requires mode='merge-on-read' (copy-on-write "
            "rewrites files, so there are no positions to tombstone)"
        )
    if stage_as is not None and mode != "copy-on-write":
        # staging (multi-table transactions, r14) covers the CoW form:
        # a replace delta is self-contained (added + removed files),
        # while MoR tombstones change SCAN semantics the moment they
        # commit and have no invisible staged form
        raise ValueError(
            "stage_as requires mode='copy-on-write' (merge-on-read "
            "deletes cannot be staged invisibly)"
        )
    snap = table.snapshot()
    if mode == "merge-on-read" and positional:
        _require_no_external_files(snap, "positional merge-on-read DELETE")
        matches = (
            table._read_data(snap.data_entries, snap, with_pos=True)
            .filter(predicate)
            .select(
                F.col("__file_rel").alias("file_path"),
                F.col("__pos").alias("pos"),
            )
            .coalesce(1)  # tombstones are tiny next to data
        )
        del_entries = table._write_files(matches, [])
        for e in del_entries:
            e["content"] = "pos-del"
        return table.commit_delta(
            added=del_entries,
            removed_paths=set(),
            operation="delete",
            summary={
                "deleted_predicate": str(predicate._jc),
                "mode": "merge-on-read",
                "delete_files": len(del_entries),
                "delete_kind": "position",
            },
            base_version=snap.version,
        )
    if mode == "merge-on-read":
        if not equality_cols:
            raise ValueError(
                "merge-on-read delete requires equality_cols "
                "(or positional=True for position deletes)"
            )
        names = {f["name"] for f in snap.schema_json["fields"]}
        missing = [c for c in equality_cols if c not in names]
        if missing:
            raise ValueError(f"equality_cols not in schema: {missing}")
        keys = (
            table.scan(snapshot=snap)
            .filter(predicate)
            .select(*equality_cols)
            .distinct()
            .coalesce(1)  # tombstones are tiny next to data
        )
        del_entries = table._write_files(keys, [])
        for e in del_entries:
            e["content"] = "eq-del"
            e["equality_cols"] = list(equality_cols)
        if not del_entries:  # predicate matched nothing: no-op commit
            del_entries = []
        return table.commit_delta(
            added=del_entries,
            removed_paths=set(),
            operation="delete",
            summary={
                "deleted_predicate": str(predicate._jc),
                "mode": "merge-on-read",
                "delete_files": len(del_entries),
            },
            base_version=snap.version,
        )
    # SQL three-valued logic: DELETE removes rows where the predicate
    # is TRUE; rows where it is NULL (UNKNOWN) must SURVIVE. A bare
    # filter(~predicate) silently deletes them (~NULL is NULL, and
    # filter keeps only TRUE) - r8 regression caught by the CDC-MV
    # test: DELETE ... WHERE v = 5 dropped every v-IS-NULL row.
    survivors = table.scan(snapshot=snap).filter(
        ~F.coalesce(predicate, F.lit(False))
    )
    new_entries = table._write_files(survivors, snap.partition_spec)
    removed = {e["path"] for e in snap.manifest}
    summary = {"deleted_predicate": str(predicate._jc)}
    if stage_as is not None:
        return table.stage_replace(
            new_entries,
            removed,
            operation="delete",
            summary=summary,
            staged_id=stage_as,
            base_version=snap.version,
        )
    return table.commit_delta(
        added=new_entries,
        removed_paths=removed,
        operation="delete",
        summary=summary,
        base_version=snap.version,
    )


def update_where(
    table: LakehouseTable,
    predicate: Column,
    assignments: dict[str, Column],
    mode: str = "copy-on-write",
    stage_as: str | None = None,
) -> Snapshot | str:
    """UPDATE t SET col = expr, ... WHERE predicate.

    ``mode='copy-on-write'``: locate the data files that contain
    matched rows (one predicate scan over metadata columns), rewrite
    ONLY those with assignments applied, carry every untouched file
    forward by reference, commit one replace snapshot - write
    amplification is O(files containing matches), not O(table). With
    pending merge-on-read tombstones the rewrite falls back to the full
    logical table (and materializes the deletes), since a partial
    rewrite cannot keep tombstones consistent across both file sets.

    ``mode='merge-on-read'``: the position-delete composition - ONE
    atomic commit that (a) appends the matched rows with assignments
    applied as new data files and (b) tombstones the original physical
    rows by (file, ordinal). Write cost O(matched rows) + O(1) metadata,
    no key columns required (the predicate may range over any columns) -
    this is what Iceberg's merge-on-read UPDATE compiles to. Scans pay
    one broadcast anti-join until ``materialize_deletes``/compaction
    catches up. Conflicts with concurrent rewrites surface as
    ``CommitConflict`` via the ``base_version`` guard."""
    if stage_as is not None and mode != "copy-on-write":
        raise ValueError(
            "stage_as requires mode='copy-on-write' (merge-on-read "
            "updates cannot be staged invisibly)"
        )
    snap = table.snapshot()
    names = {f["name"] for f in snap.schema_json["fields"]}
    missing = [c for c in assignments if c not in names]
    if missing:
        raise ValueError(f"assignment targets not in schema: {missing}")

    def apply_assignments(df: DataFrame, only_matched: bool) -> DataFrame:
        # ONE select, every expression against the ORIGINAL row -
        # standard SQL UPDATE semantics. Sequential withColumn would
        # let a later assignment's WHEN re-evaluate the predicate (and
        # any RHS references) against already-mutated columns: UPDATE
        # SET id = 99, id2 = 198 WHERE id = 1 would rewrite id, see
        # id = 99, and silently skip id2 (r9 finding, wrong results).
        return df.select(
            *[
                (
                    (
                        assignments[c]
                        if only_matched
                        else F.when(
                            predicate, assignments[c]
                        ).otherwise(F.col(c))
                    ).alias(c)
                    if c in assignments
                    else F.col(c)
                )
                for c in df.columns
            ]
        )

    if mode == "merge-on-read":
        _require_no_external_files(snap, "merge-on-read UPDATE")
        # Row lineage (Iceberg v3): a MoR UPDATE preserves row identity.
        # When every data file's id is known (first_row_id assigned, or
        # physically materialized by a prior rewrite), the matched rows
        # are read WITH the lineage columns and re-appended carrying
        # their old _row_id (physical __row_id) and this commit as
        # __added_v. Pre-lineage files fall back to fresh ids.
        carry_lineage = bool(snap.data_entries) and all(
            "first_row_id" in e or e.get("lineage_cols")
            for e in snap.data_entries
        )
        extra = None
        if carry_lineage:
            from pyspark.sql.types import LongType, StructField

            extra = [
                StructField("__row_id", LongType(), True),
                StructField("__added_v", LongType(), True),
            ]
        # the update must see the LOGICAL table: pending tombstones are
        # applied (with positions preserved) so already-deleted rows can
        # never be resurrected as "updated" copies
        live = (
            table._apply_deletes(
                snap.data_entries,
                snap.delete_entries,
                snap,
                with_pos=True,
                extra_fields=extra,
            )
            if snap.delete_entries
            else table._read_data(
                snap.data_entries, snap, with_pos=True, extra_fields=extra
            )
        )
        # ONE evaluation of the predicate feeds BOTH writes: the
        # tombstone file and the updated re-append read the same
        # materialized row set (localCheckpoint = eager, lineage cut),
        # so a non-deterministic predicate/assignment (rand(),
        # current_timestamp) cannot tombstone one set of rows and
        # re-append a different one inside the "atomic" commit. Cost is
        # O(matched rows) executor storage - the same order as the
        # update's write itself.
        matched = live.filter(predicate).localCheckpoint(eager=True)
        pos = matched.select(
            F.col("__file_rel").alias("file_path"), F.col("__pos").alias("pos")
        ).coalesce(1)
        del_entries = table._write_files(pos, [])
        for e in del_entries:
            e["content"] = "pos-del"
        if carry_lineage:
            # physical ids (files materialized by a prior rewrite) win;
            # derived files compute first_row_id + position via a
            # broadcast O(files) mapping. __added_v becomes this commit
            # (base_version guard: it IS snap.version+1 or the commit
            # conflicts and nothing is published).
            derived = [
                (e["path"], int(e["first_row_id"]))
                for e in snap.data_entries
                if not e.get("lineage_cols")
            ]
            mapping = table.spark.createDataFrame(
                derived or [("", 0)], "__file_rel string, __frid long"
            )
            upd_src = (
                matched.join(F.broadcast(mapping), on="__file_rel", how="left")
                .withColumn(
                    "__row_id",
                    F.coalesce(
                        F.col("__row_id"), F.col("__frid") + F.col("__pos")
                    ),
                )
                .withColumn("__added_v", F.lit(snap.version + 1).cast("long"))
                .drop("__frid", "__file_rel", "__pos")
            )
            updated = apply_assignments(upd_src, only_matched=True)
        else:
            updated = apply_assignments(
                matched.drop("__file_rel", "__pos"), only_matched=True
            )
        # assignments can violate a CHECK even when the source rows
        # passed it on append - gate the rewritten values (reads the
        # checkpointed matched set, so no plan re-execution)
        table._validate_constraints(updated, snap, op="update")
        new_entries = table._write_files(updated, snap.partition_spec)
        if carry_lineage:
            for e in new_entries:
                e["lineage_cols"] = True
        return table.commit_delta(
            added=new_entries + del_entries,
            removed_paths=set(),
            operation="update",
            summary={
                "updated_predicate": str(predicate._jc),
                "mode": "merge-on-read",
                "updated_files": len(new_entries),
                "delete_files": len(del_entries),
            },
            base_version=snap.version,
        )

    if snap.delete_entries:
        # pending MoR tombstones: a partial rewrite can't both keep the
        # tombstones applying to untouched files and clear them for
        # rewritten ones - rewrite the whole logical table (which also
        # materializes the deletes, like CoW DELETE does)
        rewritten = apply_assignments(
            table.scan(snapshot=snap), only_matched=False
        )
        table._validate_constraints(rewritten, snap, op="update")
        new_entries = table._write_files(rewritten, snap.partition_spec)
        removed = {e["path"] for e in snap.manifest}
        summary = {"updated_predicate": str(predicate._jc)}
        if stage_as is not None:
            return table.stage_replace(
                new_entries,
                removed,
                operation="update",
                summary=summary,
                staged_id=stage_as,
                base_version=snap.version,
            )
        return table.commit_delta(
            added=new_entries,
            removed_paths=removed,
            operation="update",
            summary=summary,
            base_version=snap.version,
        )
    # Copy-on-write file pruning: find the data files that actually
    # contain matched rows (one metadata-column scan - Catalyst prunes
    # the projection to the predicate's columns + _metadata) and rewrite
    # ONLY those; every other file carries over by reference. A point
    # UPDATE on a 100 TB table rewrites a handful of files, not the
    # table. The collected set is bounded by the live file count, same
    # as the position-delete target list.
    touched = _prune_matched_files(table, snap, predicate, "update_where")
    rewritten = apply_assignments(
        table.scan(snapshot=snap, file_filter=lambda e: e in touched),
        only_matched=False,
    )
    table._validate_constraints(rewritten, snap, op="update")
    new_entries = table._write_files(rewritten, snap.partition_spec)
    summary = {
        "updated_predicate": str(predicate._jc),
        "rewritten_files": len(touched),
        "carried_files": len(snap.data_entries) - len(touched),
    }
    if stage_as is not None:
        return table.stage_replace(
            new_entries,
            {e["path"] for e in touched},
            operation="update",
            summary=summary,
            staged_id=stage_as,
            base_version=snap.version,
        )
    return table.commit_delta(
        added=new_entries,
        removed_paths={e["path"] for e in touched},
        operation="update",
        summary=summary,
        base_version=snap.version,
    )


def merge_into(
    table: LakehouseTable,
    updates: DataFrame,
    key: str | list[str],
    when_matched: str = "update",
    matched_condition: str | Column | None = None,
    when_not_matched: str = "insert",
    not_matched_condition: str | Column | None = None,
    when_not_matched_by_source: str = "keep",
    by_source_condition: str | Column | None = None,
    by_source_sets: list[tuple[str, str | Column]] | None = None,
    by_source_clauses: list[tuple] | None = None,
    source_delete_condition: str | Column | None = None,
    extra_summary: dict | None = None,
    with_schema_evolution: bool = False,
    stage_as: str | None = None,
    source_stable: bool = False,
    _source_bounds: tuple | None = None,
) -> Snapshot | str:
    """MERGE INTO table USING updates ON table.key = updates.key — the
    full SQL MERGE clause matrix over the snapshot format.

    ``with_schema_evolution=True`` (Delta's MERGE WITH SCHEMA
    EVOLUTION) first reconciles the table schema to the source via
    :func:`evolve_schema_for` - new source columns are added, legal
    widenings widen - then merges; existing table rows read the new
    columns as null. DIVERGENCE from Delta: evolution commits as
    metadata BEFORE the merge, so a merge that subsequently fails
    leaves the schema evolved (fail-open; nullable columns are
    harmless and a re-run completes the merge). The fast path
    (update+insert, no conditions) probes the CHECK/generated gate
    against the source before the first schema commit, so the most
    common failure cannot strand an evolved schema.

    - ``when_matched``: ``'update'`` (row replace), ``'ignore'`` (table
      row wins — reproduces the reference's J1 dedup-append as one
      atomic snapshot instead of anti-join + append), or ``'delete'``
      (WHEN MATCHED THEN DELETE).
    - ``matched_condition``: optional extra predicate over the TABLE
      row (SQL string or Column) gating the matched action — matched
      rows failing it keep the table version (``WHEN MATCHED AND cond
      THEN ...``). Must be deterministic; it may reference only table
      columns.
    - ``when_not_matched``: ``'insert'`` (default) or ``'ignore'`` —
      source rows with keys absent from the table insert or drop.
    - ``not_matched_condition``: optional predicate over SOURCE
      columns gating the insert (``WHEN NOT MATCHED AND cond THEN
      INSERT *``) — unmatched source rows failing it drop. Must be
      deterministic over the (checkpointed) source frame.
    - ``when_not_matched_by_source``: ``'keep'`` (default),
      ``'delete'``, or ``'update'`` — Delta/SQL:2003's WHEN NOT
      MATCHED BY SOURCE THEN DELETE / UPDATE SET. ``'delete'`` turns
      MERGE into full sync: after the commit the table's key set
      equals the source's key set. ``'update'`` (r11) applies
      ``by_source_sets`` column assignments to every unmatched target
      row (the Delta "mark stale rows" cell).
    - ``by_source_condition`` (r11): optional extra predicate over the
      TABLE row gating the by-source action (``WHEN NOT MATCHED BY
      SOURCE AND cond THEN DELETE | UPDATE SET ...``) — unmatched
      target rows failing it (or evaluating NULL) survive untouched.
      Must be deterministic. With a condition set, out-of-key-range
      files are no longer pure metadata: files containing condition
      matches rewrite (the action reduces to the bare condition there
      — every row is unmatched), files with none still carry forward
      by reference.
    - ``by_source_sets`` (r11, requires
      ``when_not_matched_by_source='update'``): ``[(column, expr)]``
      assignments over TARGET columns only, evaluated simultaneously
      against the ORIGINAL row and cast to the column type (the
      store-assignment discipline of the column-level matched door);
      unassigned generated columns recompute from the assigned row.
      Key columns refuse (a rewritten key could collide with a row
      inserted in the same commit). Without a ``by_source_condition``
      EVERY out-of-range file rewrites — at 100 TB that is a full
      table rewrite, same as Delta; condition the clause to keep the
      cost O(files containing matches).
    - ``by_source_clauses`` (r11, mutually exclusive with the three
      scalars above): the MULTI-CLAUSE by-source matrix —
      ``[(condition | None, 'delete' | 'update', sets | None)]``
      evaluated FIRST-MATCH-WINS per unmatched target row (Delta's
      rule: every clause but the last must carry a condition). A row
      firing no clause survives untouched. File pruning uses the OR
      of all conditions; one unconditioned clause makes every
      out-of-range file rewrite.
    - ``source_delete_condition``: optional predicate over SOURCE
      columns turning a source row into a DELETE directive: matched
      target rows for those keys are dropped (instead of replaced) and
      the row itself never inserts. The caller that needs this is
      incremental view maintenance under deletes - a merged group
      whose row count reached zero must LEAVE the view, atomically in
      the same commit that updates its siblings. Requires
      ``when_matched='update'``.

    ``key`` may be a list for composite business keys. The engine's
    actual semantics are PER-ROW: every matched-and-replaced target row
    is dropped and every entering source row is appended, so a source
    carrying several rows per key is well-defined (all of them land) -
    the multi-clause MERGE compiler and the MV delta merges rely on
    this, passing one computed row per fired target row. For the plain
    row-replace door, callers should still keep source keys unique:
    N source rows for one key replace ALL of that key's matched target
    rows with N copies, which is rarely what a business-key upsert
    means. Do NOT add a uniqueness check - it would break the per-row
    compilers above.

    Physical plan: collect the updates' key range (one tiny agg), prune
    manifest files to those overlapping it on the leading key, rewrite
    ONLY those files, append new-key rows, commit one replace snapshot
    carrying untouched files forward. In sync mode, files entirely
    OUTSIDE the source key range hold only not-matched-by-source rows,
    so they are dropped as pure metadata (no read, no rewrite) — only
    range-overlapping files pay the rewrite."""
    keys = [key] if isinstance(key, str) else list(key)
    lead = keys[0]
    if when_matched not in ("update", "ignore", "delete"):
        raise ValueError(
            f"when_matched must be update|ignore|delete, got {when_matched!r}"
        )
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(
            f"when_not_matched must be insert|ignore, got {when_not_matched!r}"
        )
    if when_not_matched_by_source not in ("keep", "delete", "update"):
        raise ValueError(
            "when_not_matched_by_source must be keep|delete|update, "
            f"got {when_not_matched_by_source!r}"
        )
    nm_cond = (
        F.expr(not_matched_condition)
        if isinstance(not_matched_condition, str)
        else not_matched_condition
    )
    if nm_cond is not None and when_not_matched != "insert":
        raise ValueError(
            "not_matched_condition requires when_not_matched='insert'"
        )
    # --- by-source side: normalize the scalar trio OR the clause list
    # into bs_clauses = [(cond Column|None, action, sets dict|None)],
    # evaluated FIRST-MATCH-WINS per unmatched target row (r11).
    bs_cond = (
        F.expr(by_source_condition)
        if isinstance(by_source_condition, str)
        else by_source_condition
    )
    if by_source_clauses is not None:
        if (
            when_not_matched_by_source != "keep"
            or bs_cond is not None
            or by_source_sets
        ):
            raise ValueError(
                "by_source_clauses is mutually exclusive with the "
                "when_not_matched_by_source / by_source_condition / "
                "by_source_sets scalars"
            )
        raw_clauses = list(by_source_clauses)
    elif when_not_matched_by_source == "keep":
        if bs_cond is not None:
            raise ValueError(
                "by_source_condition requires "
                "when_not_matched_by_source='delete'/'update'"
            )
        if by_source_sets:
            raise ValueError(
                "by_source_sets requires "
                "when_not_matched_by_source='update'"
            )
        raw_clauses = []
    elif when_not_matched_by_source == "delete":
        if by_source_sets:
            raise ValueError(
                "by_source_sets requires "
                "when_not_matched_by_source='update'"
            )
        raw_clauses = [(bs_cond, "delete", None)]
    else:  # update
        if not by_source_sets:
            raise ValueError(
                "when_not_matched_by_source='update' requires "
                "by_source_sets assignments"
            )
        raw_clauses = [(bs_cond, "update", by_source_sets)]

    bs_clauses: list[tuple[Column | None, str, dict[str, Column]]] = []
    bs_gen: dict[str, str] = {}
    if raw_clauses:
        field_by_lower = {f.name.lower(): f for f in table.schema.fields}
        lower_keys0 = {k.lower() for k in keys}
        for ci, (c0, action, sets0) in enumerate(raw_clauses):
            if action not in ("delete", "update"):
                raise ValueError(
                    "by-source clause action must be delete|update, "
                    f"got {action!r}"
                )
            cc = F.expr(c0) if isinstance(c0, str) else c0
            if cc is None and ci != len(raw_clauses) - 1:
                raise ValueError(
                    "only the LAST of multiple WHEN NOT MATCHED BY "
                    "SOURCE clauses may omit AND <condition>"
                )
            setd: dict[str, Column] = {}
            if action == "update":
                if not sets0:
                    raise ValueError(
                        "a by-source UPDATE clause requires SET "
                        "assignments"
                    )
                if with_schema_evolution:
                    # the assignments resolve and cast against the
                    # PRE-evolution schema while the rewrite reads the
                    # evolved one - a widened SET target would
                    # silently narrow. Loud refusal; evolve first.
                    raise ValueError(
                        "by-source UPDATE does not compose with "
                        "with_schema_evolution; run the evolution first"
                    )
                for col, expr in sets0:
                    lc = col.lower()
                    if lc in lower_keys0:
                        raise ValueError(
                            "by-source UPDATE cannot SET the key "
                            f"column {col!r} (a rewritten key could "
                            "collide with a row inserted in the same "
                            "commit)"
                        )
                    f0 = field_by_lower.get(lc)
                    if f0 is None:
                        raise ValueError(
                            f"by-source SET target {col!r} is not a "
                            "table column"
                        )
                    if lc in setd:
                        raise ValueError(
                            f"duplicate by-source SET target {col!r}"
                        )
                    e = F.expr(expr) if isinstance(expr, str) else expr
                    setd[lc] = e.cast(f0.dataType)
            elif sets0:
                raise ValueError(
                    "a by-source DELETE clause takes no SET assignments"
                )
            bs_clauses.append((cc, action, setd))
        if "__bs_f" in field_by_lower or any(
            c.lower() == "__bs_f" for c in updates.columns
        ):
            raise ValueError(
                "by-source clauses reserve the column name '__bs_f'"
            )
        bs_gen = table.generated_columns()
        # conditions and assignments are evaluated in independent
        # subtrees (file pruning / the constraint probe / the rewrite)
        # - refuse non-determinism up front
        probes = [
            c for c, _a, _s in bs_clauses if c is not None
        ] + [e for _c, _a, s in bs_clauses for e in s.values()]
        if probes:
            chk = table.scan().select(
                *[e.alias(f"__p{i}") for i, e in enumerate(probes)]
            )
            if not chk._jdf.queryExecution().analyzed().deterministic():
                raise ValueError(
                    "merge_into requires deterministic by-source "
                    "conditions and SET expressions (they are "
                    "evaluated once to prune/probe and once to "
                    "rewrite)"
                )
    bs_any = bool(bs_clauses)
    # summary/back-compat flags: sync == a delete arm exists; the
    # single unconditioned-delete clause keeps its metadata-only
    # drop of out-of-range files (full sync fast path)
    sync = any(a == "delete" for _c, a, _s in bs_clauses)
    bs_update = any(a == "update" for _c, a, _s in bs_clauses)
    full_sync = (
        len(bs_clauses) == 1
        and bs_clauses[0][1] == "delete"
        and bs_clauses[0][0] is None
    )
    bs_upd_idx = [
        i for i, (_c, a, _s) in enumerate(bs_clauses) if a == "update"
    ]
    bs_del_idx = [
        i for i, (_c, a, _s) in enumerate(bs_clauses) if a == "delete"
    ]

    def _bs_fire_col() -> Column:
        """FIRST-MATCH-WINS clause index for an unmatched TARGET row:
        the index of the first clause whose condition holds (NULL =
        does not hold; an unconditioned last clause always fires), or
        -1 when none fires (the row survives untouched)."""
        out: Column = F.lit(-1)
        for i in range(len(bs_clauses) - 1, -1, -1):
            ci = bs_clauses[i][0]
            cc = (
                F.lit(True)
                if ci is None
                else F.coalesce(ci, F.lit(False))
            )
            out = F.when(cc, F.lit(i)).otherwise(out)
        return out

    def _apply_bs_clauses(df: DataFrame) -> DataFrame:
        """Apply the by-source clause actions to rows carrying their
        first-fire index in ``__bs_f``: delete-fired rows drop, each
        update-fired row takes ITS clause's assignments in one select
        against the ORIGINAL row (simultaneous assignment), then
        unassigned generated columns recompute so they see assigned
        values. ``__bs_f`` is retained for the caller's constraint
        probe."""
        if bs_del_idx:
            df = df.filter(
                ~F.col("__bs_f").isin([int(i) for i in bs_del_idx])
            )
        assigned_cols = {
            lc for i in bs_upd_idx for lc in bs_clauses[i][2]
        }

        def cell(c: str) -> Column:
            e: Column = F.col(c)
            for i in bs_upd_idx:
                s = bs_clauses[i][2]
                if c.lower() in s:
                    e = F.when(
                        F.col("__bs_f") == i, s[c.lower()]
                    ).otherwise(e)
            return e.alias(c)

        out = df.select(
            *[
                cell(c) if c.lower() in assigned_cols else F.col(c)
                for c in df.columns
            ]
        )
        for gname, gexpr in bs_gen.items():
            # recompute per firing clause that did NOT explicitly
            # assign this generated column (explicit wins)
            idxs = [
                i
                for i in bs_upd_idx
                if gname.lower() not in bs_clauses[i][2]
            ]
            if not idxs:
                continue
            gtype = next(
                f.dataType
                for f in table.schema.fields
                if f.name.lower() == gname.lower()
            )
            out = out.withColumn(
                gname,
                F.when(
                    F.col("__bs_f").isin([int(i) for i in idxs]),
                    F.expr(gexpr).cast(gtype),
                ).otherwise(F.col(gname)),
            )
        return out

    cond = (
        F.expr(matched_condition)
        if isinstance(matched_condition, str)
        else matched_condition
    )
    if cond is not None and when_matched == "ignore":
        raise ValueError(
            "matched_condition has no effect with when_matched='ignore' "
            "(matched rows always keep the table version); drop the "
            "condition or use when_matched='update'/'delete'"
        )
    src_del = (
        F.expr(source_delete_condition)
        if isinstance(source_delete_condition, str)
        else source_delete_condition
    )
    if src_del is not None and when_matched != "update":
        raise ValueError(
            "source_delete_condition requires when_matched='update'"
        )
    # With BOTH source_delete_condition and matched_condition set, the
    # condition gates the delete per target row: matched rows failing
    # it keep the table version, matched rows passing it are consumed
    # by the directive. This composition is what multi-clause MERGE
    # (WHEN MATCHED AND c THEN DELETE among other clauses) compiles to.

    idc = table.identity_columns()
    if idc and when_not_matched == "insert":
        raise ValueError(
            "MERGE INSERT into a table with identity column(s) "
            f"{sorted(idc)} is not supported - identity values are "
            "allocated at the append door; use a matched-only MERGE "
            "(when_not_matched='ignore') or append the new rows"
        )
    if stage_as is not None and with_schema_evolution:
        # evolution commits schema metadata BEFORE the merge (fail-open,
        # see below) - a staged merge must stay fully invisible until
        # publish, which a pre-committed schema change cannot be
        raise ValueError(
            "stage_as cannot combine with with_schema_evolution "
            "(evolution commits metadata before the merge)"
        )
    constraints_prevalidated = False
    if with_schema_evolution:
        # Evolution is fail-open (each add/widen is its own metadata
        # commit), so a merge that fails AFTER it leaves the table
        # schema evolved - unlike Delta, which applies evolution
        # atomically with the merge; a re-run completes the merge
        # against the already-evolved schema (ADVICE r9). Refuse what
        # is decidable BEFORE the first schema commit: on the
        # every-source-row-enters fast path the CHECK/generated gate
        # depends on the source alone, so probe it now - a constraint
        # violation then cannot strand an evolved schema.
        if (
            when_matched == "update"
            and when_not_matched == "insert"
            and cond is None
            and src_del is None
            and nm_cond is None
        ):
            probe = table._fill_generated(updates)
            have = {c.lower() for c in probe.columns}
            if all(
                f.name.lower() in have for f in table.schema.fields
            ):
                table._validate_constraints(
                    probe, table.snapshot(), op="merge"
                )
                # on this exact path incoming == entering == updates,
                # so the later gate would re-aggregate the same rows
                constraints_prevalidated = True
        evolve_schema_for(table, updates)
    # full-row sources (row-replace / insert) fill omitted generated
    # columns like the append door; keys-only sources (a delete merge
    # with when_not_matched='ignore') are left alone - their frames
    # intentionally carry only the key columns
    if when_matched == "update" or when_not_matched == "insert":
        pre_fill = set(updates.columns)
        updates = table._fill_generated(updates)
        fill_added = set(updates.columns) - pre_fill
    else:
        fill_added = set()
    # one materialization: the key-range bounds, the distinct-key
    # semi/anti joins, and the write all run as INDEPENDENT Spark
    # actions over ``updates`` - a non-deterministic source could make
    # the pruning bounds inconsistent with the rows actually written.
    # Same discipline as overwrite_partitions; cost is O(source rows)
    # executor storage, the same order as the merge's own write.
    # ``source_stable=True`` is the caller's guarantee that ``updates``
    # is already checkpoint-rooted (re-execution yields identical rows
    # from materialized blocks, no table re-scan) - re-checkpointing it
    # would materialize the same rows a second time for nothing (r14:
    # ~0.4s of the scd2_apply floor).
    if source_stable and fill_added:
        # ADVICE r14: _fill_generated just layered expressions ON TOP
        # of the caller's checkpoint - a nondeterministic generated
        # expression (e.g. current_timestamp()) would re-evaluate
        # independently in the bounds metric, the key joins, and the
        # write. The stability guarantee does not cover columns added
        # here, so checkpoint after all.
        source_stable = False
    if not source_stable:
        # the key-range bounds ride the checkpoint job as an observed
        # metric (r15, VERDICT r14 #6 / guide §2.4): one job
        # materializes the source AND yields min/max - previously a
        # separate agg job per MERGE (and per MV refresh term). The
        # metrics are computed over exactly the rows being
        # materialized, and the checkpointed frame's plan is a fresh
        # LogicalRDD, so no downstream action re-fires the collector.
        from pyspark.sql import Observation

        _obs = Observation()
        updates = updates.observe(
            _obs, F.min(lead).alias("lo"), F.max(lead).alias("hi")
        )
        updates = updates.localCheckpoint(eager=True)
        bounds = _obs.get  # blocks only on listener delivery
    elif _source_bounds is not None:
        # internal fast path (r15): a source_stable caller that already
        # aggregated over the SAME materialized frame passes the lead
        # key's (min, max) along - e.g. apply_changes_scd2 folds them
        # into its counters agg - saving the one remaining probe job
        bounds = {"lo": _source_bounds[0], "hi": _source_bounds[1]}
    else:
        bounds = updates.agg(
            F.min(lead).alias("lo"), F.max(lead).alias("hi")
        ).collect()[0]
    # one snapshot read anchors BOTH the manifest split and the commit's
    # base version - a second read could silently skip a concurrent append
    snap = table.snapshot()
    touched, untouched = _overlapping_entries(snap, lead, bounds["lo"], bounds["hi"])

    touched_df = table.scan(snapshot=snap, file_filter=lambda e: e in touched)
    if cond is not None:
        # the condition is evaluated in independent subtrees of the
        # write plan (surviving table rows vs replacement keys); a
        # non-deterministic condition could keep AND replace one row -
        # same refusal discipline as copy-on-write update_where
        probe = touched_df.filter(cond)
        if not probe._jdf.queryExecution().analyzed().deterministic():
            raise ValueError(
                "merge_into requires a deterministic matched_condition "
                "(it is evaluated independently for kept rows and "
                "replacement keys)"
            )
    src_keys = updates.select(*keys).distinct()

    # Which table rows survive the rewrite. ``replaced`` = matched rows
    # the matched-action consumes (update: superseded by source; delete:
    # dropped); matched rows failing the condition always survive.
    marked = touched_df.join(
        src_keys.withColumn("__m", F.lit(1)), on=keys, how="left"
    )
    matched = F.col("__m").isNotNull()
    if when_matched == "ignore":
        replaced = F.lit(False)
    elif cond is not None:
        replaced = matched & F.coalesce(cond, F.lit(False))
    else:
        replaced = matched
    if full_sync:
        # unconditioned single-delete sync: unmatched rows drop here
        # (and out-of-range files drop as pure metadata below)
        keep_pred = matched & ~replaced
    else:
        keep_pred = ~replaced
    kept = marked.filter(keep_pred)
    bs_probe_parts: list[DataFrame] = []
    if bs_any and not full_sync:
        # unmatched rows in the touched (key-range) files run the
        # by-source clause matrix first-match-wins: delete-fired rows
        # drop, update-fired rows take their clause's assignments;
        # matched survivors keep the table version (they matched - the
        # by-source clauses are theirs to miss)
        kept = kept.withColumn(
            "__bs_f",
            F.when(~matched, _bs_fire_col()).otherwise(F.lit(-1)),
        )
        kept = _apply_bs_clauses(kept)
        if bs_upd_idx:
            bs_probe_parts.append(
                kept.filter(
                    F.col("__bs_f").isin([int(i) for i in bs_upd_idx])
                ).drop("__bs_f", "__m")
            )
        kept = kept.drop("__bs_f")
    kept = kept.drop("__m")

    # Which source rows enter the table. Delete directives (rows
    # matching source_delete_condition) consumed their matched target
    # above via src_keys but contribute NO replacement/insert here.
    entering = (
        updates
        if src_del is None
        else updates.filter(~F.coalesce(src_del, F.lit(False)))
    )
    parts: list[DataFrame] = []
    if (
        when_matched == "update"
        and when_not_matched == "insert"
        and cond is None
        and nm_cond is None
    ):
        # fast path: every entering source row lands
        parts.append(entering)
    else:
        tbl_keys = touched_df.select(*keys).distinct()
        if when_matched == "update":
            if cond is None:
                upd_keys = tbl_keys.join(src_keys, on=keys, how="left_semi")
            else:
                upd_keys = marked.filter(replaced).select(*keys).distinct()
            parts.append(entering.join(upd_keys, on=keys, how="left_semi"))
        if when_not_matched == "insert":
            ins_src = (
                entering
                if nm_cond is None
                else entering.filter(F.coalesce(nm_cond, F.lit(False)))
            )
            parts.append(ins_src.join(tbl_keys, on=keys, how="left_anti"))
    incoming = parts[0] if parts else None
    for p in parts[1:]:
        incoming = incoming.unionByName(p)

    bs_hit: set = set()
    bs_all_conditioned = bs_any and all(
        c is not None for c, _a, _s in bs_clauses
    )
    if bs_any and not full_sync and untouched:
        if bs_all_conditioned:
            # out-of-range files hold ONLY not-matched-by-source rows,
            # so the clause matrix reduces to its bare conditions
            # there. Prune to the files containing a row matching ANY
            # clause condition - only those rewrite; clean files carry
            # forward by reference (the same O(affected files)
            # discipline as copy-on-write DELETE).
            from urllib.parse import unquote, urlparse

            or_cond: Column = F.lit(False)
            for c0, _a, _s in bs_clauses:
                or_cond = or_cond | F.coalesce(c0, F.lit(False))
            # probe via _read_data, not scan(): _metadata does not
            # resolve through the delete-applying joins scan() builds
            # on a MoR-tombstoned table (the _prune_matched_files
            # discipline; a tombstoned row false-positively marking a
            # file only costs an extra rewrite)
            hit_uris = [
                r["file_path"]
                for r in table._read_data(untouched, snap)
                .filter(or_cond)
                .select(F.col("_metadata.file_path").alias("file_path"))
                .distinct()
                .collect()
            ]
            bs_hit = {
                os.path.relpath(
                    unquote(urlparse(u).path), table.location
                )
                for u in hit_uris
            }
            unmapped = bs_hit - {e["path"] for e in untouched}
            if unmapped:
                raise RuntimeError(
                    "by-source file pruning could not map every "
                    "matched scan URI back to a manifest entry; "
                    "refusing a partial rewrite. unmatched: "
                    f"{sorted(unmapped)[:5]}"
                )
        else:
            # an unconditioned clause fires on every unmatched row:
            # all out-of-range files rewrite (the documented
            # full-rewrite cost of an unconditioned by-source UPDATE)
            bs_hit = {e["path"] for e in untouched}

    merged = kept
    if bs_any and not full_sync and bs_hit:
        bs_df = table.scan(
            snapshot=snap,
            file_filter=lambda e: e in untouched
            and e["path"] in bs_hit,
        ).withColumn("__bs_f", _bs_fire_col())
        bs_df = _apply_bs_clauses(bs_df)
        if bs_upd_idx:
            bs_probe_parts.append(
                bs_df.filter(
                    F.col("__bs_f").isin([int(i) for i in bs_upd_idx])
                ).drop("__bs_f")
            )
        merged = merged.unionByName(bs_df.drop("__bs_f"))
    if bs_probe_parts:
        # assignments can violate a CHECK even when the original rows
        # passed it on write - gate exactly the rewritten values
        probe = bs_probe_parts[0]
        for p in bs_probe_parts[1:]:
            probe = probe.unionByName(p)
        table._validate_constraints(probe, snap, op="merge")
    if incoming is not None:
        # only source-derived rows are new values; kept rows passed the
        # gate when they were written (CHECK holds for every write verb)
        if not constraints_prevalidated:
            table._validate_constraints(
                incoming.select(*touched_df.columns), snap, op="merge"
            )
        merged = merged.unionByName(incoming.select(*touched_df.columns))
    new_entries = table._write_files(merged, snap.partition_spec)
    # delta commit: manifest files holding only untouched entries carry
    # over by reference - a key-range MERGE re-serializes the overlapped
    # files' manifests, not the table's. Sync mode instead REMOVES the
    # out-of-range files: every row in them is not-matched-by-source.
    removed = {e["path"] for e in touched}
    if full_sync:
        removed |= {e["path"] for e in untouched}
        carried, dropped, rewritten = 0, len(untouched), len(touched)
    elif bs_any:
        # clause-matrix by-source: only hit out-of-range files were
        # rewritten (all of them when a clause is unconditioned);
        # clean ones carry forward by reference
        removed |= bs_hit
        carried = len(untouched) - len(bs_hit)
        dropped = 0
        rewritten = len(touched) + len(bs_hit)
    else:
        carried, dropped, rewritten = len(untouched), 0, len(touched)
    summary = {
        "rewritten_files": rewritten,
        "carried_files": carried,
        "dropped_files": dropped,
        "mode": when_matched,
        "sync": sync,
        **({"by_source_update": True} if bs_update else {}),
        **(extra_summary or {}),
    }
    if stage_as is not None:
        return table.stage_replace(
            new_entries,
            removed,
            operation="merge",
            summary=summary,
            staged_id=stage_as,
            base_version=snap.version,
        )
    return table.commit_delta(
        added=new_entries,
        removed_paths=removed,
        operation="merge",
        summary=summary,
        base_version=snap.version,
    )


def add_column(
    table: LakehouseTable,
    name: str,
    spark_type: str,
    default=None,
) -> Snapshot:
    """Schema evolution: add a nullable column (Iceberg-style - purely a
    metadata commit; existing files read the new column as null via the
    scan-time schema).

    ``default`` (Iceberg v3 initial default): rows written BEFORE the
    column existed read this value instead of null; rows appended after
    carry whatever the writer stored (explicit nulls stay null).
    Metadata-only - no file is touched; rewrites (compaction, CoW DML)
    materialize the default into new files naturally because they write
    what the scan produced."""
    import copy

    cur = table.snapshot()
    schema_json = copy.deepcopy(cur.schema_json)
    if any(f["name"] == name for f in schema_json["fields"]):
        raise ValueError(f"column {name} already exists")
    for f in schema_json["fields"]:
        if name in (f.get("metadata") or {}).get("renamed_from", []):
            raise ValueError(
                f"{name} is a historical name of {f['name']}; re-adding it "
                "would make rename resolution ambiguous"
            )
    meta = {}
    if default is not None:
        if not isinstance(default, (str, int, float, bool)):
            raise ValueError(
                "initial default must be a JSON scalar (str/int/float/bool)"
            )
        # entries committed from the NEXT version on carry seq >= this;
        # everything below predates the column and reads the default
        meta = {
            "initial_default": default,
            "default_added_seq": cur.version + 1,
        }
    schema_json["fields"].append(
        {"name": name, "type": spark_type, "nullable": True, "metadata": meta}
    )
    snap = Snapshot(
        snapshot_id=__import__("uuid").uuid4().hex,
        version=cur.version + 1,
        timestamp_ms=int(__import__("time").time() * 1000),
        operation="alter",
        parent_id=cur.snapshot_id,
        schema_json=schema_json,
        partition_spec=cur.partition_spec,
        manifest=cur.manifest,
        manifest_files=list(cur.manifest_files),
        summary={"added_column": name},
    )
    table._commit(snap)
    return snap


def evolve_schema_for(table: LakehouseTable, df: DataFrame) -> dict:
    """Delta's schema auto-merge (``mergeSchema`` / ``MERGE WITH SCHEMA
    EVOLUTION``): reconcile the TABLE schema to accept ``df`` - source
    columns the table lacks are ADDED (nullable, metadata-only), and
    existing columns the source writes with a legally-promotable WIDER
    primitive type are widened (the Iceberg-safe promotions only;
    int->long, float->double, byte/short widening). Anything else - an
    incompatible type, a narrowing - is left for the normal writer
    validation to refuse. Returns ``{"added": [...], "widened":
    {name: type}}``.

    Each action is its own metadata commit (``add_column`` /
    ``promote_column``): a crash midway leaves legal, harmless nullable
    columns and a re-run completes the reconciliation."""
    added: list[str] = []
    widened: dict[str, str] = {}
    # case-INSENSITIVE name match (Delta's mergeSchema discipline,
    # matching this engine's case-insensitive read/write resolution):
    # a source column differing only in case must match, not add a
    # case-colliding duplicate
    fields = {
        f["name"].lower(): f
        for f in table.snapshot().schema_json["fields"]
    }
    for f in df.schema.fields:
        src_t = f.dataType.jsonValue()
        if f.name.lower() not in fields:
            add_column(table, f.name, src_t)
            added.append(f.name)
            continue
        cur_t = fields[f.name.lower()]["type"]
        if (
            isinstance(cur_t, str)
            and isinstance(src_t, str)
            and src_t in _PROMOTIONS.get(cur_t, set())
        ):
            tbl_name = fields[f.name.lower()]["name"]  # table's spelling
            promote_column(table, tbl_name, src_t)
            widened[tbl_name] = src_t
    return {"added": added, "widened": widened}


def drop_column(table: LakehouseTable, name: str) -> Snapshot:
    """Schema evolution: drop a column (metadata-only commit). Existing
    data files keep the physical column; scans read with the new schema
    (name-matched), so the dropped column simply stops being projected -
    Iceberg's drop semantics, no rewrite."""
    import copy
    import time as _time
    import uuid as _uuid

    cur = table.snapshot()
    schema_json = copy.deepcopy(cur.schema_json)
    fields = [f for f in schema_json["fields"] if f["name"] != name]
    if len(fields) == len(schema_json["fields"]):
        raise ValueError(f"no column {name}")
    if any(p.source == name for p in cur.partition_spec):
        raise ValueError(f"{name} is a partition source; evolve the spec first")
    # generated-column hygiene: dropping the generated column itself
    # retires its property (a stale one would fail every later append);
    # dropping a SOURCE of someone else's generation expression would
    # break that fill - refuse, like the partition-source gate above
    gen = table.generated_columns()
    for g, expr in gen.items():
        if g != name and re.search(rf"\b{re.escape(name)}\b", expr):
            raise ValueError(
                f"{name} is referenced by generated column {g!r} "
                f"({expr!r}); drop or redefine that first"
            )
    if name in gen:
        # retire the property BEFORE the schema commit: a crash in
        # between leaves a plain (un-generated) column - fail-open,
        # re-running the drop completes it. The other order would
        # orphan the property and brick every later append.
        table.unset_properties(f"generated.{name}")
    if name in table.identity_columns():
        # same discipline for the identity allocator's three keys
        table.unset_properties(
            f"identity.{name}.start",
            f"identity.{name}.step",
            f"identity.{name}.high",
        )
    schema_json["fields"] = fields
    snap = Snapshot(
        snapshot_id=_uuid.uuid4().hex,
        version=cur.version + 1,
        timestamp_ms=int(_time.time() * 1000),
        operation="alter",
        parent_id=cur.snapshot_id,
        schema_json=schema_json,
        partition_spec=cur.partition_spec,
        manifest=cur.manifest,
        manifest_files=list(cur.manifest_files),
        summary={"dropped_column": name},
    )
    table._commit(snap)
    return snap


# Iceberg-legal primitive type promotions (spec §Schema Evolution): the
# widened type can represent every value of the narrow one, and Spark 4's
# vectorized parquet reader converts narrow physical columns on the fly,
# so promotion never rewrites a data file.
_PROMOTIONS: dict[str, set[str]] = {
    "byte": {"short", "integer", "long"},
    "short": {"integer", "long"},
    "integer": {"long"},
    "float": {"double"},
}


def _decimal_params(t: str) -> tuple[int, int] | None:
    import re

    m = re.fullmatch(r"decimal\((\d+),(\d+)\)", t)
    return (int(m.group(1)), int(m.group(2))) if m else None


def promote_column(table: LakehouseTable, name: str, new_type: str) -> Snapshot:
    """Schema evolution: widen a column's type (metadata-only commit).

    Allowed promotions follow the Iceberg spec — int→long, float→double,
    byte/short widening, and decimal(p,s)→decimal(p',s) with p'≥p — i.e.
    exactly the conversions where existing parquet files remain readable
    under the new scan schema with no precision loss and no rewrite.
    Anything else (narrowing, cross-family like long→string, decimal
    scale change) raises."""
    import copy
    import time as _time
    import uuid as _uuid

    cur = table.snapshot()
    schema_json = copy.deepcopy(cur.schema_json)
    fld = next((f for f in schema_json["fields"] if f["name"] == name), None)
    if fld is None:
        raise ValueError(f"no column {name}")
    old_type = fld["type"]
    if not isinstance(old_type, str):
        raise ValueError(f"cannot promote nested type of {name}")
    new_type = new_type.strip().lower()
    old_dec, new_dec = _decimal_params(old_type), _decimal_params(new_type)
    ok = (
        new_type in _PROMOTIONS.get(old_type, set())
        or (
            old_dec is not None
            and new_dec is not None
            and new_dec[1] == old_dec[1]
            and new_dec[0] >= old_dec[0]
        )
    )
    if old_type == new_type:
        raise ValueError(f"{name} is already {new_type}")
    if not ok:
        raise ValueError(
            f"illegal promotion {old_type} -> {new_type} for {name}; allowed: "
            "byte/short/int->wider int, float->double, "
            "decimal(p,s)->decimal(p'>=p,s)"
        )
    fld["type"] = new_type
    snap = Snapshot(
        snapshot_id=_uuid.uuid4().hex,
        version=cur.version + 1,
        timestamp_ms=int(_time.time() * 1000),
        operation="alter",
        parent_id=cur.snapshot_id,
        schema_json=schema_json,
        partition_spec=cur.partition_spec,
        manifest=cur.manifest,
        manifest_files=list(cur.manifest_files),
        summary={"promoted_column": name, "from": old_type, "to": new_type},
    )
    table._commit(snap)
    return snap


def rename_column(table: LakehouseTable, old: str, new: str) -> Snapshot:
    """Schema evolution: rename a column (metadata-only commit).

    Our parquet scans match columns BY NAME (no Iceberg field ids), so a
    bare rename would read null from every pre-rename file. Instead the
    renamed field records its lineage in field metadata
    (``renamed_from``), and ``LakehouseTable.scan`` resolves it:
    pre-rename files are read under every historical name and coalesced
    into the current one. Re-adding a dropped/renamed-away name later is
    rejected to keep that resolution unambiguous."""
    import copy
    import time as _time
    import uuid as _uuid

    cur = table.snapshot()
    schema_json = copy.deepcopy(cur.schema_json)
    names = [f["name"] for f in schema_json["fields"]]
    if old not in names:
        raise ValueError(f"no column {old}")
    if new in names:
        raise ValueError(f"column {new} already exists")
    # generated-column hygiene (mirrors drop_column): renaming the
    # generated column migrates its property; renaming a SOURCE of a
    # generation expression would orphan the expression - refuse
    gen = table.generated_columns()
    for g, expr in gen.items():
        if g != old and re.search(rf"\b{re.escape(old)}\b", expr):
            raise ValueError(
                f"{old} is referenced by generated column {g!r} "
                f"({expr!r}); redefine that first"
            )
    for f in schema_json["fields"]:
        if f["name"] == old:
            meta = dict(f.get("metadata") or {})
            lineage = list(meta.get("renamed_from", []))
            lineage.append(old)
            meta["renamed_from"] = lineage
            f["name"] = new
            f["metadata"] = meta
    new_spec = [
        PartitionFieldRenamed(p, old, new) if p.source == old else p
        for p in cur.partition_spec
    ]
    snap = Snapshot(
        snapshot_id=_uuid.uuid4().hex,
        version=cur.version + 1,
        timestamp_ms=int(_time.time() * 1000),
        operation="alter",
        parent_id=cur.snapshot_id,
        schema_json=schema_json,
        partition_spec=new_spec,
        manifest=cur.manifest,
        manifest_files=list(cur.manifest_files),
        summary={"renamed_column": {old: new}},
    )
    table._commit(snap)
    if old in gen:
        # ONE atomic property write migrates the key - no half-state
        # where only the unset (enforcement silently off) or only the
        # set (orphan brick) survived a crash. The commit->write gap
        # remains one file op wide; RESTORE's reconciliation is the
        # repair path if it ever hits.
        table.replace_properties(
            remove=[f"generated.{old}"],
            add={f"generated.{new}": gen[old]},
        )
    idc = table.identity_columns()
    if old in idc:
        spec = idc[old]
        table.replace_properties(
            remove=[
                f"identity.{old}.start",
                f"identity.{old}.step",
                f"identity.{old}.high",
            ],
            add={
                f"identity.{new}.start": str(spec["start"]),
                f"identity.{new}.step": str(spec["step"]),
                f"identity.{new}.high": str(spec["high"]),
            },
        )
    return snap


def PartitionFieldRenamed(p, old: str, new: str):
    """A partition field whose source column was renamed keeps its
    *partition* name (directory values stay valid) but points at the new
    source column for future writes."""
    from .table import PartitionField

    return PartitionField(
        source=new, transform=p.transform, name=p.field_name, n_buckets=p.n_buckets
    )


def set_partition_spec(table: LakehouseTable, spec: list) -> Snapshot:
    """Partition-spec evolution (Iceberg-style): a metadata-only commit;
    existing data files keep their old layout (their manifest partition
    values are per-file, so pruning stays correct per file), future
    appends write under the new spec."""
    import time as _time
    import uuid as _uuid

    cur = table.snapshot()
    snap = Snapshot(
        snapshot_id=_uuid.uuid4().hex,
        version=cur.version + 1,
        timestamp_ms=int(_time.time() * 1000),
        operation="alter",
        parent_id=cur.snapshot_id,
        schema_json=cur.schema_json,
        partition_spec=spec,
        manifest=cur.manifest,
        manifest_files=list(cur.manifest_files),
        summary={"new_partition_spec": [p.to_json() for p in spec]},
    )
    table._commit(snap)
    return snap


def retry_on_conflict(op, attempts: int = 3):
    """Optimistic-concurrency retry for row-level DML (Iceberg's commit
    retry loop): ``op`` is a zero-arg callable wrapping one DML call,
    e.g. ``lambda: delete_where(t, pred)``. Every DML function re-reads
    the CURRENT snapshot at entry and guards its commit with
    ``base_version``, so a retry automatically recomputes against the
    winner of the race - safe to repeat, never double-applied (the
    failed attempt committed nothing).

    Appends carry their own bounded retry (`_commit_append`); this
    brings the same discipline to DELETE/UPDATE/MERGE without baking a
    retry policy into each engine."""
    from .table import CommitConflict

    last: CommitConflict | None = None
    for _ in range(max(1, attempts)):
        try:
            return op()
        except CommitConflict as e:
            last = e
    raise last


def overwrite_partitions(
    table: LakehouseTable,
    df: DataFrame,
    extra_summary: dict | None = None,
) -> Snapshot | None:
    """INSERT OVERWRITE with dynamic partition resolution (Iceberg's
    dynamic overwrite): atomically replace every partition the incoming
    frame touches - untouched partitions carry forward by reference.
    THE backfill primitive: recompute one day/hour/bucket and swap it
    in without rewriting neighbours or racing readers (old snapshots
    still see the pre-overwrite data).

    Partition resolution maps the incoming rows through the table's
    transforms (one distinct over the transform columns - driver state
    bounded by the number of TOUCHED partitions, not rows). On an
    unpartitioned table this degenerates to a full-table replace.

    Returns None without committing when ``df`` is empty (an empty
    dynamic overwrite touches no partitions, so it has nothing to
    replace - matching Iceberg, which treats it as a no-op rather than
    truncating the table)."""
    snap = table.snapshot()
    # the overwrite door fills omitted generated columns like append
    # does - otherwise a backfill frame without the generated column
    # would commit nulls that break the invariant readers prune on
    df = table._fill_generated(df, snap)
    idc = table.identity_columns()
    have = {c.lower() for c in df.columns}
    missing_ids = [n for n in idc if n.lower() not in have]
    if missing_ids:
        raise ValueError(
            "INSERT OVERWRITE into an identity table must carry the "
            f"identity column(s) {sorted(missing_ids)} (a backfill "
            "rewrites EXISTING rows with their allocated values; new "
            "rows get values only at the append door)"
        )
    # same writer-schema gate as append: _write_files alone would let a
    # narrowing-incompatible column (e.g. a bare 5.0 DECIMAL literal
    # into a double column) poison every later scan of the partition
    table._validate_append_schema(df, snap)
    # one materialization: partition resolution and the write must see
    # the SAME rows - a non-deterministic frame re-executed for the
    # write could land rows in partitions the first pass never removed
    df = df.localCheckpoint(eager=True)
    # CHECK constraints hold for every write verb, not just append
    # (validated post-checkpoint so the gate reads the committed rows)
    table._validate_constraints(df, snap, op="overwrite")
    spec = snap.partition_spec
    if not spec:
        new_entries = table._write_files(df, spec)
        if not new_entries:
            return None
        return table.commit_delta(
            added=new_entries,
            removed_paths={e["path"] for e in snap.data_entries},
            operation="overwrite",
            summary={
                "overwritten_partitions": "all (unpartitioned)",
                **(extra_summary or {}),
            },
            base_version=snap.version,
        )

    names = [p.field_name for p in spec]
    touched = {
        tuple(
            "__HIVE_DEFAULT_PARTITION__" if r[n] is None else str(r[n])
            for n in names
        )
        for r in df.select(
            *[p.column(df).alias(p.field_name) for p in spec]
        )
        .distinct()
        .collect()
    }
    if not touched:
        return None  # empty frame: dynamic overwrite touches nothing

    from urllib.parse import unquote

    def entry_key(e: dict) -> tuple | None:
        part = e.get("partition") or {}
        if any(n not in part for n in names):
            return None  # entry predates the current partition spec
        # directory-encoded values are percent-escaped by Spark
        return tuple(unquote(str(part[n])) for n in names)

    unkeyed = [e for e in snap.data_entries if entry_key(e) is None]
    if unkeyed:
        raise ValueError(
            f"{len(unkeyed)} data file(s) predate the current partition "
            "spec, so their partition membership is unknown - a dynamic "
            "overwrite could silently leave stale rows next to the new "
            "ones. Run maintenance.compact first to rewrite them under "
            "the current spec."
        )
    removed = {
        e["path"] for e in snap.data_entries if entry_key(e) in touched
    }
    new_entries = table._write_files(df, spec)
    return table.commit_delta(
        added=new_entries,
        removed_paths=removed,
        operation="overwrite",
        summary={
            "overwritten_partitions": len(touched),
            "replaced_files": len(removed),
            "new_files": len(new_entries),
            **(extra_summary or {}),
        },
        base_version=snap.version,
    )


def replace_where(
    table: LakehouseTable, df: DataFrame, predicate: Column | str
) -> Snapshot:
    """Delta's ``INSERT INTO t REPLACE WHERE <pred> SELECT ...``: ONE
    atomic commit that drops the rows matching ``predicate`` and
    inserts ``df``. Enforcement (Delta's replaceWhere constraint
    check): every incoming row must itself satisfy the predicate -
    otherwise the "replace" would silently widen into an overwrite of
    unrelated data.

    Physical plan: files containing matches are located by one
    predicate scan over the file-metadata column, ONLY those rewrite
    (their surviving rows re-written next to the new rows), untouched
    files carry by reference - at 100 TB replacing one day's slice
    rewrites O(that day's files), not the table. The predicate must be
    deterministic (same two-pass discipline as copy-on-write
    update_where). Pending merge-on-read tombstones fall back to a full
    logical rewrite (a partial rewrite cannot keep tombstones
    consistent across both file sets - update_where's rule)."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    snap = table.snapshot()
    df = table._fill_generated(df, snap)
    df = table._fill_identity(df, table.identity_columns())
    # one materialization: the replaceWhere gate, the constraint gate,
    # and the write must all see the same rows even for a
    # non-deterministic source
    df = df.localCheckpoint(eager=True)
    table._validate_append_schema(df, snap)
    table._validate_constraints(df, snap, op="replace where")
    bad = (
        df.filter(~F.coalesce(pred, F.lit(False))).limit(1).count()
    )
    if bad:
        raise ValueError(
            "REPLACE WHERE: every inserted row must satisfy the "
            "predicate (Delta's replaceWhere constraint check) - "
            "widen the predicate or fix the source"
        )
    if not snap.data_entries and not snap.delete_entries:
        new_entries = table._write_files(df, snap.partition_spec)
        return table.commit_delta(
            added=new_entries,
            removed_paths=set(),
            operation="overwrite",
            summary={"mode": "replace-where", "rewritten_files": 0},
            base_version=snap.version,
        )
    if snap.delete_entries:
        # pending MoR tombstones: full logical rewrite (scan applies
        # the tombstones; the commit retires them with the data files)
        survivors = table.scan(snapshot=snap).filter(
            ~F.coalesce(pred, F.lit(False))
        )
        new_entries = table._write_files(
            survivors.unionByName(df), snap.partition_spec
        )
        return table.commit_delta(
            added=new_entries,
            removed_paths={e["path"] for e in snap.manifest},
            operation="overwrite",
            summary={
                "mode": "replace-where",
                "rewritten_files": len(snap.data_entries),
            },
            base_version=snap.version,
        )
    touched = _prune_matched_files(table, snap, pred, "REPLACE WHERE")
    kept = table.scan(
        snapshot=snap, file_filter=lambda e: e in touched
    ).filter(~F.coalesce(pred, F.lit(False)))
    new_entries = table._write_files(
        kept.unionByName(df), snap.partition_spec
    )
    return table.commit_delta(
        added=new_entries,
        removed_paths={e["path"] for e in touched},
        operation="overwrite",
        summary={
            "mode": "replace-where",
            "rewritten_files": len(touched),
            "carried_files": len(snap.data_entries) - len(touched),
        },
        base_version=snap.version,
    )


def truncate_table(table: LakehouseTable) -> Snapshot:
    """TRUNCATE TABLE: drop every row as pure metadata - a delete
    snapshot removing all file references, no data read or written
    (rows stay reachable through older snapshots until expiry). The
    O(1) path for "clear and reload"; a copy-on-write DELETE WHERE true
    would pay a full rewrite for the same result."""
    snap = table.snapshot()
    return table.commit_delta(
        added=[],
        removed_paths={e["path"] for e in snap.manifest},
        operation="delete",
        summary={"truncated": True, "removed_files": len(snap.manifest)},
        base_version=snap.version,
    )


def apply_changes(
    target: LakehouseTable,
    changes: DataFrame,
    key: str | list[str],
) -> dict:
    """APPLY CHANGES INTO (Delta-DLT semantics): apply a CDC frame -
    rows carrying ``_change_type`` in {insert, delete, update_preimage,
    update_postimage} and ``_change_version`` - to ``target`` so it
    converges to the source table's state. The consumer half of
    ``scan_changelog_with_images`` / ``stream_table_changes``: tailing
    table A's changelog and applying into table B is replication.

    Semantics: per key, the LATEST change wins (max ``_change_version``;
    preimages are informational and ignored). A winning
    insert/update_postimage upserts; a winning delete removes the key.
    Both phases are key-range-pruned MERGEs (``merge_into``); a batch
    with both upserts and deletes commits in two snapshots (upserts
    first), so a mid-apply reader sees a consistent prefix, never a
    torn row.

    Returns ``{"upserted": n, "deleted": n}``."""
    keys = [key] if isinstance(key, str) else list(key)
    data_cols = [
        c
        for c in changes.columns
        if c not in ("_change_type", "_change_version")
    ]
    # one materialization: the winner computation and both merges must
    # see the same rows (same discipline as merge_into itself)
    events = changes.filter(
        F.col("_change_type") != "update_preimage"
    ).localCheckpoint(eager=True)
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(F.desc("_change_version"))
    last = (
        events.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    ups = last.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(*data_cols)
    dels = last.filter(F.col("_change_type") == "delete").select(*keys)
    n_ups = ups.count()
    n_dels = dels.count()
    if n_ups:
        merge_into(
            target,
            ups,
            key=keys,
            when_matched="update",
            when_not_matched="insert",
            extra_summary={"cdc_apply": "upsert"},
        )
    if n_dels:
        # MERGE as targeted delete: matched keys drop, source rows that
        # match nothing insert nothing - key-range file pruning applies
        merge_into(
            target,
            dels,
            key=keys,
            when_matched="delete",
            when_not_matched="ignore",
            extra_summary={"cdc_apply": "delete"},
        )
    return {"upserted": int(n_ups), "deleted": int(n_dels)}


def scd2_target_schema(
    changes: DataFrame, sequence_col: str = "_change_version"
):
    """The target schema for :func:`apply_changes_scd2`: the change
    frame's data columns plus the SCD2 system columns ``__start_at``
    (the sequence value that opened the version), ``__end_at`` (the
    sequence that closed it; NULL = current), and ``__is_current``
    (Delta DLT's STORED AS SCD TYPE 2 convention)."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    seq_t = changes.schema[sequence_col].dataType
    data_fields = [
        f
        for f in changes.schema.fields
        if f.name not in ("_change_type", sequence_col)
    ]
    return StructType(
        list(data_fields)
        + [
            StructField("__start_at", seq_t, True),
            StructField("__end_at", seq_t, True),
            StructField("__is_current", BooleanType(), True),
        ]
    )


def apply_changes_scd2(
    target: LakehouseTable,
    changes: DataFrame,
    key: str | list[str],
    sequence_col: str = "_change_version",
    extra_summary: dict | None = None,
) -> dict:
    """APPLY CHANGES INTO ... STORED AS SCD TYPE 2 (Delta-DLT
    semantics): apply a CDC frame - rows carrying ``_change_type`` in
    {insert, delete, update_preimage, update_postimage} and a
    monotonically-advancing per-key ``sequence_col`` - to a
    slowly-changing-dimension table that keeps FULL HISTORY: every
    upsert opens a new version row (``__start_at`` = its sequence),
    the previous version closes (``__end_at`` = that sequence,
    ``__is_current`` = false), and a delete closes the current version
    without opening one. Preimages are informational and ignored.

    In-batch chains are honored: a key updated at seq 2 and deleted at
    seq 3 in ONE batch lands as a version [2, 3) - the chain is a
    per-key LEAD over the batch, one window, no iteration.

    Atomicity: the whole batch lands in ONE MERGE commit keyed on
    (business key, ``__start_at``) - closers row-replace the versions
    they close, new versions insert - so a reader never sees a torn
    key (closed with no successor). The scan feeding the closers reads
    only rows whose keys appear in the batch (key equi-join; the MERGE
    itself key-range-prunes files on the leading key), so the apply is
    O(batch + matching history), never O(dimension) - the property
    that matters when the dimension is billions of rows.

    Out-of-order protection: the batch must be AHEAD of every stored
    interval for its keys - a current version guards with its
    ``__start_at``, a CLOSED version with its ``__end_at`` (so after a
    delete at seq 9 closed [5, 9), any sequence <= 9 raises, not just
    <= 5: a late event landing inside a closed interval would insert a
    bogus "current" version predating the recorded close). Late data
    needs explicit history surgery, not a silent wrong-order apply.

    Returns ``{"closed": n, "versions": n}``."""
    keys = [key] if isinstance(key, str) else list(key)
    data_cols = [
        c
        for c in changes.columns
        if c not in ("_change_type", sequence_col)
    ]
    out_cols = data_cols + ["__start_at", "__end_at", "__is_current"]
    from pyspark.sql.window import Window

    events = (
        changes.filter(F.col("_change_type") != "update_preimage")
        .select(
            *data_cols,
            F.col(sequence_col).alias("__seq"),
            "_change_type",
        )
        .localCheckpoint(eager=True)
    )
    firsts = events.groupBy(*keys).agg(
        F.min("__seq").alias("__first_seq"),
        F.count(F.lit(1)).alias("__n_ev"),
        F.countDistinct("__seq").alias("__n_seq"),
    )
    if firsts.filter(F.col("__n_ev") != F.col("__n_seq")).limit(1).count():
        raise ValueError(
            "apply_changes_scd2: duplicate sequence value for a key "
            "within the batch makes version order ambiguous"
        )
    # one pruned read of the affected keys' history (checkpointed: the
    # out-of-order gate AND the closers both consume it - without the
    # checkpoint each would re-scan the dimension)
    hist = (
        target.to_df()
        .join(firsts.select(*keys, "__first_seq"), keys)
        .localCheckpoint(eager=True)
    )
    # the batch must be ahead of EVERY stored version's interval: a
    # current row guards with its __start_at, a CLOSED row with its
    # __end_at (a late sequence landing INSIDE a closed interval -
    # insert@2 against a closed [1,3) - would otherwise slip past a
    # start-only check and insert a 'current' version that predates
    # the recorded close)
    if (
        hist.filter(
            F.col("__first_seq")
            <= F.coalesce(F.col("__end_at"), F.col("__start_at"))
        )
        .limit(1)
        .count()
    ):
        raise ValueError(
            "apply_changes_scd2: batch sequence is not ahead of the "
            "stored history for some key (out-of-order apply would "
            "rewrite closed versions)"
        )
    closers = hist.filter(F.col("__end_at").isNull()).select(
        *data_cols,
        "__start_at",
        F.col("__first_seq").alias("__end_at"),
        F.lit(False).alias("__is_current"),
    )
    w = Window.partitionBy(*keys).orderBy("__seq")
    versions = (
        events.withColumn("__next_seq", F.lead("__seq").over(w))
        .filter(
            F.col("_change_type").isin("insert", "update_postimage")
        )
        .select(
            *data_cols,
            F.col("__seq").alias("__start_at"),
            F.col("__next_seq").alias("__end_at"),
            F.col("__next_seq").isNull().alias("__is_current"),
        )
    )
    src = (
        closers.select(*out_cols)
        .withColumn("__scd_closer", F.lit(True))
        .unionByName(
            versions.select(*out_cols).withColumn(
                "__scd_closer", F.lit(False)
            )
        )
        .localCheckpoint(eager=True)
    )
    # one agg job for both counters (r14: two filter+count jobs each
    # paid a fixed floor over the same checkpointed frame) + the merge
    # lead-key bounds (r15: previously merge_into's own probe job; the
    # marker-column drop below does not change key values or row set)
    counts = src.agg(
        F.sum(F.when(F.col("__scd_closer"), 1).otherwise(0)).alias("c"),
        F.sum(F.when(~F.col("__scd_closer"), 1).otherwise(0)).alias("v"),
        F.min(F.col(keys[0])).alias("lo"),
        F.max(F.col(keys[0])).alias("hi"),
    ).collect()[0]
    n_closed = counts["c"] or 0
    n_versions = counts["v"] or 0
    if n_closed or n_versions:
        merge_into(
            target,
            src.drop("__scd_closer"),
            key=keys + ["__start_at"],
            when_matched="update",
            when_not_matched="insert",
            extra_summary={"scd2_apply": True, **(extra_summary or {})},
            # src is checkpointed above; the dropped marker column is a
            # Project over its materialized blocks - re-checkpointing
            # inside the merge would rematerialize identical rows
            source_stable=True,
            _source_bounds=(counts["lo"], counts["hi"]),
        )
    return {"closed": int(n_closed), "versions": int(n_versions)}
