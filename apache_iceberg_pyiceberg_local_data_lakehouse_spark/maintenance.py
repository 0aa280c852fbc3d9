"""Table maintenance: snapshot expiry + compaction (SURVEY.md §2.8).

- M1 snapshot listing  -> ``LakehouseTable.snapshots()``
- M2 snapshot expiry   -> ``expire_snapshots`` with the reference policy:
  protect the newest ``retain_last`` snapshots unconditionally, expire the
  rest when older than the cutoff, then garbage-collect data files no
  retained snapshot references (``lakehouse_pipeline.py:232-270``;
  constants ``:72,242`` - 7 days / keep 2). The reference computes its
  protected set explicitly (``:242-254``) but only passes ``older_than``
  to the commit; here the floor is contractual (SURVEY.md §7.4).
- M4 compaction        -> ``compact`` (absent in the reference, mandated
  by the north star): read current file set, rewrite small files into
  ~target-sized ones per partition, commit a ``replace`` snapshot. At
  100 TB this is the operation that keeps scan task counts sane - it
  runs as one distributed job per partition subset, never on the driver.
"""

from __future__ import annotations

import json
import os
import re
import time

from .functions.zorder import zorder_key
from .table import LakehouseTable, Snapshot

DEFAULT_RETENTION_DAYS = 7  # lakehouse_pipeline.py:72
MIN_SNAPSHOTS_TO_KEEP = 2  # lakehouse_pipeline.py:242

# Below this many batch directories the GC listing stays a driver walk
# (a Spark job's scheduling overhead would dominate); above it, listing
# fans out one task per batch dir - same threshold discipline as the
# commit-path footer-stats job (table._STATS_JOB_THRESHOLD).
_GC_JOB_THRESHOLD = 16


class RetentionPolicyError(ValueError):
    """A malformed row-retention POLICY (bad property value). Distinct
    from execution errors so ``auto_maintain`` can report the former
    per table while letting the latter fail LOUDLY - mislabeling an
    operational failure (e.g. positional deletes on an adopted-files
    table) as a policy typo would silently disable a compliance TTL
    forever (review r12)."""



def _walk_parquet(root: str) -> list[tuple[str, float]]:
    """(path, mtime) for every parquet file under ``root``. Module-level
    so Spark tasks can pickle it."""
    out = []
    for r, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(r, fn)
                try:
                    out.append((p, os.path.getmtime(p)))
                except FileNotFoundError:
                    pass  # raced with a concurrent GC/abort cleanup
    return out


def _list_data_files(table: LakehouseTable) -> list[tuple[str, float]]:
    """List (path, mtime) of all data files for orphan GC.

    Every append writes under its own ``data/<uuid>/`` batch dir, so the
    listing fans out naturally one task per batch dir. At O(10^6) files
    a sequential driver walk is the GC bottleneck; Iceberg's
    remove_orphan_files runs this listing as a Spark job for the same
    reason. Small tables stay on the driver - job overhead dominates."""
    if not os.path.isdir(table.data_dir):
        return []
    roots = [
        os.path.join(table.data_dir, d) for d in os.listdir(table.data_dir)
    ]
    subdirs = [r for r in roots if os.path.isdir(r)]
    if len(subdirs) < _GC_JOB_THRESHOLD:
        return _walk_parquet(table.data_dir)
    sc = table.spark.sparkContext
    listed = (
        sc.parallelize(subdirs, min(len(subdirs), 64))
        .flatMap(_walk_parquet)
        .collect()
    )
    # stray files directly under data_dir (not in any batch dir)
    listed.extend(
        (r, os.path.getmtime(r))
        for r in roots
        if not os.path.isdir(r) and r.endswith(".parquet")
    )
    return listed


def expire_snapshots(
    table: LakehouseTable,
    older_than_ms: int | None = None,
    retain_last: int | None = None,
    delete_orphan_files: bool = True,
    orphan_grace_secs: float = 86400.0,
    max_ref_age_ms: int | None = None,
    dry_run: bool = False,
) -> dict:
    """Expire old snapshot metadata and GC unreferenced data files.

    ``dry_run=True`` computes the same summary (what WOULD be expired,
    aged out, and GC'd under the given policy) without touching a
    single file or ref - the audit mode every destructive maintenance
    verb needs before running against 100 TB.

    ``orphan_grace_secs``: unreferenced files younger than this are left
    alone - a concurrent append writes its data files BEFORE committing
    the snapshot that references them, so freshly-written orphans may be
    in-flight commits, not garbage (same grace discipline as Iceberg's
    remove_orphan_files; default 24 h - a distributed write phase can
    legitimately run for hours before its commit). Tests pass 0 to force
    immediate GC.

    Returns a summary dict (expired snapshot count, deleted file count)
    mirroring the reference's per-run bookkeeping.

    Unset arguments resolve from table properties (Iceberg's names:
    ``history.expire.min-snapshots-to-keep``,
    ``history.expire.max-snapshot-age-ms``), then from module defaults —
    so retention policy can live with the table instead of every
    call site."""
    if table.is_branch and delete_orphan_files:
        # a branch shares the table's data directory: walking it from
        # the branch's (partial) view would GC files only MAIN
        # references. Branch expiry is metadata-only; run orphan GC
        # from the main handle, which unions branch references.
        delete_orphan_files = False
    props = table.properties()
    if retain_last is None:
        retain_last = int(
            props.get(
                "history.expire.min-snapshots-to-keep", MIN_SNAPSHOTS_TO_KEEP
            )
        )
    if older_than_ms is None:
        age_ms = int(
            props.get(
                "history.expire.max-snapshot-age-ms",
                DEFAULT_RETENTION_DAYS * 86400_000,
            )
        )
        older_than_ms = int(time.time() * 1000) - age_ms
    if max_ref_age_ms is None:
        raw = props.get("history.expire.max-ref-age-ms")
        max_ref_age_ms = int(raw) if raw is not None else None

    # Ref aging (Iceberg's max-ref-age-ms): tags/branches past the age
    # release their pin BEFORE protection is computed, so a forgotten
    # audit tag cannot hold 100 TB of superseded files forever.
    expired_refs = 0
    aged_ref_names: set[str] = set()
    if max_ref_age_ms is not None:
        cutoff = int(time.time() * 1000) - max_ref_age_ms
        for name, meta in list(table._load_refs().items()):
            if meta["created_ms"] < cutoff:
                if dry_run:
                    aged_ref_names.add(name)
                else:
                    table._drop_ref(name, meta["type"])
                expired_refs += 1

    snaps = table.snapshots()
    # newest `retain_last` are protected unconditionally; the current
    # snapshot is always protected; tagged snapshots are pinned for as
    # long as their tag exists (Iceberg tag retention)
    # timestamp_ms is millisecond-granular: two metadata-only commits can
    # tie, and a stable desc sort would then rank the OLDER version first
    # and protect it instead of the newest. Version is the tiebreak.
    by_newest = sorted(
        snaps, key=lambda s: (s.timestamp_ms, s.version), reverse=True
    )
    protected = {s.version for s in by_newest[:retain_last]}
    protected.add(table.current_version())
    protected.update(
        v
        for n, v in table.refs().items()
        if n not in aged_ref_names  # dry-run: aged pins WOULD be gone
    )

    expired = [
        s
        for s in snaps
        if s.version not in protected and s.timestamp_ms < older_than_ms
    ]
    if not dry_run:
        for s in expired:
            table.delete_metadata_version(s.version)

    deleted_files = 0
    deleted_manifests = deleted_temp_files = 0
    if delete_orphan_files:
        expired_vs = {s.version for s in expired}
        retained = [s for s in snaps if s.version not in expired_vs]
        referenced = {e["path"] for s in retained for e in s.manifest}
        # write-audit-publish: staged-but-unpublished batches are not
        # referenced by any snapshot yet, but they are NOT garbage - an
        # audit may outlast any grace period. Their markers pin them.
        referenced |= table.staged_paths()
        # divergent branch chains write their data files into the SAME
        # data directory; every path any branch snapshot references is
        # live until the branch publishes or is dropped
        from .table import BranchTable

        branch_mfs: set[str] = set()
        for bname in table.branch_names():
            # construct directly: the chain must stay protected even if
            # its ref was dropped without drop_branch_chain; one walk
            # collects both data paths and manifest-file references
            bt = BranchTable(table.spark, table.location, bname)
            for s in bt.snapshots():
                referenced |= {e["path"] for e in s.manifest}
                # fork-era manifests live main-side and must survive
                # while any branch snapshot still reads through to them
                branch_mfs |= set(s.manifest_files)
            referenced |= bt.staged_paths()
        now = time.time()
        for fpath, mtime in _list_data_files(table):
            rel = os.path.relpath(fpath, table.location)
            if rel in referenced:
                continue
            if now - mtime < orphan_grace_secs:
                continue  # possible in-flight commit
            try:
                if not dry_run:
                    os.remove(fpath)
                deleted_files += 1
            except FileNotFoundError:
                pass  # another process GC'd it first

        def reap(p: str) -> bool:
            """Remove ``p`` once it is past the grace period."""
            try:
                if now - os.path.getmtime(p) < orphan_grace_secs:
                    return False
                if not dry_run:
                    os.remove(p)
                return True
            except FileNotFoundError:
                return False

        # atomic_write temp files a crash left before their claim
        deleted_temp_files = sum(
            reap(os.path.join(d, name))
            for d, _, names in os.walk(table.metadata_dir)
            for name in names
            if name.startswith(".tmp.")
        )
        # manifest files referenced only by expired (or crashed) commits
        # are garbage too; same grace discipline - a writer stages its
        # delta manifest before the snapshot that references it commits
        referenced_mfs = {
            mf for s in retained for mf in s.manifest_files
        } | branch_mfs
        mdir = os.path.join(table.metadata_dir, "manifests")
        for name in os.listdir(mdir) if os.path.isdir(mdir) else []:
            rel = os.path.join("manifests", name)
            if rel not in referenced_mfs and reap(os.path.join(mdir, name)):
                table._manifest_cache.pop(rel, None)
                deleted_manifests += 1
    # Streaming identity-epoch reservation records (table.
    # _reserve_identity_epoch) age out under the SAME policy as
    # snapshots: records older than the horizon prune, but the newest
    # `identity.epoch.min-records-to-keep` (default 8) survive
    # regardless of age PER QUERY (records carry a __query
    # fingerprint; review r11 - a global floor let a busy sibling
    # stream age out an idle stream's replay record; unreadable records
    # share one group). Spark replays at most the LAST epoch per query,
    # so a long-idle live stream still finds its replay record. The chain files (r<seq>.json) are
    # the identity WATERMARK, pruned by their own head-preserving
    # logic - never touched here. The 256-file cap inside the
    # reservation path stays as a backstop for tables that never run
    # maintenance.
    epoch_records_pruned = 0
    rsv_dir = table._identity_rsv_dir()
    if os.path.isdir(rsv_dir):
        keep_floor = int(
            props.get("identity.epoch.min-records-to-keep", 8)
        )
        by_query: dict[str | None, list] = {}
        for name in os.listdir(rsv_dir):
            if not name.startswith("epoch-"):
                continue
            p = os.path.join(rsv_dir, name)
            try:
                mtime_ns = os.stat(p).st_mtime_ns
                with open(p) as f:
                    q = str(json.load(f)["__query"])
            except FileNotFoundError:
                continue
            except (ValueError, OSError):
                q = None
            by_query.setdefault(q, []).append((mtime_ns, p))
        for eps in by_query.values():
            eps.sort(reverse=True)  # newest first within the query
            for mtime_ns, p in eps[keep_floor:]:
                if mtime_ns // 1_000_000 >= older_than_ms:
                    continue
                try:
                    if not dry_run:
                        os.unlink(p)
                    epoch_records_pruned += 1
                except FileNotFoundError:
                    pass
    return {
        "expired_snapshots": len(expired),
        "deleted_files": deleted_files,
        "deleted_manifests": deleted_manifests,
        "deleted_temp_files": deleted_temp_files,
        "retained_snapshots": len(snaps) - len(expired),
        "expired_refs": expired_refs,
        "identity_epoch_records_pruned": epoch_records_pruned,
        "dry_run": dry_run,
    }


def rewrite_position_deletes(table: LakehouseTable) -> Snapshot | None:
    """Consolidate position-delete tombstone files (Iceberg's
    rewrite_position_delete_files): N small delete files become one,
    WITHOUT touching any data file - the cheap fix for scan overhead
    when many point DELETEs each committed their own tombstone. Every
    merge-on-read scan pays O(delete files) reads before the anti-join;
    after consolidation it pays one.

    Safe for POSITION deletes specifically because they claim exact
    (file, row-ordinal) identities: files appended later have fresh
    uuid paths a tombstone cannot name, so sequence numbers play no
    role in their application (unlike equality deletes, which must
    never merge across sequence boundaries and are left untouched).
    No-op (None) unless there are >= 2 position-delete files."""
    snap = table.snapshot()
    pos_dels = snap.pos_delete_entries
    if len(pos_dels) < 2:
        return None
    paths = [os.path.join(table.location, d["path"]) for d in pos_dels]
    merged = (
        table.spark.read.parquet(*paths)
        .select("file_path", "pos")
        .distinct()
        .coalesce(1)
    )
    new_entries = table._write_files(merged, [])
    for e in new_entries:
        e["content"] = "pos-del"
    return table.commit_delta(
        added=new_entries,
        removed_paths={d["path"] for d in pos_dels},
        operation="replace",
        summary={
            "rewritten_delete_files": len(pos_dels),
            "new_delete_files": len(new_entries),
        },
        base_version=snap.version,
    )


def rewrite_equality_deletes(table: LakehouseTable) -> Snapshot | None:
    """Consolidate equality-delete tombstone files - the symmetric twin
    of ``rewrite_position_deletes`` for the other MoR tombstone kind.

    An equality tombstone at sequence D claims rows in data files with
    seq < D, so applicability is a property of (seq, equality column
    set): files sharing BOTH may merge into one (their key sets union;
    the merged file keeps the group's sequence number, which
    ``commit_delta``'s setdefault preserves), while tombstones at
    different sequence horizons must never combine - raising a seq-3
    tombstone to seq 5 would claim rows appended AFTER the delete
    (reverse resurrection), lowering it would drop legitimate claims.

    Every MoR scan pays one anti-join per distinct (seq-horizon,
    column-set) group regardless, but O(files-in-group) tombstone READS
    before it; a long-running table taking steady streams of keyed
    deletes accumulates hundreds of tiny key files per horizon, and
    this collapses each horizon to one. No-op (None) unless some
    (seq, cols) group holds >= 2 files."""
    snap = table.snapshot()
    groups: dict[tuple, list[dict]] = {}
    for d in snap.eq_delete_entries:
        key = (int(d.get("seq", 0)), tuple(d["equality_cols"]))
        groups.setdefault(key, []).append(d)
    mergeable = {k: v for k, v in groups.items() if len(v) >= 2}
    if not mergeable:
        return None
    added: list[dict] = []
    removed: set[str] = set()
    for (seq, cols), dels in sorted(mergeable.items()):
        paths = [os.path.join(table.location, d["path"]) for d in dels]
        merged = (
            table.spark.read.parquet(*paths)
            .select(*cols)
            .distinct()
            .coalesce(1)
        )
        new_entries = table._write_files(merged, [])
        for e in new_entries:
            e["content"] = "eq-del"
            e["equality_cols"] = list(cols)
            e["seq"] = seq  # the group's horizon, NOT the commit's
        added.extend(new_entries)
        removed |= {d["path"] for d in dels}
    return table.commit_delta(
        added=added,
        removed_paths=removed,
        operation="replace",
        summary={
            "rewritten_delete_files": len(removed),
            "new_delete_files": len(added),
            "consolidated_groups": len(mergeable),
        },
        base_version=snap.version,
    )


def materialize_deletes(table: LakehouseTable) -> Snapshot | None:
    """Apply pending merge-on-read equality deletes physically
    (Iceberg's rewrite of position/equality deletes): rewrite exactly
    the data files some delete still outranks, with the tombstones
    anti-joined out, and drop every delete entry. Untouched data files
    (appended after the newest delete) carry over by reference, so the
    cost is O(data the deletes can still claim), not O(table)."""
    snap = table.snapshot()
    deletes = snap.delete_entries
    if not deletes:
        return None
    eq_dels = snap.eq_delete_entries
    pos_dels = snap.pos_delete_entries
    max_eq_seq = max((int(d.get("seq", 0)) for d in eq_dels), default=None)
    # position tombstones claim only the exact files they name: read the
    # distinct target list (bounded by the live file count, tiny) so the
    # rewrite stays O(claimable data), not O(table)
    pos_targets: set[str] = set()
    if pos_dels:
        paths = [os.path.join(table.location, d["path"]) for d in pos_dels]
        pos_targets = {
            r["file_path"]
            for r in table.spark.read.parquet(*paths)
            .select("file_path")
            .distinct()
            .collect()
        }
    touched = [
        e
        for e in snap.data_entries
        if (max_eq_seq is not None and int(e.get("seq", 0)) < max_eq_seq)
        or e["path"] in pos_targets
    ]
    touched_paths = {e["path"] for e in touched}
    # content-preserving for survivors: materialize their row identity
    # (lineage) through the rewrite, like compaction; pre-lineage files
    # fall back to a plain rewrite with fresh ids
    materialize_lineage = True
    try:
        df = table.scan_lineage(
            snapshot=snap, file_filter=lambda e: e["path"] in touched_paths
        ).withColumnRenamed("_row_id", "__row_id").withColumnRenamed(
            "_last_updated_version", "__added_v"
        )
    except ValueError:
        materialize_lineage = False
        df = table.scan(
            snapshot=snap, file_filter=lambda e: e["path"] in touched_paths
        )
    new_entries = table._write_files(df, snap.partition_spec) if touched else []
    if materialize_lineage:
        for e in new_entries:
            e["lineage_cols"] = True
    return table.commit_delta(
        added=new_entries,
        removed_paths=touched_paths | {d["path"] for d in deletes},
        operation="replace",
        summary={
            "materialized_deletes": len(deletes),
            "rewritten_files": len(touched),
        },
        base_version=snap.version,
    )


def compact(
    table: LakehouseTable,
    target_file_bytes: int = 128 * 1024 * 1024,
    small_file_threshold: float = 0.5,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    max_rewrite_bytes: int | None = None,
    partition_where: str | None = None,
) -> Snapshot | None:
    """Rewrite small data files into ~target-sized files.

    Strategy: pick manifest entries below ``small_file_threshold *
    target_file_bytes``, read just those through one Spark job,
    repartition to ceil(total_bytes / target) output files, write, and
    commit a ``replace`` snapshot keeping the untouched large files.
    Old files remain referenced by historical snapshots until expiry.

    ``sort_by`` clusters the rewrite (Iceberg's rewrite-with-sort-order):
    a range-partition + within-file sort on the given columns makes each
    output file's min/max stats narrow and disjoint, so manifest-level
    skipping prunes point/range queries to ~one file instead of all.

    Partition-boundary-aware: small files are grouped by their partition
    values and only partitions holding >= 2 small files are rewritten -
    a lone small file per partition is already the best layout the
    dir-per-partition format allows, and rewriting it is pure write
    amplification. The rewrite job range-distributes on the partition
    transform columns (then ``sort_by``), so each task holds contiguous
    whole partitions and the write's ``partitionBy`` emits ~1 file per
    partition instead of a sliver from every task (a plain global
    ``repartition`` would re-fragment exactly what compaction is meant
    to fix).

    Unset ``sort_by``/``zorder_by`` resolve from the table properties
    ``write.sort-order`` / ``write.zorder-by`` (comma-separated
    columns) - the table declares its layout once and every compaction
    (incl. ``auto_maintain`` and the OPTIMIZE/CALL verbs) applies it,
    Iceberg's table-level sort-order model."""
    if sort_by is None and zorder_by is None:
        props = table.properties()
        raw_sort = props.get("write.sort-order")
        raw_z = props.get("write.zorder-by")
        if raw_z:
            zorder_by = [c.strip() for c in raw_z.split(",") if c.strip()]
        elif raw_sort:
            sort_by = [
                c.strip() for c in raw_sort.split(",") if c.strip()
            ]
    snap = table.snapshot()
    cutoff = target_file_bytes * small_file_threshold
    small_by_part: dict[tuple, list[dict]] = {}
    # equality-delete tombstones are not data files; they are removed by
    # materialize_deletes, never "compacted" into the data set
    for e in snap.data_entries:
        if e["bytes"] < cutoff:
            key = tuple(sorted((e.get("partition") or {}).items()))
            small_by_part.setdefault(key, []).append(e)
    if partition_where is not None:
        # Delta's OPTIMIZE t WHERE <partition predicate>: compact ONLY
        # matching partitions - at 100 TB "compact yesterday's hot
        # partition" must not even LOOK at the cold ones. The predicate
        # is evaluated over the TRANSFORMED partition fields as named
        # in the manifest (ts_day, region, id_bucket, ...) - one tiny
        # local frame of distinct candidate partitions, zero data reads.
        # Validated against the TABLE's whole partition universe, not
        # just the small-file candidates, so an invalid predicate
        # raises in every table state (a no-candidates run must not
        # silently accept garbage). Spec evolution means partition
        # dicts can carry DIFFERENT key sets (pre-evolution files an
        # empty one): every row gets the UNION of columns with NULLs
        # for fields its spec never wrote - same-shaped Rows (a mixed
        # shape crashes createDataFrame), and `field IS NULL` can
        # select pre-evolution files explicitly.
        from pyspark.sql import Row
        from pyspark.sql import functions as F

        all_keys = sorted(
            {
                tuple(sorted((e.get("partition") or {}).items()))
                for e in snap.data_entries
            }
        )
        # the candidate universe is file-derived keys UNIONED with the
        # DECLARED spec fields (ADVICE r9): right after ADD PARTITION
        # FIELD - before any partitioned append - the new field exists
        # only in the spec, and the advertised `field IS NULL`
        # addressing of pre-evolution files must still validate
        cols = sorted(
            {c for k in all_keys for c, _ in k}
            | {f.field_name for f in table.partition_spec}
        )
        if not cols:
            raise ValueError(
                "OPTIMIZE ... WHERE needs a partitioned table (no "
                "partition fields declared or in any data file)"
            )
        if not all_keys:
            # declared-but-empty partitioned table: nothing to compact -
            # but the predicate still VALIDATES against the declared
            # fields ('an invalid predicate raises in every table
            # state'), via one all-NULL candidate row
            pdf0 = table.spark.createDataFrame(
                [Row(__idx=0)]
            )
            for c in cols:
                pdf0 = pdf0.withColumn(c, F.lit(None).cast("string"))
            try:
                pdf0.filter(F.expr(partition_where)).collect()
            except Exception as exc:
                raise ValueError(
                    "OPTIMIZE ... WHERE must be a predicate over the "
                    f"partition columns {cols}: {exc}"
                ) from exc
            return None
        file_cols = sorted({c for k in all_keys for c, _ in k})
        pdf = table.spark.createDataFrame(
            [
                Row(__idx=i, **{c: dict(k).get(c) for c in file_cols})
                for i, k in enumerate(all_keys)
            ]
        )
        for c in cols:
            if c not in file_cols:
                # declared-but-never-written spec field: all files
                # predate it, so it reads NULL (untyped in the files -
                # string-typed NULL keeps createDataFrame inference out)
                pdf = pdf.withColumn(c, F.lit(None).cast("string"))
        try:
            kept_idx = {
                r["__idx"]
                for r in pdf.filter(F.expr(partition_where))
                .select("__idx")
                .collect()
            }
        except Exception as exc:
            raise ValueError(
                "OPTIMIZE ... WHERE must be a predicate over the "
                f"partition columns {cols}: {exc}"
            ) from exc
        allowed = {all_keys[i] for i in kept_idx}
        small_by_part = {
            k: v for k, v in small_by_part.items() if k in allowed
        }
    small = [e for grp in small_by_part.values() if len(grp) >= 2 for e in grp]
    if not small:
        return None
    if max_rewrite_bytes is not None:
        # Bounded incremental run (Iceberg's rewrite max-bytes): at
        # 100 TB one compaction cannot rewrite everything in a single
        # commit window. Take WHOLE partition groups (partial groups
        # would leave a lone small file behind - write amplification
        # with no layout gain) in deterministic order until the budget
        # is spent; the next run continues where this one stopped.
        # PROGRESS GUARANTEE over strict bounding: the first eligible
        # group is always taken even if it alone exceeds the budget -
        # a partition group is the atomic rewrite unit, and skipping
        # over-budget groups would mean a hot partition never compacts
        # at all. Callers needing a hard ceiling should shrink the
        # group first (tighter small_file_threshold) or accept the one
        # oversized commit.
        budget, picked = max_rewrite_bytes, []
        for key in sorted(small_by_part):
            grp = small_by_part[key]
            if len(grp) < 2:
                continue
            gb = sum(e["bytes"] for e in grp)
            if picked and gb > budget:
                continue
            picked.extend(grp)
            budget -= gb
            if budget <= 0:
                break
        small = picked
        if not small:
            return None
    small_paths = {e["path"] for e in small}

    total = sum(e["bytes"] for e in small)
    n_out = max(1, -(-total // target_file_bytes))
    # Row lineage (Iceberg v3): compaction is content-preserving, so the
    # rewritten rows MATERIALIZE their existing identity (physical
    # __row_id / __added_v columns) instead of being re-assigned -
    # downstream consumers tracking _row_id never see compaction.
    # Pre-lineage files (or tombstones over materialized files) fall
    # back to a plain rewrite with fresh ids.
    materialize_lineage = True
    try:
        df = table.scan_lineage(
            file_filter=lambda e: e["path"] in small_paths
        ).withColumnRenamed("_row_id", "__row_id").withColumnRenamed(
            "_last_updated_version", "__added_v"
        )
    except ValueError:
        materialize_lineage = False
        df = table.scan(file_filter=lambda e: e["path"] in small_paths)
    if zorder_by:
        if sort_by:
            raise ValueError("compact: sort_by and zorder_by are exclusive")
        # bounds come from the manifest stats of the files being
        # rewritten (zero extra reads); a column missing stats in any
        # file falls back to one small agg job
        bounds = _zorder_bounds(small, zorder_by, df)
        z = zorder_key(df, zorder_by, bounds)
        spec_cols = [p.column(df) for p in snap.partition_spec]
        df = (
            df.withColumn("__z", z)
            .repartitionByRange(int(n_out), *spec_cols, "__z")
            .sortWithinPartitions(*spec_cols, "__z")
            .drop("__z")
        )
    else:
        keys = [p.column(df) for p in snap.partition_spec] + list(sort_by or [])
        if keys:
            df = df.repartitionByRange(int(n_out), *keys)
            if sort_by:
                df = df.sortWithinPartitions(*keys)
        else:
            df = df.repartition(int(n_out))
    new_entries = table._write_files(df, snap.partition_spec)
    if materialize_lineage:
        for e in new_entries:
            e["lineage_cols"] = True
    # base_version: a concurrent append between our manifest read and this
    # commit would otherwise be silently dropped from the rewritten set.
    # Delta commit: manifest files untouched by the rewrite carry over by
    # reference, so compacting one partition's small files re-serializes
    # that partition's manifests, not the whole table's.
    return table.commit_delta(
        added=new_entries,
        removed_paths=small_paths,
        operation="replace",
        summary={
            "compacted_files": len(small),
            "new_files": len(new_entries),
            "rewritten_bytes": total,
        },
        base_version=snap.version,
    )


def _stat_num(v) -> float | None:
    """Manifest stat value -> the same numeric scale ``zorder_key``'s
    column expressions use (timestamps as epoch microseconds)."""
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str):
        try:
            from datetime import datetime, timezone

            dt = datetime.fromisoformat(v)
            return dt.replace(tzinfo=timezone.utc).timestamp() * 1e6
        except ValueError:
            return None
    return None


def _zorder_bounds(
    entries: list[dict], cols: list[str], df
) -> dict[str, tuple[float, float]]:
    """Per-column (lo, hi) for z-order quantization.

    Preferred source: the manifest min/max of the files being rewritten
    (zero extra reads). Columns with missing/non-numeric stats in any
    file fall back to one combined agg job over the rewrite scan. Exact
    bounds are not required for correctness - the z-key stays monotone
    per dimension under any consistent bound - only for rank
    resolution."""
    from pyspark.sql import functions as F

    from .functions.zorder import _numeric_expr

    bounds: dict[str, tuple[float, float]] = {}
    missing: list[str] = []
    for c in cols:
        los, his = [], []
        for e in entries:
            st = (e.get("stats") or {}).get(c)
            lo = _stat_num(st[0]) if st else None
            hi = _stat_num(st[1]) if st else None
            if lo is None or hi is None:
                los = []
                break
            los.append(lo)
            his.append(hi)
        if los:
            bounds[c] = (min(los), max(his))
        else:
            missing.append(c)
    if missing:
        row = df.agg(
            *[
                f
                for c in missing
                for f in (
                    F.min(_numeric_expr(df, c)).alias(f"__lo_{c}"),
                    F.max(_numeric_expr(df, c)).alias(f"__hi_{c}"),
                )
            ]
        ).first()
        for c in missing:
            bounds[c] = (row[f"__lo_{c}"] or 0.0, row[f"__hi_{c}"] or 0.0)
    return bounds


def rewrite_manifests(table: LakehouseTable) -> dict:
    """Compact the current snapshot's manifest-file list into one file
    (Iceberg's ``rewrite_manifests``), committed as a metadata-only
    snapshot. Appends auto-merge at the table's threshold; this is the
    explicit form for after a burst of small commits — an O(entries)
    metadata write, no data movement. No-op at <=1 manifest file."""
    import uuid as _uuid

    snap = table.snapshot()
    before = len(snap.manifest_files)
    if before <= 1:
        return {"manifests_before": before, "manifests_after": before}
    merged = table._write_manifest_file(snap.manifest)
    new = type(snap)(
        snapshot_id=_uuid.uuid4().hex,
        version=snap.version + 1,
        timestamp_ms=int(time.time() * 1000),
        operation="rewrite-manifests",
        parent_id=snap.snapshot_id,
        schema_json=snap.schema_json,
        partition_spec=snap.partition_spec,
        manifest=snap.manifest,
        manifest_files=[merged],
        summary={"merged_manifests": before},
    )
    table._commit(new)
    return {"manifests_before": before, "manifests_after": 1}


def materialize_external_files(table: LakehouseTable) -> Snapshot | None:
    """Rewrite adopted external data files (``add_files``) into the
    table's own data directory — one copy-on-write replace commit;
    internal files carry over by reference. After this, every entry
    lives under ``<table>/data``, so positional merge-on-read DML and
    orphan-GC ownership both apply. Returns None when nothing external
    is referenced. The originals on disk are untouched (the table never
    owned them)."""
    snap = table.snapshot()
    ext = [e for e in snap.data_entries if e["path"].startswith("..")]
    if not ext:
        return None
    # read through scan, NOT _read_data: pending merge-on-read tombstones
    # must apply, or deleted rows would be copied into fresh files whose
    # new sequence number outranks the equality deletes (resurrection)
    df = table.scan(
        snapshot=snap, file_filter=lambda e: e["path"].startswith("..")
    )
    new_entries = table._write_files(df, snap.partition_spec)
    return table.commit_delta(
        added=new_entries,
        removed_paths={e["path"] for e in ext},
        operation="replace",
        summary={"materialized_external_files": len(ext)},
        base_version=snap.version,
    )


def analyze_table(
    table: LakehouseTable, columns: list[str] | None = None
) -> dict:
    """ANALYZE TABLE: one aggregation pass over the logical table (MoR
    deletes applied) computing per-column null counts, approximate NDV
    (HLL-backed ``approx_count_distinct``), and min/max for orderable
    types. Results persist in table properties (``stats.json`` +
    ``stats.version``), Iceberg-Puffin style: stats travel with the
    table, so a consumer reads NDV for join-size decisions without
    touching data.

    Scale shape: a single Spark agg job - every statistic is a partial
    (count / HLL sketch / min / max), so the plan map-side combines and
    the driver receives exactly one row regardless of table size."""
    import json as _json

    from pyspark.sql import functions as F

    snap = table.snapshot()
    df = table.scan(snapshot=snap)
    unorderable = ("map<", "array<", "struct<", "binary")
    fields = [
        f for f in df.schema.fields if columns is None or f.name in columns
    ]
    missing = set(columns or []) - {f.name for f in fields}
    if missing:
        raise ValueError(f"analyze_table: unknown columns {sorted(missing)}")

    aggs = [F.count(F.lit(1)).alias("__rows")]
    for f in fields:
        c = F.col(f.name)
        aggs.append(F.sum(c.isNull().cast("long")).alias(f"{f.name} nulls"))
        # map values are unhashable for HLL (Spark rejects them); their
        # NDV stays None rather than failing the whole stats pass
        if not f.dataType.simpleString().startswith("map<"):
            aggs.append(F.approx_count_distinct(c).alias(f"{f.name} ndv"))
        if not f.dataType.simpleString().startswith(unorderable):
            aggs.append(F.min(c).alias(f"{f.name} min"))
            aggs.append(F.max(c).alias(f"{f.name} max"))
    row = df.agg(*aggs).collect()[0].asDict()

    cols: dict[str, dict] = {}
    for f in fields:
        cols[f.name] = {
            "nulls": int(row[f"{f.name} nulls"] or 0),
            "ndv": (
                None
                if f"{f.name} ndv" not in row
                else int(row[f"{f.name} ndv"] or 0)
            ),
            "min": (
                None
                if row.get(f"{f.name} min") is None
                else str(row[f"{f.name} min"])
            ),
            "max": (
                None
                if row.get(f"{f.name} max") is None
                else str(row[f"{f.name} max"])
            ),
        }
    stats = {"rows": int(row["__rows"]), "columns": cols}
    table.set_properties(
        **{
            "stats.json": _json.dumps(stats, sort_keys=True),
            "stats.version": snap.version,
        }
    )
    return stats


def column_stats(table: LakehouseTable):
    """The persisted ANALYZE output as a DataFrame (one row per column),
    plus the snapshot version it was computed at - a consumer checks
    staleness by comparing ``stats_version`` with the current version."""
    import json as _json

    props = table.properties()
    raw = props.get("stats.json")
    schema = (
        "column string, n_nulls long, ndv long, min_value string, "
        "max_value string, table_rows long, stats_version long"
    )
    if raw is None:
        return table.spark.createDataFrame([], schema)
    stats = _json.loads(raw)
    ver = int(props.get("stats.version", -1))
    rows = [
        (name, s["nulls"], s["ndv"], s["min"], s["max"], stats["rows"], ver)
        for name, s in sorted(stats["columns"].items())
    ]
    return table.spark.createDataFrame(rows, schema)


def auto_maintain(
    table: LakehouseTable,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_small_files: int = 8,
    max_tombstone_files: int = 4,
    max_snapshots: int = 100,
    max_manifest_files: int = 16,
    dry_run: bool = False,
) -> dict:
    """Policy-driven maintenance in one call (the auto-optimize loop a
    table service runs after ingest): decide everything from the
    MANIFEST - zero data read for the decisions - then fire only the
    maintenance that is actually due.

    Triggers (thresholds overridable per table via properties, all
    prefixed ``maintenance.``):

    - ``retention`` (r12) when the table declares a row-retention
      policy (``retention.column`` + ``retention.keep-days`` /
      ``retention.cutoff`` - see :func:`apply_retention`); runs FIRST
      so its merge-on-read tombstones feed the passes below;
    - ``compact`` when >= ``min-small-files`` live data files are below
      half the target size (compact()'s own small-file criterion);
    - ``rewrite_position_deletes`` when more than
      ``max-tombstone-files`` position-delete files accumulated;
    - ``rewrite_manifests`` when the manifest list exceeds
      ``max-manifest-files``;
    - ``expire_snapshots`` when retained snapshots exceed
      ``max-snapshots`` (expiry then applies the table's own retention
      properties).

    Returns {trigger: what happened} for every trigger, with
    ``dry_run=True`` reporting what WOULD run. Ordering matters and is
    fixed: tombstone consolidation first (fewer delete files make the
    compaction read cheaper), then compaction, then manifest rewrite
    (compaction just churned manifests), then expiry (now-unreferenced
    files age out)."""
    props = table.properties()

    def _p(name: str, default: int) -> int:
        return int(props.get(f"maintenance.{name}", default))

    target_file_bytes = _p("target-file-bytes", target_file_bytes)
    min_small_files = _p("min-small-files", min_small_files)
    max_tombstone_files = _p("max-tombstone-files", max_tombstone_files)
    max_snapshots = _p("max-snapshots", max_snapshots)
    max_manifest_files = _p("max-manifest-files", max_manifest_files)

    snap = table.snapshot()
    report: dict[str, object] = {}

    # file-rewriting passes DEFER while a staged REPLACE is pending
    # (review r14): a compaction/retention/consolidation commit that
    # rewrites one of the staged rewrite's superseded files (or lands
    # new tombstones) turns the owning transaction's publish into a
    # write-write conflict - routine maintenance must never kill a
    # pending transaction. Staged APPENDS don't block anything (their
    # publish rebases over rewrites of other files), and snapshot
    # expiry / manifest rewrite stay enabled (metadata-only; orphan GC
    # already excludes marker-protected staged files).
    replace_pending = any(
        table.staged_doc(sid)["kind"] == "replace"
        for sid in table.list_staged()
    )
    _DEFER = "deferred: staged replace pending"

    # row-level retention FIRST (r12): its MoR tombstones then feed the
    # consolidation/compaction passes below in the same call. A
    # malformed policy is REPORTED, not raised - one bad property must
    # not abort the rest of the maintenance pass (review r12).
    if props.get("retention.column") and replace_pending:
        report["retention"] = _DEFER
    elif props.get("retention.column"):
        try:
            if dry_run:
                # probe-only (exact_count=False): the dry run keeps
                # auto_maintain's zero-data-read posture - one
                # limit(1) job over the PRUNED file set, never a full
                # count (review r12)
                r = apply_retention(
                    table, dry_run=True, exact_count=False
                )
                report["retention"] = (
                    "would delete expired rows"
                    if r
                    else "nothing expired"
                )
            else:
                rs = apply_retention(table)
                report["retention"] = (
                    f"deleted ({rs.operation})"
                    if rs
                    else "nothing expired"
                )
                if rs is not None:
                    snap = table.snapshot()  # fresh tombstone count
        except RetentionPolicyError as exc:
            # ONLY policy (property) errors are contained per table;
            # execution errors propagate loudly (review r12)
            report["retention"] = f"policy error: {exc}"
    else:
        report["retention"] = "no policy"

    n_tomb = len(snap.pos_delete_entries)
    if n_tomb > max_tombstone_files and replace_pending:
        report["rewrite_position_deletes"] = _DEFER
    elif n_tomb > max_tombstone_files:
        report["rewrite_position_deletes"] = (
            f"would consolidate {n_tomb} files"
            if dry_run
            else (
                "consolidated"
                if rewrite_position_deletes(table) is not None
                else "no-op"
            )
        )
    else:
        report["rewrite_position_deletes"] = "not due"

    n_eq = len(snap.eq_delete_entries)
    if n_eq > max_tombstone_files and replace_pending:
        report["rewrite_equality_deletes"] = _DEFER
    elif n_eq > max_tombstone_files:
        report["rewrite_equality_deletes"] = (
            f"would consolidate {n_eq} files"
            if dry_run
            else (
                "consolidated"
                if rewrite_equality_deletes(table) is not None
                else "no-op"
            )
        )
    else:
        report["rewrite_equality_deletes"] = "not due"

    small = [
        e
        for e in table.snapshot().data_entries
        if int(e.get("bytes", 0)) < target_file_bytes // 2
    ]
    if len(small) >= min_small_files and replace_pending:
        report["compact"] = _DEFER
    elif len(small) >= min_small_files:
        raw_budget = props.get("maintenance.max-rewrite-bytes")
        budget = int(raw_budget) if raw_budget is not None else None
        report["compact"] = (
            f"would compact {len(small)} small files"
            if dry_run
            else (
                "compacted"
                if compact(
                    table,
                    target_file_bytes=target_file_bytes,
                    max_rewrite_bytes=budget,
                )
                is not None
                else "no-op"
            )
        )
    else:
        report["compact"] = "not due"

    n_mfs = len(table.snapshot().manifest_files)
    if n_mfs > max_manifest_files:
        report["rewrite_manifests"] = (
            f"would merge {n_mfs} manifest files"
            if dry_run
            else f"merged {rewrite_manifests(table)['manifests_before']}"
        )
    else:
        report["rewrite_manifests"] = "not due"

    n_snaps = len(table.snapshots())
    if n_snaps > max_snapshots:
        report["expire_snapshots"] = (
            f"would expire (have {n_snaps})"
            if dry_run
            else expire_snapshots(table)
        )
    else:
        report["expire_snapshots"] = "not due"
    return report


def table_metrics(table: LakehouseTable) -> dict:
    """Layout-health metrics from the MANIFEST alone (zero data files
    read) - the numbers a table service dashboards and auto_maintain
    thresholds on. O(live files) driver work over already-loaded
    metadata."""
    snap = table.snapshot()
    data = snap.data_entries
    sizes = [int(e.get("bytes", 0)) for e in data]
    target = int(
        table.properties().get(
            "maintenance.target-file-bytes", 128 * 1024 * 1024
        )
    )
    parts = {
        tuple(sorted((e.get("partition") or {}).items())) for e in data
    }
    return {
        "version": snap.version,
        "data_files": len(data),
        "rows": snap.total_rows,
        "total_bytes": sum(sizes),
        "avg_file_bytes": (sum(sizes) // len(sizes)) if sizes else 0,
        "small_file_ratio": (
            sum(1 for s in sizes if s < target // 2) / len(sizes)
            if sizes
            else 0.0
        ),
        "pos_delete_files": len(snap.pos_delete_entries),
        "eq_delete_files": len(snap.eq_delete_entries),
        "manifest_files": len(snap.manifest_files),
        "partitions": len(parts),
        "snapshots": len(table.snapshots()),
    }


def apply_retention(
    table: LakehouseTable,
    now_ms: int | None = None,
    dry_run: bool = False,
    exact_count: bool = True,
):
    """Declarative row-level retention (r12): DELETE rows past the
    table's own policy, read entirely from table properties - the
    compliance/TTL loop a table service runs after ingest, with zero
    per-call configuration:

    - ``retention.column`` (required to arm the policy): the
      timestamp/date column rows age out by;
    - ``retention.keep-days`` (int) - cutoff = now - N days - OR
      ``retention.cutoff`` - an explicit SQL literal (e.g.
      ``TIMESTAMP '2024-01-01 00:00:00'``), which wins when both are
      set and makes the policy reproducible;
    - ``retention.sql-mode``: ``copy-on-write`` (default - rewrite
      survivors once) or ``merge-on-read`` (positional tombstones,
      O(matched) commit; compaction materializes them later).

    Returns ``None`` when the policy is unset or nothing matches,
    ``{"would_delete": n}`` under ``dry_run``, else the DELETE's
    Snapshot. At 100 TB the matter is the MoR option: a daily TTL pass
    over a petabyte table must commit O(expired rows), not rewrite the
    table - and the scan-side anti-join cost is bounded by the next
    compaction, which ``auto_maintain`` schedules right after this.

    A MALFORMED armed policy raises :class:`RetentionPolicyError`
    naming the bad property (review r12) - a typo'd mode must never silently rewrite
    a 100 TB table, and a half-configured policy must never read as
    "nothing expired". ``auto_maintain`` catches these into its report
    so one bad policy cannot abort the rest of the maintenance pass.
    """
    from pyspark.sql import functions as F

    from .dml import delete_where

    props = table.properties()
    col = props.get("retention.column")
    if not col:
        return None
    if col not in {f.name for f in table.schema.fields}:
        raise RetentionPolicyError(
            f"retention.column {col!r} is not a column of the table"
        )
    mode = props.get("retention.sql-mode", "copy-on-write")
    if mode not in ("copy-on-write", "merge-on-read"):
        raise RetentionPolicyError(
            f"retention.sql-mode {mode!r} is not one of "
            "'copy-on-write' / 'merge-on-read'"
        )
    cutoff = (props.get("retention.cutoff") or "").strip()
    if cutoff:
        # restrict to literal shapes: a table property must never
        # execute arbitrary SQL (review r12)
        if not re.fullmatch(
            r"(?is)(TIMESTAMP|DATE)\s*'[^']+'"
            r"|TIMESTAMP_MILLIS\(\s*\d+\s*\)",
            cutoff,
        ):
            raise RetentionPolicyError(
                f"retention.cutoff {cutoff!r} must be a TIMESTAMP/DATE "
                "literal or TIMESTAMP_MILLIS(n)"
            )
    else:
        days_raw = (props.get("retention.keep-days") or "").strip()
        if not days_raw:
            raise RetentionPolicyError(
                "retention.column is set but neither retention.cutoff "
                "nor retention.keep-days is - the policy is armed but "
                "has no horizon"
            )
        try:
            days = int(days_raw)
        except ValueError:
            raise RetentionPolicyError(
                f"retention.keep-days {days_raw!r} is not an integer"
            ) from None
        if days <= 0:
            # a '-30' typo would place the cutoff in the FUTURE and a
            # CoW pass would rewrite/drop essentially the whole table;
            # 0 deletes everything older than "this instant". Neither
            # is ever a sane standing policy - demand a positive
            # horizon, or an explicit retention.cutoff literal when a
            # one-off instant really is intended (advice r13).
            raise RetentionPolicyError(
                f"retention.keep-days must be a positive integer, got "
                f"{days_raw!r}; use an explicit retention.cutoff for a "
                "one-off instant"
            )
        now = now_ms if now_ms is not None else int(time.time() * 1000)
        cutoff = f"TIMESTAMP_MILLIS({now - days * 86_400_000})"
    # resolve the (shape-checked) literal once; a Python value feeds
    # both the manifest-pruned probe (stats/partition-transform file
    # skipping) and the exact residual predicate
    try:
        cutoff_val = table.spark.sql(f"SELECT ({cutoff}) AS c").first()["c"]
    except Exception as exc:
        raise RetentionPolicyError(
            f"retention.cutoff {cutoff!r} does not evaluate: {exc}"
        ) from None
    pred = F.col(col) < F.lit(cutoff_val)
    expired = table.scan_where(col, upper=cutoff_val).filter(pred)
    if dry_run:
        if not exact_count:  # probe-only (auto_maintain's dry run)
            return (
                {"would_delete": "some"}
                if expired.limit(1).count()
                else None
            )
        n = expired.count()  # one job serves probe + report
        return {"would_delete": n} if n else None
    # manifest-pruned existence probe: a table with nothing expired
    # must cost O(pruned files), not a full scan (and never a commit)
    if expired.limit(1).count() == 0:
        return None
    if mode == "merge-on-read":
        # positional: retention predicates range over a non-key column
        return delete_where(
            table, pred, mode="merge-on-read", positional=True
        )
    return delete_where(table, pred, mode="copy-on-write")
