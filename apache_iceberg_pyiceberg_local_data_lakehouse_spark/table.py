"""Snapshot-based table format over Parquet, managed from Spark.

The reference's storage substrate is PyIceberg: namespaced tables with a
partition spec, atomic snapshot-commit appends, column-projected scans and
snapshot expiry (``/root/reference/lakehouse_pipeline.py:275-284,303-318,
373-394,232-270``). No Iceberg Spark runtime jar exists in this
environment, so this module re-implements that lifecycle as a *minimal,
Spark-native* table format with the same semantics:

- **Metadata**: versioned JSON snapshots under ``<table>/metadata/``;
  each snapshot carries the schema, the partition spec, and a manifest of
  data files with per-file stats (row count, per-column min/max).
- **Commit protocol**: every metadata file is published through
  ``atomic_write``: the whole file is written to a ``.tmp.<hex>``
  sibling and fsynced before its name is claimed. ``v<N>.json`` is
  claimed with an exclusive ``os.link`` - the link either succeeds or
  the version is taken (optimistic concurrency, like Iceberg's), and a
  reader never sees a half-written snapshot; ``version-hint.text`` is
  then replaced for fast current-version lookup.
- **Data**: zstd Parquet written by Spark executors (rows already on
  the driver, such as ingest bookkeeping, are written by the driver:
  ``append_rows``); file-level pruning uses manifest stats (partition
  values + min/max) before Spark ever lists a file - the engine-side
  analogue of Iceberg's hidden partitioning + file skipping.
- **Scale**: manifests store only per-file metadata (KBs per thousand
  files); batch data moves through Spark jobs. On a 1000-executor
  cluster the driver handles metadata exactly as PyIceberg's client does,
  while reads/writes stay distributed.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType
from pyspark.sql.window import Window as PW

# ---------------------------------------------------------------------------
# Partition transforms (reference: YearTransform at lakehouse_pipeline.py:373-382)
# ---------------------------------------------------------------------------

TRANSFORMS = ("identity", "years", "months", "days", "hours", "bucket", "truncate")


@dataclass(frozen=True)
class PartitionField:
    source: str
    transform: str = "identity"
    name: str | None = None
    n_buckets: int | None = None  # for bucket transform
    width: int | None = None  # for truncate transform

    @property
    def field_name(self) -> str:
        if self.name:
            return self.name
        if self.transform == "identity":
            return self.source
        return f"{self.source}_{self.transform.rstrip('s')}"

    def column(self, df: "DataFrame | None" = None) -> F.Column:
        c = F.col(self.source)
        if self.transform == "identity":
            return c
        if self.transform == "years":
            return F.year(c)
        if self.transform == "months":
            return F.year(c) * 100 + F.month(c)
        if self.transform == "days":
            return F.date_format(c, "yyyy-MM-dd")
        if self.transform == "hours":
            return F.date_format(c, "yyyy-MM-dd-HH")
        if self.transform == "bucket":
            return F.pmod(F.hash(c), F.lit(self.n_buckets or 16))
        if self.transform == "truncate":
            # Iceberg truncate[W]: string -> W-char prefix, integer ->
            # floor to a multiple of W. Type dispatch needs the frame's
            # schema; without one, numeric is assumed.
            w = self.width or 10
            if df is not None and isinstance(
                df.schema[self.source].dataType, StringType
            ):
                return F.substring(c, 1, w)
            return (c - F.pmod(c, F.lit(w))).cast("long")
        raise ValueError(f"unknown transform {self.transform}")

    def truncate_bound(self, v):
        """Map a raw predicate bound into truncate's partition space."""
        w = self.width or 10
        if isinstance(v, str):
            return v[:w]
        return (int(v) // w) * w

    def to_json(self) -> dict[str, Any]:
        return {
            "source": self.source,
            "transform": self.transform,
            "name": self.field_name,
            "n_buckets": self.n_buckets,
            "width": self.width,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "PartitionField":
        return PartitionField(
            source=d["source"],
            transform=d["transform"],
            name=d.get("name"),
            n_buckets=d.get("n_buckets"),
            width=d.get("width"),
        )


# ---------------------------------------------------------------------------
# Snapshot metadata
# ---------------------------------------------------------------------------

# Stamped into every snapshot JSON. A table whose snapshots carry another
# stamp (or none) is refused, never migrated (Iceberg's format-version).
FORMAT_VERSION = 1


@dataclass
class Snapshot:
    snapshot_id: str
    version: int
    timestamp_ms: int
    operation: str  # append | replace | delete | create
    parent_id: str | None
    schema_json: dict[str, Any]
    partition_spec: list[PartitionField]
    manifest: list[dict[str, Any]]  # per data file: path, rows, stats, partition
    summary: dict[str, Any] = field(default_factory=dict)
    # Iceberg-style manifest list: metadata-relative paths of immutable
    # manifest files that together hold `manifest`. The snapshot JSON
    # stores ONLY this list - an append re-serializes its own delta (one
    # new manifest file), never the full O(files) set.
    manifest_files: list[str] = field(default_factory=list)

    def to_json(self) -> dict[str, Any]:
        return {
            "format_version": FORMAT_VERSION,
            "snapshot_id": self.snapshot_id,
            "version": self.version,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "parent_id": self.parent_id,
            "schema": self.schema_json,
            "partition_spec": [p.to_json() for p in self.partition_spec],
            "summary": self.summary,
            "manifest_files": self.manifest_files,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Snapshot":
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            version=d["version"],
            timestamp_ms=d["timestamp_ms"],
            operation=d["operation"],
            parent_id=d["parent_id"],
            schema_json=d["schema"],
            partition_spec=[PartitionField.from_json(p) for p in d["partition_spec"]],
            # filled from manifest_files by the table loader (Snapshot
            # alone has no filesystem context)
            manifest=[],
            summary=d["summary"],
            manifest_files=d["manifest_files"],
        )

    @property
    def total_rows(self) -> int:
        """Rows in live DATA files (equality-delete files carry tombstone
        keys, not table rows; their matched rows are subtracted at scan)."""
        return sum(f.get("rows", 0) for f in self.data_entries)

    @property
    def data_entries(self) -> list[dict[str, Any]]:
        return [e for e in self.manifest if e.get("content", "data") == "data"]

    @property
    def delete_entries(self) -> list[dict[str, Any]]:
        """All merge-on-read tombstone entries (equality AND position)."""
        return [
            e for e in self.manifest if e.get("content") in ("eq-del", "pos-del")
        ]

    @property
    def eq_delete_entries(self) -> list[dict[str, Any]]:
        return [e for e in self.manifest if e.get("content") == "eq-del"]

    @property
    def pos_delete_entries(self) -> list[dict[str, Any]]:
        return [e for e in self.manifest if e.get("content") == "pos-del"]


class CommitConflict(Exception):
    """Another writer committed the version first; caller should retry."""


class StagedReplaceConflict(ValueError):
    """A staged CoW rewrite's superseded files were removed/rewritten by
    a concurrent writer between stage and publish - the rewrite is based
    on rows that no longer exist and must be recomputed. ValueError
    subclass ON PURPOSE: transaction recovery classifies ValueError as
    non-retryable (``incomplete``, loud warning), and retrying a true
    write-write conflict forever would be worse than reporting it."""


def atomic_write(path: str, data: str, *, exclusive: bool = False) -> None:
    """Publish ``data`` as the file ``path``, whole or not at all - the
    one commit primitive every metadata file goes through.

    The bytes land in ``<dir>/.tmp.<hex>`` and are fsynced; only then is
    the name claimed: with ``os.link`` when ``exclusive`` (raises
    ``FileExistsError`` if the name is taken, so exactly one writer wins
    it), else with ``os.replace``. The temp file is removed either way
    (also when anything fails) and the directory is fsynced, so a
    reader never sees a partial file and a claimed name survives a
    crash. A ``.tmp.*`` left by a crash before the claim is reclaimed
    by orphan GC (``maintenance.expire_snapshots``)."""
    d = os.path.dirname(path)
    tmp = os.path.join(d, f".tmp.{uuid.uuid4().hex}")
    try:
        with open(tmp, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        if exclusive:
            os.link(tmp, path)
        else:
            os.replace(tmp, path)
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass  # replaced into place
    _fsync_dir(d)


def _fsync_dir(d: str) -> None:
    """Make the names created in directory ``d`` survive a crash."""
    fd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


# ---------------------------------------------------------------------------
# Table
# ---------------------------------------------------------------------------

# Scan-plan memo (r15): (session, location, snapshot uuid+version, file
# set, pos flag, extra fields) -> the base read DataFrame. Module-level
# because load_table constructs a fresh LakehouseTable per call; bounded
# LRU so dead snapshots age out. See _read_data_plain. The lock covers
# every read-touch and insert-evict step: streaming foreachBatch and the
# MV watcher scan from their own threads.
from collections import OrderedDict as _OrderedDict  # noqa: E402

_SCAN_DF_CACHE: _OrderedDict = _OrderedDict()
_SCAN_DF_CACHE_MAX = 32
_SCAN_DF_CACHE_LOCK = threading.Lock()


class LakehouseTable:
    """Handle to one table directory; all mutation goes through snapshot
    commits. Mirrors the PyIceberg ``Table`` surface the reference uses:
    ``append``, ``scan(selected_fields=...)``, snapshot listing, expiry.

    ``is_branch`` distinguishes divergent-branch handles
    (``BranchTable``) - maintenance uses it to keep orphan GC off the
    shared data directory when driven from a branch.
    """

    # once a snapshot references this many manifest files, the commit
    # merges them into one - amortized O(files/threshold) metadata work
    # per commit instead of O(files) every commit (Iceberg's
    # commit.manifest.min-count-to-merge plays the same role)
    _MANIFEST_MERGE_THRESHOLD = 32

    is_branch = False

    def __init__(self, spark: SparkSession, location: str):
        self.spark = spark
        self.location = os.path.abspath(location)
        self.metadata_dir = os.path.join(self.location, "metadata")
        self.data_dir = os.path.join(self.location, "data")
        # manifest files are immutable once referenced by a committed
        # snapshot, so entries cache safely across snapshots/handles
        self._manifest_cache: dict[str, list[dict[str, Any]]] = {}

    # -- metadata plumbing --------------------------------------------------

    def _version_path(self, v: int) -> str:
        return os.path.join(self.metadata_dir, f"v{v}.json")

    # -- manifest files -----------------------------------------------------

    def _manifest_path(self, rel: str) -> str:
        return os.path.join(self.metadata_dir, rel)

    def _read_manifest_file(self, rel: str) -> list[dict[str, Any]]:
        cached = self._manifest_cache.get(rel)
        if cached is None:
            with open(self._manifest_path(rel)) as f:
                cached = json.load(f)
            self._manifest_cache[rel] = cached
        return cached

    def _write_manifest_file(
        self, entries: list[dict[str, Any]], rel: str | None = None
    ) -> str:
        """Persist one immutable manifest file under ``rel`` (default: a
        fresh ``manifests/m-<uuid>.json``; publish replicating a branch
        manifest main-side keeps the branch's name so the snapshot's
        manifest_files list stays valid); returns its metadata-relative
        path. Unreferenced leftovers (crashed commits) are orphan-GC'd
        by snapshot expiry."""
        rel = rel or os.path.join("manifests", f"m-{uuid.uuid4().hex}.json")
        path = self._manifest_path(rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        atomic_write(path, json.dumps(entries))
        self._manifest_cache[rel] = list(entries)
        return rel

    def _load_snapshot(self, path: str) -> Snapshot:
        """Parse one snapshot JSON and fill in its manifest from the
        manifest-file list. Every snapshot read goes through here, so
        this is where a table in another on-disk format is refused."""
        with open(path) as f:
            d = json.load(f)
        found = d.get("format_version")
        if found != FORMAT_VERSION:
            raise ValueError(
                f"table at {self.location} has snapshot "
                f"{os.path.basename(path)} with format_version "
                f"{found!r}; this engine reads only format_version "
                f"{FORMAT_VERSION} and does not migrate other formats"
            )
        snap = Snapshot.from_json(d)
        for rel in snap.manifest_files:
            snap.manifest.extend(self._read_manifest_file(rel))
        return snap

    def current_version(self) -> int:
        """Highest committed version. The hint file is a fast path; the
        directory listing is authoritative (hint update is not part of the
        atomic commit). Must stay correct when EARLY versions (including
        v0) have been expired: only the walk-up from the hint plus a
        directory-scan fallback - never an assumption that v0 exists."""
        hint = os.path.join(self.metadata_dir, "version-hint.text")
        v = 0
        if os.path.exists(hint):
            try:
                v = int(open(hint).read().strip())
            except ValueError:
                v = 0
        while os.path.exists(self._version_path(v + 1)):
            v += 1
        if not os.path.exists(self._version_path(v)):
            # hint stale/corrupt and the walk-up anchor is expired:
            # the listing is the source of truth
            versions = []
            if os.path.isdir(self.metadata_dir):
                for name in os.listdir(self.metadata_dir):
                    if name.startswith("v") and name.endswith(".json"):
                        try:
                            versions.append(int(name[1:-5]))
                        except ValueError:
                            pass
            if not versions:
                raise FileNotFoundError(f"no table at {self.location}")
            v = max(versions)
        return v

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.current_version() if version is None else version
        return self._load_snapshot(self._version_path(v))

    def snapshots(self) -> list[Snapshot]:
        """All retained snapshots, oldest first (M1 snapshot listing,
        reference ``lakehouse_pipeline.py:234-235``). Snapshots share
        manifest files, so loading N versions costs O(distinct manifest
        files) reads (cached), not O(N x files)."""
        out = []
        for name in sorted(os.listdir(self.metadata_dir)):
            if name.startswith("v") and name.endswith(".json"):
                out.append(
                    self._load_snapshot(os.path.join(self.metadata_dir, name))
                )
        out.sort(key=lambda s: s.version)
        return out

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot:
        """Time travel: latest snapshot committed at or before the instant."""
        eligible = [s for s in self.snapshots() if s.timestamp_ms <= timestamp_ms]
        if not eligible:
            raise ValueError(f"no snapshot at or before {timestamp_ms}")
        return eligible[-1]

    def _commit(self, snap: Snapshot) -> None:
        """Exclusive-link publish of the whole ``v<N>.json``: exactly one
        writer wins each version, and no reader sees it half-written."""
        os.makedirs(self.metadata_dir, exist_ok=True)
        data = json.dumps(snap.to_json())
        try:
            atomic_write(self._version_path(snap.version), data, exclusive=True)
        except FileExistsError as e:
            raise CommitConflict(f"version {snap.version} already committed") from e
        atomic_write(
            os.path.join(self.metadata_dir, "version-hint.text"), str(snap.version)
        )

    # -- schema -------------------------------------------------------------

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(self.snapshot().schema_json)

    @property
    def partition_spec(self) -> list[PartitionField]:
        return self.snapshot().partition_spec

    # -- write path ---------------------------------------------------------

    # below this file count, per-file footer reads run inline on the
    # driver (a Spark job's scheduling overhead would dominate)
    _STATS_JOB_THRESHOLD = 16

    def _write_files(
        self,
        df: DataFrame,
        spec: list[PartitionField],
        bloom_cols: tuple[str, ...] = (),
    ) -> list[dict]:
        """Write a DataFrame as parquet data files + collect per-file
        manifest entries (rows, per-column min/max, partition values).

        The data write is a distributed Spark job. Stats come from
        parquet FOOTERS only (never a data re-scan); for commits beyond a
        handful of files the footer reads also run as a Spark job over
        the file list - at O(10^4) files per commit a sequential driver
        loop would serialize the commit path, exactly the bottleneck an
        Iceberg writer avoids by collecting stats in the write tasks."""
        batch_dir = os.path.join(self.data_dir, uuid.uuid4().hex[:12])
        out = df
        part_cols = []
        for p in spec:
            pname = f"_p_{p.field_name}"
            out = out.withColumn(pname, p.column(out))
            part_cols.append(pname)
        writer = out.write.mode("append")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(batch_dir)

        # cheap driver-side listing: one readdir per partition directory
        tasks: list[tuple[str, dict[str, Any]]] = []
        for root, _dirs, files in os.walk(batch_dir):
            # partition values encoded in the directory path by Spark
            rel = os.path.relpath(root, batch_dir)
            pvals: dict[str, Any] = {}
            if rel != ".":
                for seg in rel.split(os.sep):
                    if "=" in seg:
                        k, v = seg.split("=", 1)
                        pvals[k.removeprefix("_p_")] = v
            for fn in files:
                if fn.endswith(".parquet"):
                    tasks.append((os.path.join(root, fn), pvals))

        stat_cols = {f.name for f in df.schema.fields}
        location = self.location
        if len(tasks) >= self._STATS_JOB_THRESHOLD:
            sc = self.spark.sparkContext
            entries = (
                sc.parallelize(tasks, min(len(tasks), 64))
                .map(
                    lambda t: _footer_entry(
                        t[0], t[1], stat_cols, location, bloom_cols
                    )
                )
                .collect()
            )
        else:
            entries = [
                _footer_entry(f, p, stat_cols, location, bloom_cols)
                for f, p in tasks
            ]
        # Spark writes a zero-row file when a write's first task is
        # empty; the schema lives in the snapshot, so it is dropped here
        # rather than committed (and an all-empty write leaves no dir)
        for e in entries:
            if not e["rows"]:
                d, name = os.path.split(os.path.join(location, e["path"]))
                for fn in (name, f".{name}.crc"):  # and its checksum file
                    try:
                        os.remove(os.path.join(d, fn))
                    except FileNotFoundError:
                        pass
        entries = [e for e in entries if e["rows"]]
        if not entries:
            shutil.rmtree(batch_dir, ignore_errors=True)
        return entries

    def append(
        self,
        df: DataFrame,
        max_retries: int = 5,
        optimize_write: bool = False,
        cluster_by: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        extra_summary: dict | None = None,
        merge_schema: bool = False,
        identity_epoch: str | None = None,
    ) -> Snapshot:
        """Append rows as a new snapshot (S5, reference
        ``lakehouse_pipeline.py:394``). Retries on commit conflict -
        appends are commutative, so the manifest is rebased and retried
        like Iceberg's optimistic protocol.

        ``optimize_write=True`` hash-distributes rows by the partition
        columns before writing (Iceberg's write.distribution-mode=hash):
        each partition's rows land in few tasks instead of every task
        writing a sliver of every partition - the difference between
        O(partitions) and O(partitions x tasks) small files per append.

        ``cluster_by`` z-order-clusters the batch at write time (the
        write-side twin of ``maintenance.compact(zorder_by=...)``): rows
        range-distribute on (partition transforms, Morton key) so every
        clustered column gets tight per-file min/max stats from the
        first write, at the cost of one extra pass over ``df`` to
        compute quantization bounds - worth it for large batches that
        would otherwise wait for a compaction to become prunable.

        ``bloom_cols`` stores a ~1 KB bloom bitset per (file, column) in
        the manifest: equality lookups via ``scan_where`` then prune
        files whose filter excludes the key - the point-lookup analogue
        of min/max skipping, for columns whose values scatter (ids,
        hashes) so range stats never prune."""
        df, spec = self._prepare_append(
            df,
            optimize_write=optimize_write,
            cluster_by=cluster_by,
            merge_schema=merge_schema,
            identity_epoch=identity_epoch,
        )
        new_files = self._write_files(
            df, spec, bloom_cols=tuple(bloom_cols or ())
        )
        return self._commit_append(
            new_files, max_retries=max_retries, extra_summary=extra_summary
        )

    def append_rows(self, rows: list, max_retries: int = 5) -> Snapshot:
        """Append rows that are already on the driver (an ingest ledger
        entry, an audit record) without a Spark job: the driver writes
        them as one zstd parquet file and commits it like ``append``.

        Each row is a tuple in table-schema order (or a dict/Row). Values
        go through their Spark type's ``toInternal``, so the stored
        instants equal what ``createDataFrame`` stores whatever the
        process time zone. The file and its new directory are fsynced
        before the commit. A table that declares a partition spec, a
        CHECK constraint, or a generated or identity column takes
        ``append(createDataFrame(rows, schema))`` instead, so every
        write-time rule still holds."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        snap = self.snapshot()
        schema = StructType.fromJson(snap.schema_json)
        if snap.partition_spec or any(
            k.startswith(("constraint.", "generated.", "identity."))
            for k in self.properties()
        ):
            return self.append(
                self.spark.createDataFrame(rows, schema), max_retries=max_retries
            )
        entries = []
        if rows:
            internal = [schema.toInternal(r) for r in rows]
            batch = pa.table(
                {
                    f.name: pa.array(
                        [r[i] for r in internal], type=to_arrow_type(f.dataType)
                    )
                    for i, f in enumerate(schema.fields)
                }
            )
            batch_dir = os.path.join(self.data_dir, uuid.uuid4().hex[:12])
            os.makedirs(batch_dir)
            path = os.path.join(
                batch_dir, f"part-00000-{uuid.uuid4()}.zstd.parquet"
            )
            with open(path, "wb") as f:
                pq.write_table(batch, f, compression="zstd")
                f.flush()
                os.fsync(f.fileno())
            _fsync_dir(batch_dir)
            _fsync_dir(self.data_dir)
            entries.append(
                _footer_entry(path, {}, set(schema.fieldNames()), self.location)
            )
        return self._commit_append(entries, max_retries=max_retries)

    def _prepare_append(
        self,
        df: DataFrame,
        optimize_write: bool = False,
        cluster_by: list[str] | None = None,
        merge_schema: bool = False,
        identity_epoch: str | None = None,
    ) -> tuple[DataFrame, list[PartitionField]]:
        """Every write-time rule an appended batch passes, for ``append``
        and ``stage_append`` alike: schema merge, generated and identity
        fill, writer-schema and CHECK validation, then the write
        distribution. Returns the batch to write and the partition spec
        to write it under."""
        if merge_schema:
            # Delta's mergeSchema write option: reconcile the table
            # schema to the batch (new columns add, legal widenings
            # widen) before the normal writer validation runs
            from .dml import evolve_schema_for

            evolve_schema_for(self, df)
        snap = self.snapshot()  # one load serves fill, validation, spec
        df = self._fill_generated(df, snap)
        df = self._fill_identity(
            df, self.identity_columns(), epoch_tag=identity_epoch
        )
        self._validate_append_schema(df, snap)
        self._validate_constraints(df, snap)
        spec = snap.partition_spec
        if cluster_by:
            from .functions.zorder import _numeric_expr, zorder_key

            row = df.agg(
                *[
                    f
                    for c in cluster_by
                    for f in (
                        F.min(_numeric_expr(df, c)).alias(f"__lo_{c}"),
                        F.max(_numeric_expr(df, c)).alias(f"__hi_{c}"),
                    )
                ]
            ).first()
            bounds = {
                c: (row[f"__lo_{c}"] or 0.0, row[f"__hi_{c}"] or 0.0)
                for c in cluster_by
            }
            n_tasks = df.rdd.getNumPartitions()
            df = (
                df.withColumn("__z", zorder_key(df, cluster_by, bounds))
                .repartitionByRange(
                    max(1, n_tasks), *[p.column(df) for p in spec], "__z"
                )
                .sortWithinPartitions(*[p.column(df) for p in spec], "__z")
                .drop("__z")
            )
        elif spec and (
            optimize_write
            # Iceberg's write.distribution-mode property: the table can
            # declare hash distribution so EVERY writer gets the
            # small-files protection without each call site opting in
            or self.properties().get("write.distribution-mode") == "hash"
        ):
            df = df.repartition(*[p.column(df) for p in spec])
        elif spec and (
            self.properties().get("write.distribution-mode") == "range"
        ):
            # Iceberg's write.distribution-mode=range: range-distribute
            # AND sort within tasks on the partition transforms - same
            # small-files protection as hash, plus globally ordered
            # output so each file's min/max stats on the partition
            # source columns are tight and disjoint from the first
            # write (the pruning benefit of a sort-order rewrite,
            # without waiting for compaction)
            cols = [p.column(df) for p in spec]
            df = df.repartitionByRange(
                max(1, df.rdd.getNumPartitions()), *cols
            ).sortWithinPartitions(*cols)
        return df, spec

    def _validate_append_schema(
        self, df: DataFrame, snap: Snapshot | None = None
    ) -> None:
        """Writer-schema enforcement (Iceberg's write validation): every
        incoming column must exist in the table schema with its exact
        type or one the scan can widen FROM (int written into a long
        column is fine — the reader widens; double into a float column
        would poison every later scan, so it raises HERE, at write time).
        Missing table columns are allowed — optional fields read as null,
        the add_column evolution contract. Name resolution matches the
        READ path: case-insensitive (Spark's default) and accepting of
        ``renamed_from`` historical names (the rename lineage the scan
        coalesces)."""
        snap = snap or self.snapshot()
        schema = StructType.fromJson(snap.schema_json)
        lookup: dict[str, Any] = {}
        for f in schema.fields:
            lookup[f.name.lower()] = f.dataType
            meta = next(
                (
                    fd.get("metadata") or {}
                    for fd in snap.schema_json["fields"]
                    if fd["name"] == f.name
                ),
                {},
            )
            for old in meta.get("renamed_from", []):
                lookup.setdefault(old.lower(), f.dataType)
        for f in df.schema.fields:
            tgt = lookup.get(f.name.lower())
            if tgt is None:
                raise ValueError(
                    f"append column {f.name!r} is not in the table schema "
                    f"({schema.fieldNames()}); evolve the schema first "
                    "(dml.add_column)"
                )
            if f.dataType != tgt and not _spark_readable_as(f.dataType, tgt):
                raise ValueError(
                    f"append column {f.name!r} has type "
                    f"{f.dataType.simpleString()} which cannot be read "
                    f"under the table's {tgt.simpleString()}; cast before "
                    "appending (or promote_column the table)"
                )

    def add_files(
        self, paths: list[str], max_retries: int = 5
    ) -> Snapshot:
        """Adopt existing parquet files by REFERENCE (Iceberg's
        ``add_files`` / migrate): no copy, no rewrite — one metadata
        commit whose entries point at the files where they are, with
        row counts and min/max stats read from the parquet footers
        (distributed for large imports, like ``_write_files``).

        Constraints: unpartitioned tables only (partition values cannot
        be derived safely without scanning the data); file columns must
        be a subset of the table schema by name (missing columns read as
        null, extra columns raise — they would be silently dropped), and
        each present column's type must equal the table's or widen to it
        (int→long, float→double, decimal precision — the same legal set
        as ``promote_column``; anything else would defer a
        parquet-conversion crash to every future scan).
        Adopted files may live OUTSIDE the table location; orphan GC
        only ever deletes under ``<table>/data``, so maintenance can
        never destroy an adopted file — dropping it from the current
        snapshot (compaction, DELETE) just stops referencing it."""
        if self.partition_spec:
            raise ValueError(
                "add_files requires an unpartitioned table; partition "
                "values cannot be derived without reading the data"
            )
        import pyarrow.parquet as pq

        snap = self.snapshot()
        known = {e["path"] for e in snap.manifest}
        table_fields = {f.name: f.dataType for f in self.schema.fields}
        abs_paths = []
        for p in paths:
            ap = os.path.abspath(p)
            if os.path.relpath(ap, self.location) in known:
                raise ValueError(f"{p} is already referenced by the table")
            fschema = pq.read_schema(ap)
            extra = set(fschema.names) - set(table_fields)
            if extra:
                raise ValueError(
                    f"{p} has columns not in the table schema: {sorted(extra)}"
                )
            for fld in fschema:
                if not _readable_as(fld.type, table_fields[fld.name]):
                    raise ValueError(
                        f"{p} column {fld.name!r} has type {fld.type} which "
                        f"is not readable as the table's "
                        f"{table_fields[fld.name].simpleString()}"
                    )
            abs_paths.append(ap)
        location = self.location
        stat_cols = set(table_fields)
        if len(abs_paths) >= self._STATS_JOB_THRESHOLD:
            sc = self.spark.sparkContext
            entries = (
                sc.parallelize(abs_paths, min(len(abs_paths), 64))
                .map(lambda f: _footer_entry(f, {}, stat_cols, location))
                .collect()
            )
        else:
            entries = [
                _footer_entry(f, {}, stat_cols, location) for f in abs_paths
            ]
        return self._commit_append(
            entries,
            max_retries=max_retries,
            extra_summary={"adopted_files": len(entries)},
        )

    @staticmethod
    def _lineage_next(cur: Snapshot) -> int:
        """The table-lifetime row-id counter (Iceberg v3 next-row-id):
        read from the parent's summary; snapshots that do not record it
        (e.g. create, schema-change and restore commits) derive it from
        the entries that already carry ids. Ids are never reused - the
        counter only grows, even across deletes."""
        n = cur.summary.get("next_row_id")
        if n is not None:
            return int(n)
        m = 0
        for e in cur.manifest:
            if "first_row_id" in e:
                m = max(m, int(e["first_row_id"]) + int(e.get("rows", 0)))
        return m

    @classmethod
    def _stamp_row_ids(cls, cur: Snapshot, entries: list[dict]) -> int:
        """Assign ``first_row_id`` to freshly-added data entries (row N
        of the file has id first_row_id + N) and return the table's new
        next-row-id. Entries that already carry an id (a caller
        re-attaching carried files) keep it; tombstone files hold no
        rows and get none."""
        nxt = cls._lineage_next(cur)
        for e in entries:
            if e.get("content", "data") != "data":
                continue
            if "first_row_id" not in e:
                e["first_row_id"] = nxt
            nxt = max(nxt, int(e["first_row_id"]) + int(e.get("rows", 0)))
        return nxt

    def _commit_append(
        self,
        new_files: list[dict],
        max_retries: int = 5,
        extra_summary: dict | None = None,
    ) -> Snapshot:
        """Commit already-written data files as an append snapshot with
        rebase-and-retry. The delta manifest is written ONCE and reused
        across commit retries - the commit re-serializes O(added +
        manifest-file count), never the full O(files) manifest."""
        new_mf = None
        stamped_seq = None
        for _ in range(max_retries):
            cur = self.snapshot()
            # Sequence stamping (Iceberg data sequence numbers): an
            # equality delete at seq D applies only to data files with
            # seq < D. New data files get the version they are committing
            # as; a conflicting retry re-stamps (and rewrites the one
            # delta manifest file) so rows appended AFTER a delete can
            # never be claimed by it.
            if new_files and stamped_seq != cur.version + 1:
                stamped_seq = cur.version + 1
                for e in new_files:
                    e["seq"] = stamped_seq
                    # a rebase re-stamps ids too: the parent's row-id
                    # counter moved with the conflicting commit
                    e.pop("first_row_id", None)
                next_row_id = self._stamp_row_ids(cur, new_files)
                new_mf = self._write_manifest_file(new_files)
            elif not new_files:
                next_row_id = self._lineage_next(cur)
            mfs = cur.manifest_files + ([new_mf] if new_mf else [])
            manifest = cur.manifest + new_files
            if len(mfs) >= self._MANIFEST_MERGE_THRESHOLD:
                mfs = [self._write_manifest_file(manifest)]
            snap = Snapshot(
                snapshot_id=uuid.uuid4().hex,
                version=cur.version + 1,
                timestamp_ms=int(time.time() * 1000),
                operation="append",
                parent_id=cur.snapshot_id,
                schema_json=cur.schema_json,
                partition_spec=cur.partition_spec,
                manifest=manifest,
                manifest_files=mfs,
                summary={
                    "added_files": len(new_files),
                    "added_rows": sum(f["rows"] for f in new_files),
                    "next_row_id": next_row_id,
                    **(extra_summary or {}),
                },
            )
            try:
                self._commit(snap)
                return snap
            except CommitConflict:
                continue
        raise CommitConflict(f"append to {self.location} failed after retries")

    def overwrite_manifest(
        self,
        manifest: list[dict],
        operation: str,
        summary: dict | None = None,
        base_version: int | None = None,
    ) -> Snapshot:
        """Replace the file set wholesale (compaction / rewrite).

        ``base_version`` is the version the caller DERIVED the manifest
        from. Unlike appends (commutative, rebase-and-retry), a rewrite
        computed against version N is invalid once any other writer
        committed N+1 - blindly committing would silently drop that
        writer's files. Iceberg's validation semantics: raise
        ``CommitConflict`` and let the caller re-read and redo."""
        cur = self.snapshot()
        if base_version is not None and cur.version != base_version:
            raise CommitConflict(
                f"rewrite based on v{base_version} but table is at "
                f"v{cur.version}; re-read and retry"
            )
        for e in manifest:
            e.setdefault("seq", cur.version + 1)
        next_row_id = self._stamp_row_ids(cur, manifest)
        snap = Snapshot(
            snapshot_id=uuid.uuid4().hex,
            version=cur.version + 1,
            timestamp_ms=int(time.time() * 1000),
            operation=operation,
            parent_id=cur.snapshot_id,
            schema_json=cur.schema_json,
            partition_spec=cur.partition_spec,
            manifest=manifest,
            manifest_files=[self._write_manifest_file(manifest)] if manifest else [],
            summary={"next_row_id": next_row_id, **(summary or {})},
        )
        self._commit(snap)
        return snap

    def commit_delta(
        self,
        added: list[dict],
        removed_paths: set[str],
        operation: str,
        summary: dict | None = None,
        base_version: int | None = None,
    ) -> Snapshot:
        """Commit a file-set delta with manifest-file reuse: parent
        manifest files untouched by ``removed_paths`` carry over by
        reference; only affected ones are rewritten (minus the removed
        entries), plus one new file for ``added``. A partition-scoped
        compaction or MERGE on a million-file table re-serializes the
        touched partition's manifests, not the table's - the same reason
        Iceberg splits metadata into a manifest list. Conflict semantics
        match ``overwrite_manifest`` (``base_version`` validation)."""
        cur = self.snapshot()
        if base_version is not None and cur.version != base_version:
            raise CommitConflict(
                f"rewrite based on v{base_version} but table is at "
                f"v{cur.version}; re-read and retry"
            )
        for e in added:
            e.setdefault("seq", cur.version + 1)
        next_row_id = self._stamp_row_ids(cur, added)
        mfs: list[str] = []
        manifest: list[dict] = []
        for rel in cur.manifest_files:
            entries = self._read_manifest_file(rel)
            if any(e["path"] in removed_paths for e in entries):
                kept = [e for e in entries if e["path"] not in removed_paths]
                if kept:
                    mfs.append(self._write_manifest_file(kept))
                    manifest.extend(kept)
            else:
                mfs.append(rel)
                manifest.extend(entries)
        if added:
            mfs.append(self._write_manifest_file(added))
            manifest.extend(added)
        if len(mfs) >= self._MANIFEST_MERGE_THRESHOLD:
            mfs = [self._write_manifest_file(manifest)] if manifest else []
        snap = Snapshot(
            snapshot_id=uuid.uuid4().hex,
            version=cur.version + 1,
            timestamp_ms=int(time.time() * 1000),
            operation=operation,
            parent_id=cur.snapshot_id,
            schema_json=cur.schema_json,
            partition_spec=cur.partition_spec,
            manifest=manifest,
            manifest_files=mfs,
            summary={"next_row_id": next_row_id, **(summary or {})},
        )
        self._commit(snap)
        return snap

    # -- read path ----------------------------------------------------------

    def scan(
        self,
        selected_fields: list[str] | None = None,
        snapshot: Snapshot | None = None,
        file_filter=None,
    ) -> DataFrame:
        """Read the table at a snapshot with engine-side file pruning.

        ``file_filter(entry) -> bool`` prunes DATA manifest entries
        *before* Spark lists anything (partition values + min/max stats);
        Catalyst then pushes column pruning / predicates into the
        surviving files. Reference parity: the
        ``selected_fields=("DateTime",)`` projected scan of dedup
        (``lakehouse_pipeline.py:206-208``).

        Equality-delete entries (merge-on-read DELETE) are always
        applied: each surviving data file is anti-joined against every
        delete whose sequence number is newer than the file's."""
        snap = snapshot or self.snapshot()
        entries = snap.data_entries
        if file_filter is not None:
            entries = [e for e in entries if file_filter(e)]
        deletes = snap.delete_entries
        if deletes:
            df = self._apply_deletes(entries, deletes, snap)
        else:
            df = self._read_data(entries, snap)
        if selected_fields:
            df = df.select(*selected_fields)
        return df

    def _pos_cols(self, entries: list[dict] | None = None) -> list[F.Column]:
        """Hidden (file, row-ordinal) identity columns for position
        deletes: the manifest-relative file path (stable across catalogs
        that mount the warehouse at different absolute roots would need a
        URI rewrite; within one table location it is exact) and the
        parquet row index - both from the ``_metadata`` struct, computed
        by the readers, no extra I/O.

        ``entries`` (when the caller has them) lets EXTERNAL (``../``)
        references - ``add_files`` imports and shallow clones - derive
        their identity too: each distinct external root (one per source
        table's data dir, NOT one per file) adds one more prefix probe,
        reconstructing the same relative path the manifest stores.

        The scan-reported URI must literally contain one known root -
        a percent-encoded path (spaces/non-ASCII), symlinked mount, or
        any other mismatch would make every derived path garbage and
        silently skip pending tombstones (resurrecting deleted rows), so
        a miss fails the scan loudly instead. Prefixes are passed as
        Column literals, never interpolated into SQL text, so quotes in
        the warehouse path cannot break or inject the expression."""
        prefix = os.path.abspath(self.location) + "/"
        fp = F.col("_metadata.file_path")
        # Column-literal haystack search: locate(substr: str, col) only
        # takes a plain string, so flip to expr-free primitives
        idx = F.instr(fp, prefix)
        rel = F.when(
            idx > 0, fp.substr(idx + F.lit(len(prefix)), F.length(fp))
        )
        roots = set()
        for e in entries or []:
            if not e["path"].startswith(".."):
                continue
            ap = os.path.abspath(os.path.join(self.location, e["path"]))
            # collapse to the owning data dir when the layout shows one
            # (bounds the probe count at one per source table)
            marker = ap.rfind("/data/")
            roots.add(ap[: marker + len("/data")] if marker >= 0 else os.path.dirname(ap))
        for root in sorted(roots):
            rp = root + "/"
            rel_root = os.path.relpath(root, self.location) + "/"
            i2 = F.instr(fp, rp)
            rel = rel.when(
                i2 > 0,
                F.concat(
                    F.lit(rel_root),
                    fp.substr(i2 + F.lit(len(rp)), F.length(fp)),
                ),
            )
        rel = rel.otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "position-delete identity: scanned file URI does "
                        f"not contain table location {prefix!r}"
                        + (f" or external roots {sorted(roots)!r}" if roots else "")
                        + ": "
                    ),
                    fp,
                )
            )
        )
        return [
            rel.alias("__file_rel"),
            F.col("_metadata.row_index").alias("__pos"),
        ]

    def _read_data(
        self,
        entries: list[dict],
        snap: Snapshot,
        with_pos: bool = False,
        extra_fields: list | None = None,
    ) -> DataFrame:
        """Read a list of data-file manifest entries with the snapshot's
        schema (rename lineage resolved, missing columns as null, and
        initial defaults applied to files predating their column).
        ``with_pos`` appends the (__file_rel, __pos) identity columns.
        ``extra_fields`` (StructFields) additionally reads physical
        columns OUTSIDE the logical schema (row-lineage materialization)
        - they ride through rename/default handling untouched."""
        defaults = [
            (
                f["name"],
                (f.get("metadata") or {})["initial_default"],
                int((f.get("metadata") or {}).get("default_added_seq", 0)),
                f["type"],
            )
            for f in snap.schema_json["fields"]
            if "initial_default" in (f.get("metadata") or {})
        ]
        if defaults and entries:
            # Iceberg v3 initial defaults: a file written BEFORE the
            # column existed (entry seq < addition seq) reads the
            # default for every row; files written after carry their own
            # values (explicit nulls stay null). Entries group by which
            # defaults apply - one read per group, unioned.
            groups: dict[tuple, list[dict]] = {}
            for e in entries:
                key = tuple(
                    name
                    for name, _v, added_seq, _t in defaults
                    if int(e.get("seq", 0)) < added_seq
                )
                groups.setdefault(key, []).append(e)
            if len(groups) > 1 or next(iter(groups)) != ():
                parts = []
                for key, grp in groups.items():
                    df_g = self._read_data_plain(
                        grp, snap, with_pos, extra_fields
                    )
                    for name, value, _seq, typ in defaults:
                        if name in key:
                            df_g = df_g.withColumn(
                                name,
                                F.coalesce(
                                    F.col(name), F.lit(value).cast(typ)
                                ),
                            )
                    parts.append(df_g)
                out = parts[0]
                for part in parts[1:]:
                    out = out.unionByName(part)
                return out
        return self._read_data_plain(entries, snap, with_pos, extra_fields)

    def _read_data_plain(
        self,
        entries: list[dict],
        snap: Snapshot,
        with_pos: bool = False,
        extra_fields: list | None = None,
    ) -> DataFrame:
        # Driver-floor memo (r15, VERDICT r14 #5): every call used to
        # build a fresh ``spark.read.schema(...).parquet(*paths)`` -
        # DataSource resolution + file-index construction on the
        # driver, repeated ~9x per MV refresh term for IDENTICAL
        # (snapshot, file-set) scans (view binds, changelog reads,
        # public-view restores). The key pins everything the plan
        # depends on - session (by UUID: a recycled ``id()`` of a
        # stopped session must not match), table location, snapshot
        # identity (uuid + version, so a commit or a drop/recreate can
        # never serve a stale frame), the exact entry paths (file_filter
        # subsets key apart), the pos-identity flag and extra fields -
        # and the value is the immutable logical plan (callers only
        # derive from it, never mutate). Bounded LRU; entries for old
        # snapshots age out.
        key = None
        if entries:
            import hashlib as _hl

            digest = _hl.md5(
                "\n".join(e["path"] for e in entries).encode()
            ).hexdigest()
            key = (
                self.spark._jsparkSession.sessionUUID(),
                self.location,
                snap.snapshot_id,
                snap.version,
                with_pos,
                tuple(
                    (f.name, f.dataType.simpleString())
                    for f in (extra_fields or [])
                ),
                digest,
            )
            with _SCAN_DF_CACHE_LOCK:
                hit = _SCAN_DF_CACHE.get(key)
                if hit is not None:
                    _SCAN_DF_CACHE.move_to_end(key)
                    return hit
        df = self._read_data_plain_uncached(
            entries, snap, with_pos, extra_fields
        )
        if key is not None:
            with _SCAN_DF_CACHE_LOCK:
                _SCAN_DF_CACHE[key] = df
                while len(_SCAN_DF_CACHE) > _SCAN_DF_CACHE_MAX:
                    _SCAN_DF_CACHE.popitem(last=False)
        return df

    def _read_data_plain_uncached(
        self,
        entries: list[dict],
        snap: Snapshot,
        with_pos: bool = False,
        extra_fields: list | None = None,
    ) -> DataFrame:
        schema = StructType.fromJson(snap.schema_json)
        # rename lineage: parquet columns match by NAME here (no field
        # ids), so renamed columns read pre-rename files under every
        # historical name and coalesce into the current one
        renames = {
            f["name"]: (f.get("metadata") or {}).get("renamed_from")
            for f in snap.schema_json["fields"]
            if (f.get("metadata") or {}).get("renamed_from")
        }
        extras = list(extra_fields or [])
        if not entries:
            df = self.spark.createDataFrame(
                [], StructType(list(schema.fields) + extras)
            )
            if with_pos:
                df = df.select(
                    "*",
                    F.lit(None).cast("string").alias("__file_rel"),
                    F.lit(None).cast("long").alias("__pos"),
                )
            return df
        elif renames:
            read_fields = list(schema.fields)
            by_name = {f.name: f for f in schema.fields}
            for cur_name, olds in renames.items():
                for old in olds:
                    read_fields.append(
                        type(by_name[cur_name])(
                            old, by_name[cur_name].dataType, True
                        )
                    )
            read_fields += extras
            paths = [os.path.join(self.location, e["path"]) for e in entries]
            df = self.spark.read.schema(StructType(read_fields)).parquet(*paths)
            if with_pos:
                # grab the hidden _metadata columns straight off the file
                # scan, before any projection hides them
                df = df.select("*", *self._pos_cols(entries))
            for cur_name, olds in renames.items():
                df = df.withColumn(cur_name, F.coalesce(cur_name, *olds))
            keep = [f.name for f in schema.fields] + [f.name for f in extras]
            if with_pos:
                keep += ["__file_rel", "__pos"]
            df = df.select(*keep)
        else:
            paths = [os.path.join(self.location, e["path"]) for e in entries]
            df = self.spark.read.schema(
                StructType(list(schema.fields) + extras)
            ).parquet(*paths)
            if with_pos:
                df = df.select("*", *self._pos_cols(entries))
        return df

    def _apply_deletes(
        self,
        entries: list[dict],
        deletes: list[dict],
        snap: Snapshot,
        with_pos: bool = False,
        extra_fields: list | None = None,
    ) -> DataFrame:
        """Merge-on-read: subtract delete tombstones at scan.

        Equality deletes follow Iceberg sequence semantics: a delete
        with sequence number D claims rows only from data files with
        seq < D - rows (re-)added after the delete survive. Data files
        are grouped by which suffix of the (sorted) delete sequence
        applies to them; each group reads once and anti-joins the union
        of its applicable delete keys, so the plan stays one scan + one
        shuffle-free broadcast anti-join per group (delete key sets are
        tombstones - tiny next to data).

        Position deletes (Iceberg v2 positional tombstones) name exact
        (file, row-ordinal) pairs, so no sequence logic is needed: data
        files appended after the delete have fresh uuid paths the
        tombstone cannot reference. Applied as ONE extra anti-join on
        the hidden (__file_rel, __pos) identity columns the parquet
        readers emit for free (``_metadata.row_index``)."""
        import bisect

        eq_dels = [d for d in deletes if d.get("content") == "eq-del"]
        pos_dels = [d for d in deletes if d.get("content") == "pos-del"]

        pos_keys = None
        pos_targets: set[str] = set()
        if pos_dels:
            paths = [os.path.join(self.location, d["path"]) for d in pos_dels]
            keys_df = self.spark.read.parquet(*paths).select(
                F.col("file_path").alias("__file_rel"),
                F.col("pos").alias("__pos"),
            )
            # Only the files a tombstone actually NAMES pay the
            # metadata-column read + anti-join; every other file scans
            # plain. The target list is bounded by the live file count
            # (distinct paths, not positions) - a tiny driver set, the
            # same one materialize_deletes collects - so at 100 TB a
            # point delete burdens a handful of files, not the table.
            pos_targets = {
                r["__file_rel"]
                for r in keys_df.select("__file_rel").distinct().collect()
            }
            pos_keys = keys_df.distinct()
            if sum(d.get("bytes", 0) for d in pos_dels) < 64 * 1024 * 1024:
                pos_keys = F.broadcast(pos_keys)

        seqs = sorted({int(d.get("seq", 0)) for d in eq_dels})
        groups: dict[int, list[dict]] = {}
        for e in entries:
            i = bisect.bisect_right(seqs, int(e.get("seq", 0)))
            groups.setdefault(i, []).append(e)
        if not groups:
            groups = {len(seqs): []}

        # rename lineage: delete files recorded key columns under the
        # names current at delete time; map historical -> current
        to_current: dict[str, str] = {}
        for f in snap.schema_json["fields"]:
            for old in (f.get("metadata") or {}).get("renamed_from", []):
                to_current[old] = f["name"]

        out: DataFrame | None = None
        for i, grp in sorted(groups.items()):
            claimed = [e for e in grp if e["path"] in pos_targets]
            clean = [e for e in grp if e["path"] not in pos_targets]
            if pos_keys is not None and claimed:
                df = self._read_data(
                    claimed, snap, with_pos=True, extra_fields=extra_fields
                ).join(
                    pos_keys, on=["__file_rel", "__pos"], how="left_anti"
                )
                if not with_pos:
                    df = df.drop("__file_rel", "__pos")
                if clean:
                    df = df.unionByName(
                        self._read_data(
                            clean,
                            snap,
                            with_pos=with_pos,
                            extra_fields=extra_fields,
                        )
                    )
            else:
                df = self._read_data(
                    grp, snap, with_pos=with_pos, extra_fields=extra_fields
                )
            applicable = [d for d in eq_dels if int(d.get("seq", 0)) in seqs[i:]]
            # one anti-join per distinct equality-column set
            by_cols: dict[tuple, list[dict]] = {}
            for d in applicable:
                by_cols.setdefault(tuple(d["equality_cols"]), []).append(d)
            for cols, dels in by_cols.items():
                paths = [os.path.join(self.location, d["path"]) for d in dels]
                keys = self.spark.read.parquet(*paths)
                cur_cols = [to_current.get(c, c) for c in cols]
                for old, new in zip(cols, cur_cols):
                    if old != new:
                        keys = keys.withColumnRenamed(old, new)
                keys = keys.select(*cur_cols).distinct()
                # broadcast while the tombstone set is provably small
                # (manifest bytes); a huge delete backlog falls back to a
                # shuffle anti-join instead of OOMing the driver
                if sum(d.get("bytes", 0) for d in dels) < 64 * 1024 * 1024:
                    keys = F.broadcast(keys)
                df = df.join(keys, on=cur_cols, how="left_anti")
            out = df if out is None else out.unionByName(df)
        return out

    def to_df(self) -> DataFrame:
        return self.scan()

    def scan_where(
        self,
        column: str,
        lower=None,
        upper=None,
        selected_fields: list[str] | None = None,
    ) -> DataFrame:
        """Range/point scan with manifest pruning derived from the
        predicate - the user-facing form of Iceberg hidden partitioning:
        the caller writes bounds on the RAW column; the engine maps them
        through the table's partition transform (years/months/days/
        identity; bucket for point lookups) and the per-file min/max
        stats, drops non-overlapping files before Spark lists anything,
        and applies the exact residual predicate so Catalyst pushes it
        into the surviving parquet scans. ``lower``/``upper`` are
        inclusive; either may be None (half-open)."""
        snap = self.snapshot()
        part = next(
            (p for p in snap.partition_spec if p.source == column), None
        )
        bucket_id = None
        if (
            part is not None
            and part.transform == "bucket"
            and lower is not None
            and lower == upper
        ):
            bucket_id = compute_bucket(self, part, lower)
        keep = _range_keep(column, lower, upper, part, bucket_id)
        df = self.scan(snapshot=snap, file_filter=keep)
        if lower is not None:
            df = df.filter(F.col(column) >= F.lit(lower))
        if upper is not None:
            df = df.filter(F.col(column) <= F.lit(upper))
        if selected_fields:
            df = df.select(*selected_fields)
        return df

    def scan_where_all(
        self,
        bounds: dict[str, tuple],
        selected_fields: list[str] | None = None,
    ) -> DataFrame:
        """Conjunctive range scan: ``{column: (lower, upper)}`` with every
        column's manifest pruning composed (a file survives only if it
        overlaps EVERY bound - intersection of the per-column keeps).
        With z-order-clustered data this is the multi-dimensional
        file-skipping path: each clustered column contributes its own
        min/max cut, so an N-dim slice reads ~the intersection's files.
        Bounds are inclusive; None for half-open ends."""
        snap = self.snapshot()
        keeps = []
        for column, (lower, upper) in bounds.items():
            part = next(
                (p for p in snap.partition_spec if p.source == column), None
            )
            bucket_id = None
            if (
                part is not None
                and part.transform == "bucket"
                and lower is not None
                and lower == upper
            ):
                bucket_id = compute_bucket(self, part, lower)
            keeps.append(_range_keep(column, lower, upper, part, bucket_id))
        df = self.scan(
            snapshot=snap, file_filter=lambda e: all(k(e) for k in keeps)
        )
        for column, (lower, upper) in bounds.items():
            if lower is not None:
                df = df.filter(F.col(column) >= F.lit(lower))
            if upper is not None:
                df = df.filter(F.col(column) <= F.lit(upper))
        if selected_fields:
            df = df.select(*selected_fields)
        return df

    def scan_estimate(self, bounds: dict[str, tuple] | None = None) -> dict:
        """Planner aid: how much would a ``scan_where_all(bounds)``
        read, WITHOUT reading anything - files/rows/bytes before and
        after manifest pruning, straight from the metadata a driver
        already holds. The number a user checks before firing a query
        at 100 TB ("does my predicate prune, or am I about to scan the
        table?"), and the regression signal for layout work (a sorted
        compaction should move pruned_bytes, not total_bytes)."""
        snap = self.snapshot()
        entries = snap.data_entries
        keeps = []
        for column, (lower, upper) in (bounds or {}).items():
            part = next(
                (p for p in snap.partition_spec if p.source == column), None
            )
            bucket_id = None
            if (
                part is not None
                and part.transform == "bucket"
                and lower is not None
                and lower == upper
            ):
                bucket_id = compute_bucket(self, part, lower)
            keeps.append(_range_keep(column, lower, upper, part, bucket_id))
        kept = [e for e in entries if all(k(e) for k in keeps)]
        return {
            "total_files": len(entries),
            "total_rows": sum(int(e.get("rows", 0)) for e in entries),
            "total_bytes": sum(int(e.get("bytes", 0)) for e in entries),
            "scanned_files": len(kept),
            "scanned_rows": sum(int(e.get("rows", 0)) for e in kept),
            "scanned_bytes": sum(int(e.get("bytes", 0)) for e in kept),
            "pending_delete_files": len(snap.delete_entries),
        }

    def changelog_estimate(
        self, from_version: int, to_version: int | None = None
    ) -> dict:
        """Planner aid twin of :meth:`scan_estimate` for the CHANGE
        stream: how many rows/bytes would ``scan_changelog(from, to)``
        emit (upper bound), priced from manifest entries alone - zero
        data read, zero Spark jobs. Feeds the MV refresh cost chooser
        (r14): incremental maintenance only pays when the changelog x
        its join matches is smaller than re-reading the star, and that
        comparison must itself cost nothing.

        Per version, mirroring ``scan_changelog``'s cost model:
        content-preserving ops contribute 0; appends/MoR commits add
        the new data files' rows plus the new tombstone files' rows
        (each tombstone kills at most one row - an upper bound on the
        delete images); CoW rewrites add the removed files' rows plus
        the added files' rows (the symmetric difference can only be
        smaller). ``available=False`` (instead of raising) when a
        snapshot in the range has been expired - the caller must fall
        back to a full scan anyway."""
        snaps = {s.version: s for s in self.snapshots()}
        to_v = self.current_version() if to_version is None else to_version
        for v in range(from_version, to_v + 1):
            if v not in snaps:
                return {
                    "available": False,
                    "rows": None,
                    "bytes": None,
                    "commits": None,
                }
        rows = nbytes = commits = 0
        for v in range(from_version + 1, to_v + 1):
            s = snaps[v]
            prev_s = snaps[v - 1]
            if s.operation in (
                "replace", "alter", "create", "rewrite-manifests"
            ):
                continue
            prev_paths = {e["path"] for e in prev_s.manifest}
            added_data = [
                e for e in s.data_entries if e["path"] not in prev_paths
            ]
            removed = prev_paths - {e["path"] for e in s.manifest}
            commits += 1
            rows += sum(int(e.get("rows", 0)) for e in added_data)
            nbytes += sum(int(e.get("bytes", 0)) for e in added_data)
            if s.operation == "append" or not removed:
                new_dels = [
                    d
                    for d in s.delete_entries
                    if d["path"] not in prev_paths
                ]
                rows += sum(int(d.get("rows", 0)) for d in new_dels)
                nbytes += sum(int(d.get("bytes", 0)) for d in new_dels)
            else:
                prev_data = {
                    e["path"]: e
                    for e in prev_s.data_entries
                }
                rows += sum(
                    int(prev_data[p].get("rows", 0))
                    for p in removed
                    if p in prev_data
                )
                nbytes += sum(
                    int(prev_data[p].get("bytes", 0))
                    for p in removed
                    if p in prev_data
                )
        return {
            "available": True,
            "rows": rows,
            "bytes": nbytes,
            "commits": commits,
        }

    def scan_where_in(
        self,
        column: str,
        values,
        selected_fields: list[str] | None = None,
    ) -> DataFrame:
        """Multi-point lookup (``column IN (...)``): a file survives if
        ANY of the values could live in it - the union of the per-value
        point keeps, so every pruning tier applies per value (bucket
        transform, min/max stats, per-file bloom). The residual
        ``isin`` pushes into the surviving parquet scans as an In
        filter. The 100 TB shape of "fetch these N keys": N bucket
        probes touch ~N files, never the table."""
        vals = list(dict.fromkeys(values))
        snap = self.snapshot()
        if not vals:
            return self.scan(snapshot=snap, file_filter=lambda e: False)
        part = next(
            (p for p in snap.partition_spec if p.source == column), None
        )
        buckets: dict = {}
        if part is not None and part.transform == "bucket":
            # ONE job computes every value's bucket id; per-value
            # compute_bucket calls would serialize N driver round-trips
            src_type = self.schema[column].dataType.simpleString()
            n = part.n_buckets or 16
            rows = self.spark.createDataFrame(
                [(v,) for v in vals], f"v {src_type}"
            ).select(
                "v", F.pmod(F.hash(F.col("v")), F.lit(n)).alias("b")
            )
            buckets = {r["v"]: r["b"] for r in rows.collect()}
        keeps = []
        for v in vals:
            keeps.append(_range_keep(column, v, v, part, buckets.get(v)))
        df = self.scan(
            snapshot=snap, file_filter=lambda e: any(k(e) for k in keeps)
        )
        df = df.filter(F.col(column).isin(vals))
        if selected_fields:
            df = df.select(*selected_fields)
        return df

    def scan_join_pruned(
        self,
        column: str,
        keys: DataFrame,
        key_column: str | None = None,
        max_keys: int = 10_000,
        selected_fields: list[str] | None = None,
    ) -> DataFrame:
        """Runtime file pruning from a join's build side (the manifest-
        level analogue of Spark's dynamic partition pruning): before a
        fact ⋈ dim join, aggregate the dim side's join keys ONCE
        (min/max + exact distinct count) and prune this table's files
        with them - files that cannot contain any build-side key are
        never listed, let alone read.

        - distinct keys <= ``max_keys``: collect the values and take the
          per-value point path (``scan_where_in``: bucket probes,
          min/max stats, per-file blooms all apply per key);
        - more: prune by the [min, max] range only (zero driver state
          beyond two scalars).

        Returns the pruned PROBE-side scan; the caller performs the
        join, e.g.::

            pruned = fact.scan_join_pruned("order_key", dims)
            pruned.join(F.broadcast(dims), on="order_key")

        At 100 TB a selective dim filter typically makes the fact scan
        O(matching files) instead of O(table). The build side is
        evaluated by two Spark actions (agg, then collect of <=
        ``max_keys`` values) - pass a deterministic (or checkpointed)
        frame, same discipline as merge_into."""
        kc = key_column or column
        agg = keys.agg(
            F.min(kc).alias("lo"),
            F.max(kc).alias("hi"),
            F.countDistinct(kc).alias("nd"),
        ).first()
        if agg["lo"] is None:  # empty (or all-null) build side: no match
            return self.scan_where_in(column, [], selected_fields)
        if agg["nd"] <= max_keys:
            vals = [
                r[0]
                for r in keys.select(kc).where(F.col(kc).isNotNull())
                .distinct().collect()
            ]
            return self.scan_where_in(column, vals, selected_fields)
        return self.scan_where(column, agg["lo"], agg["hi"], selected_fields)

    def scan_lineage(
        self,
        snapshot: Snapshot | None = None,
        file_filter=None,
    ) -> DataFrame:
        """Row lineage (Iceberg v3): the logical rows plus

        - ``_row_id``: a stable table-lifetime identity (long). Row N of
          a data file has ``entry.first_row_id + N``; files rewritten by
          compaction or merge-on-read UPDATE carry MATERIALIZED ids (a
          physical ``__row_id`` column), so the identity survives
          rewrites that preserve the row.
        - ``_last_updated_version``: the snapshot that last wrote the
          row (the entry's commit sequence, or the materialized
          ``__added_v``).

        Stability contract: ids survive appends, merge-on-read DELETE
        (survivors keep their file position), merge-on-read UPDATE
        (ids are materialized into the re-appended rows), compaction /
        z-order rewrites (materialized), carried-by-reference files
        under partial rewrites, and snapshot expiry. Copy-on-write
        DML assigns FRESH ids to the rows of files it rewrites - use
        merge-on-read mode when downstream consumers track row identity.

        Pending merge-on-read tombstones are applied (survivors keep
        their ids). Raises only for files committed by a pre-lineage
        writer (no ``first_row_id``) - rewrite them via compaction to
        assign ids."""
        from pyspark.sql.types import LongType, StructField

        snap = snapshot or self.snapshot()
        entries = snap.data_entries
        if file_filter is not None:
            entries = [e for e in entries if file_filter(e)]
        pre = [
            e
            for e in entries
            if "first_row_id" not in e and not e.get("lineage_cols")
        ]
        if pre:
            raise ValueError(
                f"{len(pre)} data file(s) were committed before row "
                "lineage existed and carry no first_row_id; rewrite them "
                "(maintenance.compact) to materialize ids"
            )
        phys = [e for e in entries if e.get("lineage_cols")]
        derived = [e for e in entries if not e.get("lineage_cols")]
        deletes = snap.delete_entries
        schema_cols = [f["name"] for f in snap.schema_json["fields"]]
        parts: list[DataFrame] = []
        if derived:
            df = (
                self._apply_deletes(derived, deletes, snap, with_pos=True)
                if deletes
                else self._read_data(derived, snap, with_pos=True)
            )
            mapping = self.spark.createDataFrame(
                [
                    (e["path"], int(e["first_row_id"]), int(e.get("seq", 0)))
                    for e in derived
                ],
                "__file_rel string, __frid long, __seq long",
            )
            df = df.join(F.broadcast(mapping), on="__file_rel")
            parts.append(
                df.select(
                    *schema_cols,
                    (F.col("__frid") + F.col("__pos")).alias("_row_id"),
                    F.col("__seq").alias("_last_updated_version"),
                )
            )
        if phys:
            extra = [
                StructField("__row_id", LongType(), True),
                StructField("__added_v", LongType(), True),
            ]
            df = (
                self._apply_deletes(
                    phys, deletes, snap, extra_fields=extra
                )
                if deletes
                else self._read_data(phys, snap, extra_fields=extra)
            )
            parts.append(
                df.select(
                    *schema_cols,
                    F.col("__row_id").alias("_row_id"),
                    F.col("__added_v").alias("_last_updated_version"),
                )
            )
        if not parts:
            schema = StructType.fromJson(snap.schema_json)
            empty = self.spark.createDataFrame([], schema)
            return empty.select(
                "*",
                F.lit(None).cast("long").alias("_row_id"),
                F.lit(None).cast("long").alias("_last_updated_version"),
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def scan_incremental(
        self,
        from_version: int,
        to_version: int | None = None,
        selected_fields: list[str] | None = None,
    ) -> DataFrame:
        """Rows appended strictly AFTER ``from_version``, up to
        ``to_version`` (default: current) - Iceberg's incremental append
        scan. Downstream consumers tail a table by remembering the last
        version they processed; each poll reads ONLY the data files new
        appends added, never a full re-scan.

        Content-preserving snapshots in the range (``replace``
        compactions, ``alter`` schema/spec evolution) contribute nothing:
        their rewrites carry no new logical rows, and the pre-rewrite
        files they replaced stay readable until snapshot expiry.
        ``delete``/``merge`` snapshots raise - row removals cannot be
        expressed as an append-only diff (same contract as Iceberg's
        incremental scan). An expired snapshot inside the range also
        raises: the consumer fell too far behind and must full-scan."""
        import dataclasses

        snaps = {s.version: s for s in self.snapshots()}
        to_v = self.current_version() if to_version is None else to_version
        # Collect the added manifest ENTRIES at each append (not just a
        # path filter over to_v's manifest: a later compaction in the
        # range rewrites appended files out of the current manifest, but
        # their rows still belong to the diff and the pre-rewrite files
        # remain readable until expiry).
        added_entries: list[dict] = []
        prev_paths: set[str] = set()
        for v in range(from_version, to_v + 1):
            if v not in snaps:
                raise ValueError(
                    f"snapshot v{v} has been expired; incremental read "
                    f"from v{from_version} is no longer possible - fall "
                    "back to a full scan"
                )
            paths = {e["path"] for e in snaps[v].manifest}
            if v > from_version:
                op = snaps[v].operation
                if op == "append":
                    added_entries.extend(
                        e for e in snaps[v].manifest if e["path"] not in prev_paths
                    )
                elif op not in (
                    "replace", "alter", "create", "rewrite-manifests"
                ):
                    raise ValueError(
                        f"v{v} is a {op!r} snapshot: row removals cannot "
                        "be expressed as an append-only diff - use "
                        "scan_changelog for ranges containing deletes/"
                        "updates"
                    )
            prev_paths = paths
        inc_snap = dataclasses.replace(snaps[to_v], manifest=added_entries)
        return self.scan(selected_fields=selected_fields, snapshot=inc_snap)

    def scan_changelog_between(
        self, from_timestamp_ms: int, to_timestamp_ms: int | None = None
    ) -> DataFrame:
        """Timestamp-range CDC sugar (Delta's
        ``table_changes(..., startTs, endTs)`` form): resolve each
        instant to the latest snapshot at-or-before it (time-travel
        rules) and delegate to :meth:`scan_changelog` - changes
        committed AFTER ``from`` up to and including ``to``."""
        frm = self.snapshot_as_of(from_timestamp_ms).version
        to = (
            self.snapshot_as_of(to_timestamp_ms).version
            if to_timestamp_ms is not None
            else None
        )
        return self.scan_changelog(frm, to)

    def scan_changelog(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level change stream between two versions (Iceberg's
        changelog scan): every row carries ``_change_type``
        ('insert' | 'delete') and ``_change_version`` (the snapshot that
        produced the change). Unlike ``scan_incremental`` this handles
        ranges containing merge-on-read deletes/updates - the CDC
        consumer a MoR table actually has. An UPDATE emits the old row
        as 'delete' and the new row as 'insert' (Iceberg's pre/post
        image pairs, flattened); a row inserted then deleted inside the
        range emits both events.

        Cost model (what a 1000-executor consumer pays per poll):

        - ``append``: O(new files) - read straight off the added
          manifest entries, no diff computed.
        - merge-on-read ``delete``/``update``: O(new files + tombstones
          + the named/claimed files) - deleted rows are recovered by
          semi-joining the new tombstones against the parent's live
          view, pruned to the files position tombstones name.
        - copy-on-write ``delete``/``update``/``merge`` (full or
          partial rewrites): O(rewritten files, read twice) - the
          changed rows are the symmetric difference of the removed and
          added files' live rows (``exceptAll`` both ways). Untouched
          carried-over files are never read.

        All slices are conformed to ``to_version``'s schema (evolution
        mid-range reads missing columns as null, rename lineage
        resolved by ``_read_data``). Raises if a snapshot in the range
        has been expired."""
        snaps = {s.version: s for s in self.snapshots()}
        to_v = self.current_version() if to_version is None else to_version
        for v in range(from_version, to_v + 1):
            if v not in snaps:
                raise ValueError(
                    f"snapshot v{v} has been expired; changelog read "
                    f"from v{from_version} is no longer possible - fall "
                    "back to a full scan"
                )
        final = snaps[to_v]
        final_schema = StructType.fromJson(final.schema_json)

        def conform(df: DataFrame) -> DataFrame:
            sel = []
            for f in final_schema.fields:
                if f.name in df.columns:
                    sel.append(F.col(f.name).cast(f.dataType).alias(f.name))
                else:
                    sel.append(F.lit(None).cast(f.dataType).alias(f.name))
            return df.select(*sel)

        def stamp(df: DataFrame, ctype: str, v: int) -> DataFrame:
            return conform(df).select(
                "*",
                F.lit(ctype).alias("_change_type"),
                F.lit(v).alias("_change_version"),
            )

        pieces: list[DataFrame] = []
        for v in range(from_version + 1, to_v + 1):
            s = snaps[v]
            prev_s = snaps[v - 1]
            if s.operation in (
                "replace", "alter", "create", "rewrite-manifests"
            ):
                continue  # content-preserving: no logical row changes
            prev_paths = {e["path"] for e in prev_s.manifest}
            added_data = [
                e for e in s.data_entries if e["path"] not in prev_paths
            ]
            removed = prev_paths - {e["path"] for e in s.manifest}
            if s.operation == "append" or not removed:
                # append, or a merge-on-read commit (tombstones + new
                # files, nothing removed): inserts read directly
                if added_data:
                    pieces.append(
                        stamp(self._read_data(added_data, final), "insert", v)
                    )
                new_dels = [
                    d for d in s.delete_entries if d["path"] not in prev_paths
                ]
                if new_dels:
                    pieces.append(
                        stamp(
                            self._deleted_rows(prev_s, new_dels), "delete", v
                        )
                    )
                continue
            # copy-on-write rewrite (CoW delete/update, merge): diff the
            # touched files' live rows. Carried-over files appear on
            # both sides identically, so restrict each side to its
            # changed paths before the exceptAll.
            added_paths = {e["path"] for e in added_data}
            prev_live = conform(
                self.scan(
                    snapshot=prev_s,
                    file_filter=lambda e: e["path"] in removed,
                )
            )
            cur_live = conform(
                self.scan(
                    snapshot=s,
                    file_filter=lambda e: e["path"] in added_paths,
                )
            )
            pieces.append(
                stamp(prev_live.exceptAll(cur_live), "delete", v)
            )
            pieces.append(
                stamp(cur_live.exceptAll(prev_live), "insert", v)
            )
        if not pieces:
            empty = self.spark.createDataFrame([], final_schema)
            return stamp(empty, "insert", to_v).limit(0)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def scan_changelog_with_images(
        self,
        from_version: int,
        to_version: int | None = None,
        *,
        key: str | list[str],
    ) -> DataFrame:
        """Delta-CDF-style changelog: like ``scan_changelog`` but a key
        whose row was BOTH deleted and inserted by the same snapshot is
        classified as an update - the old row becomes
        ``update_preimage`` and the new row ``update_postimage``
        (``_change_type`` in {insert, delete, update_preimage,
        update_postimage}). Pure inserts/deletes keep their type.

        ``key`` is the business key whose identity defines "the same
        row" across the change (the engine's position deletes have no
        inherent row identity). If one commit changes SEVERAL rows of
        one key, all its deletes become preimages and all its inserts
        postimages (set semantics - per-row pairing would be arbitrary).

        Cost: scan_changelog's cost + ONE window shuffle on
        (key, _change_version) - no joins, no driver state; the pairing
        runs wherever the changelog rows already are."""
        keys = [key] if isinstance(key, str) else list(key)
        cl = self.scan_changelog(from_version, to_version)
        w = PW.partitionBy(*keys, "_change_version")
        n_del = F.sum(
            F.when(F.col("_change_type") == "delete", 1).otherwise(0)
        ).over(w)
        n_ins = F.sum(
            F.when(F.col("_change_type") == "insert", 1).otherwise(0)
        ).over(w)
        is_upd = (n_del > 0) & (n_ins > 0)
        return cl.withColumn(
            "_change_type",
            F.when(
                is_upd & (F.col("_change_type") == "delete"),
                F.lit("update_preimage"),
            )
            .when(
                is_upd & (F.col("_change_type") == "insert"),
                F.lit("update_postimage"),
            )
            .otherwise(F.col("_change_type")),
        )

    def _deleted_rows(
        self, parent: Snapshot, new_dels: list[dict]
    ) -> DataFrame:
        """Rows of ``parent``'s live view claimed by freshly-committed
        tombstones - the 'delete' side of a merge-on-read changelog
        step. Position tombstones prune the read to the files they
        name; equality tombstones semi-join their key sets (all parent
        files predate the delete's sequence number, so every file is
        claimable - same invariant ``_apply_deletes`` relies on)."""
        pos_dels = [d for d in new_dels if d.get("content") == "pos-del"]
        eq_dels = [d for d in new_dels if d.get("content") == "eq-del"]
        to_current: dict[str, str] = {}
        for f in parent.schema_json["fields"]:
            for old in (f.get("metadata") or {}).get("renamed_from", []):
                to_current[old] = f["name"]

        def parent_live(entries: list[dict], with_pos: bool) -> DataFrame:
            if parent.delete_entries:
                return self._apply_deletes(
                    entries, parent.delete_entries, parent, with_pos=with_pos
                )
            return self._read_data(entries, parent, with_pos=with_pos)

        out: DataFrame | None = None
        if pos_dels:
            paths = [os.path.join(self.location, d["path"]) for d in pos_dels]
            keys = self.spark.read.parquet(*paths).select(
                F.col("file_path").alias("__file_rel"),
                F.col("pos").alias("__pos"),
            )
            targets = {
                r["__file_rel"]
                for r in keys.select("__file_rel").distinct().collect()
            }
            named = [e for e in parent.data_entries if e["path"] in targets]
            df = (
                parent_live(named, with_pos=True)
                .join(
                    F.broadcast(keys.distinct()),
                    on=["__file_rel", "__pos"],
                    how="left_semi",
                )
                .drop("__file_rel", "__pos")
            )
            out = df
        if eq_dels:
            df = parent_live(parent.data_entries, with_pos=False)
            by_cols: dict[tuple, list[dict]] = {}
            for d in eq_dels:
                by_cols.setdefault(tuple(d["equality_cols"]), []).append(d)
            matched: DataFrame | None = None
            for cols, dels in by_cols.items():
                paths = [os.path.join(self.location, d["path"]) for d in dels]
                keys = self.spark.read.parquet(*paths)
                cur_cols = [to_current.get(c, c) for c in cols]
                for old, new in zip(cols, cur_cols):
                    if old != new:
                        keys = keys.withColumnRenamed(old, new)
                keys = keys.select(*cur_cols).distinct()
                if sum(d.get("bytes", 0) for d in dels) < 64 * 1024 * 1024:
                    keys = F.broadcast(keys)
                part = df.join(keys, on=cur_cols, how="left_semi")
                matched = part if matched is None else matched.unionByName(part)
            out = matched if out is None else out.unionByName(matched)
        assert out is not None
        return out

    # -- write-audit-publish staging (Iceberg WAP) ---------------------------

    def _staged_dir(self) -> str:
        return os.path.join(self.metadata_dir, "staged")

    def _staged_marker(self, staged_id: str) -> str:
        return os.path.join(self._staged_dir(), f"{staged_id}.json")

    def stage_append(
        self,
        df: DataFrame,
        bloom_cols: list[str] | None = None,
        staged_id: str | None = None,
        optimize_write: bool = False,
    ) -> str:
        """Write an append's data files WITHOUT committing a snapshot
        (Iceberg's write-audit-publish pattern). The staged rows are
        invisible to every reader; audit them via ``staged_scan``, then
        ``publish_staged`` (a metadata-only commit - the data is already
        on disk) or ``abort_staged`` (deletes the files). At scale this
        is how a pipeline gates a multi-TB batch behind quality checks
        without either double-writing it or letting consumers see it
        early. Staged files are protected from orphan GC by their marker
        until published or aborted. The batch passes the same write-time
        rules as ``append`` (``_prepare_append``: generated and identity
        fill, writer schema, CHECK constraints, ``optimize_write``
        distribution), so a staged batch can publish nothing that
        ``append`` would refuse.

        ``staged_id`` lets a coordinator PRE-ALLOCATE the id and record
        its intent durably BEFORE the write (multi-table transactions,
        r12): a crash mid-staging then leaves only ordinary orphans
        (no marker yet), never a GC-protected staged batch that no
        record names."""
        if staged_id is not None:
            if not staged_id:
                raise ValueError("staged_id must be a non-empty string")
            if os.path.exists(self._staged_marker(staged_id)):
                # a silent overwrite would orphan the prior batch's
                # data files AND publish the wrong batch under the old
                # intent (review r12)
                raise ValueError(
                    f"staged id {staged_id!r} already exists"
                )
        df, spec = self._prepare_append(df, optimize_write=optimize_write)
        entries = self._write_files(df, spec, bloom_cols=tuple(bloom_cols or ()))
        staged_id = staged_id or uuid.uuid4().hex[:16]
        os.makedirs(self._staged_dir(), exist_ok=True)
        doc = {
            "id": staged_id,
            "kind": "append",
            "created_ms": int(time.time() * 1000),
            "entries": entries,
        }
        atomic_write(self._staged_marker(staged_id), json.dumps(doc))
        return staged_id

    def stage_replace(
        self,
        added: list[dict],
        removed_paths: set[str],
        operation: str,
        summary: dict | None = None,
        staged_id: str | None = None,
        base_version: int | None = None,
    ) -> str:
        """Stage a REPLACE delta (a CoW UPDATE/DELETE's output) without
        committing it (r14, VERDICT r13 #4 - row-DML inside multi-table
        transactions): the rewritten files in ``added`` are already on
        disk (``_write_files``), the files they supersede are named in
        ``removed_paths``, and both halves wait for ``publish_staged``
        to land as ONE ``commit_delta``. Until then readers see the old
        files, the new ones are GC-protected by the marker, and
        ``abort_staged`` discards only the new ones - the originals
        were never touched, so a rollback is physically a no-op on the
        table.

        ``base_version`` records the snapshot the rewrite was computed
        against; publish validates SNAPSHOT-ISOLATION style (Iceberg's
        overwrite default): concurrent APPENDS rebase fine (they only
        add files), but a concurrent writer that removed/rewrote any of
        ``removed_paths`` conflicts - committing would resurrect or
        double-apply rows."""
        if staged_id is not None:
            if not staged_id:
                raise ValueError("staged_id must be a non-empty string")
            if os.path.exists(self._staged_marker(staged_id)):
                raise ValueError(
                    f"staged id {staged_id!r} already exists"
                )
        staged_id = staged_id or uuid.uuid4().hex[:16]
        os.makedirs(self._staged_dir(), exist_ok=True)
        doc = {
            "id": staged_id,
            "kind": "replace",
            "created_ms": int(time.time() * 1000),
            "entries": added,
            "removed_paths": sorted(removed_paths),
            "operation": operation,
            "summary": summary or {},
            "base_version": base_version,
        }
        atomic_write(self._staged_marker(staged_id), json.dumps(doc))
        return staged_id

    def list_staged(self) -> list[str]:
        sdir = self._staged_dir()
        if not os.path.isdir(sdir):
            return []
        return sorted(
            name[:-5]
            for name in os.listdir(sdir)
            if name.endswith(".json") and not name.startswith(".")
        )

    def staged_doc(self, staged_id: str) -> dict:
        """The full staged-commit record: ``kind`` is 'append' or
        'replace' (carries removed_paths/operation/base_version
        alongside the added entries)."""
        try:
            with open(self._staged_marker(staged_id)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(f"no staged commit {staged_id!r}") from None

    def staged_entries(self, staged_id: str) -> list[dict]:
        return self.staged_doc(staged_id)["entries"]

    def staged_paths(self) -> set[str]:
        """Data files held by any staged (unpublished) commit - excluded
        from orphan GC regardless of age: an audit may legitimately take
        longer than the GC grace period."""
        return {
            e["path"] for sid in self.list_staged() for e in self.staged_entries(sid)
        }

    def staged_scan(self, staged_id: str) -> DataFrame:
        """Read ONLY the staged files - the audit's input. Current-table
        deletes don't apply (the staged rows postdate them)."""
        return self._read_data(self.staged_entries(staged_id), self.snapshot())

    def staged_replace_conflict(self, doc: dict, snap: Snapshot) -> str | None:
        """Snapshot-isolation validation for a staged REPLACE against
        ``snap``: returns a human-readable conflict reason, or None when
        publishing is safe. Two hazards (review r14):

        - a superseded path no longer live: a concurrent writer
          rewrote/removed it, so committing the rewrite would resurrect
          that writer's deleted rows or double-apply ours;
        - ANY merge-on-read tombstone committed after the rewrite's
          base version: the published rewrite's files get a sequence
          number ABOVE the tombstones' horizon, so rows those
          tombstones deleted from the superseded files would silently
          reappear (tombstone-only commits remove no paths, making
          them invisible to the path check alone). Conservative on
          position deletes - their target paths live in file CONTENT,
          which this metadata-only check must not read."""
        removed = set(doc.get("removed_paths", []))
        live = {e["path"] for e in snap.manifest}
        missing = removed - live
        if missing:
            return (
                f"supersedes {len(missing)} file(s) a concurrent "
                "writer already removed/rewrote (e.g. "
                f"{sorted(missing)[:3]})"
            )
        bv = doc.get("base_version")
        bv = -1 if bv is None else int(bv)
        new_dels = [
            e
            for e in snap.delete_entries
            if int(e.get("seq", 0)) > bv
        ]
        if new_dels:
            return (
                f"{len(new_dels)} merge-on-read tombstone file(s) "
                f"committed after the rewrite's base v{bv}; "
                "re-publishing the rewritten rows above the "
                "tombstones' sequence horizon would resurrect "
                "deleted rows"
            )
        return None

    def publish_staged(
        self,
        staged_id: str,
        max_retries: int = 5,
        extra_summary: dict | None = None,
    ) -> Snapshot:
        """Make a staged append visible: one metadata commit, zero data
        movement. Rebase-and-retry like any append; sequence numbers are
        stamped at PUBLISH time, so tombstones committed while the batch
        sat in audit don't claim its rows. ``extra_summary`` merges
        extra stamps into the snapshot summary (multi-table
        transactions stamp their ``txn_id``); ``published_stage`` is
        always stamped and is the idempotence evidence recovery reads.

        A staged REPLACE (``stage_replace``) publishes as one
        ``commit_delta`` after a snapshot-isolation check
        (``staged_replace_conflict``): every superseded path must still
        be live and no merge-on-read tombstones may have landed since
        the rewrite's base. The check-and-commit is a CAS loop
        (``base_version`` = the checked snapshot, retried like the
        append path): a benign concurrent append rebases on retry, a
        real conflict raises ``StagedReplaceConflict``."""
        doc = self.staged_doc(staged_id)
        stamp = {
            **(extra_summary or {}),
            "published_stage": staged_id,
        }
        if doc["kind"] == "replace":
            last_exc: Exception | None = None
            for _ in range(max(1, max_retries)):
                cur = self.snapshot()
                why = self.staged_replace_conflict(doc, cur)
                if why:
                    raise StagedReplaceConflict(
                        f"staged replace {staged_id!r} {why}; the "
                        "rewrite must be recomputed against the "
                        "current snapshot"
                    )
                try:
                    # base_version pins the commit to the EXACT
                    # snapshot the conflict check read - a writer
                    # slipping between check and commit bounces to a
                    # re-check, never a silent double-apply (review r14)
                    snap = self.commit_delta(
                        added=doc["entries"],
                        removed_paths=set(doc.get("removed_paths", [])),
                        operation=doc.get("operation", "replace"),
                        summary={**doc.get("summary", {}), **stamp},
                        base_version=cur.version,
                    )
                    break
                except CommitConflict as exc:
                    last_exc = exc  # concurrent commit: re-check, retry
            else:
                raise last_exc
        else:
            snap = self._commit_append(
                doc["entries"],
                max_retries=max_retries,
                extra_summary=stamp,
            )
        try:
            os.remove(self._staged_marker(staged_id))
        except FileNotFoundError:
            pass
        return snap

    def abort_staged(self, staged_id: str) -> int:
        """Discard a staged append: delete its data files and marker,
        and each batch directory they lived in once nothing but Spark's
        ``_SUCCESS`` and ``.crc`` side files is left in it (orphan GC
        never collects those). Returns the number of files removed."""
        entries = self.staged_entries(staged_id)
        n = 0
        batch_dirs = set()
        for e in entries:
            path = os.path.join(self.location, e["path"])
            rel = os.path.relpath(path, self.data_dir)
            if os.sep in rel and not rel.startswith(os.pardir):
                batch_dirs.add(os.path.join(self.data_dir, rel.split(os.sep)[0]))
            try:
                os.remove(path)
                n += 1
            except FileNotFoundError:
                pass
        for d in batch_dirs:
            if all(
                fn == "_SUCCESS" or fn.endswith(".crc")
                for _root, _dirs, files in os.walk(d)
                for fn in files
            ):
                shutil.rmtree(d, ignore_errors=True)
        try:
            os.remove(self._staged_marker(staged_id))
        except FileNotFoundError:
            pass
        return n

    # -- table properties ----------------------------------------------------

    def _properties_path(self) -> str:
        return os.path.join(self.metadata_dir, "properties.json")

    def properties(self) -> dict[str, str]:
        """Table properties (Iceberg's string-keyed config surface, e.g.
        ``history.expire.min-snapshots-to-keep``). Stored next to refs;
        maintenance ops read their defaults from here."""
        try:
            with open(self._properties_path()) as f:
                return {str(k): str(v) for k, v in json.load(f).items()}
        except FileNotFoundError:
            return {}

    def set_properties(self, **props: Any) -> dict[str, str]:
        return self.replace_properties(add=props)

    def add_constraint(self, name: str, expr: str) -> dict[str, str]:
        """Delta-style CHECK constraint: a SQL predicate every INCOMING
        row must satisfy from now on (e.g. ``"price > 0"``,
        ``"ts IS NOT NULL"``). Stored in table properties
        (``constraint.<name>``); ``append`` evaluates all constraints in
        ONE aggregation over the batch and refuses the commit if any
        row violates any of them. Existing data is not re-checked
        (add constraints before loading, or validate separately)."""
        from pyspark.sql import functions as F

        # force analysis against the table schema: a bad expression (or
        # a reference to a nonexistent column) fails HERE, not on the
        # first append (Spark 4 parses F.expr lazily)
        try:
            probe = self.scan().limit(0).filter(F.expr(expr))
            probe._jdf.queryExecution().analyzed()
        except Exception as e:
            raise ValueError(
                f"invalid constraint expression {expr!r}: {e}"
            ) from e
        return self.set_properties(**{f"constraint.{name}": expr})

    def drop_constraint(self, name: str) -> dict[str, str]:
        return self.unset_properties(f"constraint.{name}")

    def constraints(self) -> dict[str, str]:
        return {
            k.removeprefix("constraint."): v
            for k, v in self.properties().items()
            if k.startswith("constraint.")
        }

    def set_generated_column(self, name: str, expr: str) -> dict[str, str]:
        """Delta-style ``GENERATED ALWAYS AS (expr)``: declare ``name``
        as computed from the row's other columns. ``append`` FILLS the
        column when the incoming batch omits it (cast to the declared
        type) and every write path ENFORCES the invariant when it is
        present (a row where ``name`` is not null-safe-equal to the
        expression refuses the commit - Delta's writer contract, which
        is what lets a reader trust ``WHERE event_date = ...`` pruning
        on a generated partition column).

        Declare while the table is EMPTY (Delta allows generated
        columns at creation only): existing rows were never filled, so
        the invariant could not hold for them."""
        from pyspark.sql import functions as F

        if self.snapshot().data_entries:
            raise ValueError(
                f"generated column {name!r} must be declared while the "
                "table is empty (existing rows were never computed "
                "from the expression)"
            )
        names = {f.name for f in self.schema.fields}
        if name not in names:
            raise ValueError(
                f"generated column {name!r} is not in the table schema "
                f"(add the column first; have {sorted(names)})"
            )
        self.validate_generation_expr(name, expr)
        return self.set_properties(**{f"generated.{name}": expr})

    def validate_generation_expr(self, name: str, expr: str) -> None:
        """Every gate a generation expression must pass, checkable
        BEFORE any commit (the ALTER DDL runs this ahead of its
        add-column commit so a rejected declaration leaves no dangling
        column): the expression analyzes against the table, does not
        reference the generated column itself, and does not reference
        ANOTHER generated column (Delta's rule - a chain would make
        the fill order batch-sensitive)."""
        if re.search(rf"\b{re.escape(name)}\b", expr):
            raise ValueError(
                f"generated column {name!r} cannot reference itself"
            )
        for other in self.generated_columns():
            if other != name and re.search(
                rf"\b{re.escape(other)}\b", expr
            ):
                raise ValueError(
                    f"generated column {name!r} cannot reference "
                    f"another generated column ({other!r})"
                )
        try:
            probe = self.scan().limit(0).select(F.expr(expr))
            probe._jdf.queryExecution().analyzed()
        except Exception as e:
            raise ValueError(
                f"invalid generation expression {expr!r}: {e}"
            ) from e

    def generated_columns(self) -> dict[str, str]:
        return {
            k.removeprefix("generated."): v
            for k, v in self.properties().items()
            if k.startswith("generated.")
        }

    def set_identity_column(
        self, name: str, start: int = 1, step: int = 1
    ) -> dict[str, str]:
        """Delta's ``GENERATED ALWAYS AS IDENTITY``: the engine assigns
        ``name`` on append; a batch CARRYING the column is refused
        (ALWAYS semantics - user values would collide with the
        allocator). Values are unique and monotonically increasing in
        commit order but MAY HAVE GAPS (Delta's documented contract):
        each append RESERVES a contiguous range above the stored
        high watermark (``identity.<name>.high``) sized by one
        counting pass, then assigns it distributively via
        per-partition offsets - no global sort, no per-row driver
        traffic, which is what survives a 1000-executor append; a
        failed append burns its reserved range. Rewrite
        paths (compaction, CoW DML, MERGE row-replace) carry existing
        values through untouched.

        Declare while the table is EMPTY on a long column."""
        from pyspark.sql.types import LongType

        if self.snapshot().data_entries:
            raise ValueError(
                f"identity column {name!r} must be declared while the "
                "table is empty"
            )
        field = next(
            (f for f in self.schema.fields if f.name == name), None
        )
        if field is None:
            raise ValueError(
                f"identity column {name!r} is not in the table schema"
            )
        if not isinstance(field.dataType, LongType):
            raise ValueError(
                f"identity column {name!r} must be BIGINT, is "
                f"{field.dataType.simpleString()}"
            )
        if int(step) == 0:
            raise ValueError("identity step cannot be 0")
        out = self.set_properties(
            **{
                f"identity.{name}.start": str(int(start)),
                f"identity.{name}.step": str(int(step)),
                f"identity.{name}.high": str(int(start) - int(step)),
            }
        )
        # a re-declared name (dropped column, emptied table) must not
        # inherit a stale chain watermark - commit a reset entry
        if self._identity_chain_head()[1].get(name) is not None:
            self._identity_chain_commit(
                lambda cur: {**cur, name: int(start) - int(step)}
            )
        return out

    def identity_columns(self) -> dict[str, dict]:
        """Declared identity columns with their AUTHORITATIVE high
        watermarks: the reservation chain head wins over the (mirror)
        ``identity.<name>.high`` property - see
        :meth:`_identity_chain_commit`."""
        props = self.properties()
        out: dict[str, dict] = {}
        for k, v in props.items():
            if k.startswith("identity.") and k.endswith(".step"):
                name = k[len("identity.") : -len(".step")]
                out[name] = {
                    "step": int(v),
                    "start": int(props.get(f"identity.{name}.start", 1)),
                    "high": int(
                        props.get(
                            f"identity.{name}.high",
                            int(props.get(f"identity.{name}.start", 1))
                            - int(v),
                        )
                    ),
                }
        if out:
            _seq, chain = self._identity_chain_head()
            for name, high in chain.items():
                if name in out:
                    out[name]["high"] = int(high)
        return out

    # -- identity reservation chain (CAS watermark, ADVICE r9) --------------

    def _identity_rsv_dir(self) -> str:
        return os.path.join(self.metadata_dir, "identity-rsv")

    def _identity_chain_head(self) -> tuple[int, dict[str, int]]:
        """(seq, highs) of the newest reservation commit; (0, {}) when
        the chain is empty (pre-chain tables fall back to the
        ``identity.<name>.high`` property)."""
        for _ in range(10):
            try:
                names = os.listdir(self._identity_rsv_dir())
            except FileNotFoundError:
                return 0, {}
            best = 0
            for n in names:
                if n.startswith("r") and n.endswith(".json"):
                    try:
                        best = max(best, int(n[1:-5]))
                    except ValueError:
                        pass
            if not best:
                return 0, {}
            try:
                with open(
                    os.path.join(self._identity_rsv_dir(), f"r{best}.json")
                ) as f:
                    return best, {
                        k: int(v) for k, v in json.load(f).items()
                    }
            except FileNotFoundError:
                # pruned between listdir and open - a NEWER head exists
                # by the prune invariant (only entries behind head are
                # removed); re-list and it shows up
                continue
        raise CommitConflict(
            f"identity reservation chain unreadable at {self.location}"
        )

    def _identity_chain_commit(self, advance) -> dict[str, int]:
        """CAS-advance the identity watermarks: ``advance(current)`` maps
        the merged current highs (chain head over props) to the new
        highs; the commit is a hard-link claim of ``r<seq+1>.json``
        carrying the FULL post-commit map, so exactly one writer wins
        each link and a loser re-reads and retries - two concurrent
        appends can never reserve from the same watermark (the
        unversioned-props read-modify-write raced; ADVICE r9). A crash
        after the link burns the reserved range (a gap, inside the
        documented identity contract) and blocks nobody. Returns the
        PRE-commit highs (the reservation bases)."""
        os.makedirs(self._identity_rsv_dir(), exist_ok=True)
        for _ in range(200):
            seq, chain = self._identity_chain_head()
            props = self.identity_columns()
            cur = {
                n: int(chain.get(n, s["high"])) for n, s in props.items()
            }
            new = {n: int(v) for n, v in advance(dict(cur)).items()}
            dst = os.path.join(self._identity_rsv_dir(), f"r{seq + 1}.json")
            try:
                atomic_write(dst, json.dumps(new), exclusive=True)
            except FileExistsError:
                continue  # lost the link race - re-read, recompute
            # mirror into props for inspect/readers (best-effort: the
            # chain stays authoritative, a stale mirror is cosmetic)
            try:
                self.set_properties(
                    **{f"identity.{n}.high": str(v) for n, v in new.items()}
                )
            except OSError:
                pass
            # prune far behind head; head readers re-list on a miss
            for k in range(max(1, seq - 40), seq - 20):
                try:
                    os.unlink(
                        os.path.join(self._identity_rsv_dir(), f"r{k}.json")
                    )
                except FileNotFoundError:
                    pass
            return cur
        raise CommitConflict(
            f"identity reservation contention at {self.location}"
        )

    def _reserve_identity(self, n_rows: int) -> dict[str, int]:
        """Reserve ``n_rows`` contiguous identity values per column;
        returns the base highs the batch assigns from."""
        ids = self.identity_columns()
        return self._identity_chain_commit(
            lambda cur: {
                n: cur[n] + ids[n]["step"] * int(n_rows) for n in cur
            }
        )

    def _reserve_identity_epoch(
        self, tag: str, n_rows: int
    ) -> dict[str, int]:
        """Exactly-once identity reservation for a streaming epoch: the
        first attempt CAS-reserves and RECORDS the bases under ``tag``
        (``<query-id>:<epoch-id>``); a crash-replay of the same epoch
        reuses the recorded range instead of burning a new one, so the
        assigned values are deterministic across replays. A replay
        whose batch size differs (a fresh checkpoint re-cutting epochs)
        cannot reuse the undersized range - it reserves fresh and the
        recorded range becomes a gap (within the identity contract)."""
        import hashlib

        os.makedirs(self._identity_rsv_dir(), exist_ok=True)
        safe = hashlib.sha256(tag.encode()).hexdigest()[:24]
        path = os.path.join(
            self._identity_rsv_dir(), f"epoch-{safe}.json"
        )
        try:
            with open(path) as f:
                rec = json.load(f)
            if int(rec.get("__n_rows", -1)) == int(n_rows):
                return {
                    k: int(v)
                    for k, v in rec.items()
                    if not k.startswith("__")
                }
        except FileNotFoundError:
            pass
        base = self._reserve_identity(n_rows)
        # __query fingerprints the stream so maintenance GC can keep a
        # per-QUERY floor of newest records (review r11: a global floor
        # let a busy sibling stream age out an idle stream's replay
        # record); the tag is "<query-id>:<epoch-id>", query ids are
        # UUIDs (no colons)
        qhash = hashlib.sha256(
            tag.rsplit(":", 1)[0].encode()
        ).hexdigest()[:16]
        rec = {**base, "__n_rows": int(n_rows), "__query": qhash}
        try:
            # exactly one attempt records the epoch
            atomic_write(path, json.dumps(rec), exclusive=True)
        except FileExistsError:
            # a concurrent twin of this epoch recorded first: use ITS
            # range (ours is burned) so both attempts assign identically
            with open(path) as f:
                rec = json.load(f)
            if int(rec.get("__n_rows", -1)) == int(n_rows):
                return {
                    k: int(v)
                    for k, v in rec.items()
                    if not k.startswith("__")
                }
            return base  # size-mismatched record: keep our fresh range
        # bound the record directory: Spark only ever replays the LAST
        # epoch, so records far behind are dead weight - without this a
        # long-running stream would grow one file per micro-batch
        # forever and every chain-head read would pay the listdir
        try:
            eps = [
                os.path.join(self._identity_rsv_dir(), n)
                for n in os.listdir(self._identity_rsv_dir())
                if n.startswith("epoch-") or n.startswith(".tmp.")
            ]
            if len(eps) > 256:
                eps.sort(key=lambda p: os.stat(p).st_mtime_ns)
                for p in eps[: len(eps) - 128]:
                    if p == path:
                        continue  # never prune the record just written
                    try:
                        os.unlink(p)
                    except FileNotFoundError:
                        pass
        except OSError:
            pass  # pruning is best-effort
        return base

    def _fill_identity(
        self,
        df: DataFrame,
        ids: dict | None = None,
        epoch_tag: str | None = None,
    ) -> DataFrame:
        """Allocate identity values for the batch (the append door):
        one counting pass computes per-partition row counts, the driver
        turns them into P offsets (P = task count, never rows), and an
        Arrow-batched ``mapInPandas`` assigns ``high + step * (offset +
        local index + 1)`` - contiguous within the append, unique
        across appends, no shuffle, no per-row driver traffic, and no
        block-reservation overflow (the naive
        monotonically_increasing_id scheme burns 2^33 per task and
        exhausts int64 at fleet scale). The batch is checkpointed first
        so both passes see identical partitioning.

        RESERVE-FIRST: the watermark advances by the batch size right
        after the counting pass, BEFORE the write - a failed append
        burns its range (a gap, inside Delta's documented identity
        contract). The reservation itself is a compare-and-swap commit
        on the table's identity chain (:meth:`_identity_chain_commit`),
        so concurrent identity appends get DISJOINT ranges - the same
        exactly-one-winner discipline as the exclusive-link snapshot
        commit."""
        ids = ids if ids is not None else self.identity_columns()
        if not ids:
            return df
        have = {c.lower() for c in df.columns}
        for name in ids:
            # case-insensitive like the rest of the write path: a
            # batch carrying 'RID' must not slip past the refusal and
            # produce duplicate case-colliding columns
            if name.lower() in have:
                raise ValueError(
                    f"identity column {name!r} is GENERATED ALWAYS - "
                    "the writer cannot supply it (drop the column from "
                    "the batch)"
                )
        df = df.localCheckpoint(eager=True)
        counts = {
            int(r["p"]): int(r["count"])
            for r in df.groupBy(
                F.spark_partition_id().alias("p")
            )
            .count()
            .collect()
        }
        offs: dict[int, int] = {}
        acc = 0
        for pid in sorted(counts):
            offs[pid] = acc
            acc += counts[pid]
        if acc and epoch_tag is not None:
            base = self._reserve_identity_epoch(epoch_tag, acc)
        elif acc:
            base = self._reserve_identity(acc)
        else:
            base = {n: s["high"] for n, s in ids.items()}
        specs = {n: (base[n], ids[n]["step"]) for n in ids}
        from pyspark.sql.types import LongType, StructField, StructType

        out_schema = StructType(
            list(df.schema.fields)
            + [StructField(n, LongType(), False) for n in specs]
        )

        def assign(iterator):
            import pandas as pd  # noqa: F401 (Arrow batch type)
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            base = offs.get(pid, 0)
            seen = 0
            for pdf in iterator:
                n = len(pdf)
                import numpy as np

                idx = np.arange(seen + 1, seen + n + 1, dtype="int64")
                for name, (high, step) in specs.items():
                    pdf[name] = high + step * (base + idx)
                seen += n
                yield pdf

        return df.mapInPandas(assign, out_schema)


    def _fill_generated(
        self, df: DataFrame, snap: "Snapshot | None" = None
    ) -> DataFrame:
        """Materialize declared generated columns the batch omits (the
        append-door half of the contract; enforcement for present
        columns lives in :meth:`_validate_constraints`)."""
        gen = self.generated_columns()
        if not gen:
            return df
        snap = snap or self.snapshot()
        types = {
            f.name: f.dataType
            for f in StructType.fromJson(snap.schema_json).fields
        }
        have = {c.lower() for c in df.columns}
        for name, expr in gen.items():
            if name not in types:
                # an orphaned generated.<name> property (possible only
                # through direct property edits - DROP/RENAME COLUMN
                # maintain the property) must fail loudly, not KeyError
                raise ValueError(
                    f"generated column property for {name!r} has no "
                    "matching schema column; unset the "
                    f"'generated.{name}' property"
                )
            if name.lower() not in have:  # case-insensitive presence
                df = df.withColumn(
                    name, F.expr(expr).cast(types[name])
                )
        return df

    def _validate_constraints(
        self, df: DataFrame, snap, op: str = "append"
    ) -> None:
        """Enforced on EVERY write path that introduces or rewrites rows
        (append, INSERT OVERWRITE/overwrite_partitions, UPDATE, MERGE) -
        a declared CHECK must hold for the table's contents regardless of
        which verb wrote them, and a GENERATED column present in the
        rows must null-safe-equal its expression (an UPDATE rewriting a
        source column without its generated dependent would otherwise
        silently break the invariant readers prune on). No-op (and no
        Spark action) when the table declares neither."""
        # ONE properties read serves both rule families; the schema is
        # decoded only when a generated column actually needs its type
        # (zero extra snapshot loads for the no-rules fast path)
        props = self.properties()
        cons: dict = {
            k.removeprefix("constraint."): v
            for k, v in props.items()
            if k.startswith("constraint.")
        }
        gen = {
            k.removeprefix("generated."): v
            for k, v in props.items()
            if k.startswith("generated.")
        }
        have = {c.lower() for c in df.columns}
        gen_present = {
            n: e for n, e in gen.items() if n.lower() in have
        }
        if not cons and not gen_present:
            return
        if gen_present:
            types = {
                f.name: f.dataType
                for f in StructType.fromJson(
                    (snap or self.snapshot()).schema_json
                ).fields
            }
            for name, expr in gen_present.items():
                cons[f"__generated_{name}"] = F.col(name).eqNullSafe(
                    F.expr(expr).cast(types[name])
                )
        # standard SQL CHECK semantics: a row violates only when the
        # predicate is FALSE - UNKNOWN (NULL) passes. Reject nulls with
        # an explicit "col IS NOT NULL" constraint. (Generated-column
        # invariants are null-safe equalities, so UNKNOWN cannot arise
        # for them.)
        counts = df.agg(
            *[
                F.sum(
                    F.when(
                        (e if isinstance(e, Column) else F.expr(e))
                        == F.lit(False),
                        1,
                    ).otherwise(0)
                ).alias(n)
                for n, e in cons.items()
            ]
        ).first()
        violated = {n: int(counts[n] or 0) for n in cons if (counts[n] or 0) > 0}
        if violated:

            def _desc(n):
                if n.startswith("__generated_"):
                    col = n.removeprefix("__generated_")
                    return (
                        f"generated column {col} != its expression "
                        f"{gen[col]!r}"
                    )
                return f"{n} ({cons[n]!r})"

            detail = ", ".join(
                f"{_desc(n)}: {v} row(s)" for n, v in violated.items()
            )
            raise ValueError(
                f"{op} violates CHECK constraint(s): {detail}"
            )

    def unset_properties(self, *keys: str) -> dict[str, str]:
        return self.replace_properties(remove=keys)

    def replace_properties(
        self, remove=(), add: dict | None = None
    ) -> dict[str, str]:
        """One atomic read-modify-write of the properties file (one
        ``atomic_write``): removals and additions land TOGETHER, so a
        key migration (rename_column moving a ``generated.*`` entry)
        has no half-state window where only the unset or only the set
        survived a crash."""
        kept = {
            k: v
            for k, v in self.properties().items()
            if k not in set(remove)
        }
        kept.update({str(k): str(v) for k, v in (add or {}).items()})
        atomic_write(self._properties_path(), json.dumps(kept))
        return kept

    # -- named refs (tags + branches) ----------------------------------------

    def _refs_path(self) -> str:
        return os.path.join(self.metadata_dir, "refs.json")

    def _load_refs(self) -> dict[str, dict[str, Any]]:
        """Typed refs: name -> {"type": "tag"|"branch", "version": N,
        "created_ms": T}."""
        try:
            with open(self._refs_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def refs(self) -> dict[str, int]:
        """Named refs: name -> pinned snapshot version (tags AND branch
        heads - both pin their snapshot against expiry). A tag is
        immutable ("the exact table state training run X read" stays
        time-travelable past normal retention); a branch is a MUTABLE
        pointer advanced by ``fast_forward``."""
        return {k: v["version"] for k, v in self._load_refs().items()}

    def _write_refs(self, refs: dict[str, dict[str, Any]]) -> None:
        atomic_write(self._refs_path(), json.dumps(refs))

    def _create_ref(self, name: str, version: int | None, kind: str) -> int:
        v = self.current_version() if version is None else version
        if not os.path.exists(self._version_path(v)):
            raise ValueError(f"no snapshot v{v} to {kind}")
        refs = self._load_refs()
        if name in refs:
            raise ValueError(
                f"ref {name!r} already exists "
                f"({refs[name]['type']} at v{refs[name]['version']})"
            )
        refs[name] = {
            "type": kind,
            "version": v,
            # ref aging (history.expire.max-ref-age-ms) measures from
            # creation
            "created_ms": int(time.time() * 1000),
        }
        self._write_refs(refs)
        return v

    def create_tag(self, name: str, version: int | None = None) -> int:
        return self._create_ref(name, version, "tag")

    def create_branch(self, name: str, version: int | None = None) -> int:
        """Named MUTABLE ref (Iceberg branch): readers address a stable
        published state (``snapshot_by_ref``) while writers advance the
        main line; an audit step then ``fast_forward``s the branch. With
        write-audit-publish this completes Iceberg's WAP flow: stage ->
        publish -> audit the new snapshot -> fast-forward the consumer
        branch onto it."""
        return self._create_ref(name, version, "branch")

    def _drop_ref(self, name: str, kind: str) -> None:
        refs = self._load_refs()
        if name not in refs or refs[name]["type"] != kind:
            raise ValueError(f"no {kind} {name!r}")
        del refs[name]
        self._write_refs(refs)

    def drop_tag(self, name: str) -> None:
        self._drop_ref(name, "tag")

    def drop_branch(self, name: str) -> None:
        self._drop_ref(name, "branch")

    def fast_forward(self, name: str, to_version: int | None = None) -> int:
        """Advance a branch ref to a DESCENDANT snapshot (default: the
        current head). The commit log is linear (one exclusive-link version
        chain per table), so descendant == a later retained version; moving a
        branch backwards or onto a missing snapshot raises - a branch
        never silently loses published state. Tags never move."""
        refs = self._load_refs()
        if name not in refs or refs[name]["type"] != "branch":
            raise ValueError(f"no branch {name!r}")
        target = self.current_version() if to_version is None else to_version
        head = refs[name]["version"]
        if target < head:
            raise ValueError(
                f"fast-forward of {name!r} must advance: "
                f"head is v{head}, target v{target}"
            )
        if not os.path.exists(self._version_path(target)):
            raise ValueError(f"no snapshot v{target} to fast-forward to")
        refs[name]["version"] = target
        self._write_refs(refs)
        return target

    def snapshot_by_ref(self, name: str) -> Snapshot:
        refs = self.refs()
        if name not in refs:
            raise ValueError(f"no ref {name!r}")
        return self.snapshot(refs[name])

    def snapshot_by_tag(self, name: str) -> Snapshot:
        return self.snapshot_by_ref(name)

    # -- divergent branch writes (Iceberg branch commits / WAP) --------------

    def _branches_dir(self) -> str:
        return os.path.join(self.metadata_dir, "branches")

    def branch_names(self) -> list[str]:
        """Branches with a MATERIALIZED divergent chain (at least one
        fork seed). Ref-only branches (pointers into the main chain,
        never written to) don't appear here."""
        d = self._branches_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            n
            for n in os.listdir(d)
            if os.path.isdir(os.path.join(d, n))
        )

    def branch(self, name: str) -> "BranchTable":
        """Writable handle on a branch: a DIVERGENT commit chain under
        ``metadata/branches/<name>/`` seeded from the branch ref's
        snapshot. The branch shares the table's data directory and
        reads the fork's manifest files by reference (the seed is one
        O(1) metadata commit regardless of table size); every table
        operation - append, DML, compaction, time travel, incremental
        scan - works on the handle because it IS a table with its own
        linear exclusive-link version chain. The full Iceberg
        write-audit-publish-with-retries flow: ``create_branch`` ->
        ``branch(name)`` -> stage commits -> audit the branch ->
        ``publish_branch``.

        GC safety: the branch REF stays pinned at the fork version
        until publish (protecting shared fork-era files from main
        expiry), and main orphan GC unions every branch chain's
        referenced paths (see ``maintenance.expire_snapshots``)."""
        if self.is_branch:
            raise ValueError("branches of branches are not supported")
        refs = self._load_refs()
        if name not in refs or refs[name]["type"] != "branch":
            raise ValueError(f"no branch {name!r}; create_branch first")
        bt = BranchTable(self.spark, self.location, name)
        if not os.path.isdir(bt.metadata_dir) or not any(
            f.startswith("v") and f.endswith(".json")
            for f in os.listdir(bt.metadata_dir)
        ):
            fork = self.snapshot(refs[name]["version"])
            seed = Snapshot(
                snapshot_id=uuid.uuid4().hex,
                version=fork.version,
                timestamp_ms=int(time.time() * 1000),
                operation="branch-fork",
                parent_id=fork.snapshot_id,
                schema_json=fork.schema_json,
                partition_spec=fork.partition_spec,
                manifest=fork.manifest,
                # fork-era manifest files resolve through the branch's
                # read-through to the main metadata dir - zero copies
                manifest_files=list(fork.manifest_files),
                summary={
                    "forked_from": fork.version,
                    "branch": name,
                    "next_row_id": self._lineage_next(fork),
                },
            )
            bt._commit(seed)
        return bt

    def publish_branch(
        self,
        name: str,
        mode: str = "auto",
        max_retries: int = 5,
    ) -> Snapshot:
        """Merge a divergent branch back into main.

        - main unchanged since the fork -> FAST-FORWARD: the branch
          head is replicated as one main commit (branch-side manifest
          files are copied under main's metadata, data files never
          move); row ids carry over unchanged.
        - main moved AND every branch commit is an append ->
          REBASE-AND-RETRY: the branch's added files re-commit onto the
          main head as a fresh append (sequence numbers and row ids
          re-stamped at publish time, the ``publish_staged``
          discipline).
        - main moved and the branch holds non-append commits (DML,
          compaction) -> ``CommitConflict``: an automatic merge could
          silently undo main's concurrent writes; re-fork and replay.

        ``mode="fast_forward_only"`` raises instead of rebasing.
        On success the branch ref advances to the published main
        version and the divergent chain is removed (the branch state
        now IS main; a later ``branch()`` re-forks from the new pin).
        """
        import shutil

        if mode not in ("auto", "fast_forward_only"):
            raise ValueError(f"unknown publish mode {mode!r}")
        refs = self._load_refs()
        if name not in refs or refs[name]["type"] != "branch":
            raise ValueError(f"no branch {name!r}")
        if name not in self.branch_names():
            raise ValueError(
                f"branch {name!r} has no divergent commits to publish"
            )
        bt = BranchTable(self.spark, self.location, name)
        head = bt.snapshot()
        chain = bt.snapshots()
        # the seed records the fork point; if branch expiry removed the
        # seed, the (unpublished) ref pin still holds it
        fork_v = int(
            chain[0].summary.get(
                "forked_from", refs[name]["version"]
            )
        )
        if head.operation == "branch-fork":
            return self.snapshot()  # nothing staged on the branch
        delta_ops = {s.operation for s in chain[1:]}
        pub: Snapshot | None = None
        for _ in range(max_retries):
            cur = self.snapshot()
            if cur.version == fork_v:
                # fast-forward: main never moved - replicate the head
                for rel in head.manifest_files:
                    dst = self._manifest_path(rel)
                    if not os.path.exists(dst):
                        os.makedirs(
                            os.path.dirname(dst), exist_ok=True
                        )
                        # re-serialize (not copy): the branch may hold
                        # it only in cache, and a partial copy must
                        # never be visible
                        self._write_manifest_file(
                            bt._read_manifest_file(rel), rel
                        )
                snap = Snapshot(
                    snapshot_id=uuid.uuid4().hex,
                    version=cur.version + 1,
                    timestamp_ms=int(time.time() * 1000),
                    operation="publish",
                    parent_id=cur.snapshot_id,
                    schema_json=head.schema_json,
                    partition_spec=head.partition_spec,
                    manifest=head.manifest,
                    manifest_files=list(head.manifest_files),
                    summary={
                        "published_branch": name,
                        "branch_head": head.version,
                        "branch_commits": len(chain) - 1,
                        "next_row_id": self._lineage_next(head),
                    },
                )
                try:
                    self._commit(snap)
                    pub = snap
                    break
                except CommitConflict:
                    continue  # main moved under us - reassess
            # main diverged from the fork
            if mode == "fast_forward_only":
                raise CommitConflict(
                    f"publish of branch {name!r}: main moved from "
                    f"v{fork_v} to v{cur.version} since the fork and "
                    "mode=fast_forward_only; re-fork and replay"
                )
            if delta_ops - {"append"}:
                raise CommitConflict(
                    f"publish of branch {name!r}: main moved from "
                    f"v{fork_v} to v{cur.version} and the branch holds "
                    f"non-append commits {sorted(delta_ops - {'append'})}; "
                    "an automatic merge could undo main's concurrent "
                    "writes - re-fork and replay the branch"
                )
            # append-only rebase: files the branch added since the fork.
            # The fork file set comes from MAIN's fork snapshot (pinned
            # by the ref), NOT chain[0]: branch expiry may have removed
            # the seed, making chain[0] a later append whose manifest
            # already contains branch-added files - deriving from it
            # would silently drop those rows at publish.
            fork_paths = {
                e["path"] for e in self.snapshot(fork_v).manifest
            }
            # effect-based twin of the delta_ops check: branch expiry
            # can hide a DML/compaction COMMIT from chain[1:], but its
            # effect (fork-era files gone from the head) cannot hide
            head_paths = {e["path"] for e in head.manifest}
            if fork_paths - head_paths:
                raise CommitConflict(
                    f"publish of branch {name!r}: the branch no longer "
                    f"references {len(fork_paths - head_paths)} fork-era "
                    "file(s) (a DML/compaction, possibly expired from "
                    "the branch history) and main has moved - an "
                    "append-only rebase would silently undo that; "
                    "re-fork and replay"
                )
            added = [
                {
                    k: v
                    for k, v in e.items()
                    if k not in ("seq", "first_row_id")
                }
                for e in head.manifest
                if e["path"] not in fork_paths
            ]
            pub = self._commit_append(
                added,
                max_retries=max_retries,
                extra_summary={
                    "published_branch": name,
                    "branch_head": head.version,
                    "rebased": True,
                },
            )
            break
        if pub is None:
            raise CommitConflict(
                f"publish of branch {name!r} failed after retries"
            )
        refs = self._load_refs()
        if name in refs and refs[name]["type"] == "branch":
            refs[name]["version"] = pub.version
            self._write_refs(refs)
        shutil.rmtree(bt.metadata_dir, ignore_errors=True)
        return pub

    def drop_branch_chain(self, name: str) -> None:
        """Abandon a branch's divergent commits WITHOUT publishing
        (the branch ref survives at its pin; branch-written data files
        become orphans for GC)."""
        import shutil

        d = os.path.join(self._branches_dir(), name)
        if os.path.isdir(d):
            shutil.rmtree(d)

    # -- restore / rollback --------------------------------------------------

    def restore_to(
        self, version: int | None = None, *, timestamp_ms: int | None = None,
        max_retries: int = 5,
    ) -> Snapshot:
        """Roll the table back to an earlier snapshot's state.

        Iceberg's ``rollback_to_snapshot`` moves the current-snapshot
        pointer backwards; this format's commit log is a linear
        exclusive-link version chain, so the same user-visible result is expressed the
        way Delta's RESTORE does it: commit a NEW snapshot that
        replicates the target's schema, partition spec, and manifest.
        Metadata-only (no data files move), the bad versions stay
        time-travelable until snapshot expiry, and the audit trail stays
        append-only. Manifest files are immutable and shared, so the new
        snapshot simply re-references the target's.

        Pick the target by ``version`` or by ``timestamp_ms``
        (latest snapshot at-or-before the instant, like time travel).
        """
        if (version is None) == (timestamp_ms is None):
            raise ValueError("pass exactly one of version / timestamp_ms")
        target = (
            self.snapshot(version)
            if version is not None
            else self.snapshot_as_of(timestamp_ms)
        )
        for _ in range(max_retries):
            cur = self.snapshot()
            if cur.version == target.version:
                return cur  # already there
            snap = Snapshot(
                snapshot_id=uuid.uuid4().hex,
                version=cur.version + 1,
                timestamp_ms=int(time.time() * 1000),
                operation="restore",
                parent_id=cur.snapshot_id,
                schema_json=target.schema_json,
                partition_spec=target.partition_spec,
                manifest=target.manifest,
                summary={
                    "restore-source-version": target.version,
                    "restore-source-snapshot-id": target.snapshot_id,
                },
                manifest_files=list(target.manifest_files),
            )
            try:
                self._commit(snap)
                self._reconcile_generated_after_schema_change(snap)
                return snap
            except CommitConflict:
                continue
        raise CommitConflict(
            f"restore to v{target.version} lost {max_retries} commit races"
        )

    def _reconcile_generated_after_schema_change(self, snap) -> None:
        """Generated/identity column properties are unversioned (the
        properties file, not the snapshot), so a schema-rewinding
        commit (RESTORE) can orphan them: drop ``generated.<name>``
        and ``identity.<name>.*`` for names the restored schema no
        longer has - otherwise every later append raises (generated)
        or injects a column the schema lacks (identity). The converse
        (restoring a schema whose column predates its declaration)
        cannot resurrect the expression/allocator; the column comes
        back as a plain column."""
        names = {f["name"] for f in snap.schema_json["fields"]}
        stale = [
            k
            for k in self.properties()
            if (
                k.startswith("generated.")
                and k.removeprefix("generated.") not in names
            )
            or (
                k.startswith("identity.")
                and k.removeprefix("identity.").rsplit(".", 1)[0]
                not in names
            )
        ]
        if stale:
            self.unset_properties(*stale)

    def cherrypick(self, version: int, max_retries: int = 5) -> Snapshot:
        """Re-apply one APPEND snapshot's file additions onto the
        current head (Iceberg's ``cherrypick_snapshot``): the classic
        recovery after a rollback rolled past a good append, and the
        promote step of audit workflows - the picked files attach by
        REFERENCE (no data read or copied, one metadata commit).

        Only pure appends are pickable: the added file set is computed
        against the picked snapshot's parent, and a snapshot that also
        removed files (compaction, DML) or added delete tombstones has
        ordering the head may no longer satisfy - those raise. Picking
        is idempotent-safe: if the head already references any of the
        files, the pick refuses instead of double-counting rows.
        Row-lineage ids are re-stamped (the head's counter moved on)."""
        src = self.snapshot(version)
        if src.operation != "append":
            raise ValueError(
                f"cherrypick: v{version} is {src.operation!r}; only "
                "append snapshots can be cherry-picked"
            )
        by_id = {s.snapshot_id: s for s in self.snapshots()}
        parent = by_id.get(src.parent_id)
        if src.parent_id is not None and parent is None:
            # an expired parent would make the diff the picked
            # snapshot's ENTIRE cumulative manifest - re-applying every
            # ancestor append, not the one picked; refuse loudly
            raise ValueError(
                f"cherrypick: v{version}'s parent snapshot has been "
                "expired; the picked file set cannot be determined"
            )
        parent_paths = {e["path"] for e in parent.manifest} if parent else set()
        added = [
            dict(e) for e in src.manifest if e["path"] not in parent_paths
        ]
        if any(e.get("content", "data") != "data" for e in added):
            raise ValueError(
                "cherrypick: picked snapshot added delete tombstones; "
                "only pure data appends are pickable"
            )
        cur = self.snapshot()
        head_paths = {c["path"] for c in cur.manifest}
        dup = [e["path"] for e in added if e["path"] in head_paths]
        if dup:
            raise ValueError(
                f"cherrypick: head already references {len(dup)} of the "
                f"picked files (first: {dup[0]}); nothing to re-apply"
            )
        for e in added:
            e.pop("seq", None)  # re-stamped at commit
        return self._commit_append(
            added,
            max_retries=max_retries,
            extra_summary={
                "cherrypick-source-version": version,
                "cherrypick-source-snapshot-id": src.snapshot_id,
            },
        )

    # -- metadata inspection tables (Iceberg's table.inspect surface) --------

    def inspect_history(self) -> DataFrame:
        """Iceberg's ``history`` metadata table: one row per retained
        snapshot with its ancestry status. ``is_current_ancestor`` is
        False for versions that were rolled back past — i.e. any version
        v for which a later ``restore`` commit targets a version < v
        (their rows are NOT part of the current state's lineage even
        though the linear version chain retains them for time travel)."""
        snaps = self.snapshots()
        by_version = {s.version: s for s in snaps}
        # Walk the CONTENT lineage back from the current version: a
        # restore commit's content parent is its restore source (so a
        # later restore can put previously-rolled-back versions right
        # back onto the ancestry), every other commit's is version-1.
        # Versions off this walk were rolled back past — non-ancestors.
        ancestors: set[int] = set()
        v = self.current_version()
        while v in by_version and v not in ancestors:
            ancestors.add(v)
            s = by_version[v]
            if s.operation == "restore":
                v = int(s.summary.get("restore-source-version", v - 1))
            else:
                v = v - 1
        rows = [
            (
                s.timestamp_ms,
                s.version,
                s.snapshot_id,
                s.parent_id,
                s.operation,
                s.version in ancestors,
            )
            for s in snaps
        ]
        return self.spark.createDataFrame(
            rows,
            "made_current_at_ms long, version int, snapshot_id string, "
            "parent_id string, operation string, is_current_ancestor boolean",
        )

    def inspect_snapshots(self) -> DataFrame:
        """History as a DataFrame: one row per retained snapshot."""
        rows = [
            (
                s.version,
                s.snapshot_id,
                s.timestamp_ms,
                s.operation,
                s.parent_id,
                len(s.manifest),
                s.total_rows,
                {k: str(v) for k, v in s.summary.items()},
            )
            for s in self.snapshots()
        ]
        return self.spark.createDataFrame(
            rows,
            "version int, snapshot_id string, timestamp_ms long, "
            "operation string, parent_id string, n_files int, "
            "total_rows long, summary map<string,string>",
        )

    def inspect_refs(self) -> DataFrame:
        """Named refs as a DataFrame: one row per tag/branch with its
        pinned version (Iceberg's ``refs`` metadata table)."""
        rows = [
            (name, r["type"], r["version"])
            for name, r in sorted(self._load_refs().items())
        ]
        return self.spark.createDataFrame(
            rows if rows else [],
            "name string, type string, version int",
        )

    def metadata_agg(
        self,
        aggs: dict[str, tuple[str, str]],
        snapshot: Snapshot | None = None,
    ) -> DataFrame | None:
        """Aggregate pushdown to the MANIFEST (Iceberg-style): serve
        ``count(*)`` / ``min(col)`` / ``max(col)`` purely from per-file
        footer stats - O(live files) driver work, ZERO data files read.
        At 100 TB this answers ``SELECT COUNT(*), MAX(ts) FROM t`` from
        kilobytes of metadata instead of a full scan.

        ``aggs``: output name -> (op, column); op in {'count','min',
        'max'} ('count' only with column '*' - per-column null counts
        are not in the manifest). Returns a ONE-ROW DataFrame, or
        ``None`` when metadata cannot answer EXACTLY and the caller
        must fall back to a real scan:

        - pending merge-on-read deletes (tombstoned rows are still in
          the footer counts, and the min/max row may be deleted);
        - a data file missing stats for a requested column;
        - a non-numeric column (parquet writers may TRUNCATE binary
          min/max stats, so string bounds are not trustworthy as
          exact answers; numeric/stat bounds are always exact).
        """
        from pyspark.sql.types import (
            ByteType,
            DoubleType,
            FloatType,
            IntegerType,
            LongType,
            ShortType,
            StructField,
        )

        numeric = (
            ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType,
        )
        snap = snapshot or self.snapshot()
        if snap.delete_entries:
            return None
        entries = snap.data_entries
        schema = StructType.fromJson(snap.schema_json)
        types = {f.name: f.dataType for f in schema.fields}

        row: list[Any] = []
        fields: list[StructField] = []
        for name, (op, col) in aggs.items():
            if op == "count":
                if col != "*":
                    raise ValueError(
                        "metadata_agg count supports only '*' (per-column "
                        "null counts are not stored in the manifest)"
                    )
                row.append(sum(int(e.get("rows", 0)) for e in entries))
                fields.append(StructField(name, LongType(), False))
                continue
            if op not in ("min", "max"):
                raise ValueError(f"unsupported metadata_agg op: {op!r}")
            if col not in types:
                raise ValueError(f"no such column: {col}")
            if not isinstance(types[col], numeric):
                return None  # string/temporal bounds may be inexact
            vals = []
            for e in entries:
                if int(e.get("rows", 0)) == 0:
                    continue  # an empty file constrains nothing
                st = (e.get("stats") or {}).get(col)
                if st is None:
                    return None  # this file is opaque for the column
                vals.append(st[0] if op == "min" else st[1])
            row.append(
                (min(vals) if op == "min" else max(vals)) if vals else None
            )
            fields.append(StructField(name, types[col], True))
        return self.spark.createDataFrame([tuple(row)], StructType(fields))

    def inspect_files(self, snapshot: Snapshot | None = None) -> DataFrame:
        """The manifest as a DataFrame: one row per live data file with
        its size, row count and partition values - the input to layout
        diagnostics (small-file ratio, partition skew) without touching
        any data file."""
        snap = snapshot or self.snapshot()
        rows = [
            (
                e["path"],
                e.get("content", "data"),
                int(e.get("seq", 0)),
                int(e.get("rows", 0)),
                int(e.get("bytes", 0)),
                {k: str(v) for k, v in (e.get("partition") or {}).items()},
            )
            for e in snap.manifest
        ]
        schema = (
            "path string, content string, seq long, rows long, bytes long, "
            "partition map<string,string>"
        )
        if not rows:
            return self.spark.createDataFrame([], schema)
        return self.spark.createDataFrame(rows, schema)

    def inspect_manifests(self) -> DataFrame:
        """One row per manifest file of the current snapshot: path, size,
        entry counts by content type (Iceberg's ``manifests`` metadata
        table) — the input for deciding a manifest rewrite."""
        snap = self.snapshot()
        rows = []
        for rel in snap.manifest_files:
            entries = self._read_manifest_file(rel)
            rows.append(
                (
                    rel,
                    os.path.getsize(self._manifest_path(rel)),
                    len(entries),
                    sum(1 for e in entries if e.get("content", "data") == "data"),
                    sum(1 for e in entries if e.get("content") == "eq-del"),
                    sum(1 for e in entries if e.get("content") == "pos-del"),
                )
            )
        schema = (
            "path string, bytes long, n_entries int, n_data int, "
            "n_eq_deletes int, n_pos_deletes int"
        )
        if not rows:
            return self.spark.createDataFrame([], schema)
        return self.spark.createDataFrame(rows, schema)

    def inspect_partitions(self, snapshot: Snapshot | None = None) -> DataFrame:
        """Per-partition rollup of the manifest: file count, rows, bytes.
        The first thing to read when deciding whether to compact."""
        files = self.inspect_files(snapshot)
        return files.groupBy("partition").agg(
            F.count("*").alias("n_files"),
            F.sum("rows").alias("rows"),
            F.sum("bytes").alias("bytes"),
            F.min("bytes").alias("min_file_bytes"),
        )

    # -- maintenance hooks (driven by maintenance.py) ------------------------

    def referenced_files(self) -> set[str]:
        refs: set[str] = set()
        for s in self.snapshots():
            refs.update(e["path"] for e in s.manifest)
        return refs

    def delete_metadata_version(self, version: int) -> None:
        os.remove(self._version_path(version))


class BranchTable(LakehouseTable):
    """A branch's divergent commit chain, usable as a full table.

    Shares the parent table's ``location`` (so entry data paths resolve
    unchanged) and data directory; its OWN metadata chain lives under
    ``metadata/branches/<name>/``, so branch commits never interleave
    with main's linear history. Manifest files read through to the main
    metadata directory (the fork references them in place); new
    manifests written by branch commits land branch-side. Properties
    (CHECK constraints, write distribution, retention policy) are
    table-level, shared with main.

    Obtain via ``LakehouseTable.branch(name)`` - constructing one
    directly skips the fork seeding."""

    is_branch = True

    def __init__(self, spark: SparkSession, location: str, name: str):
        super().__init__(spark, location)
        self.branch_name = name
        self._main_metadata_dir = self.metadata_dir
        self.metadata_dir = os.path.join(
            self._main_metadata_dir, "branches", name
        )

    def _manifest_path(self, rel: str) -> str:
        p = os.path.join(self.metadata_dir, rel)
        if os.path.exists(p):
            return p
        # read-through: fork-era manifests live in the main chain
        main_p = os.path.join(self._main_metadata_dir, rel)
        if os.path.exists(main_p):
            return main_p
        return p  # new branch-side manifest being written

    def _properties_path(self) -> str:
        # properties are TABLE-level (constraints, distribution mode,
        # retention policy) - a branch must enforce the same contract
        # main does, or publish would launder constraint-violating rows
        return os.path.join(self._main_metadata_dir, "properties.json")


# -- per-file bloom filters (point-lookup pruning) ---------------------------
#
# Iceberg stores parquet bloom filters / puffin sketches for the same
# reason: on a high-cardinality column whose values scatter across files
# (uuids, user ids), per-file min/max spans everything and prunes
# nothing. A ~1 KB bitset per (file, column) lets an equality lookup
# drop files with zero I/O. False positives only cost a wasted read;
# false negatives are impossible.

_BLOOM_M = 8192  # bits per filter (1 KB); ~1.2% fp at 1000 distinct values
_BLOOM_K = 4  # hash functions (double hashing from one md5)


def _spark_readable_as(file_t, table_t) -> bool:
    """Can a parquet column physically written as ``file_t`` be scanned
    under ``table_t``? True for exact matches and for the legal widening
    set the vectorized reader supports (mirrors ``dml._PROMOTIONS``)."""
    if file_t == table_t:
        return True
    a, b = file_t.simpleString(), table_t.simpleString()
    if a == b:
        # differs only in nested nullability (struct inner fields, array
        # containsNull) — StructType equality is nullability-sensitive,
        # the parquet read path is not
        return True
    # NB Spark's simpleString for byte/short is tinyint/smallint
    widening = {
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"),
        ("int", "bigint"), ("float", "double"),
    }
    if (a, b) in widening:
        return True
    if a.startswith("decimal(") and b.startswith("decimal("):
        pa_, sa = map(int, a[8:-1].split(","))
        pb, sb = map(int, b[8:-1].split(","))
        return sa == sb and pb >= pa_
    return False


def _readable_as(arrow_type, spark_type) -> bool:
    """Arrow-typed front door for ``_spark_readable_as`` (add_files reads
    parquet footers via pyarrow)."""
    try:
        from pyspark.sql.pandas.types import from_arrow_type

        file_t = from_arrow_type(arrow_type)
    except Exception:
        return False  # unconvertible exotic type: refuse loudly
    return _spark_readable_as(file_t, spark_type)


def _bloom_key(v: Any) -> bytes | None:
    """Engine-wide canonical bytes for a value, shared by build (write
    path, pyarrow values) and probe (read path, python literals) - both
    sides MUST agree or the filter silently never matches."""
    import datetime as _dt

    if v is None:
        return None
    if isinstance(v, bytes):
        return v
    if isinstance(v, bool):
        return b"\x01" if v else b"\x00"
    if isinstance(v, int):
        return str(v).encode()
    if isinstance(v, float):
        return repr(v).encode()
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat().encode()
    if isinstance(v, _dt.date):
        return v.isoformat().encode()
    return str(v).encode()


def _bloom_hashes(key: bytes, m: int, k: int) -> list[int]:
    import hashlib

    d = hashlib.md5(key).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_build(values, m: int = _BLOOM_M, k: int = _BLOOM_K) -> str:
    """Base64 bitset over the values' canonical keys."""
    import base64

    bits = bytearray(m // 8)
    for v in values:
        key = _bloom_key(v)
        if key is None:
            continue
        for h in _bloom_hashes(key, m, k):
            bits[h >> 3] |= 1 << (h & 7)
    return base64.b64encode(bytes(bits)).decode()


def bloom_might_contain(bloom: dict[str, Any], value: Any) -> bool:
    """Probe a manifest bloom entry; None/missing data = unprunable."""
    import base64

    key = _bloom_key(value)
    if key is None or not bloom or not bloom.get("bits"):
        return True
    bits = base64.b64decode(bloom["bits"])
    m = int(bloom.get("m", _BLOOM_M))
    k = int(bloom.get("k", _BLOOM_K))
    return all(bits[h >> 3] & (1 << (h & 7)) for h in _bloom_hashes(key, m, k))


def _footer_entry(
    fpath: str,
    pvals: dict[str, Any],
    stat_cols: set[str],
    location: str,
    bloom_cols: tuple[str, ...] = (),
) -> dict[str, Any]:
    """One manifest entry from one parquet footer. Module-level (not a
    method) so Spark can ship it to executors for distributed stats
    collection on large commits; runs identically inline on the driver
    for small ones. ``bloom_cols`` additionally reads those columns (a
    column-projected read of a file this task just wrote - page-cache
    hot) and stores a ~1 KB bloom bitset per column in the entry."""
    import pyarrow.parquet as pq

    fmeta = pq.ParquetFile(fpath).metadata
    stats: dict[str, Any] = {}
    for rg in range(fmeta.num_row_groups):
        for ci in range(fmeta.num_columns):
            col = fmeta.row_group(rg).column(ci)
            name = col.path_in_schema
            if name not in stat_cols or col.statistics is None:
                continue
            st = col.statistics
            if not st.has_min_max:
                continue
            try:
                mn, mx = _stat_val(st.min), _stat_val(st.max)
            except Exception:
                # e.g. pyarrow can't extract decimal stats; the column
                # just stays unprunable for this file — never fatal
                continue
            if mn is None or mx is None:
                continue
            if name in stats:
                stats[name] = [min(stats[name][0], mn), max(stats[name][1], mx)]
            else:
                stats[name] = [mn, mx]
    entry = {
        "path": os.path.relpath(fpath, location),
        "rows": fmeta.num_rows,
        "bytes": os.path.getsize(fpath),
        "partition": pvals,
        "stats": stats,
    }
    blooms = {}
    for c in bloom_cols:
        if c not in stat_cols:
            continue
        try:
            col = pq.ParquetFile(fpath).read(columns=[c]).column(0)
        except Exception:
            continue  # column missing in this file: unprunable, not fatal
        blooms[c] = {
            "m": _BLOOM_M,
            "k": _BLOOM_K,
            "bits": _bloom_build(col.to_pylist()),
        }
    if blooms:
        entry["bloom"] = blooms
    return entry


def _stat_val(v: Any) -> Any:
    from decimal import Decimal

    if isinstance(v, Decimal):
        # JSON can't hold Decimal faithfully; storing a float bound could
        # prune a file that actually matches. No stats = conservative.
        return None
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8", "replace")
        except Exception:
            return str(v)
    if isinstance(v, datetime):
        # naive ISO form: comparable with in-flight bounds and with
        # year-prefix strings (dml._overlapping_entries, year_prune)
        return v.replace(tzinfo=None).isoformat()
    from datetime import date

    if isinstance(v, date):
        return v.isoformat()  # DATE columns: footer stats arrive as date
    return v


def _prune_bound(v: Any) -> Any:
    """Normalize a predicate bound the same way manifest stats are
    normalized (`_stat_val`): datetimes/dates to naive ISO strings, so
    comparisons against stored stats are type-consistent."""
    from datetime import date

    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return v


def _prune_gt(a, b) -> bool:
    try:
        return a > b
    except TypeError:
        return str(a) > str(b)


def _as_instant(v):
    """A ``datetime.date`` bound on a timestamp column means midnight in
    Spark's own cast semantics; normalize it BEFORE pruning so manifest
    stats (ISO instants) and the hour transform compare consistently."""
    import datetime as _dt

    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        return _dt.datetime(v.year, v.month, v.day)
    return v


def _range_keep(
    column: str,
    lower,
    upper,
    part: "PartitionField | None",
    bucket_id: int | None,
):
    """Manifest file filter for ``scan_where``: transform-aware partition
    check first (cheapest, exact per file), then min/max stats overlap.
    Any non-interpretable partition value (null partitions, files
    written under an earlier spec) falls through to stats; missing
    stats mean unprunable."""
    lower, upper = _as_instant(lower), _as_instant(upper)
    lo_n, hi_n = _prune_bound(lower), _prune_bound(upper)
    # a date-only STRING upper bound ("2024-01-05") sorts BELOW that
    # day's ISO instants; pad it past 'T' for the stats compare so the
    # day's files are kept (the residual filter still applies exactly)
    if (
        isinstance(hi_n, str)
        and re.fullmatch(r"\d{4}-\d{2}-\d{2}", hi_n)
    ):
        hi_n = hi_n + "~"

    def part_bound(v, head: int | None = None):
        # map a raw bound to the transform's partition-value space
        s = str(_prune_bound(v))
        if part.transform == "years":
            return int(s[:4])
        if part.transform == "months":
            return int(s[:4]) * 100 + int(s[5:7])
        if part.transform == "days":
            return s[:10]
        if part.transform == "hours":
            # ISO instant "2024-01-01T05:..." -> "2024-01-01-05"; a
            # date-only bound has no hour digits - widen to the day's
            # first/last hour so the day is never silently pruned
            hh = s[11:13] if len(s) >= 13 else ""
            if not hh:
                hh = "00" if head == 0 else "23"
            return s[:10] + "-" + hh
        if part.transform == "truncate":
            return part.truncate_bound(v)
        return v  # identity

    def keep(entry: dict) -> bool:
        if part is not None:
            pv = entry.get("partition", {}).get(part.field_name)
            if pv is not None:
                try:
                    if part.transform == "bucket":
                        if bucket_id is not None and int(pv) != bucket_id:
                            return False
                    elif part.transform in ("days", "hours"):
                        if lower is not None and str(pv) < part_bound(lower, 0):
                            return False
                        if upper is not None and str(pv) > part_bound(upper, 1):
                            return False
                    elif part.transform == "truncate":
                        ref = lower if lower is not None else upper
                        if isinstance(ref, str):
                            if lower is not None and str(pv) < part_bound(lower):
                                return False
                            if upper is not None and str(pv) > part_bound(upper):
                                return False
                        else:
                            if lower is not None and int(pv) < part_bound(lower):
                                return False
                            if upper is not None and int(pv) > part_bound(upper):
                                return False
                    elif part.transform in ("years", "months"):
                        if lower is not None and int(pv) < part_bound(lower):
                            return False
                        if upper is not None and int(pv) > part_bound(upper):
                            return False
                    else:  # identity: compare in the column's own space
                        tv = type(lower if lower is not None else upper)(pv)
                        if lower is not None and tv < lower:
                            return False
                        if upper is not None and tv > upper:
                            return False
                except (TypeError, ValueError):
                    pass  # unprunable partition value: fall through
        stats = entry.get("stats", {}).get(column)
        if stats:
            mn, mx = stats
            if hi_n is not None and _prune_gt(mn, hi_n):
                return False
            if lo_n is not None and _prune_gt(lo_n, mx):
                return False
        # point lookup: consult the per-file bloom filter (if the writer
        # stored one) - prunes scattered-key files min/max can't
        if lower is not None and lower == upper:
            bl = entry.get("bloom", {}).get(column)
            if bl is not None and not bloom_might_contain(bl, lower):
                return False
        return True

    return keep


def year_prune(column: str, year_min: int | None = None, year_max: int | None = None):
    """File filter for a ``years(column)`` partitioned table: keeps files
    whose partition year (or min/max stats) overlap [year_min, year_max].
    This is the engine-side analogue of Iceberg hidden-partition pruning."""

    def keep(entry: dict) -> bool:
        y = entry.get("partition", {}).get(f"{column}_year")
        if y is not None:
            try:
                y = int(y)
            except (TypeError, ValueError):
                # null partition keys land in __HIVE_DEFAULT_PARTITION__
                # (admitted by the <=5% null QC gate): not prunable, the
                # file may hold rows of any year
                return True
            if year_min is not None and y < year_min:
                return False
            if year_max is not None and y > year_max:
                return False
            return True
        stats = entry.get("stats", {}).get(column)
        if stats:
            mn, mx = stats
            if year_min is not None and str(mx) < str(year_min):
                return False
            if year_max is not None and str(mn) > str(year_max + 1):
                return False
        return True

    return keep


def bucket_prune(field: "PartitionField", value) -> "callable":
    """File filter for a bucket(N)-partitioned table: keeps only the
    files in the key's bucket - point lookups read 1/N of the data
    without any index. Must use the same hash Spark used at write time,
    so the bucket id is computed with a one-row Spark job at plan time
    (cheap, metadata-scale)."""

    def keep_with_bucket(bucket_id: int):
        name = field.field_name

        def keep(entry: dict) -> bool:
            b = entry.get("partition", {}).get(name)
            if b is None:
                return True
            try:
                return int(b) == bucket_id
            except (TypeError, ValueError):
                return True  # __HIVE_DEFAULT_PARTITION__ etc: unprunable

        return keep

    return keep_with_bucket


def compute_bucket(table: "LakehouseTable", field: "PartitionField", value) -> int:
    """Bucket id for a literal key value, using Spark's own hash.

    The literal is cast to the source column's declared type first -
    Spark's murmur3 hashes int and long differently, so an uncast literal
    would land in the wrong bucket."""
    src_type = table.schema[field.source].dataType.simpleString()
    row = (
        table.spark.range(1)
        .select(
            F.pmod(
                F.hash(F.lit(value).cast(src_type)), F.lit(field.n_buckets or 16)
            ).alias("b")
        )
        .collect()[0]
    )
    return int(row["b"])
