"""Lakehouse table format: create / append / scan / time-travel /
expire / compact / concurrent-commit semantics."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StructField,
    StructType,
    TimestampType,
)

from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
    LakehouseCatalog,
    NoSuchTableError,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (
    compact,
    expire_snapshots,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
    FORMAT_VERSION,
    CommitConflict,
    LakehouseTable,
    PartitionField,
    Snapshot,
    year_prune,
)

TICK_SCHEMA = StructType(
    [
        StructField("DateTime", TimestampType()),
        StructField("Bid", DoubleType()),
        StructField("Ask", DoubleType()),
    ]
)


def tick_df(spark, start="2024-01-01 00:00:00", n=10, year=None):
    base = f"{year}-01-01 00:00:00" if year else start
    return spark.range(n).select(
        (F.to_timestamp(F.lit(base)) + F.make_interval(secs=F.col("id"))).alias(
            "DateTime"
        ),
        (F.lit(1.1) + F.col("id") * 0.001).alias("Bid"),
        (F.lit(1.2) + F.col("id") * 0.001).alias("Ask"),
    )


@pytest.fixture
def catalog(spark, tmp_path):
    return LakehouseCatalog(spark, str(tmp_path / "warehouse"))


def test_create_and_load(catalog):
    catalog.create_namespace("gold")
    t = catalog.create_table(
        "gold.eurusd",
        TICK_SCHEMA,
        [PartitionField("DateTime", "years", "DateTime_year")],
    )
    assert t.snapshot().operation == "create"
    assert t.snapshot().total_rows == 0
    assert catalog.load_table("gold.eurusd").schema == TICK_SCHEMA
    assert catalog.list_tables("gold") == ["gold.eurusd"]
    with pytest.raises(NoSuchTableError):
        catalog.load_table("gold.nope")


def test_append_and_scan(catalog, spark):
    t = catalog.create_table("gold.t1", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=10))
    t.append(tick_df(spark, start="2024-02-01 00:00:00", n=5))
    assert t.snapshot().total_rows == 15
    assert t.to_df().count() == 15
    # projected scan (S4): only one column materializes
    assert t.scan(selected_fields=["DateTime"]).columns == ["DateTime"]


def test_empty_scan_schema(catalog):
    t = catalog.create_table("gold.empty", TICK_SCHEMA, [])
    df = t.to_df()
    assert df.count() == 0
    assert df.schema == TICK_SCHEMA


def test_partitioned_write_and_prune(catalog, spark):
    t = catalog.create_table(
        "gold.part",
        TICK_SCHEMA,
        [PartitionField("DateTime", "years", "DateTime_year")],
    )
    t.append(tick_df(spark, year=2023, n=100))
    t.append(tick_df(spark, year=2024, n=50))
    snap = t.snapshot()
    years = {e["partition"].get("DateTime_year") for e in snap.manifest}
    assert years == {"2023", "2024"}
    # file-level pruning: only 2024 files survive the filter
    pruned = t.scan(file_filter=year_prune("DateTime", year_min=2024))
    assert pruned.count() == 50


def test_time_travel(catalog, spark):
    t = catalog.create_table("gold.tt", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=10))
    v1 = t.current_version()
    ts_after_v1 = int(time.time() * 1000)
    time.sleep(0.01)
    t.append(tick_df(spark, start="2025-01-01 00:00:00", n=7))
    assert t.to_df().count() == 17
    assert t.scan(snapshot=t.snapshot(v1)).count() == 10
    assert t.snapshot_as_of(ts_after_v1).version == v1


def test_snapshot_format_stamp_refuses_other_formats(catalog, spark):
    """Every snapshot JSON carries FORMAT_VERSION; a table whose snapshot
    has no stamp or another one is refused with the location named."""
    import json
    import re

    t = catalog.create_table("gold.fmt", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=3))
    for v in (0, 1):
        with open(os.path.join(t.metadata_dir, f"v{v}.json")) as f:
            assert json.load(f)["format_version"] == FORMAT_VERSION
    with open(os.path.join(t.metadata_dir, "v1.json")) as f:
        doc = json.load(f)
    for stamp in (None, FORMAT_VERSION + 1):
        if stamp is None:
            doc.pop("format_version", None)
        else:
            doc["format_version"] = stamp
        with open(os.path.join(t.metadata_dir, "v1.json"), "w") as f:
            json.dump(doc, f)
        loaded = catalog.load_table("gold.fmt")
        with pytest.raises(ValueError, match=f"{re.escape(t.location)}.*{stamp!r}"):
            loaded.snapshot()
        with pytest.raises(ValueError, match="format_version"):
            loaded.snapshots()


def test_scan_memo_keys_on_session_uuid(catalog, spark):
    """The scan memo keys on the JVM session's UUID: another Python
    wrapper of the same session shares the memoized frame, and a
    different session never gets it back."""
    from pyspark.sql import SparkSession

    t = catalog.create_table("gold.memo", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=5))
    snap = t.snapshot()
    base = t._read_data_plain(snap.data_entries, snap)
    same = SparkSession(spark.sparkContext, spark._jsparkSession)
    shared = LakehouseTable(same, t.location)._read_data_plain(
        snap.data_entries, snap
    )
    assert shared is base
    other = spark.newSession()
    df = LakehouseTable(other, t.location)._read_data_plain(
        snap.data_entries, snap
    )
    assert df is not base and df.sparkSession is other
    assert df.count() == 5


def test_commit_conflict_is_atomic(catalog, spark):
    t = catalog.create_table("gold.cc", TICK_SCHEMA, [])
    snap = t.snapshot()
    clone = Snapshot.from_json(snap.to_json())
    clone.version = snap.version + 1
    clone.snapshot_id = "a" * 32
    t._commit(clone)
    dup = Snapshot.from_json(snap.to_json())
    dup.version = snap.version + 1
    dup.snapshot_id = "b" * 32
    with pytest.raises(CommitConflict):
        t._commit(dup)
    # append retries past the conflict window: two sequential appends from
    # two handles both land
    t2 = catalog.load_table("gold.cc")
    t.append(tick_df(spark, n=3))
    t2.append(tick_df(spark, start="2030-01-01 00:00:00", n=4))
    assert catalog.load_table("gold.cc").to_df().count() == 7


def test_expire_snapshots_floor(catalog, spark):
    t = catalog.create_table("gold.exp", TICK_SCHEMA, [])
    for i in range(5):
        t.append(tick_df(spark, start=f"202{i}-01-01 00:00:00", n=3))
    assert len(t.snapshots()) == 6  # create + 5 appends
    # everything "old": retain floor must still keep 2 + current
    res = expire_snapshots(
        t, older_than_ms=int(time.time() * 1000) + 10_000, retain_last=2
    )
    remaining = t.snapshots()
    assert len(remaining) >= 2
    assert t.current_version() == max(s.version for s in remaining)
    assert res["expired_snapshots"] > 0
    # data still fully readable after expiry + orphan GC
    assert t.to_df().count() == 15


def test_compact_small_files(catalog, spark):
    t = catalog.create_table("gold.comp", TICK_SCHEMA, [])
    for i in range(6):
        t.append(tick_df(spark, start=f"2024-0{i+1}-01 00:00:00", n=20).coalesce(1))
    before = len(t.snapshot().manifest)
    assert before >= 6
    snap = compact(t, target_file_bytes=1024 * 1024)
    assert snap is not None and snap.operation == "replace"
    after = len(t.snapshot().manifest)
    assert after < before
    assert t.to_df().count() == 120
    # old files are GC'd only after snapshot expiry
    expire_snapshots(t, older_than_ms=int(time.time() * 1000) + 10_000, retain_last=1)
    assert t.to_df().count() == 120


def test_manifest_stats_recorded(catalog, spark):
    t = catalog.create_table("gold.stats", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=50))
    entry = t.snapshot().manifest[0]
    assert entry["rows"] > 0
    assert entry["bytes"] > 0
    assert "Bid" in entry["stats"]
    lo, hi = entry["stats"]["Bid"]
    assert lo <= hi


def test_concurrent_appends_from_threads(catalog, spark):
    """Optimistic concurrency under real thread contention: N threads
    append simultaneously; every commit must land exactly once (the
    O_CREAT|O_EXCL protocol serializes them via retries)."""
    import threading

    t = catalog.create_table("gold.conc", TICK_SCHEMA, [])
    errors = []

    def worker(i):
        try:
            df = tick_df(spark, start=f"202{i}-06-01 00:00:00", n=10)
            catalog.load_table("gold.conc").append(df)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(5)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert t.to_df().count() == 50
    assert len(t.snapshots()) == 6  # create + 5 appends, distinct versions


def test_optimized_write_reduces_files(catalog, spark):
    """optimize_write hash-distributes by partition column: file count
    drops from O(tasks x partitions) to O(partitions)."""
    spec = [PartitionField("DateTime", "years", "DateTime_year")]
    t1 = catalog.create_table("gold.noopt", TICK_SCHEMA, spec)
    t2 = catalog.create_table("gold.opt", TICK_SCHEMA, spec)
    # rows spanning 2 years, spread over 8 input partitions
    df = tick_df(spark, year=2023, n=200).union(
        tick_df(spark, year=2024, n=200)
    ).repartition(8)
    t1.append(df)
    t2.append(df, optimize_write=True)
    n1 = len(t1.snapshot().manifest)
    n2 = len(t2.snapshot().manifest)
    assert n2 < n1
    assert t2.to_df().count() == 400
    # Iceberg's write.distribution-mode property: the table declares
    # hash distribution once, every writer inherits it
    t3 = catalog.create_table("gold.propopt", TICK_SCHEMA, spec)
    t3.set_properties(**{"write.distribution-mode": "hash"})
    t3.append(df)  # no per-call flag
    assert len(t3.snapshot().manifest) == n2
    assert t3.to_df().count() == 400


def test_sorted_compaction_tightens_stats(catalog, spark):
    """compact(sort_by): output files carry disjoint key ranges, so a
    point-range file filter keeps ~1 file instead of all."""
    t = catalog.create_table("gold.sorted", TICK_SCHEMA, [])
    # 6 small appends with interleaved time ranges (bad clustering)
    for i in range(6):
        t.append(
            tick_df(
                spark, start=f"2024-01-0{i+1} 00:00:00", n=50, 
            ).union(tick_df(spark, start=f"2024-02-0{i+1} 00:00:00", n=50)).coalesce(1)
        )
    snap = compact(t, target_file_bytes=8 * 1024, sort_by=["DateTime"])
    assert snap is not None
    entries = [e for e in t.snapshot().manifest if e["stats"].get("DateTime")]
    assert len(entries) >= 2
    ranges = sorted(tuple(e["stats"]["DateTime"]) for e in entries)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint, sorted ranges
    assert t.to_df().count() == 600


def test_orphan_gc_respects_grace_period(catalog, spark, tmp_path):
    """Unreferenced files younger than the grace period survive GC (they
    may belong to an in-flight commit); grace=0 deletes them."""
    t = catalog.create_table("gold.grace", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=10))
    # simulate an in-flight append: data file on disk, no snapshot yet
    orphan = os.path.join(t.data_dir, "inflight", "part-0.parquet")
    os.makedirs(os.path.dirname(orphan))
    import shutil as sh

    src = next(
        os.path.join(r, f)
        for r, _d, fs in os.walk(t.data_dir)
        for f in fs
        if f.endswith(".parquet") and "inflight" not in r
    )
    sh.copy(src, orphan)

    expire_snapshots(t, older_than_ms=0, retain_last=2)  # default grace 1h
    assert os.path.exists(orphan)  # young orphan protected
    expire_snapshots(t, older_than_ms=0, retain_last=2, orphan_grace_secs=0)
    assert not os.path.exists(orphan)  # grace waived -> GC'd
    assert t.to_df().count() == 10


def test_partition_aware_compaction(catalog, spark):
    """Compaction of a partitioned table must respect partition
    boundaries: each year ends at ~1 file (never re-fragmented by a
    global repartition), and a partition whose single small file is
    already optimal keeps that file byte-for-byte untouched."""
    t = catalog.create_table(
        "gold.pcomp",
        TICK_SCHEMA,
        [PartitionField("DateTime", "years", "DateTime_year")],
    )
    # years 2020/2021: 4 small appends each; year 2022: exactly one file
    for _ in range(4):
        t.append(
            tick_df(spark, year=2020, n=30)
            .union(tick_df(spark, year=2021, n=30))
            .coalesce(1)
        )
    t.append(tick_df(spark, year=2022, n=30).coalesce(1))

    def by_year(manifest):
        out = {}
        for e in manifest:
            out.setdefault(e["partition"]["DateTime_year"], []).append(e["path"])
        return out

    before = by_year(t.snapshot().manifest)
    assert len(before["2020"]) == 4 and len(before["2021"]) == 4
    lone_file = before["2022"]

    snap = compact(t, target_file_bytes=64 * 1024 * 1024)
    assert snap is not None and snap.operation == "replace"
    after = by_year(t.snapshot().manifest)
    assert len(after["2020"]) == 1 and len(after["2021"]) == 1
    assert after["2022"] == lone_file  # untouched, not rewritten
    assert t.to_df().count() == 4 * 60 + 30
    got = {
        r["y"]: r["n"]
        for r in t.to_df()
        .groupBy(F.year("DateTime").alias("y"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == {2020: 120, 2021: 120, 2022: 30}


def test_incremental_scan_tails_appends(catalog, spark):
    """scan_incremental(v) returns exactly the rows appended after v,
    survives an in-range compaction (rewrites carry no new rows but the
    pre-rewrite appends still surface), and refuses ranges containing
    row removals or expired snapshots."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import delete_where

    t = catalog.create_table("gold.inc", TICK_SCHEMA, [])
    t.append(tick_df(spark, year=2020, n=30))          # v1
    v1 = t.current_version()
    t.append(tick_df(spark, year=2021, n=40))          # v2
    t.append(tick_df(spark, year=2022, n=50))          # v3
    assert t.scan_incremental(v1).count() == 90
    assert t.scan_incremental(v1, to_version=v1 + 1).count() == 40
    assert t.scan_incremental(t.current_version()).count() == 0
    years = {
        r["y"]
        for r in t.scan_incremental(v1)
        .select(F.year("DateTime").alias("y"))
        .distinct()
        .collect()
    }
    assert years == {2021, 2022}

    # compaction inside the range: appended rows still surface once
    compact(t, target_file_bytes=64 * 1024 * 1024)     # v4 (replace)
    t.append(tick_df(spark, year=2023, n=60))          # v5
    assert t.scan_incremental(v1).count() == 150
    assert t.scan_incremental(v1, to_version=v1 + 3).count() == 90

    # row removal in range: not expressible as an append diff
    delete_where(t, F.year("DateTime") == 2020)        # v6
    with pytest.raises(ValueError, match="append-only"):
        t.scan_incremental(v1)
    # range entirely after the delete is fine again
    v6 = t.current_version()
    t.append(tick_df(spark, year=2024, n=70))          # v7
    assert t.scan_incremental(v6).count() == 70

    # expired snapshot inside the range
    t.delete_metadata_version(v6)
    with pytest.raises(ValueError, match="expired"):
        t.scan_incremental(v6 - 1)


def test_scan_changelog_mor_and_cow(catalog, spark):
    """scan_changelog nets every snapshot kind into insert/delete events:
    appends -> inserts; MoR position/equality deletes -> deletes of the
    claimed parent rows; MoR update -> delete(old)+insert(new); CoW
    rewrites diff only the touched files; compactions contribute
    nothing."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        delete_where,
        update_where,
    )

    t = catalog.create_table("gold.cdc", TICK_SCHEMA, [])
    t.append(tick_df(spark, year=2020, n=30))              # v1
    v1 = t.current_version()
    t.append(tick_df(spark, year=2021, n=40))              # v2: +40 inserts

    # MoR positional delete of 10 of the 2020 rows          v3: 10 deletes
    delete_where(
        t,
        (F.year("DateTime") == 2020) & (F.second("DateTime") < 10),
        mode="merge-on-read",
        positional=True,
    )
    cl = t.scan_changelog(v1)
    by_type = {
        (r["_change_type"], r["_change_version"]): r["n"]
        for r in cl.groupBy("_change_type", "_change_version")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert by_type == {("insert", v1 + 1): 40, ("delete", v1 + 2): 10}
    # deleted rows carry the OLD values (2020 rows, seconds 0..9)
    dels = cl.filter(F.col("_change_type") == "delete")
    assert dels.filter(F.year("DateTime") != 2020).count() == 0
    assert dels.select(F.max(F.second("DateTime"))).first()[0] == 9

    # compaction in range contributes nothing                v4
    compact(t, target_file_bytes=64 * 1024 * 1024)
    assert t.scan_changelog(t.current_version() - 1).count() == 0

    # MoR equality delete                                    v5: 5 deletes
    v4 = t.current_version()
    delete_where(
        t,
        (F.year("DateTime") == 2021) & (F.second("DateTime") < 5),
        mode="merge-on-read",
        equality_cols=["DateTime"],
    )
    cl5 = t.scan_changelog(v4)
    assert cl5.filter(F.col("_change_type") == "delete").count() == 5
    assert cl5.filter(F.col("_change_type") == "insert").count() == 0

    # MoR update: delete(old) + insert(new) pairs            v6
    v5 = t.current_version()
    update_where(
        t,
        F.second("DateTime") == 20,
        {"Bid": F.lit(9.9)},
        mode="merge-on-read",
    )
    cl6 = t.scan_changelog(v5)
    old = cl6.filter(F.col("_change_type") == "delete")
    new = cl6.filter(F.col("_change_type") == "insert")
    assert old.count() == 2 and new.count() == 2  # one 2020 + one 2021 row
    assert old.filter(F.col("Bid") == 9.9).count() == 0
    assert new.filter(F.col("Bid") != 9.9).count() == 0

    # CoW delete: full-rewrite diff still yields exact rows  v7
    v6 = t.current_version()
    n_2020_live = t.to_df().filter(F.year("DateTime") == 2020).count()
    delete_where(t, F.year("DateTime") == 2020)  # copy-on-write
    cl7 = t.scan_changelog(v6)
    assert (
        cl7.filter(F.col("_change_type") == "delete").count() == n_2020_live
    )
    assert cl7.filter(F.col("_change_type") == "insert").count() == 0

    # whole-range changelog nets out to the live table: inserts minus
    # deletes == final row count
    whole = t.scan_changelog(v1)
    n_ins = whole.filter(F.col("_change_type") == "insert").count()
    n_del = whole.filter(F.col("_change_type") == "delete").count()
    assert t.to_df().count() == 30 + n_ins - n_del

    # expired snapshot inside the range still raises
    t.delete_metadata_version(v5)
    with pytest.raises(ValueError, match="expired"):
        t.scan_changelog(v4)


def test_orphan_gc_lists_on_driver(catalog, spark):
    """Orphan GC over 18 batch dirs lists the data files on the driver:
    the expiry launches no Spark job, deletes exactly the unreferenced
    rewrites and keeps the table readable."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (
        _list_data_files,
    )
    from tests.test_ingest_change_detection import _jobs

    n_batches = 18
    t = catalog.create_table("gold.gcbig", TICK_SCHEMA, [])
    for i in range(n_batches):
        t.append(tick_df(spark, start=f"2024-01-01 {i:02d}:00:00", n=10).coalesce(1))
    assert len(_list_data_files(t)) == n_batches

    compact(t, target_file_bytes=64 * 1024 * 1024)
    res, jobs = _jobs(
        spark,
        lambda: expire_snapshots(
            t,
            older_than_ms=int(time.time() * 1000) + 10_000,
            retain_last=1,
            orphan_grace_secs=0.0,
        ),
    )
    assert jobs == 0
    assert res["deleted_files"] == n_batches  # every rewritten small
    assert t.to_df().count() == n_batches * 10


def test_zorder_key_morton_interleave(spark):
    """2-bit Morton sanity: z(x,y) interleaves x into even bits and y
    into odd bits."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.functions.zorder import (
        zorder_key,
    )

    df = spark.createDataFrame(
        [(x, y) for x in range(4) for y in range(4)], "x int, y int"
    )
    rows = df.withColumn(
        "z", zorder_key(df, ["x", "y"], {"x": (0.0, 3.0), "y": (0.0, 3.0)}, bits=2)
    ).collect()
    for r in rows:
        x, y = r["x"], r["y"]
        expect = sum(
            (((x >> b) & 1) << (2 * b)) + (((y >> b) & 1) << (2 * b + 1))
            for b in range(2)
        )
        assert r["z"] == expect, (x, y, r["z"], expect)


def test_zorder_compaction_prunes_both_dimensions(catalog, spark):
    """compact(zorder_by): after the rewrite, per-file min/max stats
    prune scans on EITHER clustered column - a linear sort would only
    tighten the first one."""
    n = 4096
    grid = spark.range(n).select(
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(hours=F.col("id") % 64)
        ).alias("DateTime"),
        F.floor(F.col("id") / 64).cast("double").alias("Bid"),
        F.lit(1.2).alias("Ask"),
    )
    t = catalog.create_table("gold.zorder", TICK_SCHEMA, [])
    for i in range(4):  # 4 unclustered appends (hash-sliced, not sorted)
        t.append(
            grid.filter(F.pmod(F.hash("DateTime", "Bid"), F.lit(4)) == i).coalesce(1)
        )
    snap = compact(
        t, target_file_bytes=1024, small_file_threshold=64.0,
        zorder_by=["DateTime", "Bid"],
    )
    assert snap is not None
    total_files = len(t.snapshot().manifest)
    assert total_files >= 8, total_files

    import datetime as dt

    time_slice = t.scan_where(
        "DateTime",
        dt.datetime(2024, 1, 1, 0),
        dt.datetime(2024, 1, 1, 3, 59, 59),
    )
    bid_slice = t.scan_where("Bid", 0.0, 3.0)
    assert time_slice.count() == 4 * 64
    assert bid_slice.count() == 4 * 64
    n_time = len(time_slice.inputFiles())
    n_bid = len(bid_slice.inputFiles())
    assert n_time <= total_files // 2, (n_time, total_files)
    assert n_bid <= total_files // 2, (n_bid, total_files)


def test_append_cluster_by_writes_prunable_files(catalog, spark):
    """append(cluster_by=...): a single large append lands z-ordered, so
    per-file stats prune on both clustered columns with no compaction."""
    n = 4096
    grid = spark.range(n).repartition(8).select(
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(hours=F.col("id") % 64)
        ).alias("DateTime"),
        F.floor(F.col("id") / 64).cast("double").alias("Bid"),
        F.lit(1.2).alias("Ask"),
    )
    t = catalog.create_table("gold.zwrite", TICK_SCHEMA, [])
    t.append(grid, cluster_by=["DateTime", "Bid"])
    total_files = len(t.snapshot().manifest)
    assert total_files >= 4, total_files

    import datetime as dt

    time_slice = t.scan_where(
        "DateTime", dt.datetime(2024, 1, 1, 0), dt.datetime(2024, 1, 1, 3, 59, 59)
    )
    bid_slice = t.scan_where("Bid", 0.0, 3.0)
    assert time_slice.count() == 4 * 64
    assert bid_slice.count() == 4 * 64
    # Both dimensions must prune meaningfully (a single-dim sort prunes
    # only its own dimension - the other slice would read EVERY file).
    # The exact pruned fraction wobbles with the output file count, which
    # AQE + range-sampler boundaries shift by +-1 depending on what ran
    # earlier in the session, so assert <= 3/4 rather than a knife-edge
    # half (observed: 2-5 files of 8 for a 1/16-width slab).
    assert len(time_slice.inputFiles()) <= total_files * 3 // 4
    assert len(bid_slice.inputFiles()) <= total_files * 3 // 4


def test_incremental_scan_refuses_mor_mutations(catalog, spark):
    """Merge-on-read DELETE and UPDATE snapshots both remove/replace
    rows, so an incremental range containing either must raise exactly
    like their copy-on-write twins - never silently emit a diff missing
    the subtraction."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        delete_where,
        update_where,
    )

    t = catalog.create_table("gold.incmor", TICK_SCHEMA, [])
    t.append(tick_df(spark, year=2020, n=30))
    v1 = t.current_version()
    delete_where(
        t, F.col("Bid") >= 1.12, mode="merge-on-read", positional=True
    )
    with pytest.raises(ValueError, match="append-only"):
        t.scan_incremental(v1)

    v2 = t.current_version()
    t.append(tick_df(spark, year=2021, n=10))
    assert t.scan_incremental(v2).count() == 10  # post-delete range ok

    v3 = t.current_version()
    update_where(
        t, F.col("Bid") < 1.11, {"Ask": F.lit(9.9)}, mode="merge-on-read"
    )
    with pytest.raises(ValueError, match="append-only"):
        t.scan_incremental(v3)


def test_append_validates_writer_schema(catalog, spark):
    t = catalog.create_table("gold.strict", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=3))
    # unknown column refuses (evolve first)
    with pytest.raises(ValueError, match="not in the table schema"):
        t.append(tick_df(spark, n=1).withColumn("venue", F.lit("x")))
    # narrowing-incompatible type refuses at write time, not scan time
    bad = spark.range(1).selectExpr(
        "current_timestamp() AS DateTime",
        "CAST(id AS string) AS Bid",
        "CAST(id AS double) AS Ask",
    )
    with pytest.raises(ValueError, match="Bid"):
        t.append(bad)
    # widening-compatible input is allowed (reader widens on scan)
    narrow = spark.range(1).selectExpr(
        "current_timestamp() AS DateTime",
        "CAST(id AS float) AS Bid",
        "CAST(id AS float) AS Ask",
    )
    t.append(narrow)
    # missing optional column reads as null after evolution
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import add_column

    add_column(t, "venue", "string")
    t.append(tick_df(spark, n=2, start="2024-05-01 00:00:00"))  # no venue
    assert t.to_df().filter(F.col("venue").isNull()).count() == 6


def test_append_accepts_small_int_widening_and_lineage_names(catalog, spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        rename_column,
    )
    from pyspark.sql.types import IntegerType, StructField as SF

    t = catalog.create_table(
        "gold.widen", StructType([SF("k", IntegerType())]), []
    )
    # tinyint/smallint widen into an int column (simpleString mapping)
    t.append(spark.range(3).selectExpr("CAST(id AS tinyint) AS k"))
    t.append(spark.range(3).selectExpr("CAST(id AS smallint) AS k"))
    # case-insensitive name resolution, matching the read path
    t.append(spark.range(2).selectExpr("CAST(id AS int) AS K"))
    assert t.to_df().count() == 8
    # a long-running writer may still produce the pre-rename name
    rename_column(t, "k", "key_id")
    t.append(spark.range(2).selectExpr("CAST(id AS int) AS k"))
    df = t.to_df()
    assert df.columns == ["key_id"]
    assert df.filter(F.col("key_id").isNotNull()).count() == 10


def test_check_constraints(spark, tmp_path):
    """Delta-style CHECK constraints: violating appends refuse the whole
    batch atomically; NULL predicates pass (standard SQL CHECK); IS NOT
    NULL rejects nulls explicitly; dropped constraints stop applying."""
    import pytest as _pytest

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from pyspark.sql import functions as F

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    df = spark.createDataFrame([(1, 5.0)], "k long, price double")
    t = cat.create_table("gold.c", df.schema)
    t.add_constraint("positive_price", "price > 0")
    with _pytest.raises(ValueError, match="invalid constraint"):
        t.add_constraint("broken", "price >>>")
    with _pytest.raises(ValueError, match="invalid constraint"):
        t.add_constraint("ghost", "no_such_col > 0")
    t.append(df)  # satisfies

    v = t.current_version()
    bad = spark.createDataFrame([(2, 1.0), (3, -4.0)], "k long, price double")
    with _pytest.raises(ValueError, match="positive_price.*1 row"):
        t.append(bad)
    assert t.current_version() == v  # nothing committed
    assert t.to_df().count() == 1

    # UNKNOWN passes: NULL price is not a violation of price > 0
    t.append(spark.createDataFrame([(4, None)], "k long, price double"))
    assert t.to_df().count() == 2
    # explicit null rejection
    t.add_constraint("price_set", "price IS NOT NULL")
    with _pytest.raises(ValueError, match="price_set"):
        t.append(spark.createDataFrame([(5, None)], "k long, price double"))
    assert t.constraints() == {
        "positive_price": "price > 0",
        "price_set": "price IS NOT NULL",
    }
    t.drop_constraint("price_set")
    t.append(spark.createDataFrame([(6, None)], "k long, price double"))
    assert t.to_df().count() == 3


def test_check_constraints_all_write_paths(spark, tmp_path):
    """ADVICE r5: CHECK is a table invariant, not an append feature -
    INSERT OVERWRITE (overwrite_partitions), UPDATE ... SET, and MERGE
    must refuse violating rows exactly like append does."""
    import pytest as _pytest

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        merge_into,
        overwrite_partitions,
        update_where,
    )
    from pyspark.sql import functions as F

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("gold")
    df = spark.createDataFrame([(1, 5.0), (2, 7.0)], "k long, price double")
    t = cat.create_table("gold.c", df.schema)
    t.add_constraint("positive_price", "price > 0")
    t.append(df)
    v = t.current_version()

    bad = spark.createDataFrame([(9, -1.0)], "k long, price double")
    with _pytest.raises(ValueError, match="overwrite.*positive_price"):
        overwrite_partitions(t, bad)
    with _pytest.raises(ValueError, match="update.*positive_price"):
        update_where(t, F.col("k") == 1, {"price": F.lit(-3.0)})
    with _pytest.raises(ValueError, match="update.*positive_price"):
        update_where(
            t, F.col("k") == 1, {"price": F.lit(-3.0)}, mode="merge-on-read"
        )
    with _pytest.raises(ValueError, match="merge.*positive_price"):
        merge_into(t, bad, key="k")
    # SQL verbs route through the same gates
    with _pytest.raises(ValueError, match="positive_price"):
        cat.sql(
            "INSERT OVERWRITE gold.c "
            "SELECT CAST(9 AS LONG), CAST(-1.0 AS DOUBLE)"
        )
    with _pytest.raises(ValueError, match="positive_price"):
        cat.sql("UPDATE gold.c SET price = -2.0 WHERE k = 2")
    assert t.current_version() == v  # nothing committed anywhere
    assert {r["k"]: r["price"] for r in t.to_df().collect()} == {1: 5.0, 2: 7.0}

    # satisfying writes still commit through every verb
    overwrite_partitions(
        t, spark.createDataFrame([(3, 1.0)], "k long, price double")
    )
    update_where(t, F.col("k") == 3, {"price": F.lit(2.0)})
    merge_into(
        t, spark.createDataFrame([(4, 9.0)], "k long, price double"), key="k"
    )
    assert {r["k"]: r["price"] for r in t.to_df().collect()} == {3: 2.0, 4: 9.0}


def test_range_distribution_mode_tightens_stats(catalog, spark):
    """write.distribution-mode=range: the same small-files protection
    as hash, plus disjoint per-file min/max on the partition source
    column from the FIRST write - a point-range file filter then keeps
    a subset of files without waiting for a sorted compaction."""
    spec = [PartitionField("DateTime", "years", "DateTime_year")]
    t = catalog.create_table("gold.rangemode", TICK_SCHEMA, spec)
    t.set_properties(**{"write.distribution-mode": "range"})
    df = tick_df(spark, year=2023, n=200).union(
        tick_df(spark, year=2024, n=200)
    ).repartition(8)
    t.append(df)
    assert t.to_df().count() == 400
    entries = t.snapshot().data_entries
    # small-files protection: O(partitions)-ish, not tasks x partitions
    assert len(entries) <= 8
    # per-file DateTime ranges are pairwise disjoint (sorted output)
    spans = sorted(
        (e["stats"]["DateTime"][0], e["stats"]["DateTime"][1])
        for e in entries
        if (e.get("stats") or {}).get("DateTime")
    )
    assert len(spans) == len(entries)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {hi1} vs {lo2}"


def test_identity_column_allocation(catalog, spark):
    """r9 Delta parity: GENERATED ALWAYS AS IDENTITY - appends allocate
    unique monotonically-increasing values (contiguous within a batch,
    gaps allowed across failures), a writer supplying the column is
    refused, steps/starts honored, and values survive compaction."""
    import pytest as _pytest

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (
        compact,
    )

    t = catalog.create_table(
        "gold.ident",
        spark.createDataFrame([], "rid long, v string").schema,
        [],
    )
    t.set_identity_column("rid", start=100, step=10)
    t.append(
        spark.createDataFrame([("a",), ("b",), ("c",)], "v string")
        .repartition(2)
    )
    got1 = {r["rid"] for r in t.to_df().collect()}
    assert got1 == {100, 110, 120}
    t.append(spark.createDataFrame([("d",)], "v string"))
    got2 = {r["rid"] for r in t.to_df().collect()}
    assert got2 == {100, 110, 120, 130}
    # ALWAYS semantics: a batch carrying the column is refused
    with _pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.append(
            spark.createDataFrame([(999, "x")], "rid long, v string")
        )
    # rewrites carry values through untouched
    t.append(spark.createDataFrame([("e",)], "v string").coalesce(1))
    compact(t, target_file_bytes=64 * 1024 * 1024)
    after = {r["rid"] for r in t.to_df().collect()}
    assert after == {100, 110, 120, 130, 140}
    # declaration gates: non-empty, non-bigint, zero step
    with _pytest.raises(ValueError, match="empty"):
        t.set_identity_column("rid")
    t2 = catalog.create_table(
        "gold.identg",
        spark.createDataFrame([], "rid string, v long").schema,
        [],
    )
    with _pytest.raises(ValueError, match="BIGINT"):
        t2.set_identity_column("rid")
    with _pytest.raises(ValueError, match="step"):
        t2.set_identity_column("v", step=0)


def test_identity_column_hygiene(catalog, spark):
    """r9 review: identity DDL single-clause specs parse; unparseable
    ADD COLUMN clauses raise instead of committing a garbage type;
    DROP/RENAME/RESTORE reconcile the identity.* properties; MERGE
    INSERT and identity-less INSERT OVERWRITE are refused; a
    case-variant batch column cannot bypass the ALWAYS refusal."""
    import pytest as _pytest

    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        merge_into,
        overwrite_partitions,
        rename_column,
    )

    t = catalog.create_table(
        "gold.idhyg",
        spark.createDataFrame([], "v string").schema,
        [],
    )
    # single-clause spelling (START WITH only)
    catalog.sql(
        "ALTER TABLE gold.idhyg ADD COLUMN rid bigint "
        "GENERATED ALWAYS AS IDENTITY (START WITH 7)"
    )
    t = catalog.load_table("gold.idhyg")
    assert t.identity_columns()["rid"]["start"] == 7
    # a garbage clause raises BEFORE anything commits
    with _pytest.raises(ValueError, match="unparseable column type"):
        catalog.sql(
            "ALTER TABLE gold.idhyg ADD COLUMN x bigint "
            "GENERATED SOMETIMES AS IDENTITY"
        )
    assert "x" not in {f.name for f in catalog.load_table("gold.idhyg").schema.fields}
    t.append(spark.createDataFrame([("a",), ("b",)], "v string"))
    assert {r["rid"] for r in t.to_df().collect()} == {7, 8}
    # case-variant supply is refused
    with _pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.append(
            spark.createDataFrame([("z", 99)], "v string, RID long")
        )
    # MERGE INSERT is refused on identity tables
    with _pytest.raises(ValueError, match="append the new rows"):
        merge_into(
            t,
            spark.createDataFrame([("q", 1)], "v string, rid long"),
            key="rid",
        )
    # identity-less INSERT OVERWRITE is refused (null poisoning)
    with _pytest.raises(ValueError, match="append door"):
        overwrite_partitions(
            t, spark.createDataFrame([("w",)], "v string")
        )
    # RENAME migrates the allocator; appends continue the sequence
    rename_column(t, "rid", "row_id")
    t = catalog.load_table("gold.idhyg")
    assert set(t.identity_columns()) == {"row_id"}
    t.append(spark.createDataFrame([("c",)], "v string"))
    assert {r["row_id"] for r in t.to_df().collect()} == {7, 8, 9}
    # RESTORE to pre-identity reconciles the properties
    t2 = catalog.create_table(
        "gold.idres",
        spark.createDataFrame([], "v string").schema,
        [],
    )
    v0 = t2.current_version()
    catalog.sql(
        "ALTER TABLE gold.idres ADD COLUMN rid bigint "
        "GENERATED ALWAYS AS IDENTITY"
    )
    t2 = catalog.load_table("gold.idres")
    t2.append(spark.createDataFrame([("a",)], "v string"))
    t2.restore_to(v0)
    assert catalog.load_table("gold.idres").identity_columns() == {}
    catalog.load_table("gold.idres").append(
        spark.createDataFrame([("b",)], "v string")
    )  # must not inject a schema-less column


def test_identity_reservation_cas_disjoint_ranges(catalog, spark):
    """ADVICE r9->r10: the identity watermark reservation is a CAS
    commit on a per-table chain (hard-link claim of r<seq+1>.json), so
    a writer whose watermark read went stale (a competitor reserved
    between its read and its commit) retries PAST the competitor
    instead of silently handing out the same range. The race is forced
    by pre-claiming the exact link the first attempt targets."""
    import json
    import os

    t = catalog.create_table(
        "gold.idcas",
        spark.createDataFrame([], "rid long, v string").schema,
        [],
    )
    t.set_identity_column("rid", start=1, step=1)
    tb = catalog.load_table("gold.idcas")  # second writer, same table
    seq, _ = t._identity_chain_head()
    os.makedirs(t._identity_rsv_dir(), exist_ok=True)
    with open(
        os.path.join(t._identity_rsv_dir(), f"r{seq + 1}.json"), "w"
    ) as f:
        json.dump({"rid": 50}, f)  # competitor reserved through 50
    base = t._reserve_identity(3)  # loses the link race once, retries
    assert base == {"rid": 50}  # reserves FROM the competitor's high
    head_seq, head = t._identity_chain_head()
    assert head_seq == seq + 2
    assert head == {"rid": 53}
    # the props mirror converges to the chain head
    assert t.identity_columns()["rid"]["high"] == 53
    # interleaved appends through both handles stay disjoint
    t.append(spark.createDataFrame([("a",), ("b",)], "v string"))
    tb.append(spark.createDataFrame([("c",), ("d",)], "v string"))
    vals = [r["rid"] for r in t.to_df().collect()]
    assert len(vals) == 4 and len(set(vals)) == 4
    assert min(vals) == 54  # nothing re-used the pre-claimed range


def test_identity_redeclare_resets_chain_watermark(catalog, spark):
    """A re-declared identity column (dropped and re-added while the
    table is empty) must restart at START WITH, not inherit the stale
    chain watermark from its previous life."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import (
        drop_column,
    )

    t = catalog.create_table(
        "gold.idreset",
        spark.createDataFrame([], "rid long, v string").schema,
        [],
    )
    t.set_identity_column("rid", start=1, step=1)
    t._reserve_identity(40)  # burn a range (a crashed append's gap)
    drop_column(t, "rid")
    t = catalog.load_table("gold.idreset")
    catalog.sql(
        "ALTER TABLE gold.idreset ADD COLUMN rid bigint "
        "GENERATED ALWAYS AS IDENTITY (START WITH 1)"
    )
    t = catalog.load_table("gold.idreset")
    assert t.identity_columns()["rid"]["high"] == 0
    t.append(spark.createDataFrame([("a",)], "v string"))
    assert {r["rid"] for r in t.to_df().collect()} == {1}


def test_expire_snapshots_prunes_identity_epoch_records(catalog, spark):
    """r11 (VERDICT r10 #4): snapshot expiry owns identity-epoch record
    retention - records past the snapshot-age horizon prune, the newest
    `identity.epoch.min-records-to-keep` survive regardless of age (a
    long-idle live stream must still find its LAST epoch for replay),
    and a pruned-then-replayed OLD epoch reserves fresh (a gap, inside
    the identity contract) instead of crashing."""
    import os

    t = catalog.create_table(
        "gold.idexp",
        spark.createDataFrame([], "rid long, v string").schema,
        [],
    )
    t.set_identity_column("rid", start=1, step=1)
    t.append(spark.createDataFrame([("seed",)], "v string"))
    # simulate a stream's epoch records, oldest first
    bases = {}
    for ep in range(12):
        bases[ep] = t._reserve_identity_epoch(f"q:{ep}", 2)
    rsv = t._identity_rsv_dir()
    eps = sorted(
        n for n in os.listdir(rsv) if n.startswith("epoch-")
    )
    assert len(eps) == 12
    # age every record far past the horizon EXCEPT the newest four
    by_mtime = sorted(
        (os.stat(os.path.join(rsv, n)).st_mtime_ns, n) for n in eps
    )
    old = int((time.time() - 90 * 86400) * 1e9)
    for i, (_, n) in enumerate(by_mtime):
        os.utime(os.path.join(rsv, n), ns=(old + i, old + i))
    # dry run reports but touches nothing
    res = expire_snapshots(
        t, retain_last=1, delete_orphan_files=False, dry_run=True
    )
    assert res["identity_epoch_records_pruned"] == 12 - 8
    assert len(
        [n for n in os.listdir(rsv) if n.startswith("epoch-")]
    ) == 12
    # real run prunes all but the retention floor (default 8)
    res = expire_snapshots(t, retain_last=1, delete_orphan_files=False)
    assert res["identity_epoch_records_pruned"] == 12 - 8
    left = [n for n in os.listdir(rsv) if n.startswith("epoch-")]
    assert len(left) == 8
    # the newest records survived: replaying the LAST epoch still
    # returns the RECORDED base (deterministic replay)
    assert t._reserve_identity_epoch("q:11", 2) == bases[11]
    # a pruned epoch replayed reserves fresh - values differ (gap),
    # nothing crashes, and the chain watermark is still consistent
    fresh = t._reserve_identity_epoch("q:0", 2)
    assert fresh != bases[0]
    # property overrides the retention floor: 9 records now exist
    # (8 aged-old survivors + the fresh q:0 re-reservation); floor=2
    # keeps the fresh one plus the newest old one, the other 7 old
    # ones are past the horizon and prune
    t.set_properties(**{"identity.epoch.min-records-to-keep": "2"})
    res = expire_snapshots(t, retain_last=1, delete_orphan_files=False)
    left = [n for n in os.listdir(rsv) if n.startswith("epoch-")]
    assert res["identity_epoch_records_pruned"] == 7
    assert len(left) == 2


def test_epoch_record_gc_floor_is_per_query(catalog, spark):
    """Review r11: the epoch-record retention floor groups by the
    stream's __query fingerprint - a busy sibling stream cannot age
    out an idle stream's last replay record, and unreadable records
    share one group without crashing GC."""
    import os

    t = catalog.create_table(
        "gold.idexq",
        spark.createDataFrame([], "rid long, v string").schema,
        [],
    )
    t.set_identity_column("rid", start=1, step=1)
    t.append(spark.createDataFrame([("seed",)], "v string"))
    # an idle stream with ONE old epoch, a busy stream with ten
    idle_base = t._reserve_identity_epoch("idleq:0", 2)
    for ep in range(10):
        t._reserve_identity_epoch(f"busyq:{ep}", 2)
    # one record that does not parse
    rsv = t._identity_rsv_dir()
    with open(os.path.join(rsv, "epoch-unreadable.json"), "w") as f:
        f.write('{"rid": 999, "__n_')
    # age EVERYTHING far past the horizon, idle's record oldest
    old = int((time.time() - 90 * 86400) * 1e9)
    for i, n in enumerate(
        sorted(
            (n for n in os.listdir(rsv) if n.startswith("epoch-")),
            key=lambda n: os.stat(os.path.join(rsv, n)).st_mtime_ns,
        )
    ):
        os.utime(os.path.join(rsv, n), ns=(old + i, old + i))
    t.set_properties(**{"identity.epoch.min-records-to-keep": "2"})
    res = expire_snapshots(t, retain_last=1, delete_orphan_files=False)
    # busy keeps its newest 2 (8 pruned), idle keeps its only record,
    # the unreadable group keeps its only record
    assert res["identity_epoch_records_pruned"] == 8
    left = [n for n in os.listdir(rsv) if n.startswith("epoch-")]
    assert len(left) == 4
    # the idle stream's replay still finds its RECORDED base
    assert t._reserve_identity_epoch("idleq:0", 2) == idle_base


def test_epoch_race_branch_skips_query_fingerprint(
    catalog, spark, monkeypatch
):
    """Review r11: the FileExistsError race branch of
    _reserve_identity_epoch must skip ALL dunder bookkeeping keys when
    adopting the twin's record - with the r11 __query fingerprint in
    the record, the old '__n_rows'-only filter fed hex into int()."""
    import json as _json
    import os as _os

    t = catalog.create_table(
        "gold.idrace",
        spark.createDataFrame([], "rid long, v string").schema,
        [],
    )
    t.set_identity_column("rid", start=1, step=1)
    t.append(spark.createDataFrame([("seed",)], "v string"))
    rsv = t._identity_rsv_dir()

    real_link = _os.link

    def racing_link(src, dst, *a, **k):
        # the concurrent twin records the EPOCH first (with the r11
        # fingerprint), then our link attempt loses the race; the
        # identity CAS chain's own links pass through untouched
        if "epoch-" not in _os.path.basename(dst):
            return real_link(src, dst, *a, **k)
        with open(dst, "w") as f:
            _json.dump(
                {"rid": 42, "__n_rows": 2, "__query": "abcdef12feed"}, f
            )
        raise FileExistsError(dst)

    monkeypatch.setattr(_os, "link", racing_link)
    base = t._reserve_identity_epoch("raceq:0", 2)
    assert base == {"rid": 42}  # the twin's range, fingerprint skipped
