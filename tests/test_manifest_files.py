"""Manifest-file metadata format (Iceberg-style manifest list).

Snapshots reference immutable ``metadata/manifests/m-*.json`` files
instead of inlining the full file manifest: an append's commit
re-serializes only its own delta, a partial rewrite (compaction/MERGE)
reuses untouched manifest files by reference, and snapshot expiry GCs
manifests no retained snapshot references. At O(10^6) files this is the
difference between O(added) and O(files) metadata work per commit.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import LakehouseCatalog
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import merge_into
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (
    compact,
    expire_snapshots,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
    CommitConflict,
    LakehouseTable,
    PartitionField,
)

from test_table_format import TICK_SCHEMA, tick_df


@pytest.fixture
def catalog(spark, tmp_path):
    return LakehouseCatalog(spark, str(tmp_path / "warehouse"))


def _vjson(t: LakehouseTable, v: int) -> dict:
    with open(os.path.join(t.metadata_dir, f"v{v}.json")) as f:
        return json.load(f)


def test_append_serializes_delta_not_full_manifest(catalog, spark):
    t = catalog.create_table("gold.mf1", TICK_SCHEMA, [])
    for i in range(4):
        t.append(tick_df(spark, n=5).repartition(2))
    v = t.current_version()
    d = _vjson(t, v)
    # new-format snapshot: manifest list only, no inline manifest
    assert "manifest" not in d
    assert len(d["manifest_files"]) == 4
    # each delta manifest holds only its own append's files
    sizes = [
        len(json.load(open(os.path.join(t.metadata_dir, mf))))
        for mf in d["manifest_files"]
    ]
    total = len(t.snapshot().manifest)
    assert sum(sizes) == total
    assert max(sizes) < total
    # the snapshot JSON itself stays O(manifest-file count), not O(files)
    assert t.to_df().count() == 20


def test_manifest_files_shared_across_snapshots(catalog, spark):
    t = catalog.create_table("gold.mf2", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=5))
    t.append(tick_df(spark, n=5))
    d1 = _vjson(t, 1)
    d2 = _vjson(t, 2)
    # v2 references v1's manifest file by name - no re-serialization
    assert d1["manifest_files"][0] in d2["manifest_files"]
    # time travel still resolves the old view
    assert t.snapshot(1).total_rows == 5
    assert t.snapshot(2).total_rows == 10


def test_merge_threshold_collapses_manifest_list(catalog, spark, monkeypatch):
    monkeypatch.setattr(LakehouseTable, "_MANIFEST_MERGE_THRESHOLD", 4)
    t = catalog.create_table("gold.mf3", TICK_SCHEMA, [])
    for _ in range(6):
        t.append(tick_df(spark, n=3))
    d = _vjson(t, t.current_version())
    # list never reaches the threshold: merged back to one file
    assert len(d["manifest_files"]) < 4
    assert t.snapshot().total_rows == 18
    assert t.to_df().count() == 18


def test_commit_delta_reuses_untouched_manifests(catalog, spark):
    t = catalog.create_table(
        "gold.mf4",
        TICK_SCHEMA,
        [PartitionField("DateTime", "years", "DateTime_year")],
    )
    # two partitions; 2023 gets two small files (compactable), 2024 one
    t.append(tick_df(spark, year=2023, n=4).repartition(2))
    t.append(tick_df(spark, year=2024, n=4).repartition(1))
    before = _vjson(t, t.current_version())["manifest_files"]
    snap = compact(t, target_file_bytes=1 << 30)
    assert snap is not None
    after = _vjson(t, t.current_version())["manifest_files"]
    # the 2024-only manifest carried over BY REFERENCE; the 2023 one
    # (all small, fully rewritten) did not
    assert before[1] in after
    assert before[0] not in after
    assert t.to_df().count() == 8
    # fresh handle (empty cache) resolves identically
    t2 = LakehouseTable(spark, t.location)
    assert t2.to_df().count() == 8
    assert {e["path"] for e in t2.snapshot().manifest} == {
        e["path"] for e in t.snapshot().manifest
    }


def test_commit_delta_conflict_detection(catalog, spark):
    t = catalog.create_table("gold.mf5", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=4))
    base = t.current_version()
    t.append(tick_df(spark, n=4))  # concurrent append after the read
    with pytest.raises(CommitConflict):
        t.commit_delta(
            added=[],
            removed_paths={e["path"] for e in t.snapshot(base).manifest},
            operation="replace",
            base_version=base,
        )


def test_expiry_gcs_unreferenced_manifest_files(catalog, spark):
    t = catalog.create_table("gold.mf6", TICK_SCHEMA, [])
    for _ in range(3):
        t.append(tick_df(spark, n=3))
    # full rewrite orphans all three delta manifests once v1-v3 expire
    snap = t.snapshot()
    t.overwrite_manifest(
        snap.manifest, operation="replace", base_version=snap.version
    )
    mdir = os.path.join(t.metadata_dir, "manifests")
    n_before = len(os.listdir(mdir))
    res = expire_snapshots(
        t, older_than_ms=2**62, retain_last=1, orphan_grace_secs=0.0
    )
    assert res["deleted_manifests"] > 0
    n_after = len(os.listdir(mdir))
    assert n_after < n_before
    # every retained snapshot still resolves; data intact
    t2 = LakehouseTable(spark, t.location)
    for s in t2.snapshots():
        assert s.manifest is not None
    assert t2.to_df().count() == 9


def test_merge_into_reuses_out_of_range_manifests(catalog, spark):
    t = catalog.create_table("gold.mf8", TICK_SCHEMA, [])
    # one file per append: an empty task's zero-row file has no stats
    # and would (correctly, conservatively) count as touched
    t.append(tick_df(spark, year=2023, n=4).repartition(1))
    t.append(tick_df(spark, year=2025, n=4).repartition(1))
    before = _vjson(t, t.current_version())["manifest_files"]
    # updates overlap only the 2025 file's key range
    updates = tick_df(spark, year=2025, n=2).withColumn("Bid", F.lit(9.9))
    merge_into(t, updates, key="DateTime")
    after = _vjson(t, t.current_version())["manifest_files"]
    assert before[0] in after  # 2023 manifest untouched, carried by ref
    assert before[1] not in after
    df = t.to_df()
    assert df.count() == 8
    assert df.filter(F.col("Bid") == 9.9).count() == 2


def test_rewrite_manifests_explicit(spark, tmp_path):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
        LakehouseCatalog,
    )
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (
        rewrite_manifests,
    )
    from test_table_format import TICK_SCHEMA, tick_df

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("gold.rwm", TICK_SCHEMA, [])
    for i in range(5):
        t.append(tick_df(spark, n=3, start=f"2024-0{i+1}-01 00:00:00"))
    n_before = t.to_df().count()
    assert len(t.snapshot().manifest_files) == 5
    out = rewrite_manifests(t)
    assert out == {"manifests_before": 5, "manifests_after": 1}
    assert len(t.snapshot().manifest_files) == 1
    assert t.to_df().count() == n_before  # metadata-only
    # idempotent / no-op on a single manifest
    v = t.current_version()
    assert rewrite_manifests(t)["manifests_after"] == 1
    assert t.current_version() == v
