"""Named refs (tags) + metadata inspection tables.

Tags pin a snapshot version under a name (Iceberg tag semantics): time
travel by name, protection from snapshot expiry while the tag exists.
The inspect_* tables expose snapshots/files/partitions as DataFrames -
the layout-diagnostics surface (small-file ratio, partition skew) that
drives compaction decisions without reading any data file.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import LakehouseCatalog
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (
    expire_snapshots,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import PartitionField

from test_table_format import TICK_SCHEMA, tick_df


@pytest.fixture
def catalog(spark, tmp_path):
    return LakehouseCatalog(spark, str(tmp_path / "warehouse"))


def test_tag_time_travel(catalog, spark):
    t = catalog.create_table("gold.tags1", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=5))
    t.create_tag("training-v1")
    t.append(tick_df(spark, n=7))
    assert t.snapshot_by_tag("training-v1").total_rows == 5
    assert t.snapshot().total_rows == 12
    assert t.scan(snapshot=t.snapshot_by_tag("training-v1")).count() == 5
    assert t.refs() == {"training-v1": 1}
    with pytest.raises(ValueError):
        t.create_tag("training-v1")  # no silent re-point
    with pytest.raises(ValueError):
        t.create_tag("bad", version=99)
    t.drop_tag("training-v1")
    assert t.refs() == {}
    with pytest.raises(ValueError):
        t.snapshot_by_tag("training-v1")


def test_tagged_snapshot_survives_expiry(catalog, spark):
    t = catalog.create_table("gold.tags2", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=3))  # v1
    t.create_tag("pinned")
    for _ in range(3):
        t.append(tick_df(spark, n=3))  # v2..v4
    res = expire_snapshots(
        t, older_than_ms=2**62, retain_last=1, orphan_grace_secs=0.0
    )
    assert res["expired_snapshots"] > 0
    # v1 outlived retention because the tag pins it - and still scans
    assert t.snapshot_by_tag("pinned").total_rows == 3
    assert t.scan(snapshot=t.snapshot_by_tag("pinned")).count() == 3
    # dropping the tag releases it for the next expiry run
    t.drop_tag("pinned")
    expire_snapshots(t, older_than_ms=2**62, retain_last=1, orphan_grace_secs=0.0)
    versions = {s.version for s in t.snapshots()}
    assert 1 not in versions


def test_inspect_snapshots_and_files(catalog, spark):
    t = catalog.create_table(
        "gold.ins1",
        TICK_SCHEMA,
        [PartitionField("DateTime", "years", "DateTime_year")],
    )
    t.append(tick_df(spark, year=2023, n=4).repartition(1))
    t.append(tick_df(spark, year=2024, n=6).repartition(1))
    hist = t.inspect_snapshots().orderBy("version").collect()
    assert [r["operation"] for r in hist] == ["create", "append", "append"]
    assert hist[-1]["total_rows"] == 10
    assert hist[-1]["n_files"] == 2

    files = t.inspect_files().collect()
    assert len(files) == 2
    assert sum(r["rows"] for r in files) == 10
    years = {r["partition"]["DateTime_year"] for r in files}
    assert years == {"2023", "2024"}

    parts = t.inspect_partitions().collect()
    assert len(parts) == 2
    assert all(r["n_files"] == 1 for r in parts)
    total = {r["partition"]["DateTime_year"]: r["rows"] for r in parts}
    assert total == {"2023": 4, "2024": 6}


def test_inspect_partitions_drives_compaction_decision(catalog, spark):
    t = catalog.create_table("gold.ins2", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=8).repartition(4))
    parts = t.inspect_partitions().collect()
    # unpartitioned: single group, 4 small files -> compactable
    assert len(parts) == 1 and parts[0]["n_files"] == 4
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import compact

    assert compact(t, target_file_bytes=1 << 30) is not None
    assert t.inspect_partitions().collect()[0]["n_files"] < 4


# -- branch refs (mutable, fast-forwardable) ---------------------------------


def test_branch_pins_then_fast_forwards(catalog, spark):
    """A branch gives readers a stable published state while main
    advances; fast_forward moves it onto the audited head."""
    t = catalog.create_table("gold.br1", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=5))
    t.create_branch("prod")
    prod_v = t.refs()["prod"]

    t.append(tick_df(spark, start="2024-01-01 10:00:00", n=7))  # main advances
    assert t.to_df().count() == 12
    # prod readers still see the published state
    assert t.scan(snapshot=t.snapshot_by_ref("prod")).count() == 5
    assert t.refs()["prod"] == prod_v

    new_v = t.fast_forward("prod")
    assert new_v == t.current_version()
    assert t.scan(snapshot=t.snapshot_by_ref("prod")).count() == 12


def test_branch_never_moves_backwards(catalog, spark):
    t = catalog.create_table("gold.br2", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=3))
    t.append(tick_df(spark, start="2024-01-01 05:00:00", n=3))
    t.create_branch("prod")  # at v2
    with pytest.raises(ValueError, match="must advance"):
        t.fast_forward("prod", to_version=1)
    with pytest.raises(ValueError, match="no snapshot"):
        t.fast_forward("prod", to_version=99)


def test_tags_never_fast_forward(catalog, spark):
    t = catalog.create_table("gold.br3", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=3))
    t.create_tag("release")
    with pytest.raises(ValueError, match="no branch"):
        t.fast_forward("release")
    with pytest.raises(ValueError, match="no branch"):
        t.drop_branch("release")
    with pytest.raises(ValueError, match="no tag"):
        t.drop_tag("nope")


def test_branch_head_protected_from_expiry(catalog, spark):
    """Expiry must not GC a branch head even when retention would."""
    t = catalog.create_table("gold.br4", TICK_SCHEMA, [])
    t.append(tick_df(spark, n=3))
    t.create_branch("prod")  # head = v1
    for h in (6, 12, 18):
        t.append(tick_df(spark, start=f"2024-01-01 {h:02d}:00:00", n=2))
    expire_snapshots(t, older_than_ms=0, retain_last=1)
    assert t.scan(snapshot=t.snapshot_by_ref("prod")).count() == 3
    t.drop_branch("prod")
    with pytest.raises(ValueError, match="no ref"):
        t.snapshot_by_ref("prod")


def test_table_properties_roundtrip(catalog, spark):
    t = catalog.create_table("gold.props", TICK_SCHEMA, [])
    assert t.properties() == {}
    t.set_properties(**{"history.expire.min-snapshots-to-keep": 5, "owner": "x"})
    assert t.properties()["owner"] == "x"
    t.unset_properties("owner")
    assert "owner" not in t.properties()
    assert t.properties()["history.expire.min-snapshots-to-keep"] == "5"


def test_expiry_reads_retention_properties(catalog, spark):
    t = catalog.create_table("gold.proppol", TICK_SCHEMA, [])
    for i in range(4):
        t.append(tick_df(spark, n=2, start=f"2024-0{i+1}-01 00:00:00"))
    # policy on the table: keep every snapshot
    t.set_properties(**{
        "history.expire.min-snapshots-to-keep": 100,
        "history.expire.max-snapshot-age-ms": 0,
    })
    out = expire_snapshots(t, orphan_grace_secs=0)
    assert out["expired_snapshots"] == 0
    # tighten the policy: keep only 1
    t.set_properties(**{"history.expire.min-snapshots-to-keep": 1})
    out = expire_snapshots(t, orphan_grace_secs=0)
    assert out["expired_snapshots"] > 0
    assert t.to_df().count() == 8  # current state untouched
    # explicit arguments still override the table policy
    out = expire_snapshots(t, retain_last=100, orphan_grace_secs=0)
    assert out["expired_snapshots"] == 0
