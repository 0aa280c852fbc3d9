"""GC vs time-travel: snapshot expiry + compaction racing pinned reads
and incremental readers (VERDICT r5 #7 - the one lifecycle edge without
explicit coverage).

The isolation contract under test:
- a snapshot pinned by a ref (tag/branch) is protected from BOTH
  metadata expiry and orphan-file GC, so a reader holding it mid-flight
  keeps reading the exact pinned state - even a DataFrame built before
  expiry ran;
- an UNpinned expired snapshot fails LOUDLY (metadata lookup error, or
  missing-file read error for a plan built before expiry) - never
  silent partial rows;
- an incremental reader whose checkpoint got expired is told to
  full-scan (ValueError), while one over a retained range keeps working
  because appended files stay referenced by the current snapshot.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
    LakehouseCatalog,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (
    compact,
    expire_snapshots,
)

FUTURE_MS = lambda: int(time.time() * 1000) + 60_000  # noqa: E731


def _table(spark, tmp_path, name):
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("iso")
    schema = "k long, s string"
    empty = spark.createDataFrame([], schema)
    return cat.create_table(f"iso.{name}", empty.schema)


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.concat(F.lit("row"), F.col("id")).alias("s"),
    )


def test_tagged_snapshot_survives_compaction_and_gc(spark, tmp_path):
    t = _table(spark, tmp_path, "a")
    for i in range(4):
        t.append(_batch(spark, i * 10, (i + 1) * 10).coalesce(1))
    v_pin = t.current_version()  # 40 rows across 4 small files
    t.create_tag("audit", v_pin)
    # mid-flight reader: the plan is built BEFORE maintenance runs
    pinned = t.scan(snapshot=t.snapshot(v_pin))
    compact(t, target_file_bytes=64 * 1024 * 1024)
    t.append(_batch(spark, 40, 50).coalesce(1))
    expire_snapshots(
        t, older_than_ms=FUTURE_MS(), retain_last=1, orphan_grace_secs=0
    )
    # the tag pins v_pin: metadata retained AND its files skipped by GC
    assert v_pin in {s.version for s in t.snapshots()}
    assert pinned.count() == 40
    assert t.scan(snapshot=t.snapshot_by_tag("audit")).count() == 40
    got = sorted(
        r["k"] for r in t.scan(snapshot=t.snapshot(v_pin)).collect()
    )
    assert got == list(range(40))
    assert t.to_df().count() == 50
    # dropping the tag releases the pin: the next expiry collects it
    t.drop_tag("audit")
    expire_snapshots(
        t, older_than_ms=FUTURE_MS(), retain_last=1, orphan_grace_secs=0
    )
    assert v_pin not in {s.version for s in t.snapshots()}
    assert t.to_df().count() == 50  # current state never disturbed


def test_unpinned_expired_snapshot_fails_loudly(spark, tmp_path):
    t = _table(spark, tmp_path, "b")
    for i in range(4):
        t.append(_batch(spark, i * 10, (i + 1) * 10).coalesce(1))
    v_old = t.current_version()
    # mid-flight reader over the soon-to-expire snapshot, NO pin
    stale = t.scan(snapshot=t.snapshot(v_old))
    compact(t, target_file_bytes=64 * 1024 * 1024)
    expire_snapshots(
        t, older_than_ms=FUTURE_MS(), retain_last=1, orphan_grace_secs=0
    )
    assert v_old not in {s.version for s in t.snapshots()}
    # metadata lookup: loud error
    with pytest.raises(Exception):
        t.snapshot(v_old)
    # pre-built plan over GC'd files: the read must FAIL, not return a
    # subset (Spark default ignoreMissingFiles=false keeps this loud)
    with pytest.raises(Exception):
        stale.count()


def test_incremental_reader_vs_expiry(spark, tmp_path):
    t = _table(spark, tmp_path, "c")
    t.append(_batch(spark, 0, 10).coalesce(1))
    ckpt = t.current_version()
    t.append(_batch(spark, 10, 25).coalesce(1))
    t.append(_batch(spark, 25, 30).coalesce(1))
    # built before expiry; its files stay referenced by the current
    # snapshot, so the plan survives the checkpoint's metadata expiry
    inc = t.scan_incremental(ckpt)
    expire_snapshots(
        t, older_than_ms=FUTURE_MS(), retain_last=1, orphan_grace_secs=0
    )
    assert sorted(r["k"] for r in inc.collect()) == list(range(10, 30))
    # a NEW incremental from the expired checkpoint refuses: the
    # consumer fell behind retention and must full-scan
    with pytest.raises(ValueError, match="expired"):
        t.scan_incremental(ckpt)


def test_randomized_maintenance_interleaving_keeps_invariants(
    spark, tmp_path
):
    """Seeded random interleaving of append/compact/tag/expire. After
    EVERY step: the current scan equals the row model, and every live
    tag still reads its exact pinned state (expiry + GC ran with
    zero grace and retain_last=1, so only the pins protect them)."""
    import random

    rnd = random.Random(42)
    t = _table(spark, tmp_path, "d")
    t.append(_batch(spark, 0, 10).coalesce(1))
    model = list(range(10))
    tags: dict[str, list[int]] = {}
    nxt = 10
    for step in range(10):
        op = rnd.choice(["append", "append", "compact", "tag", "expire"])
        if op == "append":
            t.append(_batch(spark, nxt, nxt + 5).coalesce(1))
            model.extend(range(nxt, nxt + 5))
            nxt += 5
        elif op == "compact":
            compact(t, target_file_bytes=64 * 1024 * 1024)
        elif op == "tag":
            name = f"pin{step}"
            t.create_tag(name)
            tags[name] = list(model)
        else:
            expire_snapshots(
                t,
                older_than_ms=FUTURE_MS(),
                retain_last=1,
                orphan_grace_secs=0,
            )
        assert sorted(r["k"] for r in t.to_df().collect()) == sorted(model), (
            f"step {step} ({op}): current state diverged from model"
        )
        for name, pinned_rows in tags.items():
            got = sorted(
                r["k"]
                for r in t.scan(
                    snapshot=t.snapshot_by_tag(name)
                ).collect()
            )
            assert got == sorted(pinned_rows), (
                f"step {step} ({op}): tag {name} lost rows"
            )


def test_ref_aging_releases_pin(spark, tmp_path):
    """history.expire.max-ref-age-ms: an aged tag releases its pin and
    the next expiry collects the snapshot it protected; younger refs
    keep pinning."""
    t = _table(spark, tmp_path, "e")
    t.append(_batch(spark, 0, 10).coalesce(1))
    v_pin = t.current_version()
    t.create_tag("old_audit", v_pin)
    t.create_tag("young", v_pin)
    t.append(_batch(spark, 10, 20).coalesce(1))
    # backdate one ref
    refs = t._load_refs()
    refs["old_audit"]["created_ms"] = int(time.time() * 1000) - 10_000_000
    t._write_refs(refs)

    res = expire_snapshots(
        t,
        older_than_ms=FUTURE_MS(),
        retain_last=1,
        orphan_grace_secs=0,
        max_ref_age_ms=3_600_000,
    )
    assert res["expired_refs"] == 1
    assert "old_audit" not in t.refs()
    # the younger ref is still pinning
    assert t.refs().get("young") == v_pin
    assert v_pin in {s.version for s in t.snapshots()}
    # drop the younger pin too: now the snapshot goes
    t.drop_tag("young")
    expire_snapshots(
        t, older_than_ms=FUTURE_MS(), retain_last=1, orphan_grace_secs=0
    )
    assert v_pin not in {s.version for s in t.snapshots()}
    assert t.to_df().count() == 20


def test_expire_dry_run_touches_nothing(spark, tmp_path):
    """dry_run reports exactly what the real run would do, then the
    real run does it - and the dry run mutated nothing."""
    t = _table(spark, tmp_path, "f")
    for i in range(3):
        t.append(_batch(spark, i * 10, (i + 1) * 10).coalesce(1))
    compact(t, target_file_bytes=64 * 1024 * 1024)
    versions_before = {s.version for s in t.snapshots()}

    preview = expire_snapshots(
        t,
        older_than_ms=FUTURE_MS(),
        retain_last=1,
        orphan_grace_secs=0,
        dry_run=True,
    )
    assert preview["dry_run"] is True
    assert preview["expired_snapshots"] > 0
    assert preview["deleted_files"] > 0
    # nothing actually changed
    assert {s.version for s in t.snapshots()} == versions_before
    assert t.to_df().count() == 30

    real = expire_snapshots(
        t, older_than_ms=FUTURE_MS(), retain_last=1, orphan_grace_secs=0
    )
    assert real["dry_run"] is False
    assert real["expired_snapshots"] == preview["expired_snapshots"]
    assert real["deleted_files"] == preview["deleted_files"]
    assert real["deleted_manifests"] == preview["deleted_manifests"]
    assert t.to_df().count() == 30
