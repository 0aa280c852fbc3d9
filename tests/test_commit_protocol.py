"""The commit protocol: every metadata file is published through
``table.atomic_write`` (whole temp file, fsync, claim the name, fsync the
directory), so no reader sees a half-written file and a crash at any
claim leaves each table either before or after the operation.

The crash-point matrix simulates a process crash, not a power loss: the
test wraps ``os.link``/``os.replace`` under the warehouse, counts the
calls and kills the "process" at call k - that call and every later
link, replace or unlink under the warehouse raise ``Crash``. For each k
the tables are reopened and must read, hold exactly the state before or
the state after, apply nothing twice after a retry or replay, and leave
no ``.tmp.*`` file or unreferenced manifest once orphan GC has run.
"""

from __future__ import annotations

import ast
import contextlib
import json
import os
import time

import pytest

from apache_iceberg_pyiceberg_local_data_lakehouse_spark import table as table_mod
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.catalog import (
    LakehouseCatalog,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.maintenance import (
    expire_snapshots,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.table import (
    Snapshot,
    atomic_write,
)
from apache_iceberg_pyiceberg_local_data_lakehouse_spark.transactions import (
    recover_transactions,
)

PKG = os.path.dirname(os.path.abspath(table_mod.__file__))
SCHEMA = "k long, v string"


@pytest.fixture
def cat(spark, tmp_path):
    c = LakehouseCatalog(spark, str(tmp_path / "wh"))
    c.create_namespace("g")
    return c


def _rows(t):
    return sorted(tuple(r) for r in t.to_df().collect())


def _df(spark, keys, tag):
    return spark.createDataFrame([(k, f"{tag}{k}") for k in keys], SCHEMA)


# -- atomic_write -------------------------------------------------------------


def test_atomic_write_publishes_whole_file_and_leaves_no_temp(tmp_path):
    p = str(tmp_path / "doc.json")
    atomic_write(p, '{"a": 1}')
    atomic_write(p, '{"a": 2}')
    with open(p) as f:
        assert json.load(f) == {"a": 2}
    with pytest.raises(FileExistsError):
        atomic_write(p, '{"a": 3}', exclusive=True)
    with open(p) as f:
        assert json.load(f) == {"a": 2}
    atomic_write(str(tmp_path / "new.json"), "x", exclusive=True)
    assert sorted(os.listdir(tmp_path)) == ["doc.json", "new.json"]


def test_failed_commit_leaves_no_half_written_version(cat, spark, monkeypatch):
    """A commit that fails while serializing its snapshot must not leave
    a claimed ``v<N>.json``: the table still reads the previous version
    and the next append takes version N."""
    t = cat.create_table("g.t", _df(spark, [], "a").schema)
    t.append(_df(spark, [1, 2], "a"))
    v = t.current_version()
    real = Snapshot.to_json
    fired = []

    def flaky(self):
        if not fired:
            fired.append(self.version)
            raise OSError("disk full")
        return real(self)

    monkeypatch.setattr(Snapshot, "to_json", flaky)
    with pytest.raises(OSError, match="disk full"):
        t.append(_df(spark, [3], "a"))
    assert fired == [v + 1]
    assert t.snapshot().version == v
    assert not os.path.exists(t._version_path(v + 1))
    assert t.append(_df(spark, [3], "a")).version == v + 1
    assert _rows(t) == [(1, "a1"), (2, "a2"), (3, "a3")]


def test_expire_reclaims_leftover_temp_files(cat, spark):
    """Temp files a crash left before their claim, anywhere under the
    table's metadata directory, are removed by orphan GC once older
    than the grace period - and not before."""
    t = cat.create_table("g.t", _df(spark, [], "a").schema)
    t.append(_df(spark, [1], "a"))
    os.makedirs(t._staged_dir(), exist_ok=True)
    planted = [
        os.path.join(t.metadata_dir, ".tmp.x"),
        os.path.join(t._staged_dir(), ".tmp.y"),
    ]
    for p in planted:
        with open(p, "w") as f:
            f.write("{")
    expire_snapshots(t, delete_orphan_files=True, orphan_grace_secs=3600)
    assert all(os.path.exists(p) for p in planted)
    old = time.time() - 7200
    for p in planted:
        os.utime(p, (old, old))
    res = expire_snapshots(t, delete_orphan_files=True, orphan_grace_secs=3600)
    assert not any(os.path.exists(p) for p in planted)
    assert res["deleted_temp_files"] == 2
    assert _rows(t) == [(1, "a1")]


# -- the protocol lives in one place ------------------------------------------

# the only package functions that may claim a name: the helper, and the
# claim-renames of files that already exist
_CLAIM_SITES = {
    ("table.py", "atomic_write"),
    ("transactions.py", "_claim"),
    ("transactions.py", "_release"),
    ("transactions.py", "MultiTableTransaction.commit"),
    ("catalog.py", "LakehouseCatalog.rename_table"),
}
_CLAIM_ATTRS = {"link", "replace", "rename", "O_EXCL"}


def _claim_uses(tree):
    """(qualified function name, attribute) for every ``os.link``,
    ``os.replace``, ``os.rename`` and ``os.O_EXCL`` in a module."""
    out = set()

    def visit(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            scope = scope + (node.name,)
        if (
            isinstance(node, ast.Attribute)
            and node.attr in _CLAIM_ATTRS
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            out.add((".".join(scope), node.attr))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, ())
    return out


def test_commit_protocol_lives_in_atomic_write():
    found = set()
    for d, _, names in os.walk(PKG):
        for name in names:
            if name.endswith(".py"):
                path = os.path.join(d, name)
                with open(path) as f:
                    tree = ast.parse(f.read(), path)
                rel = os.path.relpath(path, PKG)
                found |= {(rel, fn, a) for fn, a in _claim_uses(tree)}
    assert {(rel, fn) for rel, fn, _ in found} <= _CLAIM_SITES, found
    assert ("table.py", "atomic_write", "link") in found
    assert ("table.py", "atomic_write", "replace") in found


# -- crash-point matrix ---------------------------------------------------------


class Crash(BaseException):
    """A simulated process crash. Not an ``Exception``, so no handler in
    the engine can take it for a recoverable error."""


@contextlib.contextmanager
def _crash_at(root, k):
    """Kill the process at the k-th ``os.link``/``os.replace`` under
    ``root``: that call and every later link, replace or unlink under
    ``root`` raise ``Crash``, as a dead process claims and deletes
    nothing more."""
    calls = [0]
    real = {n: getattr(os, n) for n in ("link", "replace", "unlink", "remove")}

    def wrap(name, fn):
        claim = name in ("link", "replace")

        def inner(*args, **kwargs):
            if str(args[1] if claim else args[0]).startswith(root):
                calls[0] += claim
                if calls[0] >= k:
                    raise Crash(f"{name} {args}")
            return fn(*args, **kwargs)

        return inner

    for name, fn in real.items():
        setattr(os, name, wrap(name, fn))
    try:
        yield
    finally:
        for name, fn in real.items():
            setattr(os, name, fn)


def _assert_reclaimed(cat):
    """Orphan GC leaves no temp file anywhere in the warehouse and no
    manifest file that no snapshot references."""
    for ns in cat.list_namespaces():
        for ident in cat.list_tables(ns):
            t = cat.load_table(ident)
            expire_snapshots(t, delete_orphan_files=True, orphan_grace_secs=0)
            mdir = os.path.join(t.metadata_dir, "manifests")
            listed = {
                os.path.join("manifests", n)
                for n in (os.listdir(mdir) if os.path.isdir(mdir) else [])
            }
            referenced = {mf for s in t.snapshots() for mf in s.manifest_files}
            assert listed <= referenced, (ident, listed - referenced)
    left = [
        os.path.join(d, n)
        for d, _, names in os.walk(cat.warehouse)
        for n in names
        if n.startswith(".tmp.")
    ]
    assert not left, left


def _crash_matrix(cat, prepare, *, replay=False, recover=None, max_k=80):
    """Drive one operation through every crash point; returns their
    number. ``prepare(k)`` sets up round k and returns ``(run, retry,
    state, want)``: ``run()`` is the operation, ``retry()`` what a
    caller (or Spark, for a stream) does after a crash, ``state()``
    reads the reopened tables and ``want`` is the state after. Round k
    crashes at the k-th claim; the first round that runs clean ends the
    matrix. With ``replay`` the retry runs after every crash (it must be
    idempotent), else only when the crash left the state before."""
    root = os.path.abspath(cat.warehouse)
    for k in range(1, max_k):
        run, retry, state, want = prepare(k)
        before = state()
        assert before != want
        crashed = False
        try:
            with _crash_at(root, k):
                run()
        except Crash:
            crashed = True
        if recover is not None:
            time.sleep(0.01)  # age the crashed records past grace_ms=0
            recover()
        got = state()
        assert got in (before, want), (k, got)
        if crashed and (replay or got == before):
            retry()
            got = state()
        assert got == want, k
        _assert_reclaimed(cat)
        if not crashed:
            assert k > 1
            return k - 1
    raise AssertionError(f"still crashing after {max_k} rounds")


def _reopen(cat):
    return LakehouseCatalog(cat.spark, cat.warehouse)


def test_crash_matrix_append(cat, spark):
    t = cat.create_table("g.t", _df(spark, [], "a").schema)
    t.append(_df(spark, [0], "a"))

    def prepare(k):
        keys = [10 * k, 10 * k + 1]
        batch = _df(spark, keys, "a")
        want = sorted(_rows(t) + [(j, f"a{j}") for j in keys])

        def run():
            t.append(batch)

        return run, run, lambda: _rows(_reopen(cat).load_table("g.t")), want

    assert _crash_matrix(cat, prepare) >= 3  # manifest, version, hint


def test_crash_matrix_two_table_transaction(cat, spark):
    """A crash anywhere in a two-table transaction commit lands both
    tables on the same side once recovery has run."""
    cat.create_table("g.a", _df(spark, [], "a").schema)
    cat.create_table("g.b", _df(spark, [], "b").schema)

    def state():
        c = _reopen(cat)
        return _rows(c.load_table("g.a")), _rows(c.load_table("g.b"))

    def stage(k):
        txn = cat.transaction()
        txn.append("g.a", _df(spark, [k], "a"))
        txn.append("g.b", _df(spark, [k], "b"))
        return txn

    def prepare(k):
        a, b = state()
        want = (sorted(a + [(k, f"a{k}")]), sorted(b + [(k, f"b{k}")]))
        return stage(k).commit, lambda: stage(k).commit(), state, want

    n = _crash_matrix(
        cat, prepare, recover=lambda: recover_transactions(cat, grace_ms=0)
    )
    assert n >= 8  # record, claim, two publishes, progress, ...


@pytest.mark.slow
def test_crash_matrix_merge(cat, spark):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.dml import merge_into

    t = cat.create_table("g.t", _df(spark, [], "a").schema)
    t.append(_df(spark, range(6), "a"))

    def prepare(k):
        cur = dict(_rows(t))
        src = {k % 6: f"m{k}", 100 + k: f"m{k}"}
        want = sorted({**cur, **src}.items())

        def run():
            merge_into(
                t,
                spark.createDataFrame(list(src.items()), SCHEMA),
                key="k",
            )

        return run, run, lambda: _rows(_reopen(cat).load_table("g.t")), want

    assert _crash_matrix(cat, prepare) >= 3


@pytest.mark.slow
def test_crash_matrix_star_mv_cdc_refresh(cat, spark):
    """A star MV refreshed from one dimension's signed changelog: a crash
    at any claim leaves the MV at its old or its new rows, and the
    retried refresh applies the change exactly once."""
    fschema = "fk long, v long"
    f = cat.create_table("g.f", spark.createDataFrame([], fschema).schema)
    d = cat.create_table(
        "g.d", spark.createDataFrame([], "k long, seg string").schema
    )
    d.append(
        spark.createDataFrame(
            [(i, chr(65 + i % 3)) for i in range(6)], "k long, seg string"
        )
    )
    f.append(
        spark.createDataFrame([(i % 6, i) for i in range(30)], fschema)
    )
    q = (
        "SELECT seg, COUNT(*) AS n, SUM(v) AS sv "
        "FROM g_f JOIN g_d ON g_f.fk = g_d.k GROUP BY seg"
    )
    mv = cat.create_materialized_view("g.mv", q)
    assert "__mv_rows" in {fl.name for fl in mv.schema.fields}

    def state():
        c = _reopen(cat)
        c.register_views()
        return sorted(tuple(r) for r in spark.sql("SELECT * FROM g_mv").collect())

    def prepare(k):
        cat.sql(f"UPDATE g.d SET seg = 'S{k}' WHERE k = {k % 6}")
        cat.register_views()
        want = sorted(tuple(r) for r in spark.sql(q).collect())

        def run():
            _reopen(cat).refresh_materialized_view("g.mv")

        return run, run, state, want

    assert _crash_matrix(cat, prepare, replay=True) >= 3


@pytest.mark.slow
def test_crash_matrix_streaming_epoch(cat, spark):
    """A ``foreachBatch`` epoch crashed at any claim and replayed by a
    restarted query (a fresh sink) lands exactly once."""
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.streaming.sink import (
        EpochCommitSink,
    )

    t = cat.create_table("g.t", _df(spark, [], "e").schema)

    def state():
        return _rows(_reopen(cat).load_table("g.t"))

    def prepare(k):
        batch = _df(spark, [k, 100 + k], "e")
        want = sorted(state() + [(k, f"e{k}"), (100 + k, f"e{100 + k}")])

        def run():
            EpochCommitSink(cat.load_table("g.t"), query_id="q")(batch, k)

        return run, run, state, want

    assert _crash_matrix(cat, prepare, replay=True) >= 4  # + watermark
