"""Tests of the benchmark itself; no Spark needed.

    python3 -m pytest lakebench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from lakebench.gen import TickFeed, star_tables  # noqa: E402
from lakebench.layers import Layers  # noqa: E402
from lakebench.run import end_to_end  # noqa: E402
from lakebench.trace import Span, diff_sizes, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_star_tables_are_deterministic_per_seed():
    a, b, c = star_tables(7, 0.002), star_tables(7, 0.002), star_tables(8, 0.002)
    assert list(a) == list(c)
    for name in a:
        assert a[name].equals(b[name]), name
    varied = [n for n in a if n not in ("region", "nation") and not a[n].equals(c[n])]
    assert varied == [n for n in a if n not in ("region", "nation")]


def test_tick_feed_is_deterministic_and_overlaps_by_half():
    f1, f2 = TickFeed(3, "EURUSD", 0, 100, False), TickFeed(3, "EURUSD", 0, 100, False)
    assert f1.table(4).equals(f2.table(4))
    assert not f1.table(4).equals(TickFeed(4, "EURUSD", 0, 100, False).table(4))
    first, second = f1.table(0), f1.table(1)
    assert first.slice(100).equals(second.slice(0, 100))
    assert TickFeed(3, "X", 1, 100, True).table(0).schema.field("Bid").type == "float"


def test_bad_tick_file_fails_the_price_gate_on_fresh_keys():
    feed = TickFeed(5, "GBPUSD", 2, 200, False)
    bad = feed.bad_table(3)
    assert min(bad.column("Bid").to_pylist()) == 0.0
    good_keys = set(feed.table(3).column("DateTime").to_pylist())
    assert not good_keys & set(bad.column("DateTime").to_pylist())


def _span(i, parent, start, end, overhead=0.0):
    return Span(name=f"s{i}", id=i, parent=parent, op=1, start=start, end=end, overhead=overhead)


def test_self_time_is_span_minus_children():
    spans = [
        _span(1, None, 0.0, 10.0, overhead=0.5),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),  # overlaps its sibling: covered once
        _span(4, 2, 1.5, 2.0),
        _span(5, None, 20.0, 21.0),
    ]
    selfs = self_times(spans)
    assert selfs[1] == 10.0 - 5.0 - 0.5
    assert selfs[2] == 3.0 - 0.5
    assert selfs[3] == 3.0
    assert selfs[4] == 0.5
    assert selfs[5] == 1.0


def test_walk_diff_counts_commits_and_deletes():
    before = {"/w/t/metadata/v1.json": 10, "/w/t/data/a.parquet": 100}
    after = {
        "/w/t/metadata/v1.json": 10,
        "/w/t/metadata/v2.json": 12,
        "/w/t/data/b.parquet": 50,
    }
    d = diff_sizes(before, after)
    assert d["commits"] == 1
    assert d["metadata_bytes_written"] == 12
    assert (d["data_bytes_written"], d["data_files_written"]) == (50, 1)
    assert (d["files_deleted"], d["bytes_deleted"]) == (1, 100)


def test_every_printed_metric_is_declared_with_its_unit():
    declared_e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}

    run = SimpleNamespace(
        setups=[1.0, 2.0, 3.0],
        attempted=4,
        failed=0,
        rounds=[1.0],
        median=lambda kind: 1.0,
        bytes_written=10,
        input_bytes=5,
        extra={"live_bytes": 8},
        warehouse_bytes=lambda: 9,
        calls={},
        spark=None,
    )
    wl = SimpleNamespace(main_op=lambda: "a", short_op=lambda: "b")
    e2e = end_to_end(run, wl)
    assert {k: u for k, (v, u) in e2e.items()} == declared_e2e
    assert all(v > 0 for v, _ in e2e.values())

    layers = Layers.__new__(Layers)
    layers.run = run
    layers.tracer = SimpleNamespace(spans=[])
    layers.n_rounds, layers.loop_s, layers.overhead_s, layers.cores = 1, 1.0, 0.0, 4
    layers.scan_files, layers.bytes_hashed = [0, 0], 0
    printed = {k: u for k, (v, u) in layers.metrics().items()}
    assert printed == declared_layer


def test_benchmark_json_keeps_the_contract_shape():
    assert set(BENCH) == {
        "command",
        "paths",
        "run_seconds",
        "workloads",
        "end_to_end",
        "per_layer",
    }
    assert {w["name"] for w in BENCH["workloads"]} == {"ingest", "mutate"}
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"])
