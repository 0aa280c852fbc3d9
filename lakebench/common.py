"""What every workload shares: the run record, timed calls, output
checks and the byte accounting of the warehouse."""

from __future__ import annotations

import contextlib
import datetime as dt
import decimal
import math
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

from lakebench.trace import Tracer, walk_sizes


class OpFailed(Exception):
    """A timed call raised; the workload stops its loop."""


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: Tracer | None = None
    calls: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    setups: list[float] = field(default_factory=list)
    rounds: list[float] = field(default_factory=list)
    input_bytes: int = 0
    bytes_written: int = 0
    extra: dict[str, float] = field(default_factory=dict)
    warehouse: str = ""
    _sizes: dict[str, int] = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def call(self, kind: str, fn, *args, **kwargs):
        """Time one call into the engine. In a traced run the call is
        also the root span of its operation."""
        self.attempted += 1
        try:
            if self.tracer is None:
                t0 = time.perf_counter()
                out = fn(*args, **kwargs)
                dt_s = time.perf_counter() - t0
            else:
                with self.tracer.span(f"call.{kind}", walk=True) as s:
                    out = fn(*args, **kwargs)
                dt_s = s.duration
        except Exception as e:
            self.failed += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {e}")
            traceback.print_exc()
            raise OpFailed(kind) from e
        self.calls.setdefault(kind, []).append(dt_s)
        self._account_writes()
        return out

    def layer(self, name: str):
        """A span around a call into one layer, in a traced run only."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def verify(self, ok: bool, what: str) -> None:
        """An output check on the call just made; a wrong result counts
        that call as failed."""
        if not ok:
            self.failed += 1
            self.errors.append(f"wrong: {what}")

    def final_check(self, ok: bool, what: str) -> None:
        """A check of the end state; it counts as an operation of its own."""
        self.attempted += 1
        self.verify(ok, what)

    # -- bytes ---------------------------------------------------------------

    def open_warehouse(self, path: str) -> None:
        self.warehouse = path
        self._sizes = walk_sizes(path) if os.path.isdir(path) else {}

    def _account_writes(self) -> None:
        if not self.warehouse:
            return
        after = walk_sizes(self.warehouse)
        for p, n in after.items():
            if self._sizes.get(p) != n:
                self.bytes_written += n
        self._sizes = after

    def warehouse_bytes(self) -> int:
        return sum(walk_sizes(self.warehouse).values())

    # -- result --------------------------------------------------------------

    def median(self, kind: str) -> float:
        """Median time of one kind of call (0 if none completed)."""
        return statistics.median(self.calls.get(kind) or [0.0])


def live_bytes(catalog) -> int:
    """Bytes of the data and delete files that the current snapshots of
    every table in the catalog reference."""
    total = 0
    for ns in catalog.list_namespaces():
        for ident in catalog.list_tables(ns):
            snap = catalog.load_table(ident).snapshot()
            entries = (
                list(snap.data_entries)
                + list(snap.pos_delete_entries)
                + list(snap.eq_delete_entries)
            )
            total += sum(int(e.get("bytes", 0)) for e in entries)
    return total


def loop(run: Run, round_fn, cycle: int) -> int:
    """The closed loop: rounds back to back until ``run.seconds`` have
    passed, in whole cycles of ``cycle`` rounds so that every run mixes
    the round kinds in the same proportion. A round's time is the sum of
    its timed calls, without the checks and input writes between them.
    Returns the number of rounds completed."""
    run.extra.clear()  # counters of the loop only, not of the set-ups
    t_end = time.perf_counter() + run.seconds
    n = 0
    try:
        while n % cycle or n == 0 or time.perf_counter() < t_end:
            before = {k: len(v) for k, v in run.calls.items()}
            round_fn(n)
            run.rounds.append(
                sum(sum(v[before.get(k, 0):]) for k, v in run.calls.items())
            )
            n += 1
    except OpFailed:
        pass
    return n


def timed_setups(run: Run, n: int, build):
    """Set up ``n`` times on fresh warehouses and keep the last one;
    ``run.setups`` gets each wall time. ``build(warehouse)`` returns the
    workload's state."""
    state = None
    for i in range(n):
        wh = run.path(f"warehouse{i}")
        if state is not None:
            shutil.rmtree(run.path(f"warehouse{i - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        state = build(wh)
        run.setups.append(time.perf_counter() - t0)
    return state


def warm_up(run: Run, round_fn) -> None:
    """One untimed round before the loop: its output checks count, its
    times and bytes do not."""
    round_fn(-1)
    run.calls.clear()
    run.bytes_written = run.input_bytes = 0


# -- order-insensitive result comparison --------------------------------------


def _canon(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, decimal.Decimal):
        return ("f", float(v))
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("ts", dt.datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    return ("s", str(v))


def rowset(cols, rows) -> list[tuple]:
    """Rows as a sorted list of canonical tuples, columns ordered by
    lower-cased name, so two engines' results compare as multisets."""
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=lambda i: names[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)
