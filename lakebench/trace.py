"""Spans around the benchmark's calls into the engine's layers.

A span records a name, start, end, parent and operation id (the id of
its root span). Spans are kept in memory and written out when the run
ends. The tracer lives entirely in the benchmark: it wraps public
functions of the package from outside (``Tracer.wrap``) and never edits
the package.

Spark attribution. On entry a span tags the thread's Spark jobs with
``SparkContext.addJobTag``; on exit it reads the jobs submitted since
entry from the status store, and their stages through
``lastStageAttempt``. A job counts toward its innermost span: children
exit first and claim their jobs. Jobs that carry no benchmark tag at all
(a streaming ``foreachBatch`` runs on a thread that does not inherit the
tag) go to the innermost span open when they ran. Jobs a lazy layer
defers are counted under the caller that forces them.

File-system counters come from wrapped ``os.fsync``, ``os.replace``,
``os.rename`` and ``os.link``, and, for spans opened with ``walk=True``,
from a walk of the warehouse before and after.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import time
from dataclasses import asdict, dataclass, field

TAG_PREFIX = "lakebench-"

# Stage counters read from the status store, summed per span.
STAGE_FIELDS = (
    "tasks",
    "executor_run_ms",
    "executor_cpu_ns",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    name: str
    id: int
    parent: int | None
    op: int
    start: float = 0.0
    end: float = 0.0
    # tracer bookkeeping inside [start, end] that belongs to no layer
    overhead: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: dict[str, int] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    children cover, minus its own bookkeeping."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cursor = s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = max(s.duration - covered - s.overhead, 0.0)
    return out


def walk_sizes(root: str) -> dict[str, int]:
    """``path -> bytes`` for every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(d, fn)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass  # deleted while walking
    return out


_COMMIT = re.compile(r"v\d+\.json$")


def _is_metadata(path: str) -> bool:
    return not path.endswith(".parquet")


def diff_sizes(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    """Bytes and files written and deleted between two walks."""
    out = {
        "metadata_bytes_written": 0,
        "data_bytes_written": 0,
        "data_files_written": 0,
        "files_deleted": 0,
        "bytes_deleted": 0,
        "commits": 0,
    }
    for p, n in after.items():
        if before.get(p) == n:
            continue
        if p not in before and _COMMIT.search(os.path.basename(p)):
            out["commits"] += 1
        if _is_metadata(p):
            out["metadata_bytes_written"] += n
        else:
            out["data_bytes_written"] += n
            out["data_files_written"] += 1
    for p, n in before.items():
        if p not in after:
            out["files_deleted"] += 1
            out["bytes_deleted"] += n
    return out


class Tracer:
    """Collects spans for one benchmark run."""

    def __init__(self, spark, warehouse_root: str):
        self.spark = spark
        self.root = os.path.abspath(warehouse_root)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 1
        self._claimed_jobs: set[int] = set()
        self._claimed_stages: set[int] = set()
        self._patches: list[tuple[object, str, object]] = []
        self._jsc = spark.sparkContext._jsc.sc()
        self._fs = {"fsyncs": 0, "renames": 0}

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, walk: bool = False):
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name=name,
            id=self._next_id,
            parent=parent.id if parent else None,
            op=parent.op if parent else self._next_id,
        )
        self._next_id += 1
        tag = f"{TAG_PREFIX}{s.id}"
        sc = self.spark.sparkContext
        sc.addJobTag(tag)
        first_job = self._jsc.dagScheduler().nextJobId()
        fs0 = dict(self._fs)
        sizes0 = walk_sizes(self.root) if walk else None
        self._stack.append(s)
        s.start = t_in
        s.overhead += time.perf_counter() - t_in
        try:
            yield s
        finally:
            t_body = time.perf_counter()
            self._stack.pop()
            sc.removeJobTag(tag)
            self._collect_jobs(s, tag, first_job)
            for k, v in self._fs.items():
                s.counts[k] = v - fs0[k]
            if walk:
                s.counts.update(diff_sizes(sizes0, walk_sizes(self.root)))
            s.end = time.perf_counter()
            s.overhead += s.end - t_body
            self.spans.append(s)

    def _collect_jobs(self, s: Span, tag: str, first_job: int) -> None:
        last_job = self._jsc.dagScheduler().nextJobId()
        if last_job == first_job:
            return
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        stages = dict.fromkeys(STAGE_FIELDS, 0)
        for jid in range(first_job, last_job):
            if jid in self._claimed_jobs:
                continue
            try:
                job = store.job(jid)
            except Exception:  # evicted from the store or never registered
                continue
            tags = set(job.jobTags().mkString(",").split(","))
            if tag not in tags and any(t.startswith(TAG_PREFIX) for t in tags):
                continue  # another span's job, still open above us
            s.jobs.append(jid)
            self._claimed_jobs.add(jid)
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._claimed_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # a stage that never ran
                    continue
                self._claimed_stages.add(sid)
                stages["tasks"] += st.numCompleteTasks()
                stages["executor_run_ms"] += st.executorRunTime()
                stages["executor_cpu_ns"] += st.executorCpuTime()
                stages["shuffle_write_bytes"] += st.shuffleWriteBytes()
                stages["shuffle_read_bytes"] += st.shuffleReadBytes()
                stages["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        s.stages = stages

    # -- wrapping the package's public functions -----------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def count_fs_calls(self) -> None:
        """Count fsyncs, and the renames and links that claim a name in
        the warehouse."""
        root = self.root

        def counting(fn, key, path_args):
            def inner(*args, **kwargs):
                if key == "fsyncs" or any(
                    str(a).startswith(root) for a in args[:path_args]
                ):
                    self._fs[key] += 1
                return fn(*args, **kwargs)

            return inner

        for attr, key, n in (
            ("fsync", "fsyncs", 0),
            ("replace", "renames", 2),
            ("rename", "renames", 2),
            ("link", "renames", 2),
        ):
            original = getattr(os, attr)
            setattr(os, attr, counting(original, key, n))
            self._patches.append((os, attr, original))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- output --------------------------------------------------------------

    def overhead_s(self) -> float:
        return sum(s.overhead for s in self.spans)

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["self"] = selfs[s.id]
                f.write(json.dumps(row) + "\n")
