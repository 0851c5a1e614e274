"""Layer spans recorded from outside the library.

The tracer wraps the library's public layer boundaries at the names
their callers look them up under (``pipeline.py`` and ``operators/ivm``
bind some names at import, so the wrapper goes on the importing module
as well as the defining one). Each span records name, start, end,
parent and the range of Spark job ids started inside it, and sets the
Spark job group while it is open, so the event log carries the span too.

Spark is lazy: a span around a call that only builds a plan reads near
zero, and the work lands in the span of the action that consumes it
(the scan, normalize and diff of a pipeline cycle show up under
``snapshot.merge``). Self time is a span's duration minus its
children's.

Executor time, shuffle and spill come from Spark's own event log
(``fold_event_log``), read after the session stops; jobs map to spans
by job id.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    j0: int
    t1: float = 0.0
    j1: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Span recorder bound to one SparkContext. ``active`` switches the
    wrappers between recording and plain pass-through, so a run can
    interleave traced and untraced operations."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[int] = []

    def _next_job(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter(), self._next_job())
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(s.sid)
        self._stack.append(s.sid)
        prev = (self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC))
        self.sc.setJobGroup(f"perfbench/{s.sid}", name)
        try:
            yield s
        finally:
            s.j1 = self._next_job()
            s.t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, prev[0])
            self.sc.setLocalProperty(_DESC, prev[1])

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def patch_library(self) -> None:
        """Wrap every layer boundary the benchmark reports on."""
        from fs_indexer_elasticsearch_spark import pipeline, tables
        from fs_indexer_elasticsearch_spark.operators import dedup, ivm, similarity
        from fs_indexer_elasticsearch_spark.plans import llm_pipeline2, llm_queries
        from fs_indexer_elasticsearch_spark.sinks import es_bulk
        from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore
        from fs_indexer_elasticsearch_spark.sources import walker

        for m in ("merge", "read", "read_changes", "vacuum"):
            self.wrap(SnapshotStore, m, f"snapshot.{m}")
        self.wrap(pipeline, "write_bulk_file", "es_bulk.write_bulk_file")
        self.wrap(es_bulk, "write_bulk_file", "es_bulk.write_bulk_file")
        self.wrap(es_bulk, "sync_actions_from_changes", "es_bulk.sync_actions")
        # snapshot.py imports ckpt_shared at call time (from tables);
        # the modules below, which the workloads reach, bound it at import.
        for owner in (tables, walker, ivm, dedup, similarity, llm_queries, llm_pipeline2):
            self.wrap(owner, "ckpt_shared", "tables.ckpt_shared")

    def tree_of(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        out, todo = [], [root.sid]
        while todo:
            s = self.spans[todo.pop()]
            out.append(s)
            todo.extend(s.children)
        return out

    def self_seconds(self, s: Span) -> float:
        return s.seconds - sum(self.spans[c].seconds for c in s.children)

    def self_jobs(self, s: Span) -> set[int]:
        jobs = set(range(s.j0, s.j1))
        for c in s.children:
            c_span = self.spans[c]
            jobs -= set(range(c_span.j0, c_span.j1))
        return jobs


@dataclass
class JobCost:
    executor_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "JobCost") -> None:
        self.executor_s += other.executor_s
        self.shuffle_bytes += other.shuffle_bytes
        self.spill_bytes += other.spill_bytes


def fold_event_log(log_dir: str) -> dict[int, JobCost]:
    """Per-job executor run time, shuffle bytes written and bytes
    spilled, from an uncompressed Spark event log directory (plain or
    rolling ``eventlog_v2_*/events_*`` files)."""
    paths = []
    for d, _, names in os.walk(log_dir):
        # Skip checksum sidecars and the empty app-status marker.
        paths.extend(
            os.path.join(d, n)
            for n in sorted(names)
            if not n.startswith((".", "appstatus"))
        )
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    costs: dict[int, JobCost] = {}
    for ev in tasks:
        job = stage_job.get(ev.get("Stage ID"))
        m = ev.get("Task Metrics") or {}
        if job is None or not m:
            continue
        sw = m.get("Shuffle Write Metrics") or {}
        costs.setdefault(job, JobCost()).add(
            JobCost(
                executor_s=m.get("Executor Run Time", 0) / 1000.0,
                shuffle_bytes=int(sw.get("Shuffle Bytes Written", 0)),
                spill_bytes=int(m.get("Disk Bytes Spilled", 0)),
            )
        )
    return costs
