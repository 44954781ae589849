"""In-memory spans for the traced run, recorded from the benchmark's side.

Spans wrap calls into the program's public functions: a ``SnapshotStore``
subclass passed as ``store=`` times every public store call, and the
workload code wraps rounds, retractions and standalone operator calls.
Spans stay in memory; ``Tracer.dump`` writes them out once the run is
over. Spark is lazy, so a store write span holds the plan steps its write
triggers (``write:frontier`` runs frontier steps 1-5 and 8).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from crawler_spark.sources.tables import SnapshotStore


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    id: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Thread-safe span recorder. A span opened on a thread with no open
    span of its own gets the current ``root`` span as parent, so store
    writes the program runs on its own worker threads still nest under
    the round that issued them."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.root: int | None = None
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping
        self._lock = threading.Lock()
        self._local = threading.local()

    def _charge(self, t0: float) -> None:
        dt = time.perf_counter() - t0
        with self._lock:
            self.own_s += dt

    @contextmanager
    def own(self):
        """Charge the enclosed time to the tracer's own cost."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._charge(t0)

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            s = Span(name, time.perf_counter(), parent=stack[-1] if stack else self.root,
                     id=len(self.spans), attrs=attrs)
            self.spans.append(s)
        stack.append(s.id)
        self._charge(t0)
        try:
            yield s
        finally:
            s.end = t1 = time.perf_counter()
            stack.pop()
            self._charge(t1)

    @contextmanager
    def root_span(self, name: str, **attrs):
        with self.span(name, **attrs) as s:
            prev, self.root = self.root, s.id
            try:
                yield s
            finally:
                self.root = prev

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it its children cover (children
        overlap when the program writes tables concurrently)."""
        s = self.spans[sid]
        iv = sorted((max(c.start, s.start), min(c.end, s.end)) for c in self.children(sid))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.dur - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dp, fn))
    return total


class TracedStore(SnapshotStore):
    """SnapshotStore that records a span per public call. Writes also
    record the bytes of the version directory they created; calls that
    only read table metadata are tagged ``meta_read``."""

    _META = ("exists", "current_version", "versions", "meta", "read_state")

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def _traced(self, op: str, table: str | None, fn, *a, **kw):
        name = f"{op}:{table}" if table else op
        with self.tracer.span(name, kind="store", meta_read=op in self._META) as s:
            out = fn(*a, **kw)
        if op in ("write", "write_local"):
            with self.tracer.own():
                s.attrs["bytes"] = _dir_bytes(os.path.join(self._tdir(table), f"v{out:05d}"))
        return out

    def exists(self, table):
        return self._traced("exists", table, super().exists, table)

    def current_version(self, table):
        return self._traced("current_version", table, super().current_version, table)

    def versions(self, table):
        return self._traced("versions", table, super().versions, table)

    def write(self, table, df, meta=None, partition_by=None, append=False):
        return self._traced("write", table, super().write, table, df, meta, partition_by, append)

    def amend_meta(self, table, patch, version=None):
        return self._traced("amend_meta", table, super().amend_meta, table, patch, version)

    def write_local(self, table, rows, schema, meta=None, append=False):
        return self._traced("write_local", table, super().write_local, table, rows, schema, meta, append)

    def read_delta(self, spark, table, version):
        return self._traced("read_delta", table, super().read_delta, spark, table, version)

    def read(self, spark, table, version=None):
        return self._traced("read", table, super().read, spark, table, version)

    def commit_state(self, state):
        return self._traced("commit_state", None, super().commit_state, state)

    def read_state(self):
        return self._traced("read_state", None, super().read_state)

    def restore_state(self):
        return self._traced("restore_state", None, super().restore_state)

    def rollback(self, table, version):
        return self._traced("rollback", table, super().rollback, table, version)

    def meta(self, table, version=None):
        return self._traced("meta", table, super().meta, table, version)

    def drop(self, table):
        return self._traced("drop", table, super().drop, table)


class SparkCounter:
    """Jobs, stages and tasks completed between two ``snap()`` calls, from
    the public ``statusTracker()`` (works with the Spark UI off). Stages
    skipped because their shuffle output was reused have no completed
    tasks and are not counted."""

    def __init__(self, sc):
        self.st = sc.statusTracker()
        self._seen: set[int] = set(self.st.getJobIdsForGroup())

    def snap(self) -> dict[str, int]:
        ids = set(self.st.getJobIdsForGroup()) - self._seen
        self._seen |= ids
        jobs, stages, tasks = 0, set(), 0
        for j in ids:
            info = self.st.getJobInfo(j)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = self.st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0 and sid not in stages:
                    stages.add(sid)
                    tasks += si.numCompletedTasks
        return {"jobs": jobs, "stages": len(stages), "tasks": tasks}
