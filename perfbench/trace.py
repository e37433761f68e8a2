"""Spans recorded from outside the engine.

A ``Tracer`` keeps one span per call in memory: name, start, end, parent,
thread, workload and run id. ``install`` wraps the public functions of
``docetl_spark.cdc.replay``, ``docetl_spark.cdc.merge`` and the
``LakeTable`` methods, patching every module attribute the engine calls
through (``cdc.replay`` binds ``merge_apply`` at import time and imports
the MOR prepare/commit pair inside functions, so both the defining module
and the importing ones are patched). The engine itself is not edited.

Spans are grouped under ``cycle`` spans, the benchmark's timed units. A
span opened on a thread that has no open span (the MOR prepare workers)
is parented to the current cycle.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

JOB_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: int
    workload: str
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a no-op
    so untraced runs share the workload code path."""

    def __init__(self, workload: str, run_id: str, enabled: bool = True, spark=None):
        self.workload = workload
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, job_group: bool = False, **attrs):
        """Record one span around the block; yields its (mutable) attrs."""
        if not self.enabled:
            yield attrs
            return
        b0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        sid = next(self._ids)
        stack.append(sid)
        prev_group = self._set_group(f"perfbench-{self.run_id}-{sid}") if job_group else None
        start = time.perf_counter()
        try:
            yield attrs
        except BaseException as e:
            attrs["error"] = type(e).__name__
            raise
        finally:
            end = time.perf_counter()
            stack.pop()
            if job_group:
                self._restore_group(prev_group)
                attrs.update(self._job_counts(f"perfbench-{self.run_id}-{sid}"))
            attrs["book_s"] = (start - b0) + (time.perf_counter() - end)
            sp = Span(sid, name, start, end, parent, threading.get_ident(),
                      self.workload, self.run_id, attrs)
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def cycle(self, **attrs):
        """A timed unit of the workload; spans of helper threads attach here."""
        with self.span("cycle", **attrs) as a:
            prev, self.root = self.root, self._stack()[-1] if self.enabled else None
            try:
                yield a
            finally:
                self.root = prev

    # -- Spark job groups: exact job/task counts per traced call -----------

    def _set_group(self, group: str):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(JOB_GROUP_PROP)
        sc.setLocalProperty(JOB_GROUP_PROP, group)
        return prev

    def _restore_group(self, prev) -> None:
        self.spark.sparkContext.setLocalProperty(JOB_GROUP_PROP, prev)

    def _job_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return {"jobs": len(jobs), "tasks": tasks}

    # -- wrapping ------------------------------------------------------------

    def wrap(self, fn, name: str, on_result=None, job_group: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, job_group=job_group) as attrs:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(args, out, attrs)
                return out

        return traced

    def patch(self, owner, attr: str, wrapped) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(sp), default=str) + "\n")


def install(tracer: Tracer) -> None:
    """Wrap every engine entry point the workloads reach."""
    import docetl_spark.cdc as cdc_pkg
    from docetl_spark.cdc import merge, replay
    from docetl_spark.lake.table import LakeTable

    def merge_metrics(_args, m, attrs):
        if m is not None:
            attrs.update(stats_s=m.stats_sec, write_s=m.write_sec, skipped=m.skipped,
                         events=m.events_in)

    def prepared(_args, prep, attrs):
        attrs["none"] = prep is None
        if prep is not None:
            merge_metrics(None, prep.metrics, attrs)

    def committed(_args, m, attrs):
        attrs["fallback"] = m is None
        attrs["published"] = m is not None and not m.skipped

    def written(args, files, attrs):
        table = args[0]
        paths = [os.path.join(table.path, f) for fl in files.values() for f in fl]
        attrs["files"] = len(paths)
        attrs["bytes"] = sum(os.path.getsize(p) for p in paths)

    def fn(name, on_result=None, job_group=False, owners=()):
        orig = getattr(owners[0], name)
        wrapped = tracer.wrap(orig, name, on_result, job_group)
        for owner in owners:
            if getattr(owner, name) is orig:
                tracer.patch(owner, name, wrapped)

    fn("replay_events", owners=(replay, cdc_pkg))
    fn("compact_state", owners=(replay, cdc_pkg))
    fn("read_state", owners=(replay, cdc_pkg))
    fn("read_keys", owners=(replay, cdc_pkg))
    fn("merge_apply", merge_metrics, job_group=True, owners=(merge, replay, cdc_pkg))
    fn("compute_batch_stats", owners=(merge,))
    fn("prepare_mor_merge", prepared, job_group=True, owners=(merge,))
    fn("commit_prepared_merge", committed, owners=(merge,))
    fn("write_bucket_files", written, owners=(LakeTable,))
    fn("commit", owners=(LakeTable,))
    fn("snapshot", owners=(LakeTable,))


# -- analysis ----------------------------------------------------------------


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children_of(spans: list[Span]) -> dict[int | None, list[Span]]:
    out: dict[int | None, list[Span]] = {}
    for sp in spans:
        out.setdefault(sp.parent, []).append(sp)
    return out


def self_time(sp: Span, kids: dict[int | None, list[Span]]) -> float:
    """Duration minus the part of it that child spans cover."""
    clipped = [(max(c.start, sp.start), min(c.end, sp.end)) for c in kids.get(sp.sid, [])]
    return sp.dur - _union_len([(s, e) for s, e in clipped if e > s])


def descendants(sp: Span, kids: dict[int | None, list[Span]]) -> list[Span]:
    out, todo = [], list(kids.get(sp.sid, []))
    while todo:
        c = todo.pop()
        out.append(c)
        todo.extend(kids.get(c.sid, []))
    return out


def coverage(spans: list[Span], phase: str | None = None) -> float:
    """Σ self time of the spans under each cycle (of ``phase``, if given)
    divided by the cycles' wall time: the share of timed wall time the
    layer spans account for (above 1 when helper threads overlap the
    caller); 0 when there is no such cycle."""
    kids = children_of(spans)
    wall = covered = 0.0
    for p in spans:
        if p.name != "cycle" or (phase is not None and p.attrs.get("phase") != phase):
            continue
        wall += p.dur
        covered += sum(self_time(d, kids) for d in descendants(p, kids))
    return covered / wall if wall > 0 else 0.0
