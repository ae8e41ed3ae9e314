"""Instruments the benchmark reads the program through, all from
outside: timers and spans around public calls, Spark job/stage/task
counts from one job group per operation, directory walks of the index
and the driver's peak RSS.  Nothing here reads engine attributes.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

import numpy as np


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def median(values) -> float:
    return pct(values, 50) if len(values) else 0.0


# ---------------------------------------------------------------- spans


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "op")

    def __init__(self, sid, name, parent, op):
        self.sid, self.name, self.parent, self.op = sid, name, parent, op
        self.start = self.end = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """Timers for every run; spans kept only when ``enabled`` (the
    traced run), which also installs wrappers on program functions.

    A span records name, start, end, parent span and the operation it
    belongs to.  Spans stay in memory until ``dump``.  The wrappers
    time their own bookkeeping, reported as the tracing overhead."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self.op = None
        self.overhead_s = 0.0
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()
        self._patched: list = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name) -> Span:
        with self._lock:
            self._next += 1
            sid = self._next
        st = self._stack()
        s = Span(sid, name, st[-1].sid if st else None, self.op)
        st.append(s)
        return s

    def _close(self, s: Span) -> None:
        self._stack().pop()
        if self.enabled:
            self.spans.append(s)

    @contextmanager
    def span(self, name: str):
        s = self._open(name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._close(s)

    @contextmanager
    def operation(self, op_id: str):
        prev, self.op = self.op, op_id
        try:
            yield
        finally:
            self.op = prev

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper (traced
        run only); ``restore`` puts the original back."""
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            s = tracer._open(name)
            s.start = t1 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                s.end = t2 = time.perf_counter()
                tracer._close(s)
                tracer.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, fn))

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "op": s.op,
                }) + "\n")

    def by_op(self) -> dict:
        out: dict = {}
        for s in self.spans:
            out.setdefault(s.op, []).append(s)
        return out


def self_seconds(span: Span, children: list) -> float:
    """Span duration minus the part of it its child spans cover."""
    ivs = sorted((c.start, c.end) for c in children if c.parent == span.sid)
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.seconds - covered


# ----------------------------------------------------------- spark jobs


class JobCounter:
    """Counts the Spark jobs, executed stages and completed tasks of one
    operation, labelled with its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    @contextmanager
    def group(self, label: str):
        """Yields a dict that holds ``jobs``, ``stages`` and ``tasks``
        once the block has ended.  Counting runs after the block, so a
        timer inside the block does not see it."""
        self._n += 1
        gid = f"perfbench-{self._n:06d}-{label}"
        self.sc.setJobGroup(gid, label)
        counts: dict = {}
        try:
            yield counts
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            counts.update(self._count(gid))

    def _count(self, gid: str) -> dict:
        # the status store is fed by an asynchronous listener bus: wait
        # for it to drain so the operation's last job is visible
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = stages = tasks = 0
        for jid in self.tracker.getJobIdsForGroup(gid):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


# ------------------------------------------------------------- storage

_LEDGER = "_meta"


def walk(root: str) -> dict:
    """relative path -> size for every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def is_payload(rel: str) -> bool:
    """Data files only: not the ledger, checksums or _SUCCESS flags."""
    name = os.path.basename(rel)
    return not (rel.startswith(_LEDGER) or name.startswith((".", "_")))


def storage(files: dict) -> dict:
    """Per-area payload bytes, ledger bytes and postings file count."""
    out = {f"storage.{a}_bytes": 0 for a in
           ("postings", "docs", "term_stats", "deletes")}
    out["storage.ledger_bytes"] = 0
    out["storage.postings_files"] = 0
    for rel, size in files.items():
        top = rel.split(os.sep, 1)[0]
        if top == _LEDGER:
            out["storage.ledger_bytes"] += size
        elif is_payload(rel) and f"storage.{top}_bytes" in out:
            out[f"storage.{top}_bytes"] += size
            if top == "postings":
                out["storage.postings_files"] += 1
    return out


def written_payload_bytes(before: dict, after: dict) -> int:
    """Payload bytes in files that are new or changed between walks."""
    return sum(size for rel, size in after.items()
               if is_payload(rel) and before.get(rel) != size)


# ----------------------------------------------------------- driver RSS


def reset_peak_rss() -> None:
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")
