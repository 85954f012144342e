"""Spans around the engine's public functions, recorded from outside.

A :class:`Tracer` replaces module attributes with timing wrappers. Each
span has an id, its parent span, the id of the request (or pass) it
belongs to, a name, wall-clock start and end, and optional attributes.
Spans stay in memory and are written out once, at shutdown.

:func:`read_event_log` reads the per-task counters of an uncompressed
``spark.eventLog`` file, so Spark's own work can be attributed to the
request whose job group ran it.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, root: bool = False, **attrs):
        st = self._stack()
        parent = st[-1] if st else None
        sid = next(self._ids)
        sp = {"id": sid, "parent": parent["id"] if parent else None,
              "trace": sid if root or parent is None else parent["trace"],
              "name": name, "start": time.time(), "end": None, **attrs}
        st.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            st.pop()
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, after=None):
        """Replace ``owner.attr`` by a wrapper that records a span per
        call; ``after(span, args, result)`` runs once the span closed."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
            if after is not None:
                after(sp, args, out)
            return out

        setattr(owner, attr, traced)

    def event(self, name: str, **attrs) -> None:
        """A zero-length span carrying ``attrs`` under the open span."""
        with self.span(name, **attrs):
            pass

    def iterate(self, it, name: str, done=None):
        """Wrap an iterator: each ``next`` is a span under whatever span
        is open at that moment; ``done()`` runs when it ends."""
        try:
            while True:
                with self.span(name):
                    try:
                        item = next(it)
                    except StopIteration:
                        return
                yield item
        finally:
            close = getattr(it, "close", None)
            if close is not None:
                close()
            if done is not None:
                done()

    def dump(self, path: str) -> None:
        with self._lock:
            spans = list(self.spans)
        with open(path, "w") as fh:
            json.dump(spans, fh)


def frame_attrs(df) -> dict:
    """Catalyst phase times of an executed DataFrame and the files its
    relations list (``df.inputFiles()``). Read after the span closed."""
    out = {}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        for k in ("analysis", "optimization", "planning"):
            o = phases.get(k)
            out[f"{k}_ms"] = float(o.get().durationMs()) if o.isDefined() else 0.0
        out["files_scanned"] = len(df.inputFiles())
    except Exception as exc:  # noqa: BLE001 - a frame the probe can't read
        out["frame_error"] = repr(exc)
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in spans}


# ------------------------------------------------------------ event log

_TASK_METRICS = {
    "executor_cpu_s": lambda m: m.get("Executor CPU Time", 0) / 1e9,
    "gc_s": lambda m: m.get("JVM GC Time", 0) / 1e3,
    "result_bytes": lambda m: m.get("Result Size", 0),
    "spill_bytes": lambda m: m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    "input_bytes": lambda m: m.get("Input Metrics", {}).get("Bytes Read", 0),
    "shuffle_write_bytes": lambda m: m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
}


def read_event_log(log_dir: str) -> list[dict]:
    """One record per Spark job: group, call site, submit/complete wall
    times (s), task count and the summed task counters."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 rolls event logs by default (spark.eventLog.rolling.enabled):
    # each application writes a directory of events_N_* parts; a
    # non-rolling log is a plain file
    paths = [p for p in glob.glob(f"{log_dir}/*") if os.path.isfile(p)]
    paths += sorted(glob.glob(f"{log_dir}/*/events_*"),
                    key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line of an unfinished log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    infos = ev.get("Stage Infos") or []
                    job = {"group": props.get("spark.jobGroup.id"),
                           "site": infos[0].get("Stage Name", "") if infos else "",
                           "submit": ev.get("Submission Time", 0) / 1e3,
                           "complete": None, "tasks": 0,
                           **{k: 0.0 for k in _TASK_METRICS}}
                    jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["complete"] = ev.get("Completion Time", 0) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    job["tasks"] += 1
                    for k, f in _TASK_METRICS.items():
                        job[k] += f(m)
    return list(jobs.values())
