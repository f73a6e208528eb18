"""Spans around the engine's public calls, and Spark runtime counters.

The traced run installs :class:`Tracer` wrappers on the public methods
listed in ``TRACED``; each call records a span (name, start, end, parent,
thread, run id) in memory, and the spans are written out when the run
ends. Parents come from a per-thread stack, so a span opened inside
another span of the same thread is its child. The untraced run installs
nothing.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time

from common import covered, self_times

# (module, class, method) -> span name; the layer is the module path
TRACED = [
    ("french_admin_etl_spark.streaming.apply", "CDCApplyJob", "apply_batch", "streaming.apply.apply_batch"),
    ("french_admin_etl_spark.table.lake_table", "LakeTable", "merge", "table.lake_table.merge"),
    ("french_admin_etl_spark.table.lake_table", "LakeTable", "compact", "table.lake_table.compact"),
    ("french_admin_etl_spark.table.lake_table", "LakeTable", "snapshot", "table.lake_table.snapshot"),
    ("french_admin_etl_spark.table.lake_table", "LakeTable", "lookup", "table.lake_table.lookup"),
    ("french_admin_etl_spark.table.lake_table", "LakeTable", "read", "table.lake_table.read"),
    ("french_admin_etl_spark.streaming.checkpoint", "CheckpointStore", "save", "streaming.checkpoint.save"),
    ("french_admin_etl_spark.sources.event_log", "LsnLog", "max_lsn", "sources.event_log.max_lsn"),
    ("french_admin_etl_spark.streaming.dag", "DagApplyJob", "apply_window", "streaming.dag.apply_window"),
    ("french_admin_etl_spark.streaming.dag", "DagApplyJob", "deep_fk_check", "streaming.dag.deep_fk_check"),
]


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in the wrappers' own bookkeeping
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._installed: list[tuple[type, str, object]] = []

    def install(self) -> None:
        import importlib

        for mod, cls_name, meth, name in TRACED:
            cls = getattr(importlib.import_module(mod), cls_name)
            orig = cls.__dict__[meth]
            setattr(cls, meth, self._wrap(orig, name))
            self._installed.append((cls, meth, orig))

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._installed):
            setattr(cls, meth, orig)
        self._installed.clear()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            b0 = time.perf_counter()
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            sid = next(tracer._ids)
            parent = stack[-1] if stack else None
            stack.append(sid)
            start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.perf_counter()
                stack.pop()
                span = {
                    "id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "thread": threading.current_thread().name,
                    "run": tracer.run_id,
                }
                with tracer._lock:
                    tracer.spans.append(span)
                    tracer.overhead_s += (start - b0) + (time.perf_counter() - end)

        return wrapper

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")

    # ---------------------------------------------------------- summaries

    def layer_summary(self, loop_thread: str, loop_start: float, loop_end: float) -> dict:
        """Per span name: calls, total and self seconds; plus how much of
        the apply loop's wall time the loop thread's top-level spans
        cover (the remainder is driver code between the traced calls)."""
        selfs = self_times(self.spans)
        out: dict[str, dict] = {}
        for s in self.spans:
            d = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            d["calls"] += 1
            d["total_s"] += s["end"] - s["start"]
            d["self_s"] += selfs[s["id"]]
        wall = loop_end - loop_start
        top = [
            (s["start"], s["end"]) for s in self.spans
            if s["parent"] is None and s["thread"] == loop_thread
            and s["start"] >= loop_start and s["end"] <= loop_end
        ]
        cov = covered(top, loop_start, loop_end)
        return {"layers": out, "loop_wall_s": wall, "loop_covered_s": cov,
                "loop_unaccounted_s": wall - cov}

    def spans_named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


# ----------------------------------------------------------- Spark runtime


def job_ids(sc, groups=(None, "apply")) -> set[int]:
    """Ids of the jobs the status tracker knows in ``groups``; ``None``
    is the no-group bucket (jobs from threads that set none, e.g. the
    DAG driver's stage threads)."""
    st = sc.statusTracker()
    out: set[int] = set()
    for g in groups:
        out.update(st.getJobIdsForGroup(g))
    return out


def event_log_totals(log_dir: str, jobs: set[int]) -> dict:
    """Task metrics summed over the stages of ``jobs`` from the Spark
    event log under ``log_dir`` (complete once the session has stopped;
    Spark 4 writes it as a rolling directory of ``events_*`` files)."""
    events = []
    for root, _dirs, names in os.walk(log_dir):
        for n in names:
            if n.startswith("events_") or n.startswith("local-"):
                with open(os.path.join(root, n)) as fh:
                    events.extend(json.loads(line) for line in fh if line.strip())
    stages = {
        sid for ev in events
        if ev.get("Event") == "SparkListenerJobStart" and ev["Job ID"] in jobs
        for sid in ev["Stage IDs"]
    }
    tot = {"shuffle_write_bytes": 0, "spill_bytes": 0, "executor_run_s": 0.0, "gc_s": 0.0, "tasks": 0}
    for ev in events:
        if ev.get("Event") == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
            m = ev.get("Task Metrics") or {}
            tot["tasks"] += 1
            tot["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            tot["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            tot["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    return tot
