"""Spans, job accounting and Spark event-log aggregation.

Spans are recorded only around calls the benchmark makes into the engine's
layers, or around the engine's public functions, which a traced run wraps
from outside (the package code is not changed).  Spans are kept in memory
and written out when the run ends.  Self time is a span's duration minus
the part of it that its children cover.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self._local = threading.local()
        self._main: list[int] = []  # open spans of the main thread
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        # a span opened on a worker thread (the pipeline's table pool, a
        # foreachBatch callback) belongs to the main thread's open span
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "parent": parent, "op": self.op,
                               "start": time.time(), "end": None})
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_perfbench__ = fn
        return traced

    def install(self, package: str, functions: dict[str, str]) -> None:
        """Replace every reference to each ``module:function`` in the loaded
        modules of ``package`` (including names imported with ``from ..
        import``) with a span-recording wrapper named by the dict value."""
        if not self.enabled:
            return
        import importlib

        for target, span_name in functions.items():
            mod_name, attr = target.split(":")
            original = getattr(importlib.import_module(mod_name), attr)
            wrapped = self.wrap(original, span_name)
            for name, mod in list(sys.modules.items()):
                if (name == package or name.startswith(package + ".")) and getattr(
                    mod, attr, None
                ) is original:
                    setattr(mod, attr, wrapped)

    def install_pipeline_counts(self) -> None:
        """Span the two ``count()`` actions ``pipeline`` runs beside the
        sink: the quarantine count and the observation recount fallback.
        They are told apart by the calling function."""
        if not self.enabled:
            return
        from pyspark.sql.classic.dataframe import DataFrame

        original = DataFrame.count
        names = {"_run_one": "pipeline.quarantine_count", "_obs_rows": "pipeline.observation_recount"}
        tracer = self

        def count(df):
            caller = sys._getframe(1).f_code
            name = names.get(caller.co_name) if caller.co_filename.endswith("pipeline.py") else None
            if name is None:
                return original(df)
            with tracer.span(name):
                return original(df)

        DataFrame.count = count

    def capture_streams(self) -> list:
        """Collect the handle of every streaming query started from now on,
        so each query's own ``recentProgress`` can be read after it ends."""
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        started: list = []
        original = DataStreamWriter.start

        def start(writer, *args, **kwargs):
            q = original(writer, *args, **kwargs)
            started.append(q)
            return q

        DataStreamWriter.start = start
        return started

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(children[s["id"]], s["start"], s["end"])
        for s in spans
    }


class JobCounter:
    """Exact Spark job and stage ids created between two points.  Ids are
    handed out in order by the scheduler, and the client is closed-loop, so
    every id created during an op belongs to that op — including jobs
    started on the pipeline's table pool and on streaming threads, which a
    job group set on the calling thread would miss."""

    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._sc = spark.sparkContext

    def mark(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def group(self, op_id: str) -> None:
        self._sc.setJobGroup(op_id, op_id)

    def group_jobs(self, op_id: str) -> list[int]:
        return sorted(self._sc.statusTracker().getJobIdsForGroup(op_id))


# --- event log --------------------------------------------------------------

_PY = {
    "time to run Python workers": "python_total_ms",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "python_bytes_sent",
}


class EventLog:
    """Per-job intervals and per-stage task totals from Spark's event log."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        # a rolling event log: one directory per application, events_<n>_* files
        for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1000.0,
                                      "end": None, "stages": e["Stage IDs"]}
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            st = self.stages[e["Stage ID"]]
            st["tasks"] += 1
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics", {})
            st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st["records_read"] += m.get("Input Metrics", {}).get("Records Read", 0)
            out = m.get("Output Metrics", {})
            st["records_written"] += out.get("Records Written", 0)
            st["bytes_written"] += out.get("Bytes Written", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                key = _PY.get(acc.get("Name"))
                if key is not None:
                    st[key] += float(acc.get("Update") or 0)

    def totals(self, stage_lo: int, stage_hi: int) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for sid in range(stage_lo, stage_hi):
            for k, v in self.stages.get(sid, {}).items():
                out[k] += v
        return out

    def intervals(self, job_lo: int, job_hi: int) -> list[tuple[float, float]]:
        return [
            (j["start"], j["end"])
            for jid, j in self.jobs.items()
            if job_lo <= jid < job_hi and j["end"] is not None
        ]
