"""Span recording and Spark event-log attribution for the traced run.

Everything here works from outside the package: the entry points that
``pipeline.run_pipeline`` and ``incremental.incremental_dedup`` look up by
module attribute are swapped for wrappers that set the Spark job description
to the layer name, record when the layer was entered, and delegate.  Spans
stay in memory; the event log Spark writes is parsed once at exit and each
job is charged to the span that was active when it was submitted.

A layer is *active* from its entry until the next layer is entered or its
enclosing span ends, because most entry points return lazy frames whose jobs
run later, in the caller.  Jobs therefore carry the last layer entered.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager

# (module, attribute, layer tag).  pipeline imports four of these by name at
# module level and incremental three, so each binding is wrapped where it is
# looked up; all_bands and connected_components are also imported inside
# functions, which read the attribute of their home module at call time.
ENTRY_POINTS = (
    ("datasketches_pig_spark.pipeline", "signature_stage", "signature_stage"),
    ("datasketches_pig_spark.incremental", "signature_stage", "signature_stage"),
    ("datasketches_pig_spark.incremental", "all_bands", "all_bands"),
    ("datasketches_pig_spark.pipeline", "candidate_pairs", "candidate_pairs"),
    ("datasketches_pig_spark.incremental", "candidate_pairs", "candidate_pairs"),
    ("datasketches_pig_spark.pipeline", "verify_pairs", "verify_pairs"),
    ("datasketches_pig_spark.incremental", "verify_pairs", "verify_pairs"),
    ("datasketches_pig_spark.pipeline", "connected_components", "connected_components"),
    ("datasketches_pig_spark.operators.unionfind", "connected_components", "connected_components"),
    ("datasketches_pig_spark.incremental", "fold_history", "fold_history"),
)


class Tracer:
    """In-memory spans.  ``span`` brackets a region the benchmark drives
    (a unit, a query); ``enter`` marks a layer entry inside it."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self.entries: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["name"] if self._stack else None
            self._sc.setJobDescription(parent)

    def enter(self, tag: str) -> dict:
        rec = {
            "tag": tag,
            "span": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "returned": None,
        }
        self.entries.append(rec)
        self._sc.setJobDescription(tag)
        return rec

    @contextmanager
    def wrapped(self):
        """Install the layer wrappers for the duration of the block."""
        import importlib

        saved = []
        for modname, attr, tag in ENTRY_POINTS:
            mod = importlib.import_module(modname)
            orig = getattr(mod, attr)
            setattr(mod, attr, self._wrap(orig, tag))
            saved.append((mod, attr, orig))
        try:
            yield
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def _wrap(self, fn, tag: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rec = self.enter(tag)
            try:
                return fn(*args, **kwargs)
            finally:
                rec["returned"] = time.time()

        return traced

    def active_intervals(self, span: dict) -> list[tuple[str, float, float]]:
        """(tag, start, end) pieces of ``span``: the span's own name until the
        first layer entry, then each entered layer until the next entry."""
        marks = sorted(
            (e["start"], e["tag"])
            for e in self.entries
            if span["start"] <= e["start"] <= span["end"]
        )
        bounds = [(span["start"], span["name"])] + marks
        return [
            (tag, t0, bounds[i + 1][0] if i + 1 < len(bounds) else span["end"])
            for i, (t0, tag) in enumerate(bounds)
        ]


def _add(acc: dict, key: str, v) -> None:
    acc[key] = acc.get(key, 0) + (v or 0)


def parse_event_log(log_dir: str) -> list[dict]:
    """Jobs from a Spark event log: submission/completion time (epoch s) and
    the task-summed shuffle, spill and Python-boundary bytes of the stages
    each job ran first."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_metrics: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith((".", "appstatus")):
            continue
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    jobs[jid] = {"start": e["Submission Time"] / 1000.0, "end": None}
                    for sid in e.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = stage_metrics.setdefault(e["Stage ID"], {})
                    tm = e.get("Task Metrics") or {}
                    _add(m, "shuffle_bytes",
                         (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
                    _add(m, "spill_bytes", tm.get("Memory Bytes Spilled"))
                    _add(m, "spill_bytes", tm.get("Disk Bytes Spilled"))
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        name = acc.get("Name")
                        if name == "data sent to Python workers":
                            _add(m, "arrow_bytes_in", int(acc.get("Update") or 0))
                        elif name == "data returned from Python workers":
                            _add(m, "arrow_bytes_out", int(acc.get("Update") or 0))
    for sid, m in stage_metrics.items():
        job = jobs.get(stage_job.get(sid))
        if job is not None:
            for k, v in m.items():
                _add(job, k, v)
    return [j for _, j in sorted(jobs.items()) if j["end"] is not None]


def jobs_in(jobs: list[dict], t0: float, t1: float) -> list[dict]:
    return [j for j in jobs if t0 <= j["start"] < t1]


def covered(jobs: list[dict], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] during which at least one job was running."""
    total, cur_end = 0.0, t0
    for j in sorted(jobs, key=lambda j: j["start"]):
        s, e = max(j["start"], cur_end), min(j["end"], t1)
        if e > s:
            total += e - s
            cur_end = e
    return total


def summed(jobs: list[dict], key: str) -> float:
    return sum(j.get(key, 0) for j in jobs)
